"""Randomized multi-writer OCC schedules (round-4 verdict ask #4).

The deterministic two-handle races in test_concurrency.py pin down each
rebase path once; this fuzz drives the SAME machinery through adversarial
schedules: K writer handles applying a pool of change batches, each
deriving its commit from a randomly STALE snapshot (0..3 commits behind
— the manifest-injection trick makes the race deterministic per
schedule), with compactions (also possibly stale) interleaved at random
points and a random subset of batches re-delivered under their original
batch_id (competing tailers of one log).

Invariants asserted per schedule — exactly the rebase preconditions the
verdict called subtle:
  * final state == the serial pandas oracle over the unique event set
    (ledger union + LWW idempotence: rebasing never drops or doubles rows)
  * every batch lands EXACTLY once: one committed manifest per batch_id,
    re-deliveries return noop
  * watermark_seq == max event_seq over applied batches (watermark max
    survives rebase)
  * additive schema evolution (a `lang` column introduced mid-schedule)
    survives rebase (schema merge) and reaches the final snapshot
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from epigraphdb_graph_spark.plans.lake import (
    ConcurrentWriteError,
    LakeTable,
    _batch_seen,
)
from epigraphdb_graph_spark.replay import prepare_batch
from epigraphdb_graph_spark.schema import PAGES_SCHEMA

from .oracle import replay_oracle

KEYS = [f"https://d{i}.example/p" for i in range(4)]
TS = pd.Timestamp("2024-01-01")


def _batch_pool(spark):
    """Fixed pool of 8 tiny prepared batches (1-3 events each, global
    ascending seq, one mid-pool batch introducing the `lang` column).
    Prepared ONCE per session — schedules only reorder/re-deliver them,
    so per-example Spark work is the merge jobs alone."""
    pool = []
    seq = 0
    raw = []
    for b in range(8):
        rows = []
        for _ in range(1 + (b % 3)):
            url = KEYS[seq % len(KEYS)]
            op = "delete" if seq % 7 == 3 else ("update" if seq % 2 else "insert")
            html = None if op == "delete" else f"<p>v{seq} {url}</p>".encode()
            rows.append((seq, op, url, TS + pd.Timedelta(hours=seq), html,
                         f"l{seq % 3}" if b >= 4 else None))
            seq += 1
        pdf = pd.DataFrame(
            rows, columns=["event_seq", "op", "url", "warc_ts", "html", "lang"])
        if b < 4:
            pdf = pdf.drop(columns=["lang"])  # pre-evolution batches
        raw.append(pdf)
        df = spark.createDataFrame(
            pdf,
            "event_seq long, op string, url string, warc_ts timestamp, "
            "html binary" + (", lang string" if b >= 4 else ""),
        )
        pool.append((f"fuzz:{b:04d}", prepare_batch(df, form="narrow"),
                     int(pdf["event_seq"].max())))
    return pool, raw


@pytest.fixture(scope="module")
def pool(spark):
    return _batch_pool(spark)


def _make_stale(handle: LakeTable, snapshot: dict):
    """handle's FIRST manifest() read returns `snapshot` (the writer
    derived its commit from an old version); later reads (the rebase
    path) see fresh state."""
    real = type(handle).manifest
    calls = {"n": 0}

    def fake(self=handle, version=None):
        calls["n"] += 1
        if version is None and calls["n"] == 1:
            return dict(snapshot)
        return real(handle, version)

    handle.manifest = fake


@st.composite
def schedules(draw):
    order = draw(st.permutations(list(range(8))))
    ops = []
    for i in order:
        ops.append(("merge", i, draw(st.integers(0, 3))))
    # compactions at random points, possibly stale themselves
    for pos in sorted(draw(st.sets(st.integers(0, 8), max_size=2)),
                      reverse=True):
        ops.insert(pos, ("compact", None, draw(st.integers(0, 1))))
    # re-deliver a subset of batches AFTER their first delivery, from a
    # stale snapshot (the competing-tailer shape)
    for i in sorted(draw(st.sets(st.integers(0, 7), max_size=3))):
        ops.append(("merge", i, draw(st.integers(0, 3))))
    return ops


@given(schedule=schedules())
@settings(max_examples=100, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
def test_multiwriter_occ_schedules(spark, tmp_path_factory, pool, schedule):
    batches, raw = pool
    path = str(tmp_path_factory.mktemp("occ") / "t")
    schema = type(PAGES_SCHEMA)(
        [f for f in PAGES_SCHEMA.fields if f.name != "lang"])
    LakeTable.create(spark, path, schema, key="url", n_buckets=2)
    control = LakeTable(spark, path)

    snapshots = [control.manifest()]  # v0
    applied: set[int] = set()
    lang_applied = False
    for kind, i, staleness in schedule:
        handle = LakeTable(spark, path)  # each op = its own writer handle
        stale = snapshots[max(0, len(snapshots) - 1 - staleness)]
        _make_stale(handle, stale)
        if kind == "compact":
            try:
                handle.compact()
            except ConcurrentWriteError:
                continue  # compactor-vs-compactor refusal is documented
            snapshots.append(control.manifest())
            continue
        batch_id, prepared, max_seq = batches[i]
        r = handle.merge(prepared, batch_id=batch_id,
                         watermark_seq=max_seq, mode="mor")
        if i in applied:
            assert r.noop, f"re-delivered {batch_id} was applied twice"
        else:
            assert not r.noop
            applied.add(i)
            lang_applied = lang_applied or i >= 4
            snapshots.append(control.manifest())

    m = control.manifest()
    # exactly-once: one committed manifest per batch_id, ledger remembers
    commits = [h["metrics"].get("batch_id") for h in control.history()
               if h["metrics"].get("op") == "merge"]
    for i in applied:
        assert commits.count(batches[i][0]) == 1
        assert _batch_seen(m, batches[i][0])
    # watermark max survives every rebase
    assert m["watermark_seq"] == max(batches[i][2] for i in applied)
    # additive evolution survives rebase (schema merge precondition)
    if lang_applied:
        assert "lang" in [f.name for f in control.schema().fields]

    # final state == serial oracle over the unique event set
    control.compact()
    events = pd.concat([raw[i] for i in sorted(applied)], ignore_index=True)
    want = replay_oracle(events)
    got = (control.read().select("url", "warc_ts", "text").toPandas()
           .sort_values("url").reset_index(drop=True))
    assert list(got["url"]) == list(want["url"])
    assert list(got["warc_ts"]) == list(want["warc_ts"])
    assert list(got["text"]) == list(want["text"])
