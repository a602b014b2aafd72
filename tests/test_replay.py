"""Replay-equality suite: engine MERGE replay vs pure-pandas oracle.

Analog of the reference's live-graph conformance tests
(tests/graph_database/test_meta_node_entity.py) — but row-for-row against
an independent oracle rather than sample-based."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epigraphdb_graph_spark.replay import replay
from epigraphdb_graph_spark.sources.events import generate_change_events

from .oracle import replay_oracle

N_EVENTS = 4000


@pytest.fixture(scope="module")
def events(spark):
    df = generate_change_events(
        spark, N_EVENTS, seed=42, n_domains=40, pages_per_domain=16
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_state(events):
    return replay_oracle(events.toPandas())


def _final_state(spark, tmp_path, events, n_batches):
    path = str(tmp_path / f"pages_{n_batches}")
    results = replay(spark, path, events, n_batches=n_batches, n_buckets=16)
    from epigraphdb_graph_spark.plans.lake import LakeTable

    table = LakeTable(spark, path)
    got = (
        table.read()
        .select("url", "warc_ts", "html", "text")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    return table, results, got


def _assert_state_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    assert list(got["url"]) == list(want["url"])
    assert list(got["warc_ts"]) == list(want["warc_ts"])
    # byte-identical html and extracted text, row for row
    for g, w in zip(got["html"], want["html"]):
        assert (g is None and w is None) or bytes(g) == bytes(w)
    assert list(got["text"]) == list(want["text"])


def test_single_batch_replay_matches_oracle(spark, tmp_path, events, oracle_state):
    _, results, got = _final_state(spark, tmp_path, events, n_batches=1)
    _assert_state_equal(got, oracle_state)
    assert results[0].touched_buckets > 0


def test_multi_batch_replay_matches_oracle(spark, tmp_path, events, oracle_state):
    """Same event set split into 7 ordered micro-batches -> identical final
    state (batching-agnostic invariant)."""
    table, results, got = _final_state(spark, tmp_path, events, n_batches=7)
    _assert_state_equal(got, oracle_state)
    assert len(results) == 7
    # lineage manifests recorded per commit with per-bucket metrics
    hist = table.history()
    merges = [h for h in hist if h["metrics"].get("op") == "merge"]
    assert len(merges) == 7
    assert all("by_bucket" in h["metrics"] for h in merges)
    assert hist[-1]["watermark_seq"] == N_EVENTS - 1


def test_replay_is_idempotent(spark, tmp_path, events, oracle_state):
    """Re-applying the whole log (same batch ids, then fresh batch ids) is a
    no-op at both the batch level and the row level."""
    path = str(tmp_path / "pages_idem")
    replay(spark, path, events, n_batches=3, n_buckets=16)
    from epigraphdb_graph_spark.plans.lake import LakeTable

    table = LakeTable(spark, path)
    v_before = table.current_version()

    # batch-level: same batch ids are skipped without any new commit
    res2 = replay(spark, path, events, n_batches=3, n_buckets=16)
    assert all(r.noop for r in res2)
    assert table.current_version() == v_before

    # row-level: same events under new batch ids -> every row stale-skipped
    from epigraphdb_graph_spark.replay import apply_batch

    r3 = apply_batch(table, events, batch_id="manual-reapply")
    assert r3.inserted == 0 and r3.updated == 0 and r3.deleted == 0
    got = (
        table.read().select("url", "warc_ts", "html", "text").toPandas()
        .sort_values("url").reset_index(drop=True)
    )
    _assert_state_equal(got, oracle_state)


def test_resume_mid_replay(spark, tmp_path, events, oracle_state):
    """Kill/resume: apply only the first 4 of 7 batches ('crash'), then
    re-run the full replay — committed batches skip, the rest apply, final
    state matches."""
    path = str(tmp_path / "pages_resume")
    lo_events = events.filter(F.col("event_seq") < 2288)  # first 4 of 7 ranges
    replay(spark, path, lo_events, n_batches=4, n_buckets=16)

    results = replay(spark, path, events, n_batches=7, n_buckets=16)
    assert any(r.noop for r in results)  # overlap skipped
    from epigraphdb_graph_spark.plans.lake import LakeTable

    table = LakeTable(spark, path)
    got = (
        table.read().select("url", "warc_ts", "html", "text").toPandas()
        .sort_values("url").reset_index(drop=True)
    )
    _assert_state_equal(got, oracle_state)


def test_delete_then_reinsert_and_late_stale(spark, tmp_path):
    """Explicit tombstone semantics (SURVEY.md §7.5 'Delete semantics')."""
    rows = [
        (1, "insert", "u", "2024-01-01 00:00:00", b"<p>v1</p>"),
        (2, "delete", "u", "2024-01-03 00:00:00", None),
        # late stale update: older warc_ts than the delete -> must stay dead
        (3, "update", "u", "2024-01-02 00:00:00", b"<p>stale</p>"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_seq", "op", "url", "warc_ts", "html"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    df = spark.createDataFrame(pdf)

    path = str(tmp_path / "tombstones")
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import apply_batch
    from epigraphdb_graph_spark.schema import PAGES_SCHEMA

    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=4)
    apply_batch(table, df.filter("event_seq = 1"), batch_id="b1")
    assert table.read().count() == 1
    apply_batch(table, df.filter("event_seq = 2"), batch_id="b2")
    assert table.read().count() == 0
    r = apply_batch(table, df.filter("event_seq = 3"), batch_id="b3")
    assert table.read().count() == 0 and r.stale_skipped == 1

    # genuine re-insert after the delete revives the key
    pdf4 = pd.DataFrame(
        [(4, "insert", "u", pd.Timestamp("2024-01-04"), b"<p>v2</p>")],
        columns=["event_seq", "op", "url", "warc_ts", "html"],
    )
    apply_batch(table, spark.createDataFrame(pdf4), batch_id="b4")
    out = table.read().toPandas()
    assert len(out) == 1 and out.loc[0, "text"] == "v2"


def test_time_travel(spark, tmp_path, events):
    path = str(tmp_path / "pages_tt")
    replay(spark, path, events, n_batches=2, n_buckets=16)
    from epigraphdb_graph_spark.plans.lake import LakeTable

    table = LakeTable(spark, path)
    v1_count = table.read(version=1).count()
    v2_count = table.read().count()
    assert v1_count > 0 and v2_count > 0
    # version 1 only saw the first half of the log
    m1 = table.manifest(1)
    assert m1["watermark_seq"] < N_EVENTS - 1


def test_cow_commit_keeps_aligned_shape(spark, tmp_path, events, monkeypatch):
    """COW is never narrowed: its prepared batch keeps n_buckets
    partitions, and a commit's write plan (AQE off, as the engine writes)
    has exactly one bucket exchange on each side of the MERGE join. The
    batch's own prepare exchange sits inside the cached relation, which
    an earlier job of the commit materialises."""
    import re

    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import apply_batch, prepare_batch

    n_buckets = 32
    assert n_buckets > spark.sparkContext.defaultParallelism
    plans = []
    write = LakeTable._write_snapshot

    def spy(self, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(self, df, *args, **kwargs)

    aqe = "spark.sql.adaptive.enabled"
    old = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        prepared = prepare_batch(events, form="aligned", bucket_into=n_buckets)
        assert prepared.rdd.getNumPartitions() == n_buckets
        path = str(tmp_path / "cow")
        replay(spark, path, events.filter(F.col("event_seq") < N_EVENTS // 2),
               n_buckets=n_buckets)
        monkeypatch.setattr(LakeTable, "_write_snapshot", spy)
        apply_batch(LakeTable(spark, path),
                    events.filter(F.col("event_seq") >= N_EVENTS // 2),
                    batch_id="cow:000000000001", mode="cow")
    finally:
        spark.conf.set(aqe, old)
    assert len(plans) == 1
    assert "Coalesce" not in plans[0]
    lines = plans[0].splitlines()
    j = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
    col = lines[j].index("+- ") + 3  # the join's children start here
    starts = [i for i in range(j + 1, len(lines))
              if lines[i][col:col + 3] in (":- ", "+- ")]
    assert len(starts) == 2, plans[0]
    exchange = re.compile(rf"Exchange hashpartitioning\(url#\d+, {n_buckets}\)")
    for lo, hi in zip(starts, starts[1:] + [len(lines)]):
        side = lines[lo:hi]
        cached = [i for i, ln in enumerate(side) if "InMemoryRelation" in ln]
        side = side[:cached[0]] if cached else side
        assert sum(bool(exchange.search(ln)) for ln in side) == 1, \
            "\n".join(side)
