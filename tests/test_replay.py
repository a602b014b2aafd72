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


def test_cow_commit_is_one_resolution(spark, tmp_path, events, monkeypatch):
    """A COW commit resolves the touched buckets with its batch as one
    more delta source: the write plan (AQE off, as the engine writes) has
    no join, one Window, and exactly one bucket exchange outside the
    cached batch. The batch's own prepare exchange sits inside the cached
    relation, which an earlier job of the commit materialises; the batch
    takes the narrow prepare form, so its Python stage runs at the core
    count."""
    import re

    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import apply_batch

    n_buckets = 32
    cores = spark.sparkContext.defaultParallelism
    assert n_buckets > cores
    plans = []
    write = LakeTable._write_snapshot

    def spy(self, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(self, df, *args, **kwargs)

    aqe = "spark.sql.adaptive.enabled"
    old = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
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
    plan = plans[0]
    assert "Join" not in plan, plan
    lines = plan.splitlines()
    assert sum(bool(re.search(r"\bWindow \[", ln)) for ln in lines) == 1, plan

    def depth(ln):
        return re.search(r"\w", ln).start()

    cached = next(i for i, ln in enumerate(lines) if "InMemoryRelation" in ln)
    below = [i for i in range(cached + 1, len(lines))
             if depth(lines[i]) > depth(lines[cached])]
    outside = [ln for i, ln in enumerate(lines) if i not in below]
    exchange = re.compile(rf"Exchange hashpartitioning\(url#\d+, {n_buckets}\)")
    assert sum(bool(exchange.search(ln)) for ln in outside) == 1, plan
    assert sum(bool(exchange.search(ln)) for ln in lines) == 2, plan
    assert LakeTable(spark, path).manifest()["metrics"][
        "prepare_partitions"] == cores


def _change_batch(spark, rows):
    pdf = pd.DataFrame(rows, columns=["event_seq", "op", "url", "warc_ts", "html"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return spark.createDataFrame(
        pdf, "event_seq long, op string, url string, warc_ts timestamp, "
        "html binary")


def test_cow_action_counts(spark, tmp_path):
    """One crafted COW batch over a seeded table hits every action: a new
    key, an update of a live key, a revive of a tombstoned key, a delete
    of a live key, a delete of an unknown key, a stale event, a
    re-delivered tie, and untouched keys (one live, one tombstoned) in the
    touched bucket. MergeResult, the commit's metrics and its
    stream_metrics row count them; the same batches through MOR and
    compact() give the same state."""
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import apply_batch
    from epigraphdb_graph_spark.schema import PAGES_SCHEMA
    from epigraphdb_graph_spark.streaming.tailer import stream_metrics

    t0 = "2024-01-01 00:00:00"
    seed = _change_batch(spark, [
        (1, "insert", "live", t0, b"<p>v1</p>"),
        (2, "insert", "tomb", t0, b"<p>v2</p>"),
        (3, "delete", "tomb", "2024-01-01 01:00:00", None),
        (4, "insert", "dead", t0, b"<p>v4</p>"),
        (5, "insert", "newer", "2024-01-01 05:30:00", b"<p>v5</p>"),
        (6, "insert", "tie", t0, b"<p>v6</p>"),
        (7, "insert", "keep", t0, b"<p>v7</p>"),
        (8, "insert", "keep_tomb", t0, b"<p>v8</p>"),
        (9, "delete", "keep_tomb", "2024-01-01 01:00:00", None),
    ])
    t5 = "2024-01-01 05:00:00"
    batch = _change_batch(spark, [
        (20, "insert", "new", t5, b"<p>v20</p>"),
        (21, "update", "live", t5, b"<p>v21</p>"),
        (22, "insert", "tomb", t5, b"<p>v22</p>"),  # revive
        (23, "delete", "dead", t5, None),
        (24, "delete", "unknown", t5, None),  # tombstone for a new key
        (25, "update", "newer", t5, b"<p>v25</p>"),  # older than the target
        (6, "insert", "tie", t0, b"<p>v6</p>"),  # re-delivered event
    ])

    def state(table):
        return sorted(tuple(r) for r in table._read_resolved(table.manifest())
                      .select("url", "_seq", "_deleted", "text").collect())

    # one bucket: every untouched key shares the batch's bucket
    cow = LakeTable.create(spark, str(tmp_path / "cow"), PAGES_SCHEMA,
                           key="url", n_buckets=1)
    apply_batch(cow, seed, batch_id="seed", mode="cow")
    r = apply_batch(cow, batch, batch_id="batch", mode="cow")
    assert (r.inserted, r.updated, r.deleted, r.stale_skipped,
            r.touched_buckets, r.noop) == (2, 1, 2, 2, 1, False)
    m = cow.manifest()
    assert m["metrics"]["actions"] == {
        "keep": 2, "insert": 2, "update": 1, "delete": 2, "stale": 2}
    # no caller watermark: the batch's max event_seq, stale rows included
    assert m["watermark_seq"] == 25
    # event time: the seed's max applied warc_ts; the batch's applied
    # rows sit inside the lateness horizon, so only its stale rows are late
    assert m["watermark_ts"] == int(
        pd.Timestamp("2024-01-01 05:30:00", tz="UTC").timestamp()) * 10**6
    row = stream_metrics(cow).filter("batch_id = 'batch'").collect()[0]
    assert (row["inserted"], row["updated"], row["deleted"],
            row["stale_skipped"], row["kept"], row["late_events"]) == \
        (2, 1, 2, 2, 2, 2)
    want = [
        ("dead", 23, True, None),
        ("keep", 7, False, "v7"),
        ("keep_tomb", 9, True, None),
        ("live", 21, False, "v21"),
        ("new", 20, False, "v20"),
        ("newer", 5, False, "v5"),
        ("tie", 6, False, "v6"),
        ("tomb", 22, False, "v22"),
        ("unknown", 24, True, None),
    ]
    assert state(cow) == want

    mor = LakeTable.create(spark, str(tmp_path / "mor"), PAGES_SCHEMA,
                           key="url", n_buckets=1)
    apply_batch(mor, seed, batch_id="seed", mode="mor")
    apply_batch(mor, batch, batch_id="batch", mode="mor")
    mor.compact()
    assert state(mor) == want
