"""Merge-on-read mode: delta commits + deferred LWW resolution must
converge to exactly the COW/oracle state, under compaction, mixed modes,
and idempotent re-apply."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epigraphdb_graph_spark.plans.lake import LakeTable
from epigraphdb_graph_spark.replay import apply_batch, replay
from epigraphdb_graph_spark.sources.events import generate_change_events

from .oracle import replay_oracle

N_EVENTS = 3000


@pytest.fixture(scope="module")
def events(spark):
    df = generate_change_events(
        spark, N_EVENTS, seed=11, n_domains=30, pages_per_domain=12
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_state(events):
    return replay_oracle(events.toPandas())


def _state(spark, path) -> pd.DataFrame:
    return (
        LakeTable(spark, path).read()
        .select("url", "warc_ts", "text")
        .toPandas().sort_values("url").reset_index(drop=True)
    )


def _assert_equal(got: pd.DataFrame, want: pd.DataFrame):
    assert len(got) == len(want)
    assert list(got["url"]) == list(want["url"])
    assert list(got["warc_ts"]) == list(want["warc_ts"])
    assert list(got["text"]) == list(want["text"])


# 32 buckets exceed the 8-core test session, so the narrow prepare form's
# coalesce is live there (at 8 buckets it is a no-op)
def test_mor_replay_matches_oracle(spark, tmp_path, events, oracle_state):
    for n_buckets in (8, 32):
        path = str(tmp_path / f"mor{n_buckets}")
        results = replay(spark, path, events, n_batches=5,
                         n_buckets=n_buckets, mode="mor")
        assert all(not r.noop for r in results)
        table = LakeTable(spark, path)
        assert any(table.manifest()["deltas"].values())  # deltas pending
        _assert_equal(_state(spark, path), oracle_state)


def test_mor_compact_preserves_state(spark, tmp_path, events, oracle_state):
    for n_buckets in (8, 32):
        path = str(tmp_path / f"mor_compact{n_buckets}")
        replay(spark, path, events, n_batches=5, n_buckets=n_buckets,
               mode="mor", compact_every=2)
        table = LakeTable(spark, path)
        # final batch (5th) left uncompacted deltas; compact the rest
        table.compact()
        m = table.manifest()
        assert not any(m["deltas"].values())
        _assert_equal(_state(spark, path), oracle_state)
        ops = [h["metrics"].get("op") for h in table.history()]
        assert ops.count("compact") >= 2


def test_mor_commit_runs_python_stage_at_core_count(spark, tmp_path, events):
    """Above the core count, a MOR commit's post-scan stages (dedup,
    extraction, delta write) run one task per core, not one per bucket —
    yet every touched bucket still gets exactly one delta file holding
    only its own keys, and the commit records the narrowed width."""
    from epigraphdb_graph_spark.schema import PAGES_SCHEMA
    from epigraphdb_graph_spark.streaming import stream_metrics

    n_buckets = 32
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    assert n_buckets > cores
    schema = type(PAGES_SCHEMA)(
        [f for f in PAGES_SCHEMA.fields if f.name in events.columns])
    table = LakeTable.create(spark, str(tmp_path / "narrow"), schema,
                             key="url", n_buckets=n_buckets)
    group = "test-narrow-mor-commit"
    sc.setJobGroup(group, "one MOR commit")
    try:
        apply_batch(table, events, batch_id="narrow:000000000001",
                    watermark_seq=N_EVENTS - 1, mode="mor")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert jobs
    for j in jobs:
        # a job's first stage is the scan (the exchange's map side)
        for sid in sorted(tracker.getJobInfo(j).stageIds)[1:]:
            st = tracker.getStageInfo(sid)
            assert st is None or st.numTasks <= cores, (j, sid, st.numTasks)

    m = table.manifest()
    bucket = table.bucket_expr(F.col("url"), n_buckets)
    touched = {str(r[0]) for r in events.select(bucket).distinct().collect()}
    deltas = {b: fl for b, fl in m["deltas"].items() if fl}
    assert set(deltas) == touched
    assert all(len(fl) == 1 for fl in deltas.values())
    bucket_of = {fl[0]: int(b) for b, fl in deltas.items()}
    rows = (
        spark.read.parquet(*[f"{table.path}/{f}" for f in bucket_of])
        .select(F.input_file_name().alias("f"), bucket.alias("b"))
        .distinct().collect()
    )
    assert len(rows) == len(bucket_of)  # one bucket per file
    for r in rows:
        f = next(f for f in bucket_of if r["f"].endswith(f))
        assert r["b"] == bucket_of[f], r

    assert m["metrics"]["prepare_partitions"] == cores
    got = stream_metrics(table).filter("op = 'merge'") \
        .select("prepare_partitions").collect()
    assert [r[0] for r in got] == [cores]


def test_mor_merge_without_watermark_runs_one_job(spark, tmp_path, events):
    """With no caller watermark, a MOR commit takes the batch's max
    event_seq from its write job's Observation: one job, no separate
    max(event_seq) pass over a recomputed batch."""
    from epigraphdb_graph_spark.replay import prepare_batch
    from epigraphdb_graph_spark.schema import PAGES_SCHEMA

    sc = spark.sparkContext
    schema = type(PAGES_SCHEMA)(
        [f for f in PAGES_SCHEMA.fields if f.name in events.columns])
    table = LakeTable.create(spark, str(tmp_path / "nowm"), schema,
                             key="url", n_buckets=8)
    src = prepare_batch(events, form="narrow", bucket_into=8)
    want = src.agg(F.max("event_seq")).first()[0]
    group = "test-mor-merge-no-watermark"
    sc.setJobGroup(group, "one MOR merge without a watermark")
    try:
        table.merge(src, mode="mor", src_aligned=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert table.manifest()["watermark_seq"] == want


def test_mor_then_cow_folds_deltas(spark, tmp_path, events, oracle_state):
    """A COW merge over buckets with pending deltas must fold them in and
    retire them (mixed-mode correctness)."""
    path = str(tmp_path / "mixed")
    half = events.filter(F.col("event_seq") < N_EVENTS // 2)
    rest = events.filter(F.col("event_seq") >= N_EVENTS // 2)
    replay(spark, path, half, n_batches=2, n_buckets=8, mode="mor")
    table = LakeTable(spark, path)
    assert any(table.manifest()["deltas"].values())
    apply_batch(table, rest, batch_id="cow-tail", mode="cow")
    # COW touched (almost surely) every bucket -> deltas retired there
    m = table.manifest()
    retired = sum(1 for b, fl in m["deltas"].items() if not fl)
    assert retired >= 0  # structural: no crash; state is the real check
    _assert_equal(_state(spark, path), oracle_state)


def test_mor_idempotent_batches(spark, tmp_path, events, oracle_state):
    path = str(tmp_path / "mor_idem")
    replay(spark, path, events, n_batches=3, n_buckets=8, mode="mor")
    table = LakeTable(spark, path)
    v = table.current_version()
    res = replay(spark, path, events, n_batches=3, n_buckets=8, mode="mor")
    assert all(r.noop for r in res)
    assert table.current_version() == v
    _assert_equal(_state(spark, path), oracle_state)


def test_mor_schema_evolution_mid_stream(spark, tmp_path):
    """lang appears mid-replay while commits are MOR deltas: pre-evolution
    delta files lack the column and must null-fill through the resolving
    read; post-evolution rows carry values; compaction preserves both."""
    from pyspark.sql import types as T

    from epigraphdb_graph_spark.schema import PAGES_SCHEMA

    path = str(tmp_path / "mor_evolve")
    old = generate_change_events(spark, 400, seed=21, with_lang=False)
    new = generate_change_events(spark, 800, seed=21, with_lang=True).filter(
        F.col("event_seq") >= 400)
    base_schema = T.StructType(
        [f for f in PAGES_SCHEMA.fields if f.name != "lang"])
    table = LakeTable.create(spark, path, base_schema, key="url", n_buckets=4)
    apply_batch(table, old, batch_id="b-old", mode="mor", watermark_seq=399)
    assert "lang" not in [f.name for f in table.schema().fields]
    apply_batch(table, new, batch_id="b-new", mode="mor", watermark_seq=799)
    assert "lang" in [f.name for f in table.schema().fields]

    state = table.read(with_system_cols=True).toPandas()
    pre = state[state["_seq"] < 400]
    post = state[(state["_seq"] >= 400) & (~state["lang"].isna())]
    assert pre["lang"].isna().all()
    assert len(post) > 0

    table.compact()
    state2 = table.read(with_system_cols=True).toPandas()
    assert state2.sort_values("url")["lang"].tolist() == \
        state.sort_values("url")["lang"].tolist()


def test_mor_stale_events_lose_at_read(spark, tmp_path):
    """A late stale update appended as a MOR delta must lose LWW resolution
    at read time (no join ever ran to reject it)."""
    rows = [
        (1, "insert", "u", pd.Timestamp("2024-01-01"), b"<p>v1</p>"),
        (2, "update", "u", pd.Timestamp("2024-01-05"), b"<p>v2</p>"),
    ]
    cols = ["event_seq", "op", "url", "warc_ts", "html"]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
    from epigraphdb_graph_spark.schema import PAGES_SCHEMA

    path = str(tmp_path / "mor_stale")
    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=4)
    apply_batch(table, df, batch_id="b1", mode="mor")
    stale = spark.createDataFrame(pd.DataFrame(
        [(3, "update", "u", pd.Timestamp("2024-01-03"), b"<p>stale</p>")], columns=cols))
    apply_batch(table, stale, batch_id="b2", mode="mor")
    out = table.read().toPandas()
    assert len(out) == 1 and out.loc[0, "text"] == "v2"
    # delete delta tombstones the key even though v2 sits in an older delta
    dele = spark.createDataFrame(pd.DataFrame(
        [(4, "delete", "u", pd.Timestamp("2024-01-06"), None)], columns=cols))
    apply_batch(table, dele, batch_id="b3", mode="mor")
    assert table.read().count() == 0
    # the tombstone set the watermark, so it is inside the lateness
    # horizon: compact(drop_tombstones=True) keeps it and the key stays dead
    table.compact(drop_tombstones=True)
    assert table.read().count() == 0


def _tombstone_table(spark, path, properties=None):
    """MOR table where key ``u`` is inserted at 10:00 and deleted at
    10:30, both as pending deltas. Returns (table, event builder)."""
    from epigraphdb_graph_spark.schema import PAGES_SCHEMA

    cols = ["event_seq", "op", "url", "warc_ts", "html"]

    def ev(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=cols))

    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url",
                             n_buckets=4, properties=properties)
    apply_batch(table, ev([(1, "insert", "u", pd.Timestamp("2024-01-01 10:00"),
                            b"<p>v1</p>")]), batch_id="b1", mode="mor")
    apply_batch(table, ev([(2, "delete", "u", pd.Timestamp("2024-01-01 10:30"),
                            None)]), batch_id="b2", mode="mor")
    return table, ev


def test_compact_keeps_tombstones_inside_lateness_horizon(spark, tmp_path):
    """compact(drop_tombstones=True) must keep a tombstone younger than the
    lateness horizon: a late update stamped before the delete (but inside
    the default 1 h horizon) arriving after the compaction must still
    lose to it, not resurrect the key."""
    table, ev = _tombstone_table(spark, str(tmp_path / "t"))
    table.compact(drop_tombstones=True)
    apply_batch(table, ev([(3, "update", "u", pd.Timestamp("2024-01-01 10:15"),
                            b"<p>late</p>")]), batch_id="b3", mode="mor")
    assert table.read().count() == 0


def test_compact_drops_tombstones_past_lateness_horizon(spark, tmp_path):
    """Once the watermark moves past a tombstone by more than the horizon,
    a full compact(drop_tombstones=True) removes it from the files."""
    table, ev = _tombstone_table(spark, str(tmp_path / "t"),
                                 properties={"lateness_horizon_s": 60})
    apply_batch(table, ev([(3, "insert", "v", pd.Timestamp("2024-01-01 12:00"),
                            b"<p>v</p>")]), batch_id="b3", mode="mor")
    table.compact(drop_tombstones=True, full=True)
    m = table.manifest()
    assert not any(m["deltas"].values())
    assert table._read_files(m).filter("_deleted").count() == 0
    assert [r["url"] for r in table.read().collect()] == ["v"]
