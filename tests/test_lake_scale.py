"""Scale-behavior contracts for LakeTable (round-2 hardening):

- MOR read resolution of a large base plus a small delta batch gives the
  exact LWW state;
- re-delivered MOR events (same (_ts,_seq), new batch id) collapse to
  exactly one row per key at read AND through compaction;
- compaction is incremental: buckets without pending deltas keep their
  base files by reference (byte-identical paths, no rewrite);
- the exactly-once ledger is bounded: manifest size does not grow with
  the number of applied batches, and resume semantics stay intact;
- expire_snapshots bounds metadata and vacuums unreferenced data files.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from epigraphdb_graph_spark.plans import lake as lake_mod
from epigraphdb_graph_spark.plans.lake import LakeTable
from epigraphdb_graph_spark.replay import apply_batch, prepare_batch, replay
from epigraphdb_graph_spark.schema import PAGES_SCHEMA
from epigraphdb_graph_spark.sources.events import generate_change_events

from .oracle import replay_oracle

N_EVENTS = 2400


@pytest.fixture(scope="module")
def events(spark):
    df = generate_change_events(
        spark, N_EVENTS, seed=33, n_domains=24, pages_per_domain=10
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
    assert list(got["text"]) == list(want["text"])


def test_mor_redelivery_is_idempotent(spark, tmp_path, events, oracle_state):
    """At-least-once delivery: the same events re-applied under a *new*
    batch id append duplicate delta rows with identical (_ts,_seq); read
    resolution must still return exactly one row per key (ADVICE r1)."""
    path = str(tmp_path / "redeliver")
    replay(spark, path, events, n_batches=2, n_buckets=8, mode="mor")
    table = LakeTable(spark, path)
    # simulate a fresh-checkpoint re-read: same content, different batch ids
    half = events.filter(F.col("event_seq") < N_EVENTS // 2)
    apply_batch(table, half, batch_id="redelivered:000000000001", mode="mor")
    got = _state(spark, path)
    assert got["url"].is_unique
    _assert_equal(got, oracle_state)
    # and compaction of the duplicated deltas converges to the same state
    table.compact()
    got2 = _state(spark, path)
    assert got2["url"].is_unique
    _assert_equal(got2, oracle_state)


def test_incremental_compaction_keeps_untouched_files(spark, tmp_path, events):
    """compact() rewrites only delta-bearing buckets; every other bucket's
    base files must be carried by reference (identical relative paths)."""
    path = str(tmp_path / "incr")
    # base: full COW load -> every bucket has base files, no deltas
    apply_batch(LakeTable.create(spark, path,
                                 schema=_pages_schema(events), key="url",
                                 n_buckets=8),
                events, batch_id="base:000000000000", mode="cow")
    table = LakeTable(spark, path)
    files_before = table.manifest()["files"]
    assert not any(table.manifest()["deltas"].values())

    # one tiny MOR batch touching a single key -> a single bucket
    one_url = events.select("url").first()["url"]
    touched_bucket = str(
        events.filter(F.col("url") == one_url)
        .select(table.bucket_expr(F.col("url")).alias("b")).first()["b"]
    )
    late = (events.filter(F.col("url") == one_url).limit(1)
            .withColumn("event_seq", F.lit(10_000_000))
            .withColumn("warc_ts", F.current_timestamp()))
    apply_batch(table, late, batch_id="late:000000000000", mode="mor")
    assert list(table.manifest()["deltas"].keys()) == [touched_bucket]

    v = table.compact()
    m = table.manifest()
    assert m["version"] == v
    assert not any(m["deltas"].values())
    assert m["metrics"]["rewritten_buckets"] == 1
    for b, fl in files_before.items():
        if b == touched_bucket:
            assert m["files"][b] != fl  # rewritten
        else:
            assert m["files"][b] == fl  # carried by reference — zero I/O


def test_steady_state_broadcast_resolution(spark, tmp_path, events, oracle_state):
    """Steady-state tailing shape: large COW base + one small delta batch
    (deltas << base). Resolution must produce the exact LWW state."""
    path = str(tmp_path / "steady")
    first = events.filter(F.col("event_seq") < N_EVENTS - 100)
    rest = events.filter(F.col("event_seq") >= N_EVENTS - 100)
    replay(spark, path, first, n_batches=1, n_buckets=8, mode="cow")
    table = LakeTable(spark, path)
    apply_batch(table, rest, batch_id="tail:000000000000", mode="mor")
    assert any(table.manifest()["deltas"].values())
    _assert_equal(_state(spark, path), oracle_state)


def test_choose_mor_dedup_by_supersede_ratio(spark):
    """Adaptive MOR winner strategy keys on the supersede ratio
    (round-2 regression fix: payload bytes alone picked append-all for
    the 10:1-supersede headline shape): supersede-heavy batches -> agg
    dedup (winners-only extraction + deltas), effectively-append-only
    batches -> append-all (a dedup shuffle would collapse nothing). Pure
    cost choice; both paths state-equal."""
    from epigraphdb_graph_spark.replay import choose_mor_dedup
    from epigraphdb_graph_spark.sources.events import generate_change_events

    superseding = generate_change_events(
        spark, 2000, seed=5, n_domains=4, pages_per_domain=16)  # 64 keys
    append_only = generate_change_events(
        spark, 200, seed=5, n_domains=4000, pages_per_domain=4096)
    assert choose_mor_dedup(superseding) == "agg"
    assert choose_mor_dedup(append_only) is False
    # precomputed stats short-circuit the agg entirely
    assert choose_mor_dedup(superseding, stats=(1000, 100)) == "agg"
    assert choose_mor_dedup(superseding, stats=(1000, 990)) is False
    assert choose_mor_dedup(superseding, stats=(0, 0)) is False
    # table geometry no longer affects the pick (the benchmark's call shape)
    assert choose_mor_dedup(
        None, stats=(1000, 100), n_buckets=8, parallelism=4) == "agg"
    assert choose_mor_dedup(
        None, stats=(1000, 100), n_buckets=32, parallelism=1) == "agg"
    assert choose_mor_dedup(
        None, stats=(1000, 990), n_buckets=8, parallelism=4) is False


def test_ledger_is_bounded_and_resumable(spark, tmp_path, events):
    path = str(tmp_path / "ledger")
    replay(spark, path, events, n_batches=30, n_buckets=4, mode="mor")
    table = LakeTable(spark, path)
    m = table.manifest()
    led = m["ledger"]
    assert led["applied_count"] == 30
    assert len(led["recent"]) <= lake_mod.LEDGER_RECENT_MAX
    assert list(led["hwm"].keys()) == ["replay"]  # O(namespaces), not O(batches)
    # manifest JSON stays small no matter how many batches were applied
    assert len(json.dumps(m)) < 64 * 1024

    # identical re-run: every batch skipped via the high watermark
    res = replay(spark, path, events, n_batches=30, n_buckets=4, mode="mor")
    assert all(r.noop for r in res)
    assert table.manifest()["version"] == m["version"]


@pytest.mark.parametrize("n_batches", [1, 4])
def test_replay_rerun_over_grown_log_applies_new_events(
        spark, tmp_path, events, n_batches):
    """Regression (round-2 advice, high): replay batch ids encode the range
    END, so re-running over a log that GREW since the last replay — which
    shifts batch boundaries (step = span/n_batches), including the
    n_batches=1 case where the single batch keeps its old start — must
    apply the new tail events instead of hwm-skipping them."""
    path = str(tmp_path / f"grown_{n_batches}")
    old = events.filter(F.col("event_seq") < N_EVENTS // 2)
    replay(spark, path, old, n_batches=n_batches, n_buckets=4)
    table = LakeTable(spark, path)
    assert table.manifest()["watermark_seq"] == N_EVENTS // 2 - 1

    # the log grows at the tail; same replay invocation, same n_batches
    replay(spark, path, events, n_batches=n_batches, n_buckets=4)
    assert table.manifest()["watermark_seq"] == N_EVENTS - 1
    _assert_equal(_state(spark, path), replay_oracle(events.toPandas()))


def test_unreserved_batch_id_namespaces_are_not_hwm_matched(spark, tmp_path):
    """Regression (round-2 advice, medium): only the engine's own reserved
    namespaces (replay / feed / stream-*) get high-watermark semantics. A
    caller id like 'backfill:20240817' followed by a numerically smaller
    'backfill:20230101' must both apply — date-stamped suffixes are not
    monotone, and hwm-skipping the second silently loses its data."""
    path = str(tmp_path / "ns")
    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=4)

    def batch(seq, url, ts):
        pdf = pd.DataFrame(
            [(seq, "insert", url, pd.Timestamp(ts), b"<p>x</p>")],
            columns=["event_seq", "op", "url", "warc_ts", "html"],
        )
        return spark.createDataFrame(pdf)

    r1 = apply_batch(table, batch(1, "a", "2024-08-17"),
                     batch_id="backfill:20240817")
    assert not r1.noop and r1.inserted == 1
    # numerically smaller suffix in an unreserved namespace: must APPLY
    r2 = apply_batch(table, batch(2, "b", "2024-08-18"),
                     batch_id="backfill:20230101")
    assert not r2.noop and r2.inserted == 1
    assert table.read().count() == 2
    # verbatim exact-id dedup still works for unreserved ids
    r3 = apply_batch(table, batch(3, "c", "2024-08-19"),
                     batch_id="backfill:20230101")
    assert r3.noop
    assert table.read().count() == 2
    # reserved namespaces DO hwm-match (the O(1) fast path)
    led = table.manifest()["ledger"]
    assert "backfill" not in led["hwm"]


def _assert_stats_cover_live_files(table):
    """``file_rows`` holds exactly the referenced files (retired ones
    dropped); key bounds never outlive their file."""
    m = table.manifest()
    referenced = {f for d in (m["files"], m["deltas"])
                  for fl in d.values() for f in fl}
    assert set(m["file_rows"]) == referenced
    assert set(m["file_key_bounds"]) <= referenced
    return m, referenced


def test_manifest_file_rows_keep_read_path_footer_free(spark, tmp_path,
                                                       events, monkeypatch):
    """Per-file row counts are recorded in the manifest at commit time
    (round-2 item 4): the MOR read path's delta sizing and lineage read
    them as dict lookups — at object-store scale, per-read serial footer
    GETs over 10^5 files would bottleneck every read. Every writer keeps
    the map equal to the referenced files."""
    import pyarrow.parquet as pq

    from epigraphdb_graph_spark.plans.merge_into import merge_into

    path = str(tmp_path / "stats")
    replay(spark, path, events, n_batches=3, n_buckets=4, mode="mor")
    table = LakeTable(spark, path)
    m, referenced = _assert_stats_cover_live_files(table)
    # counts are the truth (spot-check against actual footers)
    for f in sorted(referenced)[:3]:
        assert m["file_rows"][f] == pq.ParquetFile(
            os.path.join(table.path, f)).metadata.num_rows

    # the read path must not open a single footer
    def _boom(path, *a, **k):
        raise AssertionError(f"read path touched a parquet footer: {path}")

    monkeypatch.setattr(pq, "ParquetFile", _boom)
    want = replay_oracle(events.toPandas())
    _assert_equal(_state(spark, path), want)
    monkeypatch.undo()

    # compaction retires delta entries from file_rows and carries the rest
    table.compact()
    _assert_stats_cover_live_files(table)
    monkeypatch.setattr(pq, "ParquetFile", _boom)
    _assert_equal(_state(spark, path), want)
    monkeypatch.undo()

    # every other writer keeps the map exact too
    late = (events.limit(5).withColumn("event_seq", F.col("event_seq") + 10**7)
            .withColumn("warc_ts", F.current_timestamp()))
    apply_batch(table, late, batch_id="late:000000000000", mode="mor")
    apply_batch(table, late.withColumn("event_seq", F.col("event_seq") + 1),
                batch_id="late:000000000001", mode="cow")
    _assert_stats_cover_live_files(table)
    merge_into(table, spark.createDataFrame(
        [("https://new.example.org/x", "x")], "url string, text string"),
        batch_id="mi:1")
    _assert_stats_cover_live_files(table)
    table.evolve(T.StructType([T.StructField("extra", T.StringType())]))
    _assert_stats_cover_live_files(table)
    apply_batch(table, late.withColumn("event_seq", F.col("event_seq") + 2),
                batch_id="late:000000000002", mode="mor")
    table.overwrite(table.read().select("url", "warc_ts", "text"))
    m, _ = _assert_stats_cover_live_files(table)
    assert m["deltas"] == {}
    apply_batch(table, late.withColumn("event_seq", F.col("event_seq") + 3),
                batch_id="late:000000000003", mode="mor")
    table.compact()
    _assert_stats_cover_live_files(table)


@pytest.mark.parametrize("layout", [None, "xxhash64"])
def test_non_murmur3_layout_rejected(spark, tmp_path, layout):
    """Only the murmur3 bucket layout is supported: writing murmur3
    placement into a table laid out by another hash would split keys
    across buckets, so reads and writes of such a manifest refuse with a
    ValueError that names the layout."""
    path = str(tmp_path / "legacy")
    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url",
                             n_buckets=2)
    ev = spark.createDataFrame(pd.DataFrame(
        [(1, "insert", "https://a.org/p1", pd.Timestamp("2024-01-01"),
          b"<p>x</p>")],
        columns=["event_seq", "op", "url", "warc_ts", "html"]))
    apply_batch(table, ev, batch_id="b1", mode="mor")
    mpath = os.path.join(table._meta_dir,
                         f"v{table.current_version():08d}.json")
    with open(mpath) as f:
        m = json.load(f)
    if layout is None:
        m.pop("bucket_hash")
    else:
        m["bucket_hash"] = layout
    with open(mpath, "w") as f:
        json.dump(m, f)

    with pytest.raises(ValueError, match=repr(layout)):
        table.read_keys("https://a.org/p1")
    with pytest.raises(ValueError, match=repr(layout)):
        table.merge(prepare_batch(ev), batch_id="b2")
    with pytest.raises(ValueError, match=repr(layout)):
        table.compact()


def test_crashed_commit_is_invisible_and_recoverable(spark, tmp_path, events,
                                                     oracle_state):
    """Atomic commit property: a writer that dies AFTER writing the new
    manifest JSON but BEFORE the VERSION pointer swap leaves the table
    exactly at the old snapshot; past the grace period the next writer
    rolls the orphan forward (never losing its commit) and lands on top."""
    path = str(tmp_path / "crash")
    half = events.filter(F.col("event_seq") < N_EVENTS // 2)
    rest = events.filter(F.col("event_seq") >= N_EVENTS // 2)
    replay(spark, path, half, n_batches=1, n_buckets=4)
    table = LakeTable(spark, path)
    v = table.current_version()
    rows_before = table.read().count()

    # simulate the torn commit: orphan manifest for v+1, pointer untouched
    orphan = dict(table.manifest(), version=v + 1, parent=v,
                  metrics={"op": "merge", "batch_id": "crashed:000000000099"})
    with open(os.path.join(table._meta_dir, f"v{v + 1:08d}.json"), "w") as f:
        json.dump(orphan, f)
    assert table.current_version() == v          # pointer rules
    assert table.read().count() == rows_before   # state unchanged
    # the crashed batch is NOT in the ledger (ledger lives in committed
    # manifests only) — re-applying it must not be skipped
    from epigraphdb_graph_spark.plans.lake import _batch_seen
    assert not _batch_seen(table.manifest(), "crashed:000000000099")

    # within the abandoned-commit grace period the orphan could be a LIVE
    # writer between manifest-create and pointer-swap: the next commit
    # must refuse loudly (OCC), not clobber it
    import pytest as _pytest

    from epigraphdb_graph_spark.plans.lake import (
        _ABANDONED_COMMIT_GRACE_S, CommitInFlightError)
    with _pytest.raises(CommitInFlightError):
        replay(spark, path, rest, n_batches=1, n_buckets=4)
    assert table.current_version() == v  # still nothing committed

    # after the grace period the orphan is provably abandoned (pointer
    # never moved): the next commit ROLLS IT FORWARD (preserving the
    # stalled writer's state — here identical to v) and lands on top
    mpath = os.path.join(table._meta_dir, f"v{v + 1:08d}.json")
    past = os.path.getmtime(mpath) - _ABANDONED_COMMIT_GRACE_S - 60
    os.utime(mpath, (past, past))
    replay(spark, path, rest, n_batches=1, n_buckets=4)
    assert table.current_version() == v + 2
    assert table.manifest(v + 1)["metrics"]["batch_id"] == "crashed:000000000099"
    _assert_equal(_state(spark, path), oracle_state)


def test_event_time_watermark_and_late_accounting(spark, tmp_path):
    """St3: the manifest tracks the event-time watermark (max applied
    warc_ts) and each commit accounts events older than (watermark -
    lateness horizon). Late events stay CORRECT (LWW decides) — this is
    the alarm/ops signal, plus the tombstone-expiry safety bound."""
    import pandas as pd

    cols = "event_seq long, op string, url string, warc_ts timestamp, html binary"

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["event_seq", "op", "url", "warc_ts",
                                        "html"]), cols)

    t0 = pd.Timestamp("2024-06-01 12:00:00")
    path = str(tmp_path / "wm")
    table = LakeTable.create(
        spark, path, _pages_schema(ev([])), key="url", n_buckets=4,
        properties={"lateness_horizon_s": 600})  # 10 min horizon
    apply_batch(table, ev([
        (1, "insert", "u/a", t0, b"<p>a</p>"),
        (2, "insert", "u/b", t0 + pd.Timedelta("5min"), b"<p>b</p>"),
    ]), batch_id="w:0")
    m1 = table.manifest()
    assert m1["watermark_ts"] == int((t0 + pd.Timedelta("5min")).timestamp() * 1e6)
    assert m1["metrics"]["late_events"] == 0  # no watermark existed yet

    # batch 2: one fresh event, one 30-min-late event (beyond horizon),
    # one slightly-late event (within horizon)
    apply_batch(table, ev([
        (3, "update", "u/a", t0 + pd.Timedelta("10min"), b"<p>a2</p>"),
        (4, "insert", "u/c", t0 - pd.Timedelta("30min"), b"<p>late</p>"),
        (5, "insert", "u/d", t0 + pd.Timedelta("1min"), b"<p>okish</p>"),
    ]), batch_id="w:1")
    m2 = table.manifest()
    assert m2["metrics"]["late_events"] == 1  # only the beyond-horizon one
    assert m2["watermark_ts"] == int((t0 + pd.Timedelta("10min")).timestamp() * 1e6)
    # the late event was still applied correctly (accounting, not dropping)
    assert table.read().filter("url = 'u/c'").count() == 1

    # MOR commits account lateness too
    apply_batch(table, ev([
        (6, "update", "u/b", t0 - pd.Timedelta("2h"), b"<p>stale</p>"),
    ]), batch_id="w:2", mode="mor")
    assert table.manifest()["metrics"]["late_events"] == 1
    # watermark never regresses
    assert table.manifest()["watermark_ts"] == m2["watermark_ts"]

    from epigraphdb_graph_spark.streaming import stream_metrics
    assert stream_metrics(table).agg(F.sum("late_events")).first()[0] == 2


def test_change_feed_between_snapshots(spark, tmp_path):
    """CDC-out: changes(v1, v2) returns exactly the per-key net diff of
    the two snapshot states (insert/update/delete), bucket-pruned."""
    import pandas as pd

    cols = ["event_seq", "op", "url", "warc_ts", "html"]

    def ev(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=cols),
            "event_seq long, op string, url string, warc_ts timestamp, html binary")

    t0 = pd.Timestamp("2024-01-01")
    batch1 = ev([
        (1, "insert", "u/a", t0, b"<p>v1</p>"),
        (2, "insert", "u/b", t0, b"<p>v2</p>"),
        (3, "insert", "u/c", t0, b"<p>v3</p>"),
    ])
    batch2 = ev([
        (4, "update", "u/b", t0 + pd.Timedelta("1h"), b"<p>v4</p>"),  # update
        (5, "delete", "u/c", t0 + pd.Timedelta("1h"), None),          # delete
        (6, "insert", "u/d", t0 + pd.Timedelta("1h"), b"<p>v6</p>"),  # insert
        (7, "update", "u/a", t0 - pd.Timedelta("1h"), b"<p>stale</p>"),  # stale no-op
    ])
    path = str(tmp_path / "cdc")
    table = LakeTable.create(spark, path, _pages_schema(batch1), key="url",
                             n_buckets=8)
    apply_batch(table, batch1, batch_id="b:0")
    v1 = table.current_version()
    apply_batch(table, batch2, batch_id="b:1")
    v2 = table.current_version()

    got = table.changes(v1, v2).select("_change_type", "url", "text") \
        .toPandas().sort_values("url").reset_index(drop=True)
    assert list(zip(got["_change_type"], got["url"])) == [
        ("update", "u/b"), ("delete", "u/c"), ("insert", "u/d")]
    # images: new image for insert/update, last visible image for delete
    assert list(got["text"]) == ["v4", "v3", "v6"]
    # no-change version pair -> empty feed
    assert table.changes(v2, v2).count() == 0
    # full-history feed == current visible state as inserts
    full = table.changes(0, v2)
    assert full.filter("_change_type = 'insert'").count() == 3
    assert full.filter("_change_type != 'insert'").count() == 0


def test_change_feed_bucket_pruning(spark, tmp_path, events):
    """A commit touching one bucket must make changes() read only that
    bucket (manifest file-list comparison — no data scanned elsewhere)."""
    path = str(tmp_path / "cdcprune")
    apply_batch(LakeTable.create(spark, path, _pages_schema(events),
                                 key="url", n_buckets=8),
                events, batch_id="base:0", mode="cow")
    table = LakeTable(spark, path)
    v1 = table.current_version()
    one_url = events.select("url").first()["url"]
    late = (events.filter(F.col("url") == one_url).limit(1)
            .withColumn("event_seq", F.lit(99_000_000))
            .withColumn("warc_ts", F.current_timestamp()))
    apply_batch(table, late, batch_id="late:0", mode="mor")
    v2 = table.current_version()
    m1, m2 = table.manifest(v1), table.manifest(v2)
    diff_buckets = [
        b for b in set(m1["files"]) | set(m2["files"]) | set(m2["deltas"])
        if m1["files"].get(b) != m2["files"].get(b)
        or m1.get("deltas", {}).get(b) != m2.get("deltas", {}).get(b)
    ]
    assert len(diff_buckets) == 1  # the pruning set changes() uses
    feed = table.changes(v1, v2).toPandas()
    assert list(feed["_change_type"]) == ["update"]
    assert list(feed["url"]) == [one_url]


def test_expire_snapshots_bounds_metadata(spark, tmp_path, events, oracle_state):
    path = str(tmp_path / "expire")
    replay(spark, path, events, n_batches=6, n_buckets=4, mode="cow")
    table = LakeTable(spark, path)
    n_meta_before = len([f for f in os.listdir(table._meta_dir)
                         if f.endswith(".json")])
    assert n_meta_before >= 7  # create + 6 commits
    # plant an orphan (half-written output of a crashed job)
    orphan = os.path.join(path, "data", "snap-99999999", "_bucket=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-zzz.parquet"), "w") as f:
        f.write("junk")
    stats = table.expire_snapshots(keep_last=2)
    assert stats["expired_manifests"] == n_meta_before - 2
    assert stats["removed_data_files"] > 0  # old COW snapshots vacuumed
    # manifest-diff vacuum never lists the data dir: orphan untouched
    assert stats["removed_orphans"] == 0
    assert os.path.exists(os.path.join(orphan, "part-zzz.parquet"))
    # opt-in orphan walk, default grace period: a FRESH unreferenced file
    # may belong to an in-flight commit (data lands before the manifest
    # pointer swap) — skipped, not deleted
    stats2 = table.expire_snapshots(keep_last=2, find_orphans=True)
    assert stats2["removed_orphans"] == 0
    assert os.path.exists(os.path.join(orphan, "part-zzz.parquet"))
    # backdated past the grace window, the walk removes it
    old = time.time() - 4 * 3600
    os.utime(os.path.join(orphan, "part-zzz.parquet"), (old, old))
    stats3 = table.expire_snapshots(keep_last=2, find_orphans=True)
    assert stats3["removed_orphans"] == 1
    assert not os.path.exists(orphan)
    # current state unaffected
    _assert_equal(_state(spark, path), oracle_state)
    assert len(table.history()) == 2


def _pages_schema(events):
    if "lang" in events.columns:
        return PAGES_SCHEMA
    return T.StructType([f for f in PAGES_SCHEMA.fields if f.name != "lang"])
