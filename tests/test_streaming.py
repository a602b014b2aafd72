"""Structured Streaming tailer: exactly-once + resume-from-checkpoint.

Engine analog of the reference's end-of-build conformance gate
(workflow/Snakefile:177) but for the streaming path: drain a change log,
assert final lake state equals the pandas oracle, then extend the log and
resume from the same checkpoint."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epigraphdb_graph_spark.plans.lake import LakeTable
from epigraphdb_graph_spark.sources.events import generate_change_events
from epigraphdb_graph_spark.streaming import stream_metrics, tail_change_log

from .oracle import replay_oracle

N_EVENTS = 2000


@pytest.fixture(scope="module")
def events(spark):
    df = generate_change_events(
        spark, N_EVENTS, seed=7, n_domains=30, pages_per_domain=8
    ).cache()
    df.count()
    return df


def _read_state(spark, path) -> pd.DataFrame:
    return (
        LakeTable(spark, path)
        .read()
        .select("url", "warc_ts", "text")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def _assert_equal(got: pd.DataFrame, events_pdf: pd.DataFrame):
    want = replay_oracle(events_pdf)[["url", "warc_ts", "text"]]
    assert len(got) == len(want)
    assert list(got["url"]) == list(want["url"])
    assert list(got["warc_ts"]) == list(want["warc_ts"])
    assert list(got["text"]) == list(want["text"])


def test_tailer_exactly_once_and_resume(spark, tmp_path, events):
    log_dir = str(tmp_path / "log")
    table_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")

    first = events.filter(F.col("event_seq") < 1200)
    rest = events.filter(F.col("event_seq") >= 1200)

    # --- drain the initial log
    first.repartition(3).write.mode("overwrite").parquet(log_dir)
    q = tail_change_log(spark, log_dir, table_path, ckpt, n_buckets=8,
                        max_files_per_trigger=2)
    q.awaitTermination(120)
    _assert_equal(_read_state(spark, table_path), first.toPandas())

    table = LakeTable(spark, table_path)
    v_after_first = table.current_version()
    n_stream_batches = len(
        [b for b in table.manifest()["ledger"]["recent"] if b.startswith("stream-")]
    )
    assert n_stream_batches >= 2  # maxFilesPerTrigger split it up

    # --- append to the log, resume from the same checkpoint: only new files
    rest.repartition(2).write.mode("append").parquet(log_dir)
    q2 = tail_change_log(spark, log_dir, table_path, ckpt, n_buckets=8)
    q2.awaitTermination(120)
    _assert_equal(_read_state(spark, table_path), events.toPandas())
    assert table.current_version() > v_after_first

    # --- re-delivery: fresh checkpoint replays the WHOLE log; every row is
    # a stale no-op, state unchanged (sink idempotence layer)
    v_before = table.current_version()
    q3 = tail_change_log(spark, log_dir, table_path, str(tmp_path / "ckpt2"),
                         n_buckets=8)
    q3.awaitTermination(120)
    _assert_equal(_read_state(spark, table_path), events.toPandas())
    redelivered = [
        h for h in table.history()
        if h["version"] > v_before and h["metrics"].get("op") == "merge"
    ]
    assert redelivered, "re-delivery should still commit (as no-op rows)"
    for h in redelivered:
        a = h["metrics"]["actions"]
        assert a.get("insert", 0) == 0 and a.get("update", 0) == 0 \
            and a.get("delete", 0) == 0 and a.get("tombstone_new", 0) == 0

    # --- lineage metrics table covers every commit
    mdf = stream_metrics(table)
    assert mdf.filter("op = 'merge'").count() >= 3
    assert mdf.agg(F.max("watermark_seq")).first()[0] == N_EVENTS - 1


def test_tailer_mor_mode_matches_oracle(spark, tmp_path, events):
    """Streaming tailer with MOR commits: state after drain + compact
    equals the oracle (dedup is deferred to resolution in this mode) —
    also at 32 buckets on the 8-core test session, where the narrow
    prepare form coalesces the Python stage to the core count."""
    events.repartition(2).write.mode("overwrite").parquet(
        str(tmp_path / "log"))
    for n_buckets in (8, 32):
        table_path = str(tmp_path / f"pages{n_buckets}")
        q = tail_change_log(spark, str(tmp_path / "log"), table_path,
                            str(tmp_path / f"ckpt{n_buckets}"),
                            n_buckets=n_buckets, mode="mor")
        q.awaitTermination(120)
        table = LakeTable(spark, table_path)
        assert any(table.manifest()["deltas"].values())
        _assert_equal(_read_state(spark, table_path), events.toPandas())
        table.compact()
        _assert_equal(_read_state(spark, table_path), events.toPandas())
    narrow = [h["metrics"].get("prepare_partitions") for h in table.history()]
    assert spark.sparkContext.defaultParallelism in narrow


def test_stream_metrics_counts_mor_appends(spark, tmp_path, events):
    """MOR commits record ``append_upsert``/``append_delete`` actions;
    stream_metrics must count them as inserted/deleted, exactly as the
    commits' MergeResults do."""
    from epigraphdb_graph_spark.replay import replay

    path = str(tmp_path / "pages")
    results = replay(spark, path, events, n_batches=3, n_buckets=8,
                     mode="mor")
    got = stream_metrics(LakeTable(spark, path)).agg(
        F.sum("inserted"), F.sum("deleted")).first()
    want = (sum(r.inserted for r in results), sum(r.deleted for r in results))
    assert want[0] > 0 and want[1] > 0
    assert tuple(got) == want


def test_tailer_restart_same_checkpoint_is_noop(spark, tmp_path, events):
    log_dir = str(tmp_path / "log")
    table_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    events.limit(500).write.mode("overwrite").parquet(log_dir)

    q = tail_change_log(spark, log_dir, table_path, ckpt, n_buckets=4)
    q.awaitTermination(120)
    v1 = LakeTable(spark, table_path).current_version()

    # nothing new in the log -> restart consumes nothing, no new version
    q2 = tail_change_log(spark, log_dir, table_path, ckpt, n_buckets=4)
    q2.awaitTermination(120)
    assert LakeTable(spark, table_path).current_version() == v1


_EVENT_DDL = "event_seq long, op string, url string, warc_ts timestamp, html binary"


def _append_only_log(n_files: int, per_file: int) -> list[pd.DataFrame]:
    """Change-log files whose distinct-key fraction (0.975) is above
    replay.MOR_DEDUP_MAX_DISTINCT_FRAC: mostly first inserts, plus a few
    in-file updates and deletes of keys the same file inserted."""
    base = pd.Timestamp("2024-05-01")
    files = []
    for i in range(n_files):
        rows = []
        fresh = per_file * 39 // 40
        for j in range(per_file):
            seq = i * per_file + j
            k = j if j < fresh else j - fresh
            url = f"https://d{k % 50}.example/f{i}-{k}"
            op = "insert" if j < fresh else ("delete" if k % 3 == 0 else "update")
            html = None if op == "delete" else f"<p>{op} {seq} of {url}</p>".encode()
            rows.append((seq, op, url, base + pd.Timedelta(seconds=seq), html))
        files.append(pd.DataFrame(
            rows, columns=["event_seq", "op", "url", "warc_ts", "html"]))
    return files


def test_append_only_log_appends_all(spark, tmp_path, monkeypatch):
    """An effectively append-only log takes MOR append-all — no winner
    selection, every event lands in the delta files — through both the
    batch replay (whole-log stats) and the tailer (previous micro-batch's
    stats; the first micro-batch has none and dedups). State equals the
    oracle either way."""
    from epigraphdb_graph_spark import replay as replay_mod

    picks = []
    real_choose = replay_mod.choose_mor_dedup

    def spy(*args, **kwargs):
        picks.append(real_choose(*args, **kwargs))
        return picks[-1]

    monkeypatch.setattr(replay_mod, "choose_mor_dedup", spy)
    files = _append_only_log(2, 400)
    pdf = pd.concat(files, ignore_index=True)

    def appended(table) -> list[int]:
        return [sum(h["metrics"]["actions"].values()) for h in table.history()
                if h["metrics"].get("op") == "merge"]

    replay_mod.replay(spark, str(tmp_path / "replayed"),
                      spark.createDataFrame(pdf, _EVENT_DDL), n_batches=2,
                      n_buckets=4, mode="mor")
    assert picks == [False, False]
    assert appended(LakeTable(spark, str(tmp_path / "replayed"))) == [400, 400]
    _assert_equal(_read_state(spark, str(tmp_path / "replayed")), pdf)

    picks.clear()
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for i, f in enumerate(files):  # one parquet file per micro-batch
        staged = str(tmp_path / f"staged{i}")
        spark.createDataFrame(f, _EVENT_DDL).coalesce(1).write.parquet(staged)
        (part,) = glob.glob(f"{staged}/part-*.parquet")
        os.rename(part, log_dir / f"part-{i}.parquet")
    table_path = str(tmp_path / "tailed")
    q = tail_change_log(spark, str(log_dir), table_path, str(tmp_path / "ckpt"),
                        n_buckets=4, mode="mor", max_files_per_trigger=1)
    q.awaitTermination(120)
    assert picks == [False]
    # first micro-batch dedups (390 winners), the second appends all 400
    assert appended(LakeTable(spark, table_path)) == [390, 400]
    _assert_equal(_read_state(spark, table_path), pdf)


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Real readStream windowed aggregation (St5 streaming surface):
    event-time tumbling windows under a watermark, append mode — every
    window the final watermark has passed is emitted exactly once and
    equals the batch recompute; open windows are withheld."""
    from epigraphdb_graph_spark.streaming.windows import windowed_event_counts

    # 8 partitions = contiguous event_seq (≈ event-time) slices, written
    # as-is: the file source consumes them in order, so arrival respects
    # event time within the 10-min jitter — inside the 30-min watermark
    # horizon, the contract under which append output == batch recompute
    # (a round-robin file layout would scatter early-window events into
    # late micro-batches and the watermark would rightly drop them)
    ev = generate_change_events(
        spark, 3000, seed=17, n_domains=20, pages_per_domain=8,
        lateness_s=600, num_partitions=8).cache()
    log_dir = str(tmp_path / "log")
    ev.write.parquet(log_dir)
    # the file source orders by modification time (one write = one mtime
    # = arbitrary order): stamp ascending mtimes in part order so arrival
    # follows event time and stays inside the watermark horizon
    import os
    import time as _time

    base = _time.time() - 1000
    parts = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    for i, fn in enumerate(parts):
        os.utime(os.path.join(log_dir, fn), (base + i * 10, base + i * 10))

    stream = windowed_event_counts(
        spark, log_dir, window="10 minutes", watermark="30 minutes",
        max_files_per_trigger=2)
    q = (stream.writeStream.format("memory").queryName("winagg")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = (spark.table("winagg").toPandas()
           .sort_values(["window_start", "op"]).reset_index(drop=True))

    # final watermark = max event time - 30min (micro-batch granularity);
    # every window whose END the watermark passed must be present & exact
    max_ts = ev.agg(F.max("warc_ts")).first()[0]
    import pandas as pd

    closed_before = pd.Timestamp(max_ts) - pd.Timedelta(minutes=30)
    want = (
        ev.groupBy(F.window("warc_ts", "10 minutes").alias("w"), "op")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "op", "n_events")
        .toPandas())
    want_closed = (want[want["window_end"] <= closed_before]
                   .sort_values(["window_start", "op"])
                   .reset_index(drop=True))
    assert len(want_closed) > 0, "fixture must close some windows"
    got_idx = got.set_index(["window_start", "op"])["n_events"].to_dict()
    for _, row in want_closed.iterrows():
        k = (row["window_start"], row["op"])
        assert got_idx.get(k) == row["n_events"], f"window {k} wrong/missing"
    # append mode never emits a window twice
    assert not got.duplicated(["window_start", "op"]).any()
    # open windows (end beyond the watermark) are withheld
    open_ends = got[got["window_end"] > pd.Timestamp(max_ts)]
    assert len(open_ends) == 0


def test_background_compactor_overlaps_tailer(spark, tmp_path, events):
    """Round-4 verdict ask #5: compaction OFF the micro-batch critical
    path. The tailer only notify()s; the BackgroundCompactor folds deltas
    on its own thread, racing live commits through the OCC rebase
    machinery. Final state must equal the oracle, at least one compaction
    must actually land (threshold=1 with many micro-batches), pending
    read amplification must end bounded, and checkpoint resume must stay
    a no-op."""
    from epigraphdb_graph_spark.streaming import BackgroundCompactor

    log_dir = str(tmp_path / "log")
    table_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    events.repartition(12).write.mode("overwrite").parquet(log_dir)

    with BackgroundCompactor(spark, table_path, max_delta_files=1) as comp:
        q = tail_change_log(spark, log_dir, table_path, ckpt,
                            n_buckets=8, mode="mor",
                            max_files_per_trigger=2, available_now=True,
                            compactor=comp)
        q.awaitTermination()
    assert comp.compactions >= 1  # it really ran, concurrently
    table = LakeTable(spark, table_path)
    # close() drains a final fold: deltas bounded by the threshold check
    assert table.pending_delta_files() <= 1
    _assert_equal(_read_state(spark, table_path), events.toPandas())

    # exactly-once across the racing writers: each stream batch committed
    # once, every compaction is its own commit
    merges = [h for h in table.history()
              if h["metrics"].get("op") == "merge"]
    ids = [h["metrics"].get("batch_id") for h in merges]
    assert len(ids) == len(set(ids))

    # checkpoint resume after concurrent compactions: nothing re-applied
    v = table.current_version()
    q2 = tail_change_log(spark, log_dir, table_path, ckpt,
                         n_buckets=8, mode="mor",
                         max_files_per_trigger=2, available_now=True)
    q2.awaitTermination()
    assert table.current_version() == v
