"""Per-layer probes for the traced run. Each probe drives the engine's
public functions on one representative batch of the workload's log, after
the timed ingest, so none of them touches an end-to-end timing."""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from common import Timer, fresh_dir, pct

REPS = 3


def _noop_ms(df) -> float:
    """Median wall of writing ``df`` to Spark's no-op sink."""
    times = []
    for _ in range(REPS):
        with Timer() as t:
            df.write.format("noop").mode("overwrite").save()
        times.append(t.ms)
    return statistics.median(times)


def batch_costs(spark, log_dir: str, batch: tuple[int, int], sample_file: str) -> dict:
    """Scan, LWW dedup and extraction cost of one batch, each as the
    difference between no-op writes of nested plans."""
    from pyspark.sql import functions as F

    from epigraphdb_graph_spark.functions.extract import extract_text, extract_text_udf
    from epigraphdb_graph_spark.operators.lww import lww_dedup_agg
    from epigraphdb_graph_spark.sources import events as events_mod

    log = events_mod.read_change_log(spark, log_dir)
    lo, hi = batch
    scan = log.filter((F.col("event_seq") >= lo) & (F.col("event_seq") < hi))
    dedup = lww_dedup_agg(scan, key="url", ts_col="warc_ts", seq_col="event_seq")
    extracted = dedup.withColumn("text", extract_text_udf(F.col("html")))
    scan_ms, dedup_ms, extract_ms = _noop_ms(scan), _noop_ms(dedup), _noop_ms(extracted)

    pages = [h for h in pq.read_table(sample_file, columns=["html"]).column(0).to_pylist()
             if h is not None][:200]
    per_page = []
    for _ in range(5):
        t0 = time.perf_counter()
        for h in pages:
            extract_text(h)
        per_page.append((time.perf_counter() - t0) / len(pages) * 1e6)
    return {
        "events.splits": log.rdd.getNumPartitions(),
        "events.scan_ms_per_batch": scan_ms,
        "lww.winner_ratio": dedup.count() / scan.count(),
        "lww.ms_per_batch": dedup_ms - scan_ms,
        "extract.us_per_page": statistics.median(per_page),
        "extract.ms_per_batch": extract_ms - dedup_ms,
    }


def dedup_picks(spark, log_dir: str, batches: list[tuple[int, int]]) -> dict:
    """How the MOR dedup policy picks for each ingested batch, from each
    batch's own (rows, approx distinct keys)."""
    from pyspark.sql import functions as F

    from epigraphdb_graph_spark.replay import choose_mor_dedup
    from epigraphdb_graph_spark.sources import events as events_mod
    from workloads import N_BUCKETS

    size = batches[0][1] - batches[0][0]
    stats = (
        events_mod.read_change_log(spark, log_dir)
        .filter((F.col("event_seq") >= batches[0][0])
                & (F.col("event_seq") < batches[-1][1]))
        .groupBy(F.floor(F.col("event_seq") / size).alias("b"))
        .agg(F.count("*").alias("n"), F.approx_count_distinct("url").alias("k"))
        .collect()
    )
    par = spark.sparkContext.defaultParallelism
    picks = {"agg": 0, "append": 0, "filter": 0}
    for r in stats:
        pick = choose_mor_dedup(None, stats=(r["n"], r["k"]),
                                n_buckets=N_BUCKETS, parallelism=par)
        picks[{"agg": "agg", False: "append", True: "filter"}[pick]] += 1
    return {f"replay.pick_{k}": v for k, v in picks.items()}


def tailer_stats(progress: list[dict]) -> dict:
    def p50(key):
        return pct([p["durationMs"].get(key, 0) for p in progress], 50)

    return {
        "tailer.add_batch_ms_p50": p50("addBatch"),
        "tailer.framework_ms_p50": pct(
            [p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
             for p in progress], 50),
        "tailer.wal_commit_ms_p50": p50("walCommit"),
        "tailer.query_planning_ms_p50": p50("queryPlanning"),
        "tailer.rows_per_batch": pct([p["numInputRows"] for p in progress], 50),
    }


def tailer_probe(spark, files: list[str]) -> list[dict]:
    """Drain ``files`` through the tailer, one file per micro-batch, into a
    scratch table; returns the data batches' progress reports."""
    from epigraphdb_graph_spark.streaming import tailer as tailer_mod
    from workloads import N_BUCKETS

    log = fresh_dir("run", "probe_log")
    for f in files:
        os.link(f, os.path.join(log, os.path.basename(f)))
    q = tailer_mod.tail_change_log(
        spark, log, fresh_dir("run", "probe_table"), fresh_dir("run", "probe_ckpt"),
        mode="mor", n_buckets=N_BUCKETS, available_now=True, max_files_per_trigger=1)
    q.awaitTermination()
    return [dict(p) for p in q.recentProgress if p["numInputRows"] > 0]


def one_core_events_per_s(spark, log_dir: str, batches: list[tuple[int, int]]) -> float:
    """Replay the given batches of the log on ``spark`` (a ``local[1]``
    session) into a scratch table; events per second."""
    from pyspark.sql import functions as F

    from epigraphdb_graph_spark import replay as replay_mod
    from epigraphdb_graph_spark.sources import events as events_mod
    from workloads import N_BUCKETS

    lo, hi = batches[0][0], batches[-1][1]
    ev = events_mod.read_change_log(spark, log_dir).filter(
        (F.col("event_seq") >= lo) & (F.col("event_seq") < hi))
    with Timer() as t:
        replay_mod.replay(spark, fresh_dir("run", "one_core"), ev,
                          n_batches=len(batches), n_buckets=N_BUCKETS, mode="mor")
    return (hi - lo) / t.s
