"""Structured Streaming change-log tailer.

The reference pipeline's "incrementality" is Snakemake file-target
memoization plus a full drop-and-rebuild import (workflow/Snakefile:135-139,
156-163). This module replaces it with a real tailer: a Structured
Streaming file source over the change-log directory (the sandbox stand-in
for a binlog/Kafka topic — same micro-batch surface), applying each
micro-batch through ``replay.apply_batch`` — the same quarantine, dedup
policy, prepare and MERGE path (with its bounded OCC re-prepare retry)
the batch replayer uses.

Exactly-once story (north_rule), two independent layers:

1. **Source offsets**: the streaming checkpoint records which log files
   each micro-batch consumed; after a crash, Spark re-delivers the same
   batch with the same ``batch_id``.
2. **Idempotent sink**: ``LakeTable.merge`` records ``stream-{ns}:{seq}``
   in the table's bounded batch ledger (per-namespace high watermark — the
   manifest does not grow with replay length) — a re-delivered micro-batch
   is a committed no-op, and even a *manually* re-applied event is a
   per-row stale no-op via the ``(warc_ts, event_seq)`` guard (COW) /
   read-resolution tie-dedup (MOR).

Together: end-to-end exactly-once into the lake table, resumable by simply
restarting the query with the same checkpoint dir.

Late data: the MERGE semantics make watermarks unnecessary for correctness
(state lives in the table, not the stream — SURVEY.md §2.11); a late stale
event loses the per-row LWW comparison no matter which batch it arrives in.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import replay
from ..plans.lake import LakeTable
from ..schema import CHANGE_EVENT_SCHEMA, PAGES_SCHEMA


def tail_change_log(
    spark: SparkSession,
    log_dir: str,
    table_path: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = 32,
    schema=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    mode: str = "cow",
    dead_letter_dir: str | None = None,
    compactor=None,
):
    """Tail ``log_dir`` (parquet change-event files) into the lake table at
    ``table_path``. Returns the StreamingQuery.

    ``available_now=True`` drains everything currently in the log and
    stops — the batch-ish mode tests and the sandbox use; pass False for a
    continuously running tailer (prod shape). ``max_files_per_trigger``
    bounds micro-batch size for steady incremental progress.

    Compaction: a ``compactor`` (streaming.compactor.BackgroundCompactor)
    is only NOTIFIED after each micro-batch and folds deltas on its own
    thread, overlapped with subsequent micro-batches — safe by
    construction via the OCC rebase machinery (Hudi async compaction
    analog).
    """
    if LakeTable.exists(table_path):
        table = LakeTable(spark, table_path)
    else:
        table = LakeTable.create(
            spark, table_path, schema or PAGES_SCHEMA, key="url", n_buckets=n_buckets
        )

    reader = spark.readStream.schema(schema_for_stream(schema))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(log_dir)

    # Spark micro-batch ids are unique only within one checkpoint; namespace
    # the sink's exactly-once ledger by checkpoint so (a) a restart from the
    # same checkpoint dedupes, while (b) a *fresh* checkpoint re-reading the
    # log is re-applied (and lands as per-row stale no-ops), never silently
    # skipped against a stale ledger entry.
    ns = hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]

    # previous micro-batch's observed (rows, distinct keys): CDC streams
    # are key-mix-stationary at micro-batch cadence, so last batch's
    # supersede ratio is the right prior for this batch's MOR dedup pick —
    # and it makes the pick FREE (no stats job; the Observation below
    # fills it during the merge's own write job). The first micro-batch
    # has no prior and is treated as supersede-bearing. A wrong pick costs
    # only a wasted (or skipped) dedup shuffle — state is identical.
    prev_stats: list[tuple[int, int] | None] = [None]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        # watermark = true log position (max seq in the RAW batch — LWW
        # dedup may drop the max-seq event) + next batch's policy stats,
        # all piggybacked on the merge write job via Observation: a MOR
        # micro-batch is ONE Spark job in the narrow-agg shape
        raw_obs = Observation()
        events = batch_df.observe(
            raw_obs,
            F.max("event_seq").alias("wm"),
            F.count("*").alias("n"),
            F.approx_count_distinct("url").alias("k"),
        )

        def _wm_from_obs() -> int:
            got = raw_obs.get  # filled by the completed merge job
            prev_stats[0] = (int(got.get("n") or 0), int(got.get("k") or 0))
            wm = got.get("wm")
            return int(wm) if wm is not None else -1

        replay.apply_batch(
            table, events,
            batch_id=f"stream-{ns}:{batch_id:012d}",
            mode=mode,
            dead_letter_dir=dead_letter_dir,
            stats=prev_stats[0],
            deferred_watermark=_wm_from_obs,
        )
        if compactor is not None:
            compactor.notify()  # non-blocking; folds on its own thread

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def schema_for_stream(table_schema=None):
    """Change-event schema for the stream source: CHANGE_EVENT_SCHEMA plus
    any extra payload columns the target table carries (e.g. ``lang`` after
    evolution). File streams need an explicit schema."""
    if table_schema is None:
        return CHANGE_EVENT_SCHEMA
    base_names = {f.name for f in CHANGE_EVENT_SCHEMA.fields}
    extra = [
        f for f in table_schema.fields
        if f.name not in base_names and f.name not in ("text",)
    ]
    return type(CHANGE_EVENT_SCHEMA)(list(CHANGE_EVENT_SCHEMA.fields) + extra)


def stream_metrics(table: LakeTable) -> DataFrame:
    """Per-commit lineage metrics as a DataFrame (the reference's
    import-report-check analog, graph_build/import-report-check.py:15-36 —
    skipped/applied accounting, queryable instead of a text report)."""
    rows = []
    for h in table.history():
        m = h["metrics"]
        actions = m.get("actions", {})
        rows.append(
            {
                "version": h["version"],
                "op": m.get("op"),
                "batch_id": m.get("batch_id"),
                "watermark_seq": h["watermark_seq"],
                # COW actions, plus the MOR appends (as MergeResult counts
                # them: every upsert row inserted, every delete row deleted).
                # A COW commit folds revives into insert and tombstones of
                # new keys into delete; older manifests list them apart.
                "inserted": actions.get("insert", 0) + actions.get("revive", 0)
                + actions.get("append_upsert", 0),
                "updated": actions.get("update", 0),
                "deleted": actions.get("delete", 0) + actions.get("tombstone_new", 0)
                + actions.get("append_delete", 0),
                "stale_skipped": actions.get("stale", 0),
                "kept": actions.get("keep", 0),
                "late_events": m.get("late_events", 0),
                # Python-stage tasks of a narrow commit (else null)
                "prepare_partitions": m.get("prepare_partitions"),
            }
        )
    return table.spark.createDataFrame(
        rows,
        "version int, op string, batch_id string, watermark_seq long, "
        "inserted long, updated long, deleted long, stale_skipped long, "
        "kept long, late_events long, prepare_partitions int",
    )
