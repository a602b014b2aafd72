"""Batch replay orchestration: change log → extract → LWW dedup → MERGE.

This is the engine's equivalent of the reference's full build entry point
(``snakemake -r all`` — workflow/Snakefile:34-266): instead of
re-processing every dataset and drop-rebuilding the store, it tails a
change log in ordered batches and applies each with an idempotent MERGE.

Key state invariant (what makes the oracle simple and batching-agnostic):
after replaying any prefix of the log in any batch split, each key's row
is the row-image of its max-(warc_ts, event_seq) event seen so far —
deleted keys are read-invisible tombstones. So the final table state is a
pure function of the event *set*, not the batch boundaries; the
replay-equality tests exploit this.

Resumability: each batch commit records its batch_id in the table
manifest; re-running a killed replay skips already-committed batches
(exactly-once at the batch level) and re-applied individual events are
stale no-ops (exactly-once at the row level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.extract import extract_text_udf
from .operators.lww import lww_dedup_agg
from .plans.lake import LakeTable, MergeResult
from .schema import PAGES_SCHEMA


def prepare_batch(events: DataFrame, *, form: str = "narrow",
                  bucket_into: int | None = None,
                  key: str = "url") -> DataFrame:
    """Prepare a raw change-event batch for ``LakeTable.merge``, in one of
    two forms.

    ``bucket_into=n`` (apply_batch sets it to the table's n_buckets)
    exchanges the raw batch once with ``repartition(n, key)``, which
    places every row of bucket b in partition b (see LakeTable.create).
    Without it the batch keeps its own partitioning.

    - ``"narrow"`` (COW and MOR): exchange -> ``lww_dedup_agg`` ->
      ``coalesce(min(n, defaultParallelism))`` -> extraction. The dedup
      runs partition-local with its map-side partial combine, so only
      winners reach the Python UDF: one row per key, as COW requires.
      The coalesce runs one Python task per core, not per bucket, and
      merges whole partitions: each bucket stays in one partition, so
      the MOR delta write gives one file per touched bucket with no
      further exchange. It never narrows below the core count:
      extraction of KB-scale pages is real CPU work.
    - ``"append"`` (MOR append-all, chosen by choose_mor_dedup for
      effectively append-only batches): no winner selection — extract
      every event on the scan side, then exchange; MOR read-resolution
      collapses superseded rows and re-delivered ties."""
    if form == "append":
        events = events.withColumn("text", extract_text_udf(F.col("html")))
        if bucket_into is not None:
            events = events.repartition(bucket_into, F.col(key))
        return events
    if form != "narrow":
        raise ValueError(f"unknown prepare form {form!r}")
    if bucket_into is not None:
        events = events.repartition(bucket_into, F.col(key))
    events = lww_dedup_agg(events, key=key, ts_col="warc_ts",
                           seq_col="event_seq")
    if bucket_into is not None:
        width = _python_width(events.sparkSession, bucket_into)
        if width < bucket_into:
            events = events.coalesce(width)
    return events.withColumn("text", extract_text_udf(F.col("html")))


def _python_width(spark: SparkSession, n_buckets: int) -> int:
    """Task count of the narrow form's Python stage for an ``n_buckets``
    table: one task per core, or per bucket when there are fewer."""
    return min(n_buckets, spark.sparkContext.defaultParallelism)


#: auto MOR policy threshold: distinct(key)/rows above this means the
#: batch is effectively append-only — winner selection would collapse
#: (almost) nothing, so its shuffle is pure overhead and append-all wins.
#: Below it, superseded rows exist in material volume and winner-side
#: dedup pays for itself several times over: winners-only extraction,
#: ~1/ratio smaller delta files, and a compaction that folds winners
#: instead of the raw log.
MOR_DEDUP_MAX_DISTINCT_FRAC = 0.9


def choose_mor_dedup(
    events: DataFrame, *, stats: tuple[int, int] | None = None,
    n_buckets: int | None = None, parallelism: int | None = None,
) -> str | bool:
    """Pick the MOR winner-selection strategy from the batch's supersede
    ratio: ``False`` (append-all, read-resolution dedups) when the batch
    is effectively append-only (distinct keys ≈ rows) — winner selection
    would collapse nothing, so its work is pure overhead — else ``"agg"``
    (prepare_batch's exchange + partition-local ``lww_dedup_agg`` +
    winners-only extraction). Correctness is identical either way — this
    is purely a cost choice.

    ``stats=(n_rows, n_distinct_keys)``, when the caller already has them,
    makes this free; otherwise one column-pruned, map-side-combinable agg
    over the key column runs. ``n_buckets`` and ``parallelism`` are
    accepted for callers that pass the table geometry; they no longer
    affect the result."""
    if stats is None:
        row = events.agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("url").alias("k"),
        ).first()
        stats = (row["n"], row["k"])
    n_rows, n_keys = stats
    if n_rows == 0 or n_keys / n_rows > MOR_DEDUP_MAX_DISTINCT_FRAC:
        return False
    return "agg"


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    *,
    batch_id: str | None = None,
    watermark_seq: int | None = None,
    mode: str = "cow",
    dead_letter_dir: str | None = None,
    stats: tuple[int, int] | None = None,
    deferred_watermark=None,
    pre_commit=None,
) -> MergeResult:
    """Apply one change batch: quarantine, pick the dedup form, prepare,
    MERGE — the one path both replay() and the streaming tailer take.

    With ``dead_letter_dir``, malformed events are quarantined there
    (parquet, with a _reason column) instead of poisoning the merge, and
    the per-reason counts land in the commit's lineage metrics — the
    accounted version of the reference's --skip-bad-relationships +
    import-report check (SURVEY J8/K2). The batch is cached for the
    duration so the quarantine's side jobs and the merge share one
    source pass.

    Prepare form (see prepare_batch): COW takes the ``"narrow"`` form
    (its resolution needs exactly one source row per key). MOR asks
    choose_mor_dedup with ``stats`` — the caller's ``(rows, distinct
    keys)`` for this batch (replay's whole-log bounds pass, or the
    tailer's previous micro-batch) — between ``"narrow"`` and
    ``"append"``; with ``stats=None`` it assumes a supersede-bearing
    batch (``"narrow"``), which needs no stats job. A narrow commit
    records its Python stage's task count, known at plan time, as
    ``prepare_partitions`` in its metrics.

    ``deferred_watermark`` and ``pre_commit`` pass through to
    ``LakeTable.merge``.

    Batch-level OCC retry: merge() absorbs MOR commit races internally by
    re-committing the already-written delta files against the fresh
    manifest, but some races require a full RE-PREPARE — a COW lost race
    (the rewrite referenced superseded base files), a bucket-spec change
    under an in-flight MOR append, or an abandoned half-commit that got
    rolled forward. Those surface as ConcurrentWriteError; re-running the
    whole prepare+merge against the fresh snapshot is then both correct
    (exactly-once holds: the batch ledger skips a batch a competing
    writer landed, and re-applied rows are per-row stale no-ops) and the
    only sound recovery — so do it here, bounded."""
    from .plans.lake import CommitInFlightError, ConcurrentWriteError

    extra = None
    cached = None
    if dead_letter_dir is not None:
        from .operators.quarantine import quarantine

        cached = events.persist()
        events, counts = quarantine(cached, dead_letter_dir,
                                    batch_tag=batch_id)
        extra = {"quarantined": counts}
    if (mode == "cow" or stats is None
            or choose_mor_dedup(events, stats=stats) == "agg"):
        form = "narrow"
    else:
        form = "append"
    last_err: ConcurrentWriteError | None = None
    try:
        for _ in range(3):
            m = table.manifest()
            if form == "narrow":
                extra = {**(extra or {}), "prepare_partitions":
                         _python_width(table.spark, m["n_buckets"])}
            try:
                return table.merge(
                    prepare_batch(events, form=form, key=m["key"],
                                  bucket_into=m["n_buckets"]),
                    batch_id=batch_id, watermark_seq=watermark_seq,
                    deferred_watermark=deferred_watermark, mode=mode,
                    extra_metrics=extra, src_aligned=True,
                    pre_commit=pre_commit,
                )
            except CommitInFlightError:
                # a possibly-live writer holds the next version (within the
                # abandoned-commit grace) — merge() already rebased with
                # backoff; re-preparing in a tight loop just spins.
                raise
            except ConcurrentWriteError as e:
                last_err = e
        raise last_err
    finally:
        if cached is not None:
            cached.unpersist()


def replay(
    spark: SparkSession,
    table_path: str,
    events: DataFrame,
    *,
    n_batches: int = 1,
    n_buckets: int = 32,
    schema=None,
    mode: str = "cow",
    compact_every: int | None = None,
    dead_letter_dir: str | None = None,
    pipeline_depth: int = 1,
) -> list[MergeResult]:
    """Replay a change log into a (possibly new) pages table in
    ``n_batches`` ordered micro-batches split on event_seq ranges —
    the batch-mode emulation of tailing a binlog. Resumable: committed
    batch ids are skipped.

    ``mode="mor"`` appends delta commits (O(batch) each) instead of COW
    rewrites; ``compact_every=k`` folds deltas into the base every k
    batches (the production cadence that bounds read amplification).

    ``pipeline_depth=d`` (MOR only; COW always runs at depth 1): keep up
    to ``d`` batches in flight — batch b+1's delta-write job overlaps
    batch b's straggler tail and commit bookkeeping; manifest commits
    stay strictly ordered (see _replay_batches). Final state is identical
    for every depth (state is a pure function of the event set; asserted
    by tests/test_replay_pipeline.py)."""
    if LakeTable.exists(table_path):
        table = LakeTable(spark, table_path)
    else:
        base = schema
        if base is None:
            base = PAGES_SCHEMA
            if "lang" not in events.columns:
                base = type(base)([f for f in base.fields if f.name != "lang"])
        table = LakeTable.create(spark, table_path, base, key="url", n_buckets=n_buckets)

    # one column-pruned pass yields the batch-split bounds AND (MOR only)
    # the supersede stats of the dedup policy — no extra job
    aggs = [F.min("event_seq").alias("lo"), F.max("event_seq").alias("hi")]
    if mode == "mor":
        aggs += [F.count("*").alias("n"),
                 F.approx_count_distinct("url").alias("k")]
    bounds = events.agg(*aggs).first()
    if bounds["lo"] is None:
        return []
    # one whole-log decision (per-batch ratios track the log's at this
    # generator's stationary key mix; the tailer decides per batch)
    stats = (bounds["n"], bounds["k"]) if mode == "mor" else None
    lo, hi = bounds["lo"], bounds["hi"]
    step = max(1, (hi - lo + 1 + n_batches - 1) // n_batches)
    return _replay_batches(
        table, events, lo=lo, step=step, hi=hi, n_batches=n_batches,
        mode=mode, stats=stats, dead_letter_dir=dead_letter_dir,
        compact_every=compact_every,
        depth=pipeline_depth if mode == "mor" else 1)


def _replay_batches(table, events, *, lo, step, hi, n_batches, mode, stats,
                    dead_letter_dir, compact_every, depth):
    """Apply the ``n_batches`` ranges with up to ``depth`` batches in
    flight; depth 1 is plain serial replay.

    The expensive part of a MOR batch — scan -> dedup -> extract ->
    delta-file write — is independent across batches (winner sets are
    within-batch; cross-batch supersedes resolve at read/compact, so the
    final state is a pure function of the event SET). Only the manifest
    commits must stay ORDERED, because the ledger's per-namespace high
    watermark means "every log position <= hwm is applied": committing
    batch b+1 before batch b would let a crash between the two lose
    batch b on resume. So batch b+1's write job runs concurrently with
    batch b's straggler tail and driver-side commit bookkeeping (the
    constant-wall serial term that otherwise caps scaling efficiency —
    BENCH/BASELINE.md round 5), and its merge blocks only at the
    ``pre_commit`` barrier until batch b has committed. Commit races
    that slip through anyway (e.g. a concurrent compactor) are absorbed
    by the MOR OCC rebase, which re-commits the already-written files
    with zero Spark re-run (plans/lake.py). COW merges rewrite the
    buckets they read, so COW replays run at depth 1.

    Compaction cadence stays on the caller's thread and quiesces the
    window first (waits for the cadence batch's commit).
    """
    from concurrent.futures import ThreadPoolExecutor

    def _one(b, prev_fut):
        if prev_fut is not None and prev_fut.done():
            # a failed predecessor stops the replay; at depth 1 it has
            # always finished here, so a COW replay (no commit barrier)
            # never commits past a failed batch
            prev_fut.result()
        start, end = lo + b * step, min(lo + (b + 1) * step, hi + 1)
        if start >= end:
            if prev_fut is not None:
                prev_fut.result()  # propagate predecessor failures
            return None
        chunk = events.filter(
            (F.col("event_seq") >= start) & (F.col("event_seq") < end))
        return apply_batch(
            table,
            chunk,
            # "ns:seq" structured id -> O(1) ledger entry (per-namespace
            # high watermark). The id encodes the range END so that
            # "seq <= hwm" truly means "every log position <= hwm is
            # applied" regardless of batching: batches are contiguous
            # ascending ranges from the log's minimum, and the log is
            # append-only (event_seq only grows at the tail), so a re-run
            # over a GROWN log — whose shifted boundaries would have
            # broken start-encoded ids — skips exactly the batches it
            # fully covered before and re-applies straddlers, whose
            # already-applied rows are per-row stale no-ops (COW) /
            # resolution tie-collapsed (MOR).
            batch_id=f"replay:{end - 1:012d}",
            watermark_seq=end - 1,
            mode=mode,
            dead_letter_dir=dead_letter_dir,
            stats=stats,
            # ordered-commit barrier: predecessor committed (or failed)
            pre_commit=(prev_fut.result if prev_fut is not None else None),
        )

    futs = []
    with ThreadPoolExecutor(max_workers=depth) as ex:
        prev = None
        for b in range(n_batches):
            prev = ex.submit(_one, b, prev)
            futs.append(prev)
            if compact_every and (b + 1) % compact_every == 0:
                r = prev.result()  # quiesce the window up to the cadence
                if r is not None and not r.noop:
                    table.compact()
    results = []
    for f in futs:
        r = f.result()
        if r is not None:
            results.append(r)
    return results
