"""spark-submit entry point.

The reference pipeline is driven by ``snakemake -r all -j N`` shelling out
per-dataset python processes (workflow/Snakefile:204-259); this engine is
one Spark driver program, packaged for ``spark-submit --py-files``::

    python -m epigraphdb_graph_spark.packaging   # builds dist/epigraphdb_graph_spark.zip
    spark-submit --py-files dist/epigraphdb_graph_spark.zip \\
        $(python -c 'import epigraphdb_graph_spark.cli as c; print(c.__file__)') \\
        replay --events 1000000 --table /data/pages

(Driver-launched sessions also work from any cwd: session.get_spark ships
the zip via addPyFile automatically.)

Subcommands: replay (synthetic or parquet change log -> table),
tail (Structured Streaming tailer), compact, show (state/history/metrics).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _spark(args):
    from .session import get_spark

    return get_spark("epigraphdb-graph-spark-cli", master=args.master,
                     shuffle_partitions=args.shuffle_partitions)


def cmd_replay(args) -> int:
    from .plans.lake import LakeTable
    from .replay import replay
    from .sources.events import generate_change_events

    spark = _spark(args)
    if args.log_dir:
        from .sources.events import read_change_log

        # cluster-sized scan splits: a zstd CDC log can pack into a
        # handful of 128MB splits and starve the scan+extract stage at
        # high core counts; read_change_log widens only when needed
        if args.log_splits == 0:
            events = spark.read.parquet(args.log_dir)
        else:
            events = read_change_log(
                spark, args.log_dir, target_splits=args.log_splits)
    else:
        # partitions = batches x cores: replay slices the log on contiguous
        # event_seq ranges, so each batch must span >= cores partitions or
        # the per-batch scan+extract stage runs under-parallel (a 4-batch
        # log in `cores` partitions gives each batch only cores/4 tasks)
        events = generate_change_events(
            spark, args.events, seed=args.seed,
            n_domains=args.domains, pages_per_domain=args.pages_per_domain,
            body_repeat=args.body_repeat,
            num_partitions=args.batches * spark.sparkContext.defaultParallelism,
        )
    if args.warmup:
        # untimed warmup replay on a throwaway table: JIT/codegen + python
        # UDF worker startup happen here, not inside the measured region
        # (steady-state throughput is what the scaling criterion compares)
        import shutil as _sh
        import tempfile as _tmp

        wdir = _tmp.mkdtemp(prefix="warmup_")
        try:
            # full-shape dress rehearsal: one batch of the SAME size and
            # page shape as a real batch, so codegen, python-worker arena
            # growth, and heap expansion all happen before the timed region
            warmup_n = min(max(args.events // args.batches, 20_000), 400_000)
            replay(spark, f"{wdir}/t",
                   generate_change_events(spark, warmup_n, seed=1,
                                          body_repeat=args.body_repeat),
                   n_batches=1, n_buckets=args.buckets, mode=args.mode)
            if args.mode == "mor":
                # the timed region ends in compaction — warm its codegen
                # (resolution + rewrite plans) too, not just the commit path
                LakeTable(spark, f"{wdir}/t").compact()
        finally:
            _sh.rmtree(wdir, ignore_errors=True)
    t0 = time.perf_counter()
    results = replay(
        spark, args.table, events, n_batches=args.batches,
        n_buckets=args.buckets, mode=args.mode, compact_every=args.compact_every,
        dead_letter_dir=args.dead_letter_dir,
        pipeline_depth=getattr(args, "pipeline", 1),
    )
    wall = time.perf_counter() - t0
    n_events = events.count()
    table = LakeTable(spark, args.table)
    out = {
        "batches": [r.as_dict() for r in results],
        "events": n_events,
        "wall_s": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1) if wall > 0 else None,
        "final_rows": table.read().count(),
        "version": table.current_version(),
    }
    print(json.dumps(out))
    return 0


def cmd_tail(args) -> int:
    from .streaming import tail_change_log

    spark = _spark(args)
    q = tail_change_log(
        spark, args.log_dir, args.table, args.checkpoint,
        n_buckets=args.buckets, mode=args.mode,
        available_now=not args.follow,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    q.awaitTermination(args.timeout if args.timeout > 0 else None)
    if args.follow:
        q.stop()
    return 0


def cmd_compact(args) -> int:
    from .plans.lake import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    v = table.compact(drop_tombstones=args.drop_tombstones, full=args.full)
    print(json.dumps({"version": v, "rows": table.read().count()}))
    return 0


def cmd_export_iceberg(args) -> int:
    from .plans.iceberg_export import to_iceberg_metadata
    from .plans.lake import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    out = to_iceberg_metadata(table, args.out)
    print(json.dumps({"metadata": out,
                      "version": table.current_version()}))
    return 0


def cmd_genlog(args) -> int:
    """Materialize a synthetic change log as parquet (the binlog stand-in
    replay --log-dir consumes). Range-partitioned on event_seq so replay's
    contiguous event_seq batch slices prune whole files at scan time, and
    the winner-filter's column-pruned pass reads 3 columns, not pages."""
    from .sources.events import generate_change_events

    spark = _spark(args)
    ev = generate_change_events(
        spark, args.events, seed=args.seed, n_domains=args.domains,
        pages_per_domain=args.pages_per_domain, body_repeat=args.body_repeat,
    )
    n_parts = args.partitions or (4 * spark.sparkContext.defaultParallelism)
    ev.repartitionByRange(n_parts, "event_seq").write.mode(
        "overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "events": args.events,
                      "partitions": n_parts}))
    return 0


def cmd_matview(args) -> int:
    """Refresh (or initially build) an incrementally maintained grouped
    count/sum view of the table — run on a cadence next to the tailer."""
    from .plans.lake import LakeTable
    from .streaming.matview import maintain_aggregate, read_view

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    sums = {}
    for spec in args.sum or []:
        name, _, expr = spec.partition("=")
        from pyspark.sql import functions as F

        sums[name] = F.expr(expr or name)
    res = maintain_aggregate(table, args.view_dir, group_col=args.group_col,
                             sum_exprs=sums)
    out = dict(res)
    if args.show:
        read_view(spark, args.view_dir).orderBy(args.group_col).show(50, False)
    out["groups"] = read_view(spark, args.view_dir).count()
    print(json.dumps(out))
    return 0


def cmd_stage(args) -> int:
    from .sources.staging import stage_files

    spark = _spark(args)
    staged = stage_files(spark, args.src, args.dest, overwrite=args.overwrite)
    print(json.dumps({
        "staged": [s.as_tuple() for s in staged],
        "copied": sum(1 for s in staged if s.action == "copied"),
        "skipped": sum(1 for s in staged if s.action == "skipped"),
        "bytes": sum(s.bytes for s in staged),
    }))
    return 0


def cmd_expire(args) -> int:
    from .plans.lake import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    stats = table.expire_snapshots(keep_last=args.keep_last,
                                   vacuum=not args.no_vacuum,
                                   find_orphans=args.find_orphans)
    print(json.dumps({"version": table.current_version(), **stats}))
    return 0


def cmd_lookup(args) -> int:
    """Point lookup through the pruned read path (driver-side murmur3
    bucket + manifest key-bounds file skipping): O(keys' buckets), never a
    table scan."""
    from .plans.lake import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    m = table.manifest()
    pruned = table._prune_manifest_for_keys(m, args.key)
    rows = [r.asDict() for r in table.read_keys(args.key).collect()]
    for r in rows:
        for k, v in r.items():
            if isinstance(v, (bytes, bytearray)):
                r[k] = f"<{len(v)} bytes>"
            elif hasattr(v, "isoformat"):
                r[k] = v.isoformat()
    print(json.dumps({
        "keys": args.key,
        "found": len(rows),
        "files_scanned": sum(
            len(fl) for sec in ("files", "deltas")
            for fl in pruned[sec].values()),
        "files_total": sum(
            len(fl) for sec in ("files", "deltas")
            for fl in m[sec].values()),
        "rows": rows,
    }))
    return 0


def cmd_profile(args) -> int:
    """Versioned profiling report sink (reference K6 parity: the
    pandas-profiling HTML per dataset, utils/pandas-profiling.sh:7-17,
    utils/writers.py:276-284). Writes the per-column stats frame as
    parquet plus a JSON report carrying the manifest's lineage metrics,
    both stamped with the table version so reports are reproducible
    point-in-time artifacts."""
    import os

    from .functions.profile import profile_table
    from .plans.lake import LakeTable

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    version = table.current_version()
    prof = profile_table(table.read(), sample_fraction=args.sample_fraction)
    out_dir = args.out or os.path.join(args.table, "_profile")
    pq_path = os.path.join(out_dir, f"v{version:06d}")
    prof.coalesce(1).write.mode("overwrite").parquet(pq_path)
    rows = [r.asDict() for r in prof.collect()]
    m = table.manifest()
    json_path = os.path.join(out_dir, f"v{version:06d}.json")
    with open(json_path, "w") as f:
        json.dump({
            "table": args.table,
            "version": version,
            "generated_unix": int(time.time()),
            "n_rows": rows[0]["n_rows"] if rows else 0,
            "columns": rows,
            "last_commit_metrics": m["metrics"],
            "applied_batches": m["ledger"]["applied_count"],
            "watermark_seq": m["watermark_seq"],
        }, f, indent=1, default=str)
    print(json.dumps({"report": json_path, "parquet": pq_path,
                      "version": version, "columns": len(rows)}))
    return 0


def cmd_show(args) -> int:
    from .plans.lake import LakeTable
    from .streaming import stream_metrics

    spark = _spark(args)
    table = LakeTable(spark, args.table)
    m = table.manifest()
    print(json.dumps({
        "version": m["version"], "key": m["key"], "n_buckets": m["n_buckets"],
        "watermark_seq": m["watermark_seq"],
        "schema": [f.name for f in table.schema().fields],
        "rows": table.read().count(),
        "applied_batches": m["ledger"]["applied_count"],
        "pending_delta_files": sum(len(v) for v in m["deltas"].values()),
    }))
    if args.history:
        stream_metrics(table).show(100, False)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="epigraphdb_graph_spark.cli")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("replay", help="replay a change log (or synthetic events) into a lake table")
    p.add_argument("--table", required=True)
    p.add_argument("--log-dir", default=None, help="parquet change-log dir; omit for synthetic events")
    p.add_argument("--log-splits", type=int, default=None,
                   help="target scan splits for --log-dir (0 = Spark default "
                        "packing; default 2 x cores x batches)")
    p.add_argument("--events", type=int, default=100_000, help="synthetic event count")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--domains", type=int, default=200)
    p.add_argument("--pages-per-domain", type=int, default=256)
    p.add_argument("--body-repeat", type=int, default=1,
                   help="page-size multiplier (~70B x repeat; 100+ = CC-realistic KB pages)")
    p.add_argument("--batches", type=int, default=4)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--mode", choices=["cow", "mor"], default="cow")
    p.add_argument("--compact-every", type=int, default=None)
    p.add_argument("--pipeline", type=int, default=1,
                   help="MOR batches in flight (1 = serial; 2+ overlaps "
                        "batch b+1's delta write with batch b's commit; "
                        "commits stay ordered)")
    p.add_argument("--warmup", action="store_true",
                   help="untimed small replay first (JIT + python-worker startup)")
    p.add_argument("--dead-letter-dir", default=None,
                   help="quarantine malformed events here (parquet + _reason)")
    _add_common(p)
    p.set_defaults(fn=cmd_replay)

    p = sub.add_parser("tail", help="Structured Streaming tailer over a change-log dir")
    p.add_argument("--table", required=True)
    p.add_argument("--log-dir", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--mode", choices=["cow", "mor"], default="cow")
    p.add_argument("--follow", action="store_true", help="keep tailing (default: drain available and stop)")
    p.add_argument("--timeout", type=int, default=0, help="awaitTermination seconds (0 = forever)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_tail)

    p = sub.add_parser("compact", help="fold MOR deltas (incremental; --full rewrites all buckets)")
    p.add_argument("--table", required=True)
    p.add_argument("--drop-tombstones", action="store_true")
    p.add_argument("--full", action="store_true")
    _add_common(p)
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser(
        "export-iceberg",
        help="write Iceberg-spec table metadata for the current snapshot "
             "(JSON manifests; see plans/iceberg_export.py for limits)")
    p.add_argument("--table", required=True)
    p.add_argument("--out", default=None,
                   help="metadata output root (default: the table path)")
    _add_common(p)
    p.set_defaults(fn=cmd_export_iceberg)

    p = sub.add_parser("gen-log", help="materialize a synthetic parquet change log")
    p.add_argument("--out", required=True)
    p.add_argument("--events", type=int, default=100_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--domains", type=int, default=200)
    p.add_argument("--pages-per-domain", type=int, default=256)
    p.add_argument("--body-repeat", type=int, default=1)
    p.add_argument("--partitions", type=int, default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_genlog)

    p = sub.add_parser("matview", help="incrementally refresh a grouped count/sum view from the change feed")
    p.add_argument("--table", required=True)
    p.add_argument("--view-dir", required=True)
    p.add_argument("--group-col", required=True)
    p.add_argument("--sum", action="append", default=None,
                   help="output=SQL-expr integer-sum spec (repeatable), "
                        "e.g. --sum total_chars='length(text)'")
    p.add_argument("--show", action="store_true")
    _add_common(p)
    p.set_defaults(fn=cmd_matview)

    p = sub.add_parser("expire", help="expire old snapshots + vacuum unreferenced files")
    p.add_argument("--table", required=True)
    p.add_argument("--keep-last", type=int, default=10)
    p.add_argument("--no-vacuum", action="store_true")
    p.add_argument("--find-orphans", action="store_true",
                   help="also walk the data dir for never-committed files")
    _add_common(p)
    p.set_defaults(fn=cmd_expire)

    p = sub.add_parser("stage", help="stage files (Hadoop-FS glob copy, rsync-style same-size skip)")
    p.add_argument("--src", required=True, help="source glob (any Hadoop fs)")
    p.add_argument("--dest", required=True, help="destination dir")
    p.add_argument("--overwrite", action="store_true")
    _add_common(p)
    p.set_defaults(fn=cmd_stage)

    p = sub.add_parser("lookup", help="point lookup by key (bucket + file-bounds pruned read)")
    p.add_argument("--table", required=True)
    p.add_argument("--key", action="append", required=True,
                   help="key value (repeatable)")
    _add_common(p)
    p.set_defaults(fn=cmd_lookup)

    p = sub.add_parser("profile", help="write a versioned per-column profiling report (parquet + JSON)")
    p.add_argument("--table", required=True)
    p.add_argument("--out", default=None, help="report dir (default <table>/_profile)")
    p.add_argument("--sample-fraction", type=float, default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_profile)

    p = sub.add_parser("show", help="table state, schema, lineage")
    p.add_argument("--table", required=True)
    p.add_argument("--history", action="store_true")
    _add_common(p)
    p.set_defaults(fn=cmd_show)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
