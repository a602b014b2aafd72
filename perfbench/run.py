"""CDC ingest benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Starts the engine on ``local[nproc]`` in
this one process, materialises the workload's seeded change log, warms up,
ingests one batch per two seconds of ``--seconds`` with the read side —
point lookups over the pending deltas, then compaction — interleaved
(tail) or after it (replay). Finally it checks every lookup and the table
against an independent DuckDB computation over the raw log.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see BENCHMARK.json
and perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (ROOT, WORK, Timer, engine_present, environment, fresh_dir,  # noqa: E402
                    isolate_env, jvm_pid, nproc, pct, settle, shutdown,
                    start_session, vm_hwm_mb)


class Ops:
    """Attempted / failed operation counts."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def run(self, what: str, fn):
        """Run one engine operation; a raised error is a failed operation."""
        try:
            return fn()
        except Exception:
            self.record(False, f"{what}: {traceback.format_exc(limit=3)}")
            return None


class WarmUp:
    """The untimed first lookup. It runs on a helper thread, so a workload
    whose warm-up ingest runs on its own threads (the tailer) overlaps the
    lookup's cold start (planning, code generation, JIT) with the last
    warm-up batch. ``finish`` waits for it and marks where the timed
    window's jobs and spans begin."""

    def __init__(self, spark, counters, tracer):
        self._spark, self._counters, self._tracer = spark, counters, tracer
        self._thread = None
        self._error = None
        self.lookup_s = 0.0

    def start_lookup(self, table, key: str) -> None:
        def lookup():
            try:
                with Timer() as t:
                    table.read_keys(key).count()
                self.lookup_s = t.s
            except BaseException as e:  # re-raised by finish()
                self._error = e

        self._thread = threading.Thread(target=lookup, name="warm-lookup")
        self._thread.start()

    def finish(self) -> None:
        if self._thread is not None:
            self._thread.join()
        if self._error is not None:
            raise self._error
        settle(self._spark)
        self.first_job = self._counters.next_job_id()
        self.first_span = len(self._tracer.spans) if self._tracer else 0


def _files(m: dict) -> set[str]:
    return {f for sec in ("files", "deltas") for fl in m.get(sec, {}).values() for f in fl}


def _bytes(table, files) -> int:
    return sum(os.path.getsize(os.path.join(table.path, f)) for f in files)


class Reads:
    """The timed read side, as a workload calls it: point lookups and
    compactions, each recorded with what its check and the traced run need
    later. The jobs each operation ran are kept apart from the commits'."""

    def __init__(self, ops, counters):
        self._ops, self._counters = ops, counters
        self.lookups: list[dict] = []
        self.compact_s = 0.0
        self.compactions = 0
        self.rewritten: set[str] = set()  # files the compactions wrote
        self.job_ranges: list[tuple[int, int]] = []

    def lookup(self, table, key: str, seq_hi: int) -> None:
        """Time ``read_keys(key).count()``; the log's events below
        ``seq_hi`` are the ones committed at this point."""
        rec = {"key": key, "seq_hi": seq_hi, "version": table.current_version(),
               "pending": table.pending_delta_files()}
        j0 = self._counters.next_job_id()
        with Timer() as t:
            rec["rows"] = self._ops.run(f"lookup {key}", lambda: table.read_keys(key).count())
        j1 = self._counters.next_job_id()
        self.job_ranges.append((j0, j1))
        if rec["rows"] is not None:
            self.lookups.append({**rec, "ms": t.ms, "jobs": j1 - j0})

    def compact(self, table) -> None:
        before = _files(table.manifest())
        j0 = self._counters.next_job_id()
        with Timer() as t:
            self._ops.run("compact", table.compact)
        self.job_ranges.append((j0, self._counters.next_job_id()))
        self.compact_s += t.s
        self.compactions += 1
        self.rewritten |= _files(table.manifest()) - before


def check(ops, reads, table, log_glob, gate_diff) -> None:
    """Verdicts for every read-side op and the final state."""
    import gate

    present = gate.expected_present(log_glob, [(r["key"], r["seq_hi"]) for r in reads.lookups])
    for r, want in zip(reads.lookups, present):
        ops.record(r["rows"] == int(want),
                   f"lookup {r['key']}: {r['rows']} rows, expected {int(want)}")
    ops.record(reads.compactions > 0 and table.pending_delta_files() == 0,
               "compaction left pending deltas")
    ops.record(not gate_diff, "final state differs from the log: " + "; ".join(gate_diff))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for perfbench/smoke.py")
    args = ap.parse_args(argv)
    if not engine_present():
        print("perfbench: the engine package is not in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    isolate_env()
    fresh_dir("run")
    wl = WORKLOADS[args.workload](args.seed, args.seconds, args.smoke)
    spark, session_s = start_session(f"local[{nproc()}]")
    try:
        return _run(spark, wl, args, session_s)
    finally:
        shutdown(spark)
        for d in ("run", "local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def _run(spark, wl, args, session_s) -> int:
    import gate
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from tracing import SparkCounters, Tracer

    env = environment(spark)
    print("# env " + json.dumps(env), flush=True)
    with Timer() as mat:
        wl.materialise()
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}"
    tracer = Tracer(run_id) if args.trace else None
    if tracer:
        tracer.install()
    counters = SparkCounters(spark)
    warm = WarmUp(spark, counters, tracer)
    ops = Ops()
    reads = Reads(ops, counters)
    table_path = os.path.join(WORK, "run", "table")
    with Timer() as t_run:
        ing = wl.ingest(spark, table_path, warm, reads)
    j1 = counters.next_job_id()
    timed_spans = tracer.spans[warm.first_span:] if tracer else []
    setup_s = session_s + mat.s + ing.warm_s
    print(f"# setup {setup_s:.2f}s: session {session_s:.2f}s, log {mat.s:.2f}s, "
          f"warm-up {ing.warm_s:.2f}s", flush=True)
    table = LakeTable(spark, table_path)
    for _ in ing.versions:
        ops.record(True)  # a failed commit raises out of the ingest
    rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid(spark))

    with Timer() as t_gate:
        expected = gate.expected_state(ing.log_glob, ing.seq_hi)
        gate_diff = gate.compare(expected, gate.engine_state(table))
        check(ops, reads, table, ing.log_glob, gate_diff)
    print(f"# phases: warm-up lookup {warm.lookup_s:.2f}s, "
          f"ingest and reads {t_run.s - ing.warm_s:.2f}s, gate {t_gate.s:.2f}s", flush=True)
    for p in ops.problems:
        print(f"# FAILED {p}", flush=True)

    if tracer:
        metrics = layer_metrics(spark, wl, ing, table, tracer, timed_spans,
                                counters, warm.first_job, j1, reads, session_s)
        tracer.uninstall()
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.write(os.path.join(WORK, "trace", f"{run_id}.jsonl"))
    else:
        metrics = {
            "setup_s": setup_s,
            "events_per_s": ing.events / ing.ingest_s,
            "commit_ms": ing.commit_ms,
            "lookup_ms_p50": pct([r["ms"] for r in reads.lookups], 50),
            "compact_s": reads.compact_s,
            "stored_bytes_per_row": (_bytes(table, _files(table.manifest()))
                                     / max(len(expected), 1)),
            "peak_rss_mb": rss,
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if tracer else "end_to_end"]}
    print(f"# {wl.name}: {ing.events} events in {ing.ingest_s:.2f}s, "
          f"{len(ing.versions)} commits (ms: {[round(c) for c in ing.commit_walls]}), "
          f"lookups (ms: {[round(r['ms']) for r in reads.lookups]}), "
          f"{reads.compactions} compactions {reads.compact_s:.2f}s; failed_op_share "
          f"{ops.failed / ops.attempted:.4f} ({ops.failed}/{ops.attempted})", flush=True)
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump({"env": env, "seconds": args.seconds, **result}, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


def layer_metrics(spark, wl, ing, table, tracer, ingest_spans, counters,
                  j0, j1, reads, session_s) -> dict:
    import probes

    commits = len(ing.versions)
    read_jobs = sum(b - a for a, b in reads.job_ranges)
    read_tasks = sum(counters.tasks(a, b) for a, b in reads.job_ranges)
    merges = [s for s in ingest_spans if s["name"] == "LakeTable.merge" and s["end"]]
    m = {"session.start_s": session_s}
    m.update(probes.batch_costs(spark, wl.log_dir, ing.batches[-1], ing.last_file))
    m.update(probes.dedup_picks(spark, wl.log_dir, ing.batches))
    if ing.progress:  # the tailer's own micro-batches
        progress = ing.progress
        adds = [p["durationMs"]["addBatch"] for p in progress]
        apply_self = [a - tracer.self_ms(s) for a, s in zip(adds, merges)]
    else:
        progress = probes.tailer_probe(spark, wl.files[-2:])
        apply_self = [tracer.self_ms(s) for s in ingest_spans
                      if s["name"] == "apply_batch" and s["end"]]
    m.update(probes.tailer_stats(progress))
    m["replay.apply_self_ms"] = pct(apply_self, 50)
    new_files, new_bytes = [], 0
    for v in ing.versions:
        added = _files(table.manifest(v)) - _files(table.manifest(v - 1))
        new_files.append(len(added))
        new_bytes += _bytes(table, added)
    last_manifest = os.path.join(table.path, "_meta", f"v{ing.versions[-1]:08d}.json")
    m.update({
        "lake.merge_ms": pct([tracer.self_ms(s) for s in merges], 50),
        "lake.jobs_per_commit": (j1 - j0 - read_jobs) / commits,
        "lake.tasks_per_commit": (counters.tasks(j0, j1) - read_tasks) / commits,
        "lake.manifest_kb": os.path.getsize(last_manifest) / 1024.0,
        "lake.files_per_commit": statistics.mean(new_files),
        "lake.bytes_written_per_event": new_bytes / ing.events,
        "lake.pending_delta_files": pct([r["pending"] for r in reads.lookups], 50),
        "lake.scan_files": len(table.read(ing.versions[-1]).inputFiles()),
        "lake.files_per_lookup": pct(
            [len(table.read_keys(r["key"], version=r["version"]).inputFiles())
             for r in reads.lookups], 50),
        "lake.jobs_per_lookup": pct([r["jobs"] for r in reads.lookups], 50),
        "lake.compact_bytes_rewritten": _bytes(table, reads.rewritten),
        "trace.events_per_s": ing.events / ing.ingest_s,
    })
    # single-thread baseline: the same engine on local[1], last
    spark.stop()
    one, _ = start_session("local[1]")
    m["replay.events_per_s_1core"] = probes.one_core_events_per_s(
        one, wl.log_dir, ing.batches[:2])
    one.stop()
    return m


if __name__ == "__main__":
    sys.exit(main())
