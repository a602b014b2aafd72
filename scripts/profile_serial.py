#!/usr/bin/env python
"""Decompose a from-log replay wall into Spark-job time vs driver-serial
gaps (Spark UI REST API) — the measurement behind the scaling-campaign
design in BENCH/BASELINE.md.

Usage: python scripts/profile_serial.py <log_dir> <cores> <mode> [batches]
Prints one JSON line: wall, sum of job walls, serial gap, per-job list.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def jobs_info(port: int = 4040) -> list[dict]:
    with urllib.request.urlopen(
            f"http://localhost:{port}/api/v1/applications", timeout=5) as r:
        apps = json.loads(r.read())
    app = apps[0]["id"]
    with urllib.request.urlopen(
            f"http://localhost:{port}/api/v1/applications/{app}/jobs?status=succeeded",
            timeout=5) as r:
        return json.loads(r.read())


def main():
    log_dir, cores, mode = sys.argv[1:4]
    batches = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    from epigraphdb_graph_spark.replay import replay
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.session import get_spark
    from epigraphdb_graph_spark.sources.events import read_change_log

    spark = get_spark("profile", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    events = read_change_log(spark, log_dir)

    # full-shape warmup (small slice through the same path)
    import pyspark.sql.functions as F
    wtmp = tempfile.mkdtemp(prefix="prof_warm_")
    lo = events.agg(F.min("event_seq")).first()[0]
    replay(spark, os.path.join(wtmp, "t"),
           events.filter(F.col("event_seq") < lo + 20000),
           n_batches=2, n_buckets=32, mode=mode)
    LakeTable(spark, os.path.join(wtmp, "t")).compact()
    shutil.rmtree(wtmp, ignore_errors=True)

    jobs_before = {j["jobId"] for j in jobs_info()}
    tmp = tempfile.mkdtemp(prefix="prof_")
    t0 = time.perf_counter()
    replay(spark, os.path.join(tmp, "t"), events, n_batches=batches,
           n_buckets=32, mode=mode, compact_every=batches)
    wall = time.perf_counter() - t0
    time.sleep(0.5)
    rows = LakeTable(spark, os.path.join(tmp, "t")).read().count()
    shutil.rmtree(tmp, ignore_errors=True)

    out_jobs = []
    from datetime import datetime

    def _ts(s: str) -> datetime:
        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")

    for j in jobs_info():
        if j["jobId"] in jobs_before:
            continue
        sub, comp = _ts(j["submissionTime"]), _ts(j["completionTime"])
        out_jobs.append({"id": j["jobId"], "s": round((comp - sub).total_seconds(), 2),
                         "stages": j["numCompletedStages"],
                         "tasks": j["numCompletedTasks"],
                         "_sub": sub, "_comp": comp})
    out_jobs.sort(key=lambda x: x["id"])
    # driver-serial gap BETWEEN consecutive jobs: where the between-job
    # time actually sits (Catalyst planning, manifest IO, commit bookkeeping)
    for prev, cur in zip(out_jobs, out_jobs[1:]):
        cur["gap_before_s"] = round(
            (cur["_sub"] - prev["_comp"]).total_seconds(), 2)
    for j in out_jobs:
        j.pop("_sub"), j.pop("_comp")
    job_sum = sum(j["s"] for j in out_jobs)
    print(json.dumps({
        "cores": int(cores), "mode": mode,
        "batches": batches, "wall_s": round(wall, 2),
        "job_sum_s": round(job_sum, 2),
        "serial_gap_s": round(wall - job_sum, 2),
        "final_rows": rows,
        "jobs": sorted(out_jobs, key=lambda x: x["id"]),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
