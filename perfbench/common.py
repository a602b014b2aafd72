"""Shared plumbing: working directory, a Spark session fitted to the
machine, process shutdown, clocks and order statistics."""

from __future__ import annotations

import gc
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
ENGINE = "epigraphdb_graph_spark"


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: a quarter of RAM, clamped to [1, 4] GiB. The machine is
    shared, and local mode runs every task inside this one JVM."""
    return max(1024, min(4096, mem_total_mb() // 4))


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def isolate_env() -> None:
    """Keep every temporary file of the JVM, the Python workers and DuckDB
    inside the checkout. Must run before the first session starts."""
    tmp = fresh_dir("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = fresh_dir("local")
    # the benchmark fixes its own session configuration
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.pop("SPARK_GRAFT_SCAN_WAVES", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(master: str):
    """Start (or restart) the engine's session on ``master``; returns
    (spark, seconds taken)."""
    from epigraphdb_graph_spark.session import get_spark

    heap = heap_mb()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=master, extra_conf={
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap // 2}m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "heap_mb": heap_mb(),
        "mem_total_mb": mem_total_mb(),
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": jvm.System.getProperty("java.version"),
    }


def settle(spark) -> None:
    """Collect garbage in Python and the JVM before a timed phase, so a
    collection left over from the untimed work does not land in it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Timer:
    """``with Timer() as t: ...`` then ``t.s`` (seconds) / ``t.ms``."""

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self._t0
        self.ms = self.s * 1000.0
        return False
