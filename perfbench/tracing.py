"""Tracing from outside the engine: spans around its public calls, and
Spark's own job and task counters.

Spans live in memory (name, start, end, parent, run id, thread) and are
written out once, when the run ends. A layer's self time is its span's
duration minus the part covered by its child spans on the same thread.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

#: (module path, attribute) of every public call a traced run wraps; the
#: span name is the attribute path. Module-level functions are looked up
#: through their module at call time, so wrapping the module attribute also
#: catches the engine's own internal calls (replay -> apply_batch).
WRAPPED = [
    ("epigraphdb_graph_spark.sources.events", "read_change_log"),
    ("epigraphdb_graph_spark.replay", "replay"),
    ("epigraphdb_graph_spark.replay", "apply_batch"),
    ("epigraphdb_graph_spark.streaming.tailer", "tail_change_log"),
    ("epigraphdb_graph_spark.plans.lake", "LakeTable.merge"),
    ("epigraphdb_graph_spark.plans.lake", "LakeTable.compact"),
    ("epigraphdb_graph_spark.plans.lake", "LakeTable.read"),
    ("epigraphdb_graph_spark.plans.lake", "LakeTable.read_keys"),
]


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        stack = self._stack.__dict__.setdefault("s", [])
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1]["id"] if stack else None,
               "run": self.run_id, "thread": threading.get_ident()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def install(self) -> None:
        import importlib

        for mod_name, attr in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            setattr(owner, leaf, self._wrap(orig, attr))
            self._undo.append((owner, leaf, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, leaf, orig = self._undo.pop()
            setattr(owner, leaf, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_ms(self, span: dict) -> float:
        kids = [s for s in self.spans
                if s["parent"] == span["id"] and s["end"] is not None]
        covered = sum(min(k["end"], span["end"]) - max(k["start"], span["start"])
                      for k in kids)
        return (span["end"] - span["start"] - covered) * 1000.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Job and task counts read from Spark's scheduler and status tracker.
    Job ids are sequential per context, so a window's jobs are the ids
    between two readings of the scheduler's next id."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        nxt = self._dag.nextJobId()
        return int(nxt if isinstance(nxt, int) else nxt.get())

    def tasks(self, first_job: int, end_job: int) -> int:
        """Tasks completed by the stages of jobs [first_job, end_job)."""
        tracker = self._sc.statusTracker()
        stages = set()
        for j in range(first_job, end_job):
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None:
                total += st.numCompletedTasks
        return total
