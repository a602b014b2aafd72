"""The benchmark's workloads. Each writes its seeded change log as parquet
before timing (perfbench/logs.py), warms up on the first batches of that
log, then ingests a fixed number of batches sized from ``--seconds``
through the engine's public calls, with point lookups and compactions on
the read side. All tables are merge-on-read with 8 buckets (see README.md
for why not 32).
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import logs
from common import fresh_dir

N_BUCKETS = 8
#: the timed window holds one commit per this many seconds of ``--seconds``
#: (one commit takes 0.8-2 s on a shared 4 vCPU machine). A fixed count
#: rather than a deadline, so every run of a seed ingests the same batches
#: and its read side meets the same table.
SECONDS_PER_COMMIT = 2.0


def timed_commits(seconds: float) -> int:
    return max(2, round(seconds / SECONDS_PER_COMMIT))


@dataclass
class Ingest:
    """What an ingest phase did, for metrics and the correctness gate."""

    warm_s: float  # untimed warm-up batches and lookup (part of setup_s)
    events: int  # events in the timed batches
    ingest_s: float  # time the timed batches took to commit
    commit_ms: float  # the workload's commit latency (see README.md)
    commit_walls: list[float]  # ms per commit, for the summary line
    versions: list[int]  # table versions the timed batches committed
    batches: list[tuple[int, int]]  # [lo, hi) event_seq range per timed batch
    log_glob: str
    seq_hi: int  # the gate replays events with event_seq < seq_hi
    last_file: str  # log file of the last batch committed
    progress: list[dict] = field(default_factory=list)  # tailer reports


def _urls(path: str) -> list[str]:
    return sorted(set(pq.read_table(path, columns=["url"]).column(0).to_pylist()))


def _new_table(spark, path: str):
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.schema import PAGES_SCHEMA

    schema = type(PAGES_SCHEMA)([f for f in PAGES_SCHEMA.fields if f.name != "lang"])
    return LakeTable.create(spark, path, schema, key="url", n_buckets=N_BUCKETS)


class TailSmallBatches:
    """A streaming tailer fed one small log file (one micro-batch) at a
    time, in a closed loop: after each commit, one point lookup of a key the
    commit carried, and a compaction every few commits and at the end. The
    per-commit fixed cost is the whole ingest wall. Spreading the lookups
    and compactions through the run, rather than after it, makes each run's
    figures an average over the run's stretch of a shared host."""

    name = "tail_small_batches"
    body_repeat = 1  # ~70 B bodies
    #: events per file. 4000 keeps every batch's distinct-key fraction
    #: (~0.82) clear of replay.MOR_DEDUP_MAX_DISTINCT_FRAC (0.9), so every
    #: batch takes the same dedup path (see README.md on bimodal commits)
    per_file = 4000
    warm_batches = 2  # untimed batches at the head of the ingest
    compact_every = 3  # timed commits between compactions

    def __init__(self, seed: int, seconds: float, smoke: bool):
        self.seed = seed
        self.n_files = self.warm_batches + timed_commits(seconds)

    def materialise(self) -> None:
        self.log_dir = fresh_dir("run", "log")
        self.files = logs.write_log(fresh_dir("run", "staging"), self.seed,
                                    self.n_files, self.per_file, self.body_repeat)

    def ingest(self, spark, table_path: str, warm, reads) -> Ingest:
        from epigraphdb_graph_spark.streaming import tailer as tailer_mod

        n, warm_n = self.per_file, self.warm_batches
        rng = random.Random(self.seed)
        table = _new_table(spark, table_path)

        def feed(i: int) -> str:
            """Move log file ``i`` into the tailed directory and wait until
            the tailer has committed it."""
            dst = os.path.join(self.log_dir, os.path.basename(self.files[i]))
            os.rename(self.files[i], dst)
            q.processAllAvailable()
            return dst

        t0 = time.perf_counter()
        q = tailer_mod.tail_change_log(
            spark, self.log_dir, table_path, fresh_dir("run", "ckpt"),
            mode="mor", n_buckets=N_BUCKETS, available_now=False,
            max_files_per_trigger=1)
        versions = []
        try:
            warm_key = _urls(feed(0))[0]
            warm.start_lookup(table, warm_key)
            for i in range(1, warm_n):
                feed(i)
            warm.finish()
            warm_s = time.perf_counter() - t0
            for i in range(warm_n, self.n_files):
                path = feed(i)
                versions.append(table.current_version())
                reads.lookup(table, rng.choice(_urls(path)), seq_hi=(i + 1) * n)
                done = i + 1 - warm_n
                if done % self.compact_every == 0 or i == self.n_files - 1:
                    reads.compact(table)
        finally:
            q.stop()
        if q.exception() is not None:
            raise q.exception()
        progress = [dict(p) for p in q.recentProgress if p["numInputRows"] > 0]
        timed = progress[warm_n:]
        walls = [float(p["durationMs"]["triggerExecution"]) for p in timed]
        return Ingest(
            warm_s=warm_s,
            events=sum(p["numInputRows"] for p in timed),
            ingest_s=sum(walls) / 1000.0,
            commit_ms=statistics.median(walls),
            commit_walls=walls,
            versions=versions,
            batches=[(i * n, (i + 1) * n) for i in range(warm_n, self.n_files)],
            log_glob=os.path.join(self.log_dir, "*.parquet"),
            seq_hi=self.n_files * n,
            last_file=path,
            progress=timed,
        )


class Replay7kb:
    """Batch replay of KB-scale pages (~7 KB bodies) in one ``replay`` call,
    pipelined two deep: extraction, the bucket shuffle and delta-write
    bytes weigh in, and part of the per-commit overhead hides behind the
    pipeline. Then point lookups of keys from the last batch, over the
    pending deltas, and one compaction."""

    name = "replay_7kb"
    body_repeat = 100  # ~7 KB bodies
    per_file = 3000  # events per batch
    #: untimed head of the ingest: the first file, replayed as two batches
    warm_batches = 1

    def __init__(self, seed: int, seconds: float, smoke: bool):
        self.seed = seed
        self.n_batches = timed_commits(seconds)
        if smoke:
            self.per_file = 250

    def materialise(self) -> None:
        self.log_dir = fresh_dir("run", "log")
        self.files = logs.write_log(self.log_dir, self.seed,
                                    self.warm_batches + self.n_batches,
                                    self.per_file, self.body_repeat)

    def ingest(self, spark, table_path: str, warm, reads) -> Ingest:
        from pyspark.sql import functions as F

        from epigraphdb_graph_spark import replay as replay_mod
        from epigraphdb_graph_spark.sources import events as events_mod

        n, warm_n = self.per_file, self.warm_batches
        log = events_mod.read_change_log(spark, self.log_dir)

        def replay_range(lo: int, hi: int, n_batches: int):
            return replay_mod.replay(
                spark, table_path,
                log.filter((F.col("event_seq") >= lo) & (F.col("event_seq") < hi)),
                n_batches=n_batches, n_buckets=N_BUCKETS, mode="mor", pipeline_depth=2)

        t0 = time.perf_counter()
        table = _new_table(spark, table_path)
        replay_range(0, n, 2)
        warm.start_lookup(table, _urls(self.files[0])[0])
        warm.finish()
        warm_s = time.perf_counter() - t0

        # each apply_batch call replay() makes, timed by interposing on the
        # module attribute: from its start to its commit, which includes the
        # pipeline's wait for the previous batch's commit
        walls = []
        apply_batch = replay_mod.apply_batch

        def timed_apply(*args, **kwargs):
            t = time.perf_counter()
            res = apply_batch(*args, **kwargs)
            walls.append((time.perf_counter() - t) * 1000.0)
            return res

        done = warm_n + self.n_batches
        replay_mod.apply_batch = timed_apply
        try:
            t0 = time.perf_counter()
            res = replay_range(warm_n * n, done * n, self.n_batches)
            ingest_s = time.perf_counter() - t0
        finally:
            replay_mod.apply_batch = apply_batch
        last_file = self.files[done - 1]
        for key in random.Random(self.seed).sample(_urls(last_file), self.n_batches):
            reads.lookup(table, key, seq_hi=done * n)
        reads.compact(table)
        return Ingest(
            warm_s=warm_s,
            events=self.n_batches * n,
            ingest_s=ingest_s,
            # pipelined calls overlap and pair up on the ordered commit, so
            # their walls are not each a commit's latency; the mean interval
            # between commits is
            commit_ms=ingest_s * 1000.0 / self.n_batches,
            commit_walls=walls,
            versions=sorted(r.version for r in res),
            batches=[(i * n, (i + 1) * n) for i in range(warm_n, done)],
            log_glob=os.path.join(self.log_dir, "*.parquet"),
            seq_hi=done * n,
            last_file=last_file,
        )


WORKLOADS = {w.name: w for w in (TailSmallBatches, Replay7kb)}
