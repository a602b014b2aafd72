"""Background (async) MOR compactor — read amplification bounded WITHOUT
paying compaction on the micro-batch critical path.

Round-4 measurement: the synchronous ``maybe_compact`` hook inside
``foreachBatch`` stalls the next micro-batch for the full rewrite wall.
Since the multi-writer OCC commits landed, overlap is safe by
construction: a compaction racing the tailer's next append REBASES past
it (plans/lake.py compaction ``_build`` — deltas appended after its read
stay pending), and an append racing the compactor rebases its
already-written delta files with zero Spark re-run (MOR rebase). So a
single background thread can fold deltas while the tailer keeps
committing — the production deployment shape (Hudi's async compactor,
Iceberg's maintenance jobs) rather than inline table services.

Spark job submission is thread-safe; the compactor shares the tailer's
SparkSession and competes for the same executor slots, which is the
right trade on a cluster (compaction steals idle capacity between
micro-batch waves instead of serializing after them).
"""

from __future__ import annotations

import threading

from ..plans.lake import ConcurrentWriteError, LakeTable


class BackgroundCompactor:
    """Folds pending MOR deltas on a background thread, woken by
    ``notify()`` (call it after each micro-batch commit — wakeups
    coalesce, so a slow rewrite absorbs any number of notifies and
    re-checks the threshold once it finishes).

    Use as a context manager around the streaming drain::

        with BackgroundCompactor(spark, path, max_delta_files=64) as comp:
            q = tail_change_log(..., compactor=comp)
            q.awaitTermination()
        # __exit__ waits for in-flight compaction and re-raises errors

    ``close()`` drains one final threshold check so a table left just
    over the threshold by the last micro-batch still gets folded.
    """

    def __init__(self, spark, table_path: str, *,
                 max_delta_files: int = 64,
                 drop_tombstones: bool = False):
        self._spark = spark
        self._path = table_path
        self._max = max_delta_files
        self._drop = drop_tombstones
        self._wake = threading.Event()
        self._stop = threading.Event()
        self._err: BaseException | None = None
        self.compactions = 0
        self._thread = threading.Thread(
            target=self._run, name="graft-compactor", daemon=True)
        self._thread.start()

    # -------------------------------------------------------------- control
    def notify(self) -> None:
        """Non-blocking wakeup (the tailer's per-micro-batch hook)."""
        self._wake.set()

    def close(self, timeout: float = 600.0) -> None:
        """Final threshold check, then stop; re-raises a compactor crash."""
        # stop BEFORE wake: in the reverse order a worker blocked in
        # wait() can consume the wake, observe stop still unset, clear
        # the event and re-block — and close() never signals again
        # (deadlock until the join timeout). With stop set first, any
        # wakeup ordering observes stopping=True on its final pass.
        self._stop.set()
        self._wake.set()
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("background compactor did not finish")
        if self._err is not None:
            raise self._err

    def __enter__(self) -> "BackgroundCompactor":
        return self

    def __exit__(self, *exc) -> None:
        if exc[0] is None:
            self.close()
        else:  # don't mask the streaming error with a compactor error
            self._stop.set()
            self._wake.set()
            self._thread.join(60.0)

    # --------------------------------------------------------------- worker
    def _run(self) -> None:
        while True:
            self._wake.wait()
            # clear BEFORE reading stop: a close() landing between the two
            # would otherwise have its wake consumed while stopping reads
            # False, and the worker re-blocks with nobody left to wake it
            self._wake.clear()
            stopping = self._stop.is_set()
            try:
                if not LakeTable.exists(self._path):
                    pass  # first micro-batch not committed yet
                else:
                    table = LakeTable(self._spark, self._path)
                    if table.maybe_compact(
                            max_delta_files=self._max,
                            drop_tombstones=self._drop) is not None:
                        self.compactions += 1
            except ConcurrentWriteError:
                # lost an un-rebasable race (e.g. a rebucket landed) —
                # deltas are still pending; re-check on the next wakeup
                if not stopping:
                    self._wake.set()
            except BaseException as e:  # surface crashes at close()
                self._err = e
                return
            if stopping and not self._wake.is_set():
                return
