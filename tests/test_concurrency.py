"""Optimistic-concurrency CAS on the metadata pointer."""

from __future__ import annotations

import threading
import time

import pandas as pd
import pytest

from epigraphdb_graph_spark.plans.lake import ConcurrentWriteError, LakeTable
from epigraphdb_graph_spark.replay import apply_batch
from epigraphdb_graph_spark.schema import PAGES_SCHEMA

COLS = ["event_seq", "op", "url", "warc_ts", "html"]


def _ev(spark, seq, url="https://a.org/p", ts="2024-01-01"):
    return spark.createDataFrame(pd.DataFrame(
        [(seq, "insert", url, pd.Timestamp(ts), b"<p>x</p>")], columns=COLS))


def test_concurrent_writer_detected(spark, tmp_path):
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    # two handles simulating two writers reading the same snapshot
    w1 = LakeTable(spark, path)
    w2 = LakeTable(spark, path)
    m1 = w1.manifest()  # both derive from v0
    m2 = w2.manifest()

    w1._commit({**m1, "version": 1, "parent": 0, "metrics": {"op": "evolve"}})
    with pytest.raises(ConcurrentWriteError):
        w2._commit({**m2, "version": 1, "parent": 0, "metrics": {"op": "evolve"}})


def test_sequential_commits_unaffected(spark, tmp_path):
    path = str(tmp_path / "t2")
    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    apply_batch(table, _ev(spark, 1), batch_id="b1")
    apply_batch(table, _ev(spark, 2, ts="2024-01-02"), batch_id="b2", mode="mor")
    table.compact()
    assert table.current_version() == 3
    assert table.read().count() == 1


def _stale_first_manifest(w: LakeTable, stale: dict, n_stale: int = 1):
    """Make w's next ``n_stale`` manifest() calls return a snapshot
    captured earlier (the deterministic two-writer race: w derived its
    commit from `stale` while another writer advanced the table), then
    fall through to the real method so the rebase path reads fresh
    state."""
    real = type(w).manifest
    calls = {"n": 0}

    def fake(self=w, version=None):
        calls["n"] += 1
        if version is None and calls["n"] <= n_stale:
            return dict(stale)
        return real(w, version)

    w.manifest = fake
    return calls


def test_mor_rebase_retry_merges_both_batches(spark, tmp_path):
    """Two writers derive MOR appends from the same snapshot; the loser's
    commit hits the CAS, rebases onto the winner's manifest, and re-commits
    the already-written delta files — both batches land, no Spark re-run."""
    path = str(tmp_path / "t3")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    w1, w2 = LakeTable(spark, path), LakeTable(spark, path)
    stale = w2.manifest()  # w2's view before w1 commits

    r1 = w1.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="w1:b1",
                  mode="mor")
    assert r1.version == 1

    _stale_first_manifest(w2, stale)
    r2 = w2.merge(_prep(spark, 2, "https://a.org/p2"), batch_id="w2:b1",
                  mode="mor")
    assert not r2.noop
    assert r2.version == 2  # rebased past w1's commit

    t = LakeTable(spark, path)
    from epigraphdb_graph_spark.plans.lake import _batch_seen

    m = t.manifest()
    assert _batch_seen(m, "w1:b1") and _batch_seen(m, "w2:b1")
    got = {r["url"] for r in t.read().select("url").collect()}
    assert got == {"https://a.org/p1", "https://a.org/p2"}


def test_mor_rebase_same_batch_is_exactly_once_noop(spark, tmp_path):
    """Competing tailers of the SAME log: the loser discovers its batch_id
    in the winner's ledger during rebase and returns a committed no-op."""
    path = str(tmp_path / "t4")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    w1, w2 = LakeTable(spark, path), LakeTable(spark, path)
    stale = w2.manifest()

    w1.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="shared:b1",
             mode="mor")
    _stale_first_manifest(w2, stale)
    r2 = w2.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="shared:b1",
                  mode="mor")
    assert r2.noop
    t = LakeTable(spark, path)
    assert t.read().count() == 1
    assert t.current_version() == 1  # no second commit


def test_mor_rebase_refuses_after_rebucket(spark, tmp_path):
    """ADVICE r4: if the lost race was a REBUCKET (compact(n_buckets=...)),
    the MOR append's delta files are keyed by OLD bucket ids — rebasing
    them into the new-spec manifest would make rows invisible to
    bucket-pruned reads. The rebase must refuse (ConcurrentWriteError),
    and the batch-level retry must re-prepare under the new spec."""
    path = str(tmp_path / "t6")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    w1, w2 = LakeTable(spark, path), LakeTable(spark, path)
    apply_batch(w1, _ev(spark, 1, "https://a.org/p1"), batch_id="b1",
                mode="mor")
    stale = w2.manifest()          # v1, n_buckets=2
    w1.compact(n_buckets=4)        # rebucket -> v2, n_buckets=4

    _stale_first_manifest(w2, stale)
    with pytest.raises(ConcurrentWriteError):
        w2.merge(_prep(spark, 2, "https://a.org/p2"), batch_id="b2",
                 mode="mor")
    t = LakeTable(spark, path)
    assert t.current_version() == 2  # nothing landed under the wrong spec

    # apply_batch's re-prepare path: same race, healed end-to-end
    # (stale twice: apply_batch's policy read + merge's own read)
    w3 = LakeTable(spark, path)
    _stale_first_manifest(w3, stale, n_stale=2)
    r = apply_batch(w3, _ev(spark, 3, "https://a.org/p3"), batch_id="b3",
                    mode="mor")
    assert not r.noop
    got = {r["url"] for r in t.read().select("url").collect()}
    assert got == {"https://a.org/p1", "https://a.org/p3"}


def test_abandoned_half_commit_rolled_forward(spark, tmp_path):
    """A writer that stalled between manifest create and pointer swap
    leaves a VALID v{N}.json with the pointer at N-1; after the grace
    period the next commit ROLLS IT FORWARD (the stalled writer's commit
    is preserved, never replaced) and rebases itself on top — no deadlock
    on EEXIST, no lost commit."""
    import json as _json
    import os as _os

    from epigraphdb_graph_spark.plans.lake import _ABANDONED_COMMIT_GRACE_S

    path = str(tmp_path / "t5")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    t = LakeTable(spark, path)
    # simulate the stall: v1 manifest exists (valid), VERSION still 0
    mpath = _os.path.join(t._meta_dir, "v00000001.json")
    with open(mpath, "w") as f:
        _json.dump({**t.manifest(), "writer": "f" * 32, "version": 1,
                    "parent": 0, "metrics": {"op": "stalled"}}, f)
    past = _os.path.getmtime(mpath) - _ABANDONED_COMMIT_GRACE_S - 60
    _os.utime(mpath, (past, past))
    assert t.current_version() == 0

    r = apply_batch(t, _ev(spark, 1, "https://a.org/p1"), batch_id="b1",
                    mode="mor")
    assert r.version == 2 and not r.noop  # rebased past the rolled-forward v1
    assert t.current_version() == 2
    # the stalled writer's manifest is LIVE in the history (rolled forward,
    # not replaced) and its late pointer swap is an idempotent no-op
    assert t.manifest(1)["metrics"]["op"] == "stalled"
    t._advance_pointer(1, 0, "f" * 32)
    assert t.current_version() == 2  # forward-only: no regression
    assert LakeTable(spark, path).read().count() == 1


def test_abandoned_half_commit_within_grace_refuses(spark, tmp_path):
    """Within the grace period the half-commit's writer may be alive and
    mid-swap: the next commit must surface CommitInFlightError, not
    clobber or roll forward."""
    import json as _json
    import os as _os

    from epigraphdb_graph_spark.plans.lake import CommitInFlightError

    path = str(tmp_path / "t5b")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    t = LakeTable(spark, path)
    mpath = _os.path.join(t._meta_dir, "v00000001.json")
    with open(mpath, "w") as f:
        _json.dump({**t.manifest(), "writer": "f" * 32, "version": 1,
                    "parent": 0, "metrics": {"op": "inflight"}}, f)
    with pytest.raises(CommitInFlightError):
        t.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="b1",
                mode="mor")
    assert t.current_version() == 0  # nothing moved


def test_corrupt_half_commit_quarantined(spark, tmp_path):
    """A manifest whose writer died MID-WRITE (unparseable) can never be
    rolled forward — past the grace it is quarantined aside and the
    version number is reused by the recovering commit."""
    import os as _os

    from epigraphdb_graph_spark.plans.lake import _ABANDONED_COMMIT_GRACE_S

    path = str(tmp_path / "t5c")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    t = LakeTable(spark, path)
    mpath = _os.path.join(t._meta_dir, "v00000001.json")
    with open(mpath, "w") as f:
        f.write('{"writer": "' + "a" * 32 + '", "version": 1, "par')  # truncated
    past = _os.path.getmtime(mpath) - _ABANDONED_COMMIT_GRACE_S - 60
    _os.utime(mpath, (past, past))

    r = apply_batch(t, _ev(spark, 1, "https://a.org/p1"), batch_id="b1",
                    mode="mor")
    assert r.version == 1 and not r.noop  # version reused
    assert t.current_version() == 1
    assert t.manifest(1)["metrics"]["batch_id"] == "b1"
    quarantined = [fn for fn in _os.listdir(t._meta_dir)
                   if ".abandoned." in fn]
    assert len(quarantined) == 1  # the corpse is kept aside, not deleted
    # the mid-write writer's late pointer swap must FAIL (its commit was
    # quarantined; v1 now belongs to the recoverer) — not silently report
    # success while its data files are unreferenced
    with pytest.raises(ConcurrentWriteError):
        t._advance_pointer(1, 0, "a" * 32)
    assert t.current_version() == 1


def _prep(spark, seq, url):
    """Deduped one-row batch in merge()'s expected shape (prepare_batch
    output: key/ts/payload + event_seq + op + extracted text)."""
    from epigraphdb_graph_spark.replay import prepare_batch

    return prepare_batch(_ev(spark, seq, url=url), form="aligned")


def test_cow_merge_from_stale_snapshot_refused(spark, tmp_path):
    """A COW rewrite read the base files of its snapshot; committing it
    over a newer head would drop the winner's rows. It must never rebase:
    the lost race raises and the winner's commit stays at the head."""
    path = str(tmp_path / "t_cow")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    w1, w2 = LakeTable(spark, path), LakeTable(spark, path)
    stale = w2.manifest()
    w1.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="w1:b1")

    _stale_first_manifest(w2, stale)
    with pytest.raises(ConcurrentWriteError):
        w2.merge(_prep(spark, 2, "https://a.org/p2"), batch_id="w2:b1")
    t = LakeTable(spark, path)
    assert t.current_version() == 1
    assert t.manifest()["metrics"]["batch_id"] == "w1:b1"
    assert {r["url"] for r in t.read().select("url").collect()} == {
        "https://a.org/p1"}


def test_merge_into_from_stale_snapshot_refused(spark, tmp_path):
    """merge_into evaluates its clauses against its snapshot's rows, so a
    lost commit race is refused, never rebased."""
    from epigraphdb_graph_spark.plans.merge_into import merge_into

    path = str(tmp_path / "t_mi")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    w1, w2 = LakeTable(spark, path), LakeTable(spark, path)
    stale = w2.manifest()
    w1.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="w1:b1")

    _stale_first_manifest(w2, stale)
    src = spark.createDataFrame([("https://a.org/p2", "two")],
                                "url string, text string")
    with pytest.raises(ConcurrentWriteError):
        merge_into(w2, src, batch_id="w2:b1")
    t = LakeTable(spark, path)
    assert t.current_version() == 1
    assert t.manifest()["metrics"]["batch_id"] == "w1:b1"
    assert {r["url"] for r in t.read().select("url").collect()} == {
        "https://a.org/p1"}


def test_compaction_rebases_past_tailer_commit(spark, tmp_path):
    """Background-compactor deployment: the compactor derives its rewrite
    from snapshot S; a tailer appends a NEW delta before the compactor
    commits. The compactor rebases — folded deltas fold, the tailer's
    newer delta stays PENDING against the new base — and the final state
    equals applying all events in order."""
    path = str(tmp_path / "t6")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    tailer = LakeTable(spark, path)
    # v1, v2: two deltas the compactor will fold
    tailer.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="t:b1",
                 mode="mor")
    tailer.merge(_prep(spark, 2, "https://a.org/p2"), batch_id="t:b2",
                 mode="mor")

    compactor = LakeTable(spark, path)
    stale = compactor.manifest()  # compactor's view: v2, two deltas

    # the tailer wins the race with a third delta (upserting p1)
    tailer.merge(_prep(spark, 3, "https://a.org/p1"), batch_id="t:b3",
                 mode="mor")

    _stale_first_manifest(compactor, stale)
    v = compactor.compact()
    t = LakeTable(spark, path)
    m = t.manifest()
    assert v == m["version"] == 4  # rebased past the tailer's v3
    # the tailer's post-read delta is still pending, folded deltas gone
    pending = [f for fl in m.get("deltas", {}).values() for f in fl]
    assert len(pending) == 1
    # read resolves the pending delta against the compacted base: p1's
    # newest image (seq 3) wins
    got = {r["url"]: r["warc_ts"] for r in
           t.read().select("url", "warc_ts").collect()}
    assert set(got) == {"https://a.org/p1", "https://a.org/p2"}
    # next compaction folds the remainder; state unchanged
    t.compact()
    m2 = t.manifest()
    assert not any(m2.get("deltas", {}).values())
    got2 = {r["url"] for r in t.read().select("url").collect()}
    assert got2 == set(got)


def test_competing_compactors_refused(spark, tmp_path):
    """Two compactors racing the same buckets: the loser must refuse
    loudly (its rewrite is based on inputs the winner replaced), never
    silently stomp the winner's fold."""
    path = str(tmp_path / "t7")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    t1 = LakeTable(spark, path)
    t1.merge(_prep(spark, 1, "https://a.org/p1"), batch_id="b1", mode="mor")

    c2 = LakeTable(spark, path)
    stale = c2.manifest()
    t1.compact()  # winner folds the delta

    _stale_first_manifest(c2, stale)
    with pytest.raises(ConcurrentWriteError):
        c2.compact()


class _SwappedWake(threading.Event):
    """Instrumented stand-in for a compactor's wake event; ``waiting`` is
    set once the worker has moved onto it."""

    def __init__(self):
        super().__init__()
        self.waiting = threading.Event()

    def wait(self, timeout=None):
        self.waiting.set()
        return super().wait(timeout)


def _compactor_on(tmp_path, wake: _SwappedWake):
    """A normally constructed BackgroundCompactor whose worker has moved
    its wait() onto ``wake``. No table exists, so the worker's loop body
    is a no-op and only the shutdown protocol is under test."""
    from epigraphdb_graph_spark.streaming.compactor import BackgroundCompactor

    comp = BackgroundCompactor(None, str(tmp_path / "never_created"))
    old, comp._wake = comp._wake, wake
    old.set()  # release the worker's wait() on the original event
    assert wake.waiting.wait(5.0)
    return comp


def test_background_compactor_close_shutdown_handoff(tmp_path):
    """close() must publish the stop flag BEFORE the wakeup: in the
    reverse order, a worker blocked in wait() can consume close()'s wake,
    observe stop still unset, clear the event and re-block — and close()
    never signals again (deadlock until the join timeout). The
    instrumented wake below FORCES that adversarial schedule: its set()
    does not return until the worker has consumed (cleared) the event, so
    a stop flag set after the wake is provably set too late."""

    class HandoffEvent(_SwappedWake):
        def set(self):  # noqa: A003 - mirrors threading.Event
            super().set()
            deadline = time.monotonic() + 2.0
            while self.is_set() and time.monotonic() < deadline:
                time.sleep(0.001)

    comp = _compactor_on(tmp_path, HandoffEvent())
    comp.close(timeout=5.0)  # deadlocks (TimeoutError) if wake precedes stop
    assert not comp._thread.is_alive()


def test_background_compactor_close_after_wake_not_lost(tmp_path):
    """A close() landing after the worker returns from wait() but before
    it clears the wake event must still stop the worker. The worker has
    to clear the event BEFORE reading the stop flag: read first, and the
    flag it saw predates close() while the clear swallows close()'s wake,
    so the worker re-blocks and close() times out. The instrumented
    clear() below forces close() into exactly that window."""

    class CloseBeforeClear(_SwappedWake):
        def __init__(self):
            super().__init__()
            self.armed = False
            self.in_window = threading.Event()
            self.closer_signalled = threading.Event()

        def set(self):  # noqa: A003 - mirrors threading.Event
            super().set()
            if self.in_window.is_set():
                self.closer_signalled.set()

        def clear(self):
            if self.armed:
                self.armed = False
                self.in_window.set()
                self.closer_signalled.wait(5.0)  # close() has signalled
            super().clear()

    wake = CloseBeforeClear()
    comp = _compactor_on(tmp_path, wake)
    wake.armed = True
    comp.notify()
    assert wake.in_window.wait(5.0)  # worker is between wait() and clear()
    comp.close(timeout=5.0)  # TimeoutError if close()'s wake is swallowed
    assert not comp._thread.is_alive()


def test_tailer_cow_lost_race_reprepares(spark, tmp_path, monkeypatch):
    """A COW micro-batch whose first commit attempt loses an OCC race (a
    competing writer committed after the tailer read its snapshot) must
    land through apply_batch's re-prepare; the query must not fail."""
    from epigraphdb_graph_spark.streaming.tailer import tail_change_log

    path = str(tmp_path / "t8")
    LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=2)
    w1 = LakeTable(spark, path)
    stale = w1.manifest()  # v0: the snapshot the tailer derives from
    apply_batch(w1, _ev(spark, 1, "https://a.org/p1"), batch_id="b1")  # wins
    log_dir = str(tmp_path / "log")
    _ev(spark, 2, "https://a.org/p2").write.parquet(log_dir)

    real = LakeTable.manifest
    calls = {"n": 0}

    def stale_first(self, version=None):
        # stale twice: apply_batch's read + merge's own read
        if version is None and self.path == w1.path:
            calls["n"] += 1
            if calls["n"] <= 2:
                return dict(stale)
        return real(self, version)

    monkeypatch.setattr(LakeTable, "manifest", stale_first)
    q = tail_change_log(spark, log_dir, path, str(tmp_path / "ckpt"),
                        mode="cow")
    q.awaitTermination(120)  # raises if the lost race failed the query
    monkeypatch.undo()
    assert calls["n"] > 2  # the re-prepare read the fresh snapshot
    t = LakeTable(spark, path)
    assert t.current_version() == 2
    got = {r["url"] for r in t.read().select("url").collect()}
    assert got == {"https://a.org/p1", "https://a.org/p2"}
