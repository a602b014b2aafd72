"""Pipelined MOR replay (replay.pipeline_depth > 1): overlapped delta
writes with strictly ordered commits must be state-identical to serial
replay. Reference analog: the reference's bulk import is a single
serial pass (workflow/scripts/graph_build/create_master_import.py); the
pipelining here is the Spark-native overlap of a batch's commit
bookkeeping with the next batch's write job."""

from __future__ import annotations

import pytest

from epigraphdb_graph_spark.plans.lake import LakeTable
from epigraphdb_graph_spark.replay import replay
from epigraphdb_graph_spark.sources.events import generate_change_events


def _state(spark, path):
    df = LakeTable(spark, path).read()
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _events(spark, n=24_000, seed=7):
    return generate_change_events(
        spark, n, seed=seed, n_domains=40, pages_per_domain=32)


# 32 buckets exceed the 8-core test session: the narrow prepare form's
# coalesce is live there
@pytest.mark.parametrize("depth,n_buckets", [
    pytest.param(2, 8, id="2"), pytest.param(3, 8, id="3"),
    pytest.param(2, 32, id="2-32buckets")])
def test_pipelined_equals_serial(spark, tmp_path, depth, n_buckets):
    events = _events(spark)
    serial = replay(spark, str(tmp_path / "serial"), events, n_batches=4,
                    n_buckets=n_buckets, mode="mor")
    piped = replay(spark, str(tmp_path / f"pipe{depth}"), events,
                   n_batches=4, n_buckets=n_buckets, mode="mor",
                   pipeline_depth=depth)
    assert len(piped) == len(serial) == 4
    assert _state(spark, str(tmp_path / "serial")) == _state(
        spark, str(tmp_path / f"pipe{depth}"))


def test_pipelined_commit_order_and_ledger(spark, tmp_path):
    """Commits are strictly ordered batch-by-batch (the ledger hwm
    invariant: "seq <= hwm means applied" would break under reordering),
    and every batch id lands exactly once."""
    events = _events(spark)
    res = replay(spark, str(tmp_path / "t"), events, n_batches=4,
                 n_buckets=8, mode="mor",
                 pipeline_depth=2)
    versions = [r.version for r in res]
    assert versions == sorted(versions) and len(set(versions)) == 4
    led = LakeTable(spark, str(tmp_path / "t")).manifest()["ledger"]
    assert led["applied_count"] == 4
    hi = events.agg({"event_seq": "max"}).first()[0]
    assert led["hwm"]["replay"] == hi


def test_pipelined_with_midstream_compaction(spark, tmp_path):
    """compact_every quiesces the in-flight window, then compacts; later
    batches append on the compacted base. State equality still holds."""
    events = _events(spark)
    serial = replay(spark, str(tmp_path / "serial"), events, n_batches=4,
                    n_buckets=8, mode="mor",
                    compact_every=2)
    piped = replay(spark, str(tmp_path / "pipe"), events, n_batches=4,
                   n_buckets=8, mode="mor",
                   compact_every=2, pipeline_depth=2)
    assert len(piped) == len(serial) == 4
    assert _state(spark, str(tmp_path / "serial")) == _state(
        spark, str(tmp_path / "pipe"))
    # the cadence compactions actually ran (manifest carries a base)
    m = LakeTable(spark, str(tmp_path / "pipe")).manifest()
    assert any(m.get("files", {}).values())


def test_pipelined_dead_letter_per_batch_dirs(spark, tmp_path):
    """Concurrent batches quarantining into ONE dead-letter root must not
    race on the FileOutputCommitter staging dir: quarantine() writes each
    batch under its own ``batch=<id>`` subdir (hive partition layout), so
    overlapped writes never share a ``_temporary``. All dead letters
    survive, attributed to their batch, and valid state matches serial."""
    import pandas as pd
    from pyspark.sql import functions as F

    events = _events(spark)
    hi = events.agg(F.max("event_seq")).first()[0]
    step = (hi + 1) // 4 or 1
    # one malformed event per batch slice (bad_op), seqs inside each range
    ts = pd.Timestamp("2024-03-01")
    bad = spark.createDataFrame(pd.DataFrame(
        [(b * step + 1, "upsert", f"https://bad.org/{b}", ts, b"<p>x</p>")
         for b in range(4)],
        columns=["event_seq", "op", "url", "warc_ts", "html"]))
    mixed = events.unionByName(bad)
    dl_p = str(tmp_path / "dead_pipe")
    piped = replay(spark, str(tmp_path / "pipe"), mixed, n_batches=4,
                   n_buckets=8, mode="mor",
                   pipeline_depth=3, dead_letter_dir=dl_p)
    serial = replay(spark, str(tmp_path / "serial"), mixed, n_batches=4,
                    n_buckets=8, mode="mor",
                    dead_letter_dir=str(tmp_path / "dead_serial"))
    assert len(piped) == len(serial) == 4
    assert _state(spark, str(tmp_path / "serial")) == _state(
        spark, str(tmp_path / "pipe"))
    dead = spark.read.parquet(dl_p)
    assert dead.count() == 4
    # per-batch attribution via partition discovery: 4 distinct batch dirs
    assert dead.select("batch").distinct().count() == 4
    assert set(r["_reason"] for r in dead.collect()) == {"bad_op"}


def test_pipelined_resume_skips_committed(spark, tmp_path):
    """Exactly-once across a re-run: replaying the same log over the
    pipelined table applies zero new rows (every batch id is in the
    ledger), matching the serial resume contract."""
    events = _events(spark)
    replay(spark, str(tmp_path / "t"), events, n_batches=4, n_buckets=8,
           mode="mor", pipeline_depth=2)
    again = replay(spark, str(tmp_path / "t"), events, n_batches=4,
                   n_buckets=8, mode="mor",
                   pipeline_depth=2)
    assert all(r.noop for r in again)
    led = LakeTable(spark, str(tmp_path / "t")).manifest()["ledger"]
    assert led["applied_count"] == 4


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_failed_batch_stops_serial_replay(spark, tmp_path, monkeypatch, mode):
    """At depth 1 a failed batch ends the replay: no later batch is
    prepared or committed, so the ledger high watermark never moves past
    the batch that has to be re-applied on resume."""
    from epigraphdb_graph_spark import replay as replay_mod

    real_apply = replay_mod.apply_batch
    calls = []

    def failing_second(*args, **kwargs):
        calls.append(kwargs["batch_id"])
        if len(calls) == 2:
            raise RuntimeError("batch lost")
        return real_apply(*args, **kwargs)

    monkeypatch.setattr(replay_mod, "apply_batch", failing_second)
    events = _events(spark, n=3000)
    path = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="batch lost"):
        replay(spark, path, events, n_batches=3, n_buckets=4, mode=mode)
    assert len(calls) == 2
    led = LakeTable(spark, path).manifest()["ledger"]
    assert led["applied_count"] == 1
    assert led["hwm"]["replay"] == int(calls[0].split(":")[1])
