"""LWW variant parity + bulk first-load (overwrite) path."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from epigraphdb_graph_spark.operators.lww import lww_dedup_agg, lww_dedup_window
from epigraphdb_graph_spark.plans.lake import LakeTable
from epigraphdb_graph_spark.replay import apply_batch
from epigraphdb_graph_spark.schema import PAGES_SCHEMA
from epigraphdb_graph_spark.sources.events import generate_change_events


def test_lww_agg_and_window_agree(spark):
    """Both physical strategies must pick identical winners (the total
    order (warc_ts, event_seq) has no ties)."""
    ev = generate_change_events(spark, 3000, seed=3, n_domains=20,
                                pages_per_domain=8)
    a = lww_dedup_agg(ev).select("url", "event_seq").toPandas()
    w = lww_dedup_window(ev).select("url", "event_seq").toPandas()
    assert dict(zip(a["url"], a["event_seq"])) == dict(zip(w["url"], w["event_seq"]))
    assert a.shape == w.shape


def test_overwrite_bulk_load_then_incremental(spark, tmp_path):
    """First-load fast path (ref: neo4j-admin bulk import vs LOAD CSV,
    README.md:10): overwrite() writes without a MERGE join; later
    incremental merges update on top of it."""
    path = str(tmp_path / "bulk")
    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=4)

    ts = pd.Timestamp("2024-01-01")
    bulk = spark.createDataFrame(pd.DataFrame(
        [(f"https://a.org/p{i}", ts, None, f"text {i}", "en") for i in range(50)],
        columns=["url", "warc_ts", "html", "text", "lang"]))
    r = table.overwrite(bulk, batch_id="bulk-1")
    assert table.read().count() == 50
    assert r.version == 1

    # incremental event newer than the bulk rows replaces one page
    ev = spark.createDataFrame(pd.DataFrame(
        [(100, "update", "https://a.org/p7", pd.Timestamp("2024-02-01"),
          b"<p>new seven</p>")],
        columns=["event_seq", "op", "url", "warc_ts", "html"]))
    apply_batch(table, ev, batch_id="inc-1")
    out = table.read().filter(F.col("url") == "https://a.org/p7").toPandas()
    assert out.loc[0, "text"] == "new seven"
    assert table.read().count() == 50

    # a stale event older than the bulk load must lose to it
    stale = spark.createDataFrame(pd.DataFrame(
        [(101, "update", "https://a.org/p3", pd.Timestamp("2023-12-01"),
          b"<p>stale</p>")],
        columns=["event_seq", "op", "url", "warc_ts", "html"]))
    r2 = apply_batch(table, stale, batch_id="inc-2")
    assert r2.stale_skipped == 1
    out3 = table.read().filter(F.col("url") == "https://a.org/p3").toPandas()
    assert out3.loc[0, "text"] == "text 3"


def test_overwrite_mor_delta_on_top(spark, tmp_path):
    """MOR deltas over a bulk-loaded base resolve correctly (bulk rows
    carry _seq=-1; the packed ordering handles that)."""
    path = str(tmp_path / "bulk_mor")
    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=4)
    ts = pd.Timestamp("2024-01-01")
    bulk = spark.createDataFrame(pd.DataFrame(
        [(f"https://a.org/p{i}", ts, None, f"text {i}", "en") for i in range(10)],
        columns=["url", "warc_ts", "html", "text", "lang"]))
    table.overwrite(bulk)
    ev = spark.createDataFrame(pd.DataFrame(
        [(1, "update", "https://a.org/p2", pd.Timestamp("2024-03-01"), b"<p>v2</p>"),
         (2, "delete", "https://a.org/p4", pd.Timestamp("2024-03-01"), None)],
        columns=["event_seq", "op", "url", "warc_ts", "html"]))
    apply_batch(table, ev, batch_id="d1", mode="mor")
    state = table.read().toPandas().set_index("url")
    assert len(state) == 9                       # p4 tombstoned
    assert state.loc["https://a.org/p2", "text"] == "v2"
    assert state.loc["https://a.org/p0", "text"] == "text 0"


def test_overwrite_retires_pending_deltas(spark, tmp_path):
    """overwrite() replaces the whole table: MOR deltas pending before it
    must not stay live on top of the new base files, and their per-file
    stats must leave the manifest with them."""
    path = str(tmp_path / "bulk_over_mor")
    table = LakeTable.create(spark, path, PAGES_SCHEMA, key="url", n_buckets=4)
    old = spark.createDataFrame(pd.DataFrame(
        [(1, "insert", "https://a.org/old", pd.Timestamp("2024-03-01"),
          b"<p>old</p>")],
        columns=["event_seq", "op", "url", "warc_ts", "html"]))
    apply_batch(table, old, batch_id="d1", mode="mor")
    assert table.manifest()["deltas"]

    ts = pd.Timestamp("2024-01-01")
    bulk = spark.createDataFrame(pd.DataFrame(
        [(f"https://a.org/p{i}", ts, None, f"text {i}", "en") for i in range(3)],
        columns=["url", "warc_ts", "html", "text", "lang"]))
    table.overwrite(bulk)

    got = {r["url"] for r in table.read().select("url").collect()}
    assert got == {f"https://a.org/p{i}" for i in range(3)}
    m = table.manifest()
    assert m["deltas"] == {}
    referenced = {f for fl in m["files"].values() for f in fl}
    assert set(m["file_rows"]) == referenced
