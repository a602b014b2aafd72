"""Point-lookup path: driver-side Spark-identical murmur3 bucketing +
manifest-resident file key bounds -> read only the files that can contain
the requested keys (Iceberg manifest-stats pruning analog).

Reference parity: the reference serves per-entity lookups from Neo4j
indexes after the bulk build (workflow/Snakefile graph build targets);
the engine's analog is an O(bucket) pruned scan against the lake table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from epigraphdb_graph_spark.plans.lake import (
    LakeTable,
    _spark_murmur3,
    _static_plan,
)
from epigraphdb_graph_spark.replay import apply_batch, replay
from epigraphdb_graph_spark.sources.events import generate_change_events


def test_spark_murmur3_matches_engine_hash(spark):
    """The pure-python murmur3 must be bit-identical to Catalyst's
    F.hash on strings (else driver-side bucketing would read the wrong
    bucket and silently return empty lookups)."""
    samples = [
        "", "a", "ab", "abc", "abcd", "abcde", "http://example.com/x?q=1",
        "ünïcødé-ключ-键", "x" * 100, "trailing/", "1234567",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "k string")
    got = {r["k"]: r["h"] for r in df.select("k", F.hash("k").alias("h")).collect()}
    for s in samples:
        assert _spark_murmur3(s.encode("utf-8")) == got[s], s


def _events(spark):
    return generate_change_events(spark, 4000, seed=7, n_domains=8,
                                  pages_per_domain=32)


@pytest.fixture()
def mor_table(spark, tmp_path):
    """A MOR table with pending deltas (unresolved winners) AND several
    base files carrying recorded key bounds."""
    path = str(tmp_path / "pages")
    ev = _events(spark)
    # two batches compacted (base files), then two more left as deltas
    replay(spark, path, ev.filter(F.col("event_seq") < 2000),
           n_batches=2, n_buckets=8, mode="mor")
    t = LakeTable(spark, path)
    t.compact()
    replay(spark, path, ev, n_batches=4, n_buckets=8, mode="mor")
    return LakeTable(spark, path)


@pytest.fixture()
def delta_only_table(spark, tmp_path):
    """A MOR table with no base file and more delta files than Spark's
    parallel-listing threshold (32 paths)."""
    path = str(tmp_path / "deltas")
    replay(spark, path, _events(spark), n_batches=9, n_buckets=4, mode="mor")
    t = LakeTable(spark, path)
    m = t.manifest()
    assert not any(m["files"].values())
    assert sum(len(fl) for fl in m["deltas"].values()) > 32
    return t


def _plan(spark, df):
    with _static_plan(spark):
        return df._jdf.queryExecution().executedPlan().toString()


def test_read_keys_equals_filtered_read(spark, mor_table):
    t = mor_table
    state = t.read()
    urls = [r["url"] for r in state.select("url").distinct().limit(5).collect()]
    assert urls
    via_lookup = t.read_keys(urls).orderBy("url").collect()
    via_filter = state.filter(F.col("url").isin(urls)).orderBy("url").collect()
    assert via_lookup == via_filter
    # an absent key probes empty (its bucket is scanned, nothing matches)
    assert t.read_keys(["definitely-not-a-url"]).count() == 0


def test_read_keys_prunes_files(spark, mor_table):
    t = mor_table
    m = t.manifest()
    # commit-time footer stats were recorded for every live file
    live = [f for fl in m["files"].values() for f in fl]
    live += [f for fl in m.get("deltas", {}).values() for f in fl]
    assert live
    bounds = m.get("file_key_bounds", {})
    assert set(bounds) == set(live)
    for lo, hi in bounds.values():
        assert lo <= hi

    url = t.read().select("url").first()["url"]
    pruned = t._prune_manifest_for_keys(m, [url])
    kept = [f for fl in pruned["files"].values() for f in fl]
    kept += [f for fl in pruned["deltas"].values() for f in fl]
    # bucket pruning alone must cut to ~1/n_buckets of the files
    assert 0 < len(kept) < len(live)
    # the surviving buckets are exactly the key's bucket
    want = str(_spark_murmur3(url.encode("utf-8")) % m["n_buckets"])
    assert set(pruned["files"]) | set(pruned["deltas"]) <= {want}
    # and the lookup still returns the row
    assert t.read_keys(url).count() == 1


def test_read_keys_sees_delta_winners_and_tombstones(spark, tmp_path):
    """A key whose latest event sits in an unresolved delta must resolve
    through read_keys exactly as through read(); a key whose live base row
    is superseded by a newer delta tombstone must come back empty from
    both (``~_deleted`` may not be filtered before the resolution)."""
    import datetime as dt

    path = str(tmp_path / "t")
    ev = generate_change_events(spark, 3000, seed=11, n_domains=4,
                                pages_per_domain=16)
    replay(spark, path, ev.filter(F.col("event_seq") < 2000), n_batches=2,
           n_buckets=4, mode="mor")
    t = LakeTable(spark, path)
    t.compact()
    victim = t.read().select("url").orderBy("url").first()["url"]
    replay(spark, path, ev, n_batches=3, n_buckets=4, mode="mor")
    newest = ev.agg(F.max("warc_ts")).first()[0] + dt.timedelta(days=1)
    tomb = (ev.filter(F.col("url") == victim).limit(1)
            .withColumn("op", F.lit("delete"))
            .withColumn("event_seq", F.lit(10_000_000).cast("long"))
            .withColumn("warc_ts", F.lit(newest)))
    apply_batch(t, tomb, batch_id="tomb:000000000000", mode="mor")
    # the victim's live base row and its newer tombstone are both on disk
    m = t.manifest()
    on_disk = F.col("url") == victim
    assert t._read_files(m).filter(on_disk & ~F.col("_deleted")).count() == 1
    assert t._read_files(m, which=("deltas",)).filter(
        on_disk & F.col("_deleted") & (F.col("_seq") == 10_000_000)
    ).count() == 1

    assert t.read_keys(victim).count() == 0
    live = {r["url"] for r in t.read().select("url").collect()}
    assert victim not in live
    probe = sorted(live)[0]
    row = t.read_keys(probe).collect()
    expect = t.read().filter(F.col("url") == probe).collect()
    assert row == expect
    assert t.read(with_system_cols=True).count() == len(live)


def test_resolution_plan_runs_no_job(spark, mor_table, delta_only_table):
    """Building the merge-on-read plans is lazy: neither ``read_keys`` nor
    ``_read_resolved`` runs a Spark job before an action is called — not
    even a file-listing job over more than 32 delta files, whose paths the
    manifest already lists."""
    sc = spark.sparkContext
    for i, t in enumerate((mor_table, delta_only_table)):
        m = t.manifest()
        key = t.read().select("url").first()["url"]
        group = f"resolution-plan-build-{i}"
        sc.setJobGroup(group, "build merge-on-read plans")
        try:
            t.read_keys(key)
            t._read_resolved(m)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs == [], t.path


def test_resolution_plan_shape(spark, mor_table):
    """The resolution exchange is bucket-aligned, so a rewrite's own
    ``repartition(n_buckets, key)`` reuses it (one exchange in all); the
    hot bucket's base and delta files are one scan, and a key predicate
    is pushed below the Window into it."""
    t = mor_table
    m = t.manifest()
    hot = sorted((b for b, fl in m["deltas"].items() if fl), key=int)
    assert hot

    rewrite = t._read_resolved(m, hot).repartition(m["n_buckets"], "url")
    assert _plan(spark, rewrite).count("Exchange hashpartitioning") == 1
    # a key with rows in both a base file and a delta file
    key = (t._read_files(m).select("url")
           .intersect(t._read_files(m, which=("deltas",)).select("url"))
           .first()["url"])
    lookup = _plan(spark, t.read_keys(key))
    pruned = t._prune_manifest_for_keys(m, [key])
    assert pruned["deltas"] and pruned["files"]
    scans = [ln for ln in lookup.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1
    for ln in scans:
        assert "EqualTo(url," in ln, ln


def test_resolution_scans_once_with_no_python_side(spark, tmp_path,
                                                  delta_only_table):
    """Buckets with deltas and no base file resolve from one parquet scan
    with no empty Python-side frame, and a read of buckets that hold no
    file at all (a COW merge's target in a fresh table) is a JVM-only
    empty relation: no PythonRDD, so no Python task for zero rows."""
    t = delta_only_table
    m = t.manifest()
    hot = sorted((b for b, fl in m["deltas"].items() if fl), key=int)
    state = t.read()
    keys = [r["url"] for r in state.select("url").limit(3).collect()]
    assert keys
    for k in keys:
        plan = _plan(spark, t.read_keys(k))
        assert plan.count("FileScan parquet") == 1, plan
        assert "ExistingRDD" not in plan, plan
        assert t.read_keys(k).count() == \
            state.filter(F.col("url") == k).count() == 1
    plan = _plan(spark, t._read_resolved(m, hot))
    assert plan.count("FileScan parquet") == 1, plan
    assert "ExistingRDD" not in plan, plan

    fresh = LakeTable.create(spark, str(tmp_path / "fresh"), t.schema(),
                             n_buckets=m["n_buckets"])
    target = fresh._read_resolved(fresh.manifest(), hot)
    lineage = target._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert target.count() == 0
    assert target.schema.names == t._read_resolved(m, hot).schema.names


@pytest.mark.parametrize(
    "path", ["deltas", "ties", "full_cow", "rebucket"])
def test_compact_writes_key_sorted_files(spark, tmp_path, request, path):
    """compact() emits key-sorted base files, one row per key, on every
    rewrite shape (partition-local sort on the rewrite that's happening
    anyway) so parquet row-group stats prune inside files for point
    lookups: pending deltas; re-delivered ties; a full rewrite of a
    delta-free COW table; a rebucket."""
    import os

    import pyarrow.parquet as pq

    if path == "full_cow":
        replay(spark, str(tmp_path / "cow"), _events(spark), n_batches=2,
               n_buckets=8, mode="cow")
        t = LakeTable(spark, str(tmp_path / "cow"))
        assert not any(t.manifest()["deltas"].values())
        t.compact(full=True)
    else:
        t = request.getfixturevalue("mor_table")
        if path == "ties":
            # at-least-once re-delivery: the applied second half again,
            # under a new batch id -> delta rows tied on (_ts, _seq)
            apply_batch(t, _events(spark).filter(F.col("event_seq") >= 2000),
                        batch_id="redelivered:000000000001", mode="mor")
            raw = t._read_files(t.manifest(), which=("deltas",))
            assert raw.groupBy("url", "_ts", "_seq").count() \
                .filter("count > 1").count() > 0
        expect = t.read().orderBy("url").collect()
        if path == "rebucket":
            t.compact(n_buckets=2 * t.manifest()["n_buckets"])
        else:
            t.compact()
        # state unchanged by the sorted rewrite
        assert t.read().orderBy("url").collect() == expect
    m = t.manifest()
    assert not any(m["deltas"].values())
    checked = 0
    for fl in m["files"].values():
        for f in fl:
            col = pq.read_table(os.path.join(t.path, f), columns=["url"])["url"].to_pylist()
            assert col == sorted(col), f
            assert len(set(col)) == len(col), f
            checked += 1
    assert checked > 0
    assert t.read_keys(t.read().select("url").first()["url"]).count() == 1


def test_delta_files_carry_key_bloom_filters(spark, tmp_path):
    """MOR delta files (append-ordered: bounds can't prune) embed a
    parquet bloom filter on the key column; base/compacted files (key-
    sorted: bounds prune) don't pay for one. Verified via parquet-mr's
    own footer reader through the JVM."""
    import os

    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import replay
    from epigraphdb_graph_spark.sources.events import generate_change_events

    t = str(tmp_path / "t")
    replay(spark, t, generate_change_events(spark, 4000, seed=11),
           n_batches=2, n_buckets=4, mode="mor")
    table = LakeTable(spark, t)
    m = table.manifest()
    delta = next(fl[0] for fl in m["deltas"].values() if fl)

    def bloom_offset(rel):
        jvm = spark.sparkContext._jvm
        conf = spark._jsc.hadoopConfiguration()
        inp = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(os.path.join(t, rel)), conf)
        r = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inp)
        try:
            for col in r.getRowGroups().get(0).getColumns():
                if col.getPath().toDotString() == "url":
                    return col.getBloomFilterOffset()
            raise AssertionError("url column missing")
        finally:
            r.close()

    assert bloom_offset(delta) > 0

    # point lookups still correct through the bloom-bearing deltas
    key = table.read().limit(1).collect()[0]["url"]
    got = table.read_keys([key]).collect()
    assert len(got) == 1 and got[0]["url"] == key

    table.compact()
    m2 = table.manifest()
    base = next(fl[0] for fl in m2["files"].values() if fl)
    assert bloom_offset(base) == -1  # sorted base: no bloom written


def test_key_bounds_with_struct_column_before_key(spark, tmp_path):
    """ADVICE r3 regression: _scan_new_file_stats must locate the key's
    parquet LEAF column by path_in_schema. With a multi-leaf (struct)
    column ahead of the key, the Arrow top-level field index pointed at
    another leaf's statistics, recording wrong file_key_bounds — and
    read_keys could then prune a file that DOES contain the key."""
    import datetime as dt

    from pyspark.sql import types as T

    from epigraphdb_graph_spark.plans.lake import LakeTable

    schema = T.StructType([
        # struct with 2 leaves BEFORE the key: shifts every leaf index
        T.StructField("meta", T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
        ])),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ])
    path = str(tmp_path / "structtable")
    t = LakeTable.create(spark, path, schema, key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [((i, f"m{i}"), f"url-{i:03d}", ts, 1000 + i, "insert", f"t{i}")
         for i in range(20)],
        "meta struct<a:long,b:string>, url string, warc_ts timestamp, "
        "event_seq long, op string, text string")
    t.merge(batch, mode="cow")

    m = t.manifest()
    bounds = m.get("file_key_bounds", {})
    assert bounds, "commit must record key bounds"
    los = sorted(b[0] for b in bounds.values())
    his = sorted(b[1] for b in bounds.values())
    # bounds must be url values, not the struct leaf's (ints / m*)
    assert all(str(lo).startswith("url-") for lo in los), los
    assert min(los) == "url-000" and max(his) == "url-019"
    # and pruning must not lose a present key
    row = t.read_keys("url-007").collect()
    assert len(row) == 1 and row[0]["text"] == "t7"
    assert row[0]["meta"]["a"] == 7
