"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC replay (the engine proper) on
/root/testdata/sf0.001. ``queries()`` exposes the operator inventory from
SURVEY.md §2 plus the training-data-pipeline operators (dedup, similarity,
text analytics) as (spark, sf_dir) -> DataFrame callables; ``oracle_sql()``
carries the DuckDB-equivalent SQL for each (omitted only for genuinely
non-SQL-expressible ops — those get the driver's rows-only check).

Cross-engine determinism conventions used throughout:
- money-like doubles are cast to DECIMAL(18,2)/(18,4) per value BEFORE
  aggregation (per-value conversion is identical in Spark and DuckDB, and
  decimal sums are exact), final outputs cast to double;
- every top-k has a deterministic tiebreak;
- all computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dec2(c) -> F.Column:
    return F.col(c).cast("decimal(18,2)") if isinstance(c, str) else c.cast("decimal(18,2)")


# ===========================================================================
# entry: flagship CDC replay through the engine (LakeTable MERGE)
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Map sf0.001 ``events`` into change events (user_id -> page key,
    event_id -> event_seq, ts -> warc_ts, 'error' -> delete), replay them
    through the lake MERGE engine in 2 micro-batches, and return the final
    visible table state. Exercises: LWW dedup, bucket-pruned COW MERGE,
    tombstones, extraction UDF, lineage manifests."""
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import replay

    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("event_seq"),
        F.when(F.col("event_type") == "error", "delete").otherwise("update").alias("op"),
        F.concat(F.lit("https://site.example.org/u/"), F.col("user_id")).alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.when(
            F.col("event_type") == "error", F.lit(None).cast("binary")
        ).otherwise(
            F.encode(F.concat(F.lit("<html><body><p>"), F.col("event_type"),
                              F.lit(" "), F.col("props"),
                              F.lit("</p></body></html>")), "UTF-8")
        ).alias("html"),
    )
    lake_dir = tempfile.mkdtemp(prefix="entry_lake_")
    replay(spark, os.path.join(lake_dir, "pages"), ev, n_batches=2, n_buckets=8)
    table = LakeTable(spark, os.path.join(lake_dir, "pages"))
    return table.read().select("url", "warc_ts", "text").orderBy("url")


# ===========================================================================
# queries + oracles
# ===========================================================================

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn
    return deco


# ----------------------------------------------------------- relational core

@_q("q01_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""")
def q01(spark, sf):
    """TPC-H-Q1-style grouped aggregation (ref SURVEY §2.5 A1; partial+final
    hash agg via Catalyst)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
              .cast("decimal(18,4)")).cast("double").alias("sum_disc_price"),
        F.count("*").alias("count_order"),
    )


@_q("q02_filter_project", """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_quantity >= 45 AND l_shipdate >= TIMESTAMP '1998-01-01'
""")
def q02(spark, sf):
    """Projection + threshold/date predicates pushed to the parquet scan
    (ref P1/P5; nodes/protein/string.py:30)."""
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 45) & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
    ).select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)").cast("double").alias("revenue"),
    )


@_q("q03_join_broadcast", """
SELECT c.c_mktsegment AS mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""")
def q03(spark, sf):
    """Inner equi-join with explicit broadcast of the dim side (ref J1:
    rels/protein_protein_string.py:41-56 FK resolution)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n_orders"),
             F.sum(_dec2("o_totalprice")).cast("double").alias("total"))
    )


@_q("q04_left_join_count", """
SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
""")
def q04(spark, sf):
    """Left join preserving zero-order customers (ref J2:
    rels/gwas-gencor.py:65-70)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@_q("q05_semi_join", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
""")
def q05(spark, sf):
    """Semi-join idiom (ref J4: nodes/literature/semmed.py:42-47 keeps rows
    whose id appears in another table)."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf, "customer")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@_q("q06_anti_join_audit", """
SELECT l_suppkey, COUNT(*) AS n_dangling
FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size <= 25)
GROUP BY l_suppkey
""")
def q06(spark, sf):
    """Dangling-FK anti-join audit (ref J8: the engine-side analog of
    neo4j-admin --skip-bad-relationships + import-report-check.py:15-36 —
    dead-letter rows counted instead of silently dropped)."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_size") <= 25)
    return (
        li.join(p, li.l_partkey == p.p_partkey, "left_anti")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_dangling"))
    )


@_q("q07_top1_per_group", """
SELECT c_custkey, o_orderkey, o_totalprice FROM (
  SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey) x
WHERE rn = 1
""")
def q07(spark, sf):
    """Top-1 per group / argmax (ref A3: newest record per DOI,
    nodes/literature/semrep-biorxiv.py:42-44 — the LWW pattern)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    w = W.partitionBy("c_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("c_custkey", "o_orderkey", "o_totalprice")
    )


@_q("q08_collect_set", """
SELECT o_custkey, array_to_string(list_sort(list(DISTINCT o_orderpriority)), ';') AS priorities
FROM orders GROUP BY o_custkey
""")
def q08(spark, sf):
    """Group -> sorted distinct collection (ref A2: id -> unique set of
    semantic types, nodes/literature_term/semmed.py:76-80; ';'-join kept as
    a string for cross-engine comparison)."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ";").alias("priorities")
    )


@_q("q09_distinct_count", """
SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_items
FROM lineitem GROUP BY l_suppkey
""")
def q09(spark, sf):
    """Distinct count per key (ref A5 diagnostics value_counts)."""
    return _t(spark, sf, "lineitem").groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_items"),
    )


@_q("q10_union", """
SELECT nationkey, kind, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier) u
GROUP BY nationkey, kind
""")
def q10(spark, sf):
    """Union of two sources with provenance tag (ref U1:
    nodes/literature_term/semmed.py:47-53 subject∪object)."""
    c = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("kind"))
    s = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("kind"))
    return c.unionByName(s).groupBy("nationkey", "kind").agg(F.count("*").alias("n"))


@_q("q11_except", """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
""")
def q11(spark, sf):
    """Set difference (ref U2: missing-gene reconciliation,
    nodes/gene/druggable.py:52)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.exceptAll(s).distinct()


@_q("q12_explode_split", """
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) w
GROUP BY word
""")
def q12(spark, sf):
    """split + explode to rows (ref R2: pervasive '|'-packed multi-id
    expansion, rels/semmed_predicate.py:36-46)."""
    p = _t(spark, sf, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word").agg(F.count("*").alias("n"))
    )


@_q("q13_unpivot", """
SELECT l_returnflag, measure, CAST(value AS DOUBLE) AS value FROM (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc,
         CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax
  FROM lineitem GROUP BY l_returnflag) wide
UNPIVOT (value FOR measure IN (qty, disc, tax))
""")
def q13(spark, sf):
    """Wide->long unpivot (ref R1: GTEx melt, rels/tissue-gene-gtex.py:36-41)."""
    li = _t(spark, sf, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec2("l_quantity")).cast("double").alias("qty"),
        F.sum(_dec2("l_discount")).cast("double").alias("disc"),
        F.sum(_dec2("l_tax")).cast("double").alias("tax"),
    )
    return wide.unpivot(["l_returnflag"], ["qty", "disc", "tax"], "measure", "value")


@_q("q14_pivot", """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS price_O,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS price_F
FROM lineitem GROUP BY l_returnflag
""")
def q14(spark, sf):
    """Long->wide pivot with explicit value list (ref R5: Mondo xref
    bucketing into per-ontology columns, nodes/disease/mondo.py:28-44)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec2("l_extendedprice")).cast("double"))
        .withColumnsRenamed({"O": "price_O", "F": "price_F"})
    )


@_q("q15_window_running", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
""")
def q15(spark, sf):
    """Running aggregate window (beyond the reference's top-1 pattern —
    SURVEY §2.6 notes frames unused there; engine metrics use them)."""
    o = _t(spark, sf, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(_dec2("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


@_q("q16_full_outer_consolidate", """
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(c.n_cust, 0) AS n_cust,
       COALESCE(s.n_supp, 0) AS n_supp,
       CAST(COALESCE(c.cust_bal, 0) + COALESCE(s.supp_bal, 0) AS DOUBLE) AS total_bal
FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
             SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS cust_bal FROM customer GROUP BY 1) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp,
             SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS supp_bal FROM supplier GROUP BY 1) s
ON c.nationkey = s.nationkey
""")
def q16(spark, sf):
    """Full-outer consolidation with coalesce conflict resolution — the
    reference's multi-source merge engine (J5/F6:
    graph_build/merge_sources.py:162-195, first-non-empty per key) —
    executed THROUGH the engine's clause-style MERGE INTO
    (plans/merge_into.py): the customer aggregate is bulk-loaded into a
    lake table, the supplier aggregate is merged with WHEN MATCHED
    UPDATE / WHEN NOT MATCHED INSERT (the lakehouse form of N-way
    consolidation — one MERGE per source), and the consolidated state is
    read back. Matching the plain full-outer oracle certifies the clause
    compiler's bucket-pruned COW rewrite end-to-end."""
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.plans.merge_into import merge_into

    c = _t(spark, sf, "customer").groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_cust"), F.sum(_dec2("c_acctbal")).alias("cust_bal"))
    s = _t(spark, sf, "supplier").groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_supp"), F.sum(_dec2("s_acctbal")).alias("supp_bal"))
    sum_t = c.schema["cust_bal"].dataType  # decimal sum precision
    base = c.select(
        F.col("nationkey").cast("string").alias("nk"),
        "nationkey", "n_cust", "cust_bal",
        F.lit(None).cast("long").alias("n_supp"),
        F.lit(None).cast(sum_t).alias("supp_bal"),
    )
    d = tempfile.mkdtemp(prefix="graft_q16_")
    t = LakeTable.create(spark, os.path.join(d, "t"), base.schema,
                         key="nk", n_buckets=4)
    t.overwrite(base)
    src = s.select(
        F.col("nationkey").cast("string").alias("nk"),
        "nationkey", "n_supp", "supp_bal",
    )
    merge_into(
        t, src,
        when_matched_update={
            "n_supp": F.col("s.n_supp"), "supp_bal": F.col("s.supp_bal")},
        when_not_matched_insert={
            "nk": F.col("s.nk"), "nationkey": F.col("s.nationkey"),
            "n_supp": F.col("s.n_supp"), "supp_bal": F.col("s.supp_bal")},
        event_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    return t.read().select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        (F.coalesce(F.col("cust_bal"), F.lit(0).cast("decimal(18,2)"))
         + F.coalesce(F.col("supp_bal"), F.lit(0).cast("decimal(18,2)")))
        .cast("double").alias("total_bal"),
    )


@_q("q17_case_bucketing", """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       o_orderstatus, COUNT(*) AS n
FROM orders GROUP BY 1, 2
""")
def q17(spark, sf):
    """Conditional bucketing (ref F6 coalesce/conditional id pick family)."""
    o = _t(spark, sf, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket"), F.col("o_orderstatus")).agg(
        F.count("*").alias("n"))


@_q("q18_string_funcs", """
SELECT c_custkey,
       upper(c_mktsegment) AS seg_upper,
       string_split(c_name, '#')[2] AS cust_num,
       concat(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS synth_key,
       replace(c_name, 'Customer', 'C') AS short_name
FROM customer WHERE c_custkey < 100
""")
def q18(spark, sf):
    """Scalar string functions (ref F1-F4: split/getItem, upper, replace,
    concat key synthesis — e.g. nodes/literature_triple/semmed.py:50-51)."""
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") < 100)
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.split(F.col("c_name"), "#").getItem(1).alias("cust_num"),
        F.concat_ws(":", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("synth_key"),
        F.regexp_replace("c_name", "Customer", "C").alias("short_name"),
    )


@_q("q19_regex_extract", """
SELECT regexp_extract(o_orderpriority, '^(\\d+)-', 1) AS prio_num, COUNT(*) AS n
FROM orders GROUP BY 1
""")
def q19(spark, sf):
    """Regex extraction (ref F5: phenotype name from an HTML anchor,
    rels/gwas-gencor.py:52-58)."""
    o = _t(spark, sf, "orders")
    return o.groupBy(
        F.regexp_extract("o_orderpriority", r"^(\d+)-", 1).alias("prio_num")
    ).agg(F.count("*").alias("n"))


@_q("q20_json_extract", """
SELECT event_type, COUNT(*) AS n,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
""")
def q20(spark, sf):
    """JSON field access (ref F12: Mondo meta walk,
    nodes/disease/mondo.py:71-84)."""
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min(k).alias("min_k"), F.max(k).alias("max_k"), F.sum(k).alias("sum_k"),
    )


@_q("q21_cast_validity", """
SELECT COUNT(*) AS n_valid FROM events
WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
  AND value IS NOT NULL
""")
def q21(spark, sf):
    """Parse-validity filter (ref P8: keep row only if float(pval) parses,
    rels/gwas_to_variant.py:49-54 — cast + isNotNull instead of a loop)."""
    e = _t(spark, sf, "events")
    return e.filter(
        F.get_json_object("props", "$.k").cast("bigint").isNotNull()
        & F.col("value").isNotNull()
    ).agg(F.count("*").alias("n_valid"))


@_q("q22_cdc_lww_state", """
SELECT user_id, event_type AS last_op,
       CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value
FROM (SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x
WHERE rn = 1 AND event_type <> 'error'
""")
def q22(spark, sf):
    """The flagship LWW final-state query, computed THROUGH the engine's
    full CDC lake path (not a window-function shortcut): events become a
    change log ('error' = delete tombstone), replayed in 3 ordered,
    pipelined micro-batches of MOR commits, with a mid-replay
    incremental COMPACTION (compact_every=2) folding the first two
    batches' deltas, so the final read exercises MOR READ-RESOLUTION of
    batch 3's still-pending deltas against the compacted base. The
    payload columns (user_id/event_type/value) ride through additive
    schema evolution. The oracle's window/filter reconstruction over the
    raw events must match row-for-row — LWW by (ts, event_id), deleted
    keys absent (engine semantics of operators/lww.py + MERGE)."""
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import replay

    e = _t(spark, sf, "events")
    ev = e.select(
        F.concat(F.lit("https://site.org/u/"),
                 F.col("user_id").cast("string")).alias("url"),
        # events.parquet carries TIMESTAMP_NTZ; the engine orders by a
        # session-TZ (UTC-pinned) timestamp — the cast is a stable relabel
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.col("event_id").alias("event_seq"),
        F.when(F.col("event_type") == "error", "delete")
         .otherwise("insert").alias("op"),
        F.encode(F.concat(F.lit("<p>"), F.col("props"), F.lit("</p>")),
                 "UTF-8").alias("html"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    d = tempfile.mkdtemp(prefix="graft_q22_")
    replay(spark, os.path.join(d, "t"), ev, n_batches=3, n_buckets=8,
           mode="mor", compact_every=2, pipeline_depth=2)
    t = LakeTable(spark, os.path.join(d, "t"))
    return t.read().select(
        "user_id",
        F.col("event_type").alias("last_op"),
        _dec2("value").cast("double").alias("last_value"),
    )


@_q("q23_order_limit", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""")
def q23(spark, sf):
    """Global sort + limit with deterministic tiebreak (ref O1/O2)."""
    o = _t(spark, sf, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10).select(
        "o_orderkey", "o_totalprice")


@_q("q24_rollup", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q24(spark, sf):
    """Grouping-set rollup (not in the reference — pandas can't; free in
    Spark/Catalyst, SURVEY §2.5 note)."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty"),
    )


@_q("q25_hourly_window", """
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
""")
def q25(spark, sf):
    """Tumbling-window metrics rollup (streaming analog; engine lineage
    metrics use the same shape)."""
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
    ).agg(F.count("*").alias("n"))


@_q("q26_multi_join_star", """
SELECT n.n_name AS nation, r.r_name AS region, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name
""")
def q26(spark, sf):
    """Star-schema multi-join with two broadcastable dims (ref J1 applied
    twice: protein_protein_string.py resolves both endpoints)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.count("*").alias("n_customers"),
             F.sum(_dec2("c_acctbal")).cast("double").alias("total_bal"))
    )


# ----------------------------------------------- training-data text pipeline

@_q("q30_token_stats", """
SELECT lang,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang
""")
def q30(spark, sf):
    """Token counting over the documents corpus (whitespace tokenizer —
    training-data pipeline requirement)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"), F.max("n_chars").alias("max_chars"),
        F.count("*").alias("n_docs"),
    )


@_q("q31_exact_dedup", """
SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
FROM documents GROUP BY lang
""")
def q31(spark, sf):
    """Exact dedup via content hash (hash-groupBy dedup — the scale path is
    one shuffle on the digest)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
}


def _lang_sql_count(lang: str) -> str:
    lst = "[" + ",".join(f"'{w}'" for w in _LANG_MARKERS[lang]) + "]"
    return (f"len(list_filter(string_split(lower(text), ' '), "
            f"x -> list_contains({lst}, x)))")


@_q("q32_lang_id", f"""
SELECT predicted, lang AS labeled, COUNT(*) AS n FROM (
  SELECT lang,
    CASE WHEN {_lang_sql_count("en")} >= {_lang_sql_count("es")}
          AND {_lang_sql_count("en")} >= {_lang_sql_count("de")}
          AND {_lang_sql_count("en")} > 0 THEN 'en'
         WHEN {_lang_sql_count("es")} >= {_lang_sql_count("de")}
          AND {_lang_sql_count("es")} > 0 THEN 'es'
         WHEN {_lang_sql_count("de")} > 0 THEN 'de'
         ELSE 'und' END AS predicted
  FROM documents) x
GROUP BY predicted, labeled
""")
def q32(spark, sf):
    """Marker-stopword language-ID confusion matrix (n-gram-heuristic
    lang-ID as pure JVM expressions — no Python in the hot path). One
    tokenize per row + array-literal membership filters instead of a
    regex scan per language (3 regexp_extract_all passes were the
    costliest expression in the round-1 bench — ~2x faster this way,
    same marker-count semantics on whole tokens)."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.lower("text"), " ")
    counts = {
        lang: F.size(F.filter(
            toks, lambda x: F.array_contains(
                F.array(*[F.lit(w) for w in words]), x)))
        for lang, words in _LANG_MARKERS.items()
    }
    predicted = (
        F.when((counts["en"] >= counts["es"]) & (counts["en"] >= counts["de"])
               & (counts["en"] > 0), "en")
        .when((counts["es"] >= counts["de"]) & (counts["es"] > 0), "es")
        .when(counts["de"] > 0, "de")
        .otherwise("und")
    )
    return d.select(predicted.alias("predicted"), F.col("lang").alias("labeled")) \
            .groupBy("predicted", "labeled").agg(F.count("*").alias("n"))


@_q("q33_quality_score", """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE n_chars >= 100
                        AND len(string_split(text, ' ')) >= 20) AS n_quality,
       CAST(floor(SUM(CASE WHEN n_chars >= 100
                 AND len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END) * 100.0
         / COUNT(*)) AS BIGINT) AS pct_quality
FROM documents GROUP BY source
""")
def q33(spark, sf):
    """Quality gate: length + token-count thresholds per source (quality
    scoring stage of a training-data pipeline; integer pct for exactness)."""
    d = _t(spark, sf, "documents")
    is_q = (F.col("n_chars") >= 100) & (F.size(F.split("text", " ")) >= 20)
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(is_q, 1)).alias("n_quality"),
        F.floor(F.sum(F.when(is_q, 1).otherwise(0)) * 100.0 / F.count("*"))
        .cast("bigint").alias("pct_quality"),
    )


@_q("q34_minhash_bands", """
WITH shingles AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS sh
    FROM documents WHERE doc_id < 100) t
),
sigs AS (
  SELECT doc_id,
         MIN(md5(sh || '0')) AS mh0, MIN(md5(sh || '1')) AS mh1,
         MIN(md5(sh || '2')) AS mh2, MIN(md5(sh || '3')) AS mh3
  FROM shingles GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END +
        CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END +
        CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END +
        CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) AS n_bands
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE (a.mh0 = b.mh0 OR a.mh1 = b.mh1 OR a.mh2 = b.mh2 OR a.mh3 = b.mh3)
""")
def q34(spark, sf):
    """MinHash near-dup candidates: word shingles -> 4 portable MinHash
    signatures (min of md5(shingle||seed) — identical strings hash
    identically in any engine) -> band-match candidate pairs. The scale
    path joins on band buckets instead of the doc_id<100 crossjoin;
    operators/dedup.py has the bucketed variant."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    sh = d.select("doc_id", F.explode(F.split("text", " ")).alias("sh")).distinct()
    sigs = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.col("sh"), F.lit(str(i))))).alias(f"mh{i}")
        for i in range(4)
    ])
    a, b = sigs.alias("a"), sigs.alias("b")
    band_eq = [F.col(f"a.mh{i}") == F.col(f"b.mh{i}") for i in range(4)]
    n_bands = sum(F.when(eq, 1).otherwise(0) for eq in band_eq)
    cond = (F.col("a.doc_id") < F.col("b.doc_id")) & (
        band_eq[0] | band_eq[1] | band_eq[2] | band_eq[3])
    return a.join(b, cond).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        n_bands.cast("int").alias("n_bands"),
    )


@_q("q35_ngram_jaccard", """
WITH words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents WHERE doc_id < 60) t
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_common,
       (sa.n + sb.n - i.n_common) AS n_union,
       CAST(floor(i.n_common * 1000.0 / (sa.n + sb.n - i.n_common)) AS BIGINT) AS jaccard_milli
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(floor(i.n_common * 1000.0 / (sa.n + sb.n - i.n_common)) AS BIGINT) >= 500
""")
def q35(spark, sf):
    """Exact n-gram (word-set) Jaccard near-dup pairs >= 0.5, through the
    library's skew-guarded operator (operators/dedup.py.jaccard_pairs):
    candidates from tokens with document frequency <= max_token_df (here
    60 = the doc count, so the cap PROVABLY drops nothing — DF can never
    exceed the number of documents — and the oracle equality doubles as
    the cap's no-op proof), Jaccard computed exactly over full token sets.
    Integer milli-Jaccard for cross-engine exactness."""
    from epigraphdb_graph_spark.operators.dedup import jaccard_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    # share_scan stays off (the library default — opt-in eager
    # materialization): on a 60-doc demo the checkpoint job costs more
    # than the recomputes it saves
    pairs = jaccard_pairs(d, min_jaccard=0.0, max_token_df=60,
                          share_scan=False)
    return (
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
            "n_common", "n_union",
            F.floor(F.col("n_common") * 1000.0 / F.col("n_union"))
            .cast("bigint").alias("jaccard_milli"),
        )
        .filter(F.col("jaccard_milli") >= 500)
    )


@_q("q36_ann_cosine_topk", """
WITH q AS (SELECT embedding AS e0 FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, sim_milli FROM (
  SELECT vec_id, label,
         CAST(floor(list_cosine_similarity(embedding::DOUBLE[], (SELECT e0 FROM q)::DOUBLE[]) * 10000) AS BIGINT) AS sim_milli,
         ROW_NUMBER() OVER (
           ORDER BY CAST(floor(list_cosine_similarity(embedding::DOUBLE[], (SELECT e0 FROM q)::DOUBLE[]) * 10000) AS BIGINT) DESC,
                    vec_id ASC) AS rn
  FROM embeddings WHERE vec_id <> 0) x
WHERE rn <= 10
""")
def q36(spark, sf):
    """Brute-force cosine top-k ANN baseline over array<float> embeddings —
    dot/norms via JVM-side higher-order functions (F.aggregate/zip_with, no
    UDF). Similarity quantized to int 1e-4 grid for cross-engine ranking
    determinism; operators/similarity.py has the LSH-bucketed scale path."""
    e = _t(spark, sf, "embeddings")
    q0 = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("e0"))
    j = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q0))

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cos = dot(F.col("embedding"), F.col("e0")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("e0"), F.col("e0")))
    )
    sim = F.floor(cos * 10000).cast("bigint")
    w = W.orderBy(F.desc("sim_milli"), F.asc("vec_id"))
    return (
        j.select("vec_id", "label", sim.alias("sim_milli"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 10").drop("rn")
    )


@_q("q37_embedding_neardup", """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 10000) AS BIGINT) AS sim_milli
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 150 AND b.vec_id < 150
  AND floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 10000) >= 2500
""")
def q37(spark, sf):
    """Embedding-cosine near-dup pairs above threshold (bounded crossjoin
    here; the scale path pre-buckets by LSH sign-bits —
    operators/similarity.py.cosine_neardup_pairs)."""
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 150)
    a = e.alias("a")
    b = e.alias("b")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)

    ea, eb = F.col("a.embedding"), F.col("b.embedding")
    cos = dot(ea, eb) / (F.sqrt(dot(ea, ea)) * F.sqrt(dot(eb, eb)))
    sim = F.floor(cos * 10000).cast("bigint")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                sim.alias("sim_milli"))
        .filter(F.col("sim_milli") >= 2500)
    )


@_q("q27_consolidate_sources", """
SELECT COALESCE(a.k, b.k) AS k,
       COALESCE(a.name, NULL) AS name,
       b.n_cust AS n_cust,
       CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN 'cust_stats;nations'
            WHEN a.k IS NOT NULL THEN 'nations' ELSE 'cust_stats' END AS sources
FROM (SELECT n_nationkey AS k, n_name AS name FROM nation) a
FULL OUTER JOIN
     (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) b
ON a.k = b.k
""")
def q27(spark, sf):
    """Multi-source consolidation through the library operator (ref J5/A4:
    graph_build/merge_sources.py:162-195 — priority first-non-null +
    provenance collection in ONE shuffle instead of N-way outer joins)."""
    from epigraphdb_graph_spark.operators.consolidate import consolidate_sources

    nations = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("name"))
    cust = _t(spark, sf, "customer").groupBy(
        F.col("c_nationkey").alias("k")).agg(F.count("*").alias("n_cust"))
    out = consolidate_sources([("nations", nations), ("cust_stats", cust)], key="k")
    return out.select(
        "k", "name", "n_cust",
        F.array_join(F.sort_array(F.col("_source")), ";").alias("sources"),
    )


@_q("q38_text_quality", """
SELECT source,
       CAST(SUM(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))) AS BIGINT) AS bpe_tokens,
       CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS ws_tokens,
       CAST(SUM(floor(1000.0 * (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / greatest(length(text), 1))) AS BIGINT) AS punct_milli
FROM documents GROUP BY source
""")
def q38(spark, sf):
    """Text-quality statistics via functions/text.py column expressions
    (training-data pipeline; all whole-stage-codegen, no UDFs).
    Milli-quantized ratio sums for cross-engine exactness."""
    from epigraphdb_graph_spark.functions.text import (
        bpe_token_count, punct_ratio, ws_token_count)

    d = _t(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.sum(bpe_token_count(F.col("text"))).cast("bigint").alias("bpe_tokens"),
        F.sum(ws_token_count(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.sum(F.floor(punct_ratio(F.col("text")) * 1000)).cast("bigint").alias("punct_milli"),
    )


@_q("q45_above_group_avg", """
SELECT c_custkey, c_nationkey,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
FROM customer c
WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
""")
def q45(spark, sf):
    """Correlated-subquery semantics (above-per-group-average), expressed
    the Spark-idiomatic way: one window average instead of a rescan per
    outer row — same result, single shuffle."""
    c = _t(spark, sf, "customer")
    w = W.partitionBy("c_nationkey")
    return (
        c.withColumn("_avg", F.avg("c_acctbal").over(w))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", "c_nationkey",
                _dec2("c_acctbal").cast("double").alias("bal"))
    )


@_q("q46_intersect", """
SELECT nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
""")
def q46(spark, sf):
    """Set intersection (SURVEY U3 — unused by the reference, which used
    isin/semi-joins; completes the set-op family)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.intersect(s)


@_q("q44_profile", """
SELECT 'n_nationkey' AS column, COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE n_nationkey IS NULL) AS n_null,
       COUNT(DISTINCT n_nationkey) AS n_distinct,
       CAST(MIN(n_nationkey) AS VARCHAR) AS min, CAST(MAX(n_nationkey) AS VARCHAR) AS max
FROM nation
UNION ALL
SELECT 'n_name', COUNT(*), COUNT(*) FILTER (WHERE n_name IS NULL),
       COUNT(DISTINCT n_name), MIN(n_name), MAX(n_name) FROM nation
UNION ALL
SELECT 'n_regionkey', COUNT(*), COUNT(*) FILTER (WHERE n_regionkey IS NULL),
       COUNT(DISTINCT n_regionkey),
       CAST(MIN(n_regionkey) AS VARCHAR), CAST(MAX(n_regionkey) AS VARCHAR) FROM nation
""")
def q44(spark, sf):
    """Single-pass dataset profiling sink (ref K6: pandas-profiling sample,
    utils/writers.py:276-284 — as a queryable metrics frame; one
    aggregation job for every column's stats)."""
    from epigraphdb_graph_spark.functions.profile import profile_table

    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    return profile_table(n, approx_distinct=False).select(
        "column", "n_rows", "n_null", "n_distinct", "min", "max")


# ---------------------------------------------------------------------------
# Formerly rows-only queries, re-expressed with cross-engine oracles
# (round-2: every queries() entry carries a DuckDB oracle).
# Portability tricks used:
#   - md5 hex is identical in every engine -> portable MinHash/SimHash/
#     winnowing hash families (the q34 trick, generalized);
#   - LSH candidate sets feed an EXACT verify whose threshold the banding
#     parameters provably (simhash pigeonhole) or deterministically-
#     verifiably (minhash band math at the chosen threshold) recall 100%
#     of, so the final output equals the brute-force oracle;
#   - float features are milli-quantized (q36 convention).
# ---------------------------------------------------------------------------

# 16-bit portable simhash: bit i = high bit of hex digit i of md5(token).
_SIMHASH_W = 16
_HEXHI = "('8','9','a','b','c','d','e','f')"
_SIMHASH_SQL_BITS = ",\n".join(
    f"    SUM(CASE WHEN substr(md5(t), {i + 1}, 1) IN {_HEXHI} "
    f"THEN w ELSE -w END) AS b{i}"
    for i in range(_SIMHASH_W)
)
_SIMHASH_SQL_FP = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_W)
)


def _simhash_sql(doc_filter: str) -> str:
    return f"""
toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
  FROM documents {doc_filter}
),
w AS (SELECT doc_id, t, COUNT(*) AS w FROM toks GROUP BY doc_id, t),
bits AS (
  SELECT doc_id,
{_SIMHASH_SQL_BITS}
  FROM w GROUP BY doc_id
),
fps AS (SELECT doc_id, CAST({_SIMHASH_SQL_FP} AS BIGINT) AS simhash FROM bits)
"""


@_q("q41_simhash", f"""
WITH {_simhash_sql("")}
SELECT doc_id, simhash FROM fps
""")
def q41(spark, sf):
    """Weighted-token SimHash fingerprint (operators/dedup.py
    .simhash_portable): md5-high-bit hash family so the DuckDB oracle
    recomputes the exact fingerprint. Production path is simhash64
    (xxhash64, one 64-bit hash per token); identical aggregation shape —
    per-token weight agg + width bit-sum aggs, all map-side combinable."""
    from epigraphdb_graph_spark.operators.dedup import simhash_portable

    d = _t(spark, sf, "documents")
    return simhash_portable(d, width=_SIMHASH_W).select(
        F.col("_id").alias("doc_id"), "simhash")


@_q("q29_simhash_pairs", f"""
WITH {_simhash_sql("WHERE doc_id < 300")}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")
def q29(spark, sf):
    """SimHash near-dup pairs within hamming<=3 via pigeonhole banding
    (operators/dedup.py.simhash_pairs_from_fp): with n_bands > max_hamming
    the banded candidate set provably contains every pair within the
    bound (recall = 1, not probabilistic), so the bucket-join plan equals
    the oracle's all-pairs scan exactly."""
    from epigraphdb_graph_spark.operators.dedup import (
        simhash_pairs_from_fp, simhash_portable)

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    fps = simhash_portable(d, width=_SIMHASH_W)
    return simhash_pairs_from_fp(
        fps, width=_SIMHASH_W, max_hamming=3, n_bands=4
    ).withColumn("hamming", F.col("hamming").cast("bigint"))


@_q("q28_minhash_lsh_pairs", """
WITH words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents WHERE doc_id < 300) t
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
       CAST(floor(i.n_common * 1000.0 / (sa.n + sb.n - i.n_common)) AS BIGINT) AS jaccard_milli
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(floor(i.n_common * 1000.0 / (sa.n + sb.n - i.n_common)) AS BIGINT) >= 800
""")
def q28(spark, sf):
    """Scale-path near-dup detection: MinHash-LSH banded candidates
    (operators/dedup.py — bucket join, never an all-pairs crossjoin)
    -> EXACT Jaccard verify on candidates only. The oracle is the
    brute-force ground truth at jaccard >= 0.8; the plans match because
    2-row/16-band banding misses a 0.8-pair with p = (1-0.8^2)^16 ~ 8e-8
    (and deterministically finds all of them on this fixture — verified).
    At corpus scale only the candidate set (o(n^2)) is ever verified."""
    from epigraphdb_graph_spark.operators.dedup import minhash_candidate_pairs

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    # ONE tokenization pass shared by signature generation AND the exact
    # verify (localCheckpoint) — without this the corpus is re-scanned and
    # re-exploded by every downstream consumer (plan-audit finding)
    shared = (
        d.select(F.col("doc_id").alias("_id"),
                 F.explode(F.split("text", " ")).alias("_sh"))
        .distinct().localCheckpoint(eager=True)
    )
    cand = minhash_candidate_pairs(d, n_hashes=32, n_bands=16, shingles=shared)
    words = shared.select(F.col("_id").alias("doc_id"), F.col("_sh").alias("w"))
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n"))
    # exact intersection restricted to candidates: fan each pair over
    # id_a's tokens, semi-join against id_b's tokens (same shape as
    # operators.dedup.jaccard_pairs' verify stage)
    wa = words.select(F.col("doc_id").alias("id_a"), F.col("w").alias("_w"))
    wb = words.select(F.col("doc_id").alias("id_b"), F.col("w").alias("_w"))
    inter = (
        cand.join(wa, "id_a").join(wb, ["id_b", "_w"], "left_semi")
        .groupBy("id_a", "id_b").agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jm = F.floor(F.col("n_common") * 1000.0
                 / (F.col("na") + F.col("nb") - F.col("n_common"))).cast("bigint")
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", jm.alias("jaccard_milli"))
        .filter(F.col("jaccard_milli") >= 800)
    )


# q39: cross-engine-reproducible multi-probe LSH. Integer-quantized sign
# signatures (operators/similarity.py.int_signature) make the bucket
# assignment EXACT integer arithmetic, so the DuckDB oracle recomputes the
# identical LSH — candidates, scores, and top-k all match by construction.
_Q39_DIM, _Q39_PLANES_N, _Q39_PROBE = 64, 8, 2


def _q39_planes():
    from epigraphdb_graph_spark.operators.similarity import lcg_planes_int

    return lcg_planes_int(_Q39_DIM, _Q39_PLANES_N)


def _q39_sig_sql(emb: str) -> str:
    """DuckDB twin of int_signature over a DOUBLE[] column expr ``emb``."""
    bits = []
    for p, plane in enumerate(_q39_planes()):
        lit = "[" + ",".join(str(w) for w in plane) + "]"
        dp = (f"list_reduce(list_transform(range(1, {_Q39_DIM + 1}), "
              f"i -> CAST(floor({emb}[i] * 1000000.0) AS BIGINT) * ({lit})[i]), "
              f"(a, b) -> a + b)")
        bits.append(f"(CASE WHEN {dp} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


@_q("q39_ann_lsh", f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT emb AS e0 FROM e WHERE vec_id = 0),
qs AS (SELECT {_q39_sig_sql("e0")} AS qsig FROM q),
sigs AS (
  SELECT vec_id, label, emb, {_q39_sig_sql("emb")} AS sig
  FROM e WHERE vec_id <> 0
)
SELECT vec_id, label, sim_milli FROM (
  SELECT vec_id, label,
         CAST(floor(list_cosine_similarity(emb, (SELECT e0 FROM q)) * 10000) AS BIGINT) AS sim_milli,
         ROW_NUMBER() OVER (
           ORDER BY CAST(floor(list_cosine_similarity(emb, (SELECT e0 FROM q)) * 10000) AS BIGINT) DESC,
                    vec_id ASC) AS rn
  FROM sigs WHERE bit_count(xor(sig, (SELECT qsig FROM qs))) <= {_Q39_PROBE}) x
WHERE rn <= 10
""")
def q39(spark, sf):
    """Multi-probe LSH approximate top-k — the bucket-pruned scale path of
    q36's brute-force scan. Signatures are integer-exact
    (floor-quantized embedding · integer LCG planes — similarity.py
    .int_signature), so the oracle reproduces the exact same buckets,
    candidate set (~20% of rows at probe<=2 of 8 planes), and ranking;
    no float-summation-order hazard anywhere in the bucket math. At scale
    the bucketed table is partitioned by signature and a probe reads only
    the matching partitions. Recall-vs-exact is covered by the pytest
    recall test on the Gaussian-plane production path."""
    from epigraphdb_graph_spark.operators.similarity import (
        int_signature, int_signature_py)

    e = _t(spark, sf, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row["embedding"]]
    planes = _q39_planes()
    qsig = int_signature_py(qv, planes)
    cand = (
        e.filter(F.col("vec_id") != 0)
        .withColumn("_sig", int_signature(F.col("embedding"), planes))
        .filter(F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= _Q39_PROBE)
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)

    qc = F.array(*[F.lit(v) for v in qv])
    cos = dot(F.col("embedding"), qc) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(qc, qc)))
    w = W.orderBy(F.desc("sim_milli"), F.asc("vec_id"))
    return (
        cand.select("vec_id", "label",
                    F.floor(cos * 10000).cast("bigint").alias("sim_milli"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 10").drop("rn")
    )


@_q("q42_multimodal_features", """
WITH m AS (
  SELECT doc_id AS id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text, length(text) AS n
  FROM documents
),
b AS (
  SELECT id, kind, n, i % 16 AS slot, ord(substr(text, i + 1, 1)) AS byte
  FROM m, UNNEST(range(0, n)) AS t(i)
)
SELECT id, ANY_VALUE(kind) AS kind, CAST(ANY_VALUE(n) AS BIGINT) AS n_bytes,
       CAST(floor(1000.0 * (SUM(CASE WHEN slot = 0 THEN byte ELSE 0 END) / ANY_VALUE(n))) AS BIGINT) AS feat0_milli,
       CAST(floor(1000.0 * (SUM(CASE WHEN slot = 7 THEN byte ELSE 0 END) / ANY_VALUE(n))) AS BIGINT) AS feat7_milli,
       CAST(floor(1000.0 * (SUM(CASE WHEN slot = 15 THEN byte ELSE 0 END) / ANY_VALUE(n))) AS BIGINT) AS feat15_milli
FROM b GROUP BY id
""")
def q42(spark, sf):
    """Multimodal feature-extraction plumbing: binary media payloads ->
    Arrow-batched mapInPandas features (functions/multimodal.py). The
    decode kernel is a deterministic stub (no codec libs in the sandbox:
    byte-histogram moments — exactly recomputable from the payload bytes,
    which is what makes this oracle-checkable); the Spark-side plumbing
    (binary columns, batch capping, schema, column pruning) is the real
    production shape. Payloads here are the documents' utf-8 bytes so the
    oracle can reproduce them; synthesize_media covers the pure-binary
    test path."""
    from epigraphdb_graph_spark.functions.multimodal import extract_features

    d = _t(spark, sf, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    media = d.select(
        F.col("doc_id").alias("id"), kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"))
    feats = extract_features(media, batch_rows=128)
    milli = lambda i: F.floor(1000.0 * F.element_at("feature", i + 1)).cast("bigint")  # noqa: E731
    return feats.select(
        "id", "kind", "n_bytes",
        milli(0).alias("feat0_milli"),
        milli(7).alias("feat7_milli"),
        milli(15).alias("feat15_milli"),
    )


@_q("q43_doc_fingerprints", """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200
),
wins AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(toks[i + 1:i + 6], ' ')) AS fp
  FROM docs, UNNEST(range(0, greatest(len(toks) - 6, 0) + 1)) AS t(i)
),
keep AS (SELECT doc_id, fp FROM wins WHERE substr(fp, 32, 1) IN ('0','4','8','c'))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fingerprints
FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""")
def q43(spark, sf):
    """Winnowing-style document fingerprints -> shared-passage containment
    pairs: 6-token rolling windows, md5 fingerprint (portable hash family
    — oracle recomputes it; functions/text.py.rolling_fingerprints is the
    xxhash64 production variant), keep-1-in-4 selection by the hash's low
    hex digit, then a self-join on the fingerprint (shuffle on hash — the
    crossjoin never materializes)."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 6, F.lit(0)))
    fps = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(toks, i + 1, 6), " ")))
    keep = d.select(
        "doc_id",
        F.explode(fps).alias("fp"),
    ).filter(F.substring("fp", 32, 1).isin("0", "4", "8", "c")).distinct()
    a, b = keep.alias("a"), keep.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared_fingerprints"))
    )


@_q("q40_extraction_udf", """
SELECT doc_id,
       array_to_string(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), ' ') AS text,
       CAST(length(array_to_string(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), ' ')) AS BIGINT) AS text_len
FROM documents
""")
def q40(spark, sf):
    """html→text extraction through the vectorized pandas UDF over a
    binary column synthesized from documents (engine input_hint path).
    On `<p>`-wrapped input, extract_text reduces to tag-strip +
    whitespace-normalize, which the oracle reproduces byte-for-byte with
    a split/filter/join chain (the full byte-identity contract incl.
    script/comment stripping and entity unescape is pytest-verified
    against the shared pure function in tests/test_functions.py)."""
    from epigraphdb_graph_spark.functions.extract import extract_text_udf

    d = _t(spark, sf, "documents")
    html = F.encode(
        F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")),
        "UTF-8",
    )
    return d.select(
        "doc_id", html.alias("html")
    ).withColumn("text", extract_text_udf("html")).select(
        "doc_id", "text", F.length("text").cast("bigint").alias("text_len")
    )


# ------------------------------------------------ round-2 join-family gaps


@_q("q47_ci_name_join", """
SELECT n.n_nationkey AS nationkey, n.n_name AS name, u.uname AS label
FROM nation n
JOIN (SELECT DISTINCT upper(n_name) AS uname FROM nation) u
  ON lower(n.n_name) = lower(u.uname)
""")
def q47(spark, sf):
    """Case-insensitive expression join (SURVEY J7; ref
    nodes/disease/mondo.py:144-157, nodes/literature_term/semmed.py:108 —
    lower(name)==lower(label) matching of curated labels). Catalyst
    evaluates lower() on both join keys inside the hash join; the small
    label side is broadcast."""
    n = _t(spark, sf, "nation")
    labels = n.select(F.upper("n_name").alias("uname")).distinct()
    return (
        n.join(F.broadcast(labels),
               F.lower(F.col("n_name")) == F.lower(F.col("uname")))
        .select(F.col("n_nationkey").alias("nationkey"),
                F.col("n_name").alias("name"),
                F.col("uname").alias("label"))
    )


@_q("q48_right_join_top1", """
SELECT c_custkey, o_orderkey, order_ts FROM (
  SELECT c.c_custkey, o.o_orderkey, o.o_orderdate AS order_ts,
         ROW_NUMBER() OVER (
           PARTITION BY c.c_custkey
           ORDER BY o.o_orderdate DESC NULLS LAST,
                    o.o_orderkey DESC NULLS LAST) AS rn
  FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey) x
WHERE rn = 1
""")
def q48(spark, sf):
    """Right join preserving unmatched rows + top-1-per-key dedup (SURVEY
    J3; ref nodes/literature/semrep-biorxiv.py:40-44 — right-merge then
    drop_duplicates keep-latest). Customers with no orders survive with
    null order columns; per customer the latest order wins via a window
    with explicit null ordering (cross-engine deterministic)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"], "right").select(
        "c_custkey", "o_orderkey", F.col("o_orderdate").alias("order_ts"))
    w = W.partitionBy("c_custkey").orderBy(
        F.col("order_ts").desc_nulls_last(),
        F.col("o_orderkey").desc_nulls_last())
    return j.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")


# -------------------------------------- round-2: former "partial" items
# (P6/P10 string predicates, F7 dict lookup, F10 math fns, O3 sample, J6)


@_q("q49_prefix_substring", """
SELECT p_partkey, p_name, p_type,
       CASE WHEN p_name LIKE 'small%' THEN 'prefix' ELSE 'contains' END AS matched_by
FROM part
WHERE p_name LIKE 'small%' OR p_name LIKE '%widget%'
""")
def q49(spark, sf):
    """String-prefix + substring predicates (SURVEY P6/P10; ref startswith
    filters nodes/gene/biomart.py-style and str.contains selections).
    Both forms compile to Catalyst StartsWith/Contains and push into the
    parquet scan as string-range / substring filters."""
    p = _t(spark, sf, "part")
    prefix = F.col("p_name").startswith("small")
    sub = F.col("p_name").contains("widget")
    return p.filter(prefix | sub).select(
        "p_partkey", "p_name", "p_type",
        F.when(prefix, "prefix").otherwise("contains").alias("matched_by"))


@_q("q50_dict_lookup", """
SELECT r_regionkey, r_name,
       CASE r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
                   WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
                   ELSE 'XX' END AS region_code
FROM region
""")
def q50(spark, sf):
    """Dict-literal lookup column (SURVEY F7; ref .map(dict) transforms,
    e.g. chromosome-name normalization): a small in-plan `create_map`
    literal — evaluated inside codegen, no join, no broadcast, the exact
    Spark analog of pandas Series.map."""
    mapping = {"AFRICA": "AF", "AMERICA": "AM", "ASIA": "AS", "EUROPE": "EU"}
    kv = []
    for k, v in mapping.items():
        kv += [F.lit(k), F.lit(v)]
    r = _t(spark, sf, "region")
    return r.select(
        "r_regionkey", "r_name",
        F.coalesce(F.create_map(*kv)[F.col("r_name")], F.lit("XX"))
        .alias("region_code"))


@_q("q51_math_funcs", """
SELECT l_orderkey, l_linenumber,
       CAST(floor(log10(l_extendedprice) * 1000) AS BIGINT) AS log10_milli,
       CAST(floor(ln(l_extendedprice + 1) * 1000) AS BIGINT) AS ln_milli,
       CAST(floor(sqrt(l_quantity) * 1000) AS BIGINT) AS sqrt_milli,
       CAST(floor(power(l_discount, 2) * 1000000) AS BIGINT) AS disc_sq_micro
FROM lineitem WHERE l_orderkey < 100
""")
def q51(spark, sf):
    """Math function family (SURVEY F10; ref -log10(pval) transforms in
    the GWAS scripts): log10/ln/sqrt/pow as JVM intrinsics, milli-
    quantized for cross-engine float exactness."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 100)
    m = lambda c, s: F.floor(c * s).cast("bigint")  # noqa: E731
    return li.select(
        "l_orderkey", "l_linenumber",
        m(F.log10("l_extendedprice"), 1000).alias("log10_milli"),
        m(F.log(F.col("l_extendedprice") + 1), 1000).alias("ln_milli"),
        m(F.sqrt("l_quantity"), 1000).alias("sqrt_milli"),
        m(F.pow("l_discount", 2), 1000000).alias("disc_sq_micro"))


@_q("q52_deterministic_sample", """
SELECT c_custkey, c_nationkey FROM customer
WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0', '1')
""")
def q52(spark, sf):
    """Deterministic ~12.5% sample (SURVEY O3): hash-mod on the key via a
    portable hash, so the sample is reproducible across engines, runs,
    and partitionings — unlike rand()-based sampling, this is stable
    under retries/re-partitioning (the property a 100-TB pipeline
    actually needs from its sampling stage) and SQL-verifiable."""
    c = _t(spark, sf, "customer")
    return c.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1)
        .isin("0", "1")
    ).select("c_custkey", "c_nationkey")


@_q("q53_alt_key_join_union", """
WITH dirty AS (
  SELECT CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey END AS maybe_key,
         upper(n_name) AS label
  FROM nation
),
by_id AS (
  SELECT n.n_nationkey AS nationkey, d.label, 'id' AS via
  FROM dirty d JOIN nation n ON d.maybe_key = n.n_nationkey
),
by_name AS (
  SELECT n.n_nationkey AS nationkey, d.label, 'name' AS via
  FROM dirty d JOIN nation n ON lower(d.label) = lower(n.n_name)
  WHERE d.maybe_key IS NULL
)
SELECT * FROM by_id UNION SELECT * FROM by_name
""")
def q53(spark, sf):
    """Alternate-key join + union (SURVEY J6; ref mondo consolidation:
    rows carrying a curie id join by id, the rest fall back to a
    case-insensitive name join, results unioned). Both branches are
    broadcast joins against the small reference side."""
    n = _t(spark, sf, "nation")
    dirty = n.select(
        F.when(F.col("n_nationkey") % 2 == 0, F.col("n_nationkey"))
        .alias("maybe_key"),
        F.upper("n_name").alias("label"))
    by_id = dirty.join(
        F.broadcast(n), dirty["maybe_key"] == n["n_nationkey"]).select(
        F.col("n_nationkey").alias("nationkey"), "label", F.lit("id").alias("via"))
    by_name = dirty.filter(F.col("maybe_key").isNull()).join(
        F.broadcast(n), F.lower(dirty["label"]) == F.lower(n["n_name"])).select(
        F.col("n_nationkey").alias("nationkey"), "label", F.lit("name").alias("via"))
    return by_id.unionByName(by_name).distinct()


@_q("q54_change_feed", """
WITH k AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS half FROM events),
s1 AS (
  SELECT user_id, ts, event_id FROM (
    SELECT user_id, ts, event_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id < (SELECT half FROM k)) x
  WHERE rn = 1 AND event_type <> 'error'
),
s2 AS (
  SELECT user_id, ts, event_id FROM (
    SELECT user_id, ts, event_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) x
  WHERE rn = 1 AND event_type <> 'error'
)
SELECT change_type, url FROM (
  SELECT CASE WHEN s1.user_id IS NULL THEN 'insert'
              WHEN s2.user_id IS NULL THEN 'delete'
              WHEN s1.ts <> s2.ts OR s1.event_id <> s2.event_id THEN 'update'
         END AS change_type,
         concat('https://site.example.org/u/',
                COALESCE(s2.user_id, s1.user_id)) AS url
  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id) d
WHERE change_type IS NOT NULL
""")
def q54(spark, sf):
    """Change-data-feed OUT of the lake (Iceberg changelog / Delta CDF
    analog, plans/lake.py.changes): replay the first half of the event
    log (snapshot v1) then the rest (v2) through the engine and emit the
    bucket-pruned per-key net diff between the two committed snapshots.
    The oracle recomputes both LWW states in SQL and diffs them — every
    insert/update/delete the feed reports must match the state diff
    exactly (deletes = keys tombstoned between the versions)."""
    import tempfile

    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import apply_batch

    ev = _t(spark, sf, "events").select(
        F.col("event_id").alias("event_seq"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("update").alias("op"),
        F.concat(F.lit("https://site.example.org/u/"),
                 F.col("user_id")).alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("binary"))
        .otherwise(F.encode(F.concat(F.lit("<p>"), F.col("props"),
                                     F.lit("</p>")), "UTF-8")).alias("html"),
    )
    half = ev.agg(F.max("event_seq")).first()[0] // 2
    from pyspark.sql import types as T

    from epigraphdb_graph_spark.schema import PAGES_SCHEMA

    schema = T.StructType([f for f in PAGES_SCHEMA.fields if f.name != "lang"])
    path = tempfile.mkdtemp(prefix="q54_lake_") + "/t"
    table = LakeTable.create(spark, path, schema, key="url", n_buckets=8)
    apply_batch(table, ev.filter(F.col("event_seq") < half), batch_id="cdc:0")
    v1 = table.current_version()
    apply_batch(table, ev.filter(F.col("event_seq") >= half), batch_id="cdc:1")
    v2 = table.current_version()
    return table.changes(v1, v2).select(
        F.col("_change_type").alias("change_type"), "url")


@_q("q55_quantiles", """
SELECT l_returnflag,
       CAST(floor(quantile_cont(l_extendedprice, 0.25) * 1000) AS BIGINT) AS p25_milli,
       CAST(floor(quantile_cont(l_extendedprice, 0.50) * 1000) AS BIGINT) AS p50_milli,
       CAST(floor(quantile_cont(l_extendedprice, 0.75) * 1000) AS BIGINT) AS p75_milli,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
""")
def q55(spark, sf):
    """Exact grouped quantiles (profiling-stage statistic; SURVEY A5/K6
    extension): continuous-interpolation percentiles, milli-quantized.
    Exact percentile needs a per-group sort — right for profiling runs;
    streaming/huge-cardinality paths would use approx_percentile's
    t-digest sketch (mergeable, one pass) at the cost of oracle
    exactness."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.floor(F.percentile("l_extendedprice", F.lit(0.25)) * 1000)
        .cast("bigint").alias("p25_milli"),
        F.floor(F.percentile("l_extendedprice", F.lit(0.50)) * 1000)
        .cast("bigint").alias("p50_milli"),
        F.floor(F.percentile("l_extendedprice", F.lit(0.75)) * 1000)
        .cast("bigint").alias("p75_milli"),
        F.count("*").alias("n"),
    )


@_q("q56_corpus_clean", """
WITH gated AS (
  SELECT doc_id, text FROM documents
  WHERE length(text) >= 100 AND len(string_split_regex(text, '\\s+')) >= 20
),
exact AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated) x WHERE rn = 1
),
words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM exact) t
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
victims AS (
  SELECT DISTINCT p.id_b AS doc_id
  FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a
               JOIN sizes sb ON sb.doc_id = p.id_b
  WHERE p.c * 1000 >= 800 * (sa.n + sb.n - p.c)
)
SELECT e.doc_id, length(e.text) AS text_len FROM exact e
WHERE e.doc_id NOT IN (SELECT doc_id FROM victims)
""")
def q56(spark, sf):
    """The composed training-data cleaning pipeline
    (operators/pipeline.py.clean_corpus): quality gate -> exact dedup
    (min-id representative) -> MinHash-LSH candidates + exact-Jaccard
    verify -> greedy-by-id near-dup removal at J>=0.8. The oracle
    recomputes every stage in SQL with brute-force pairs as ground truth
    — equality certifies both the stage semantics AND that the banded
    candidate generation recalls every >=0.8 pair on this corpus. Exact
    dedup here keys on md5(text) for oracle portability; the library
    default is xxhash64."""
    from epigraphdb_graph_spark.operators.pipeline import clean_corpus

    d = _t(spark, sf, "documents").select("doc_id", "text")
    out = clean_corpus(d, min_chars=100, min_tokens=20,
                       near_dup_jaccard=0.8, n_hashes=32, n_bands=16)
    return out.select("doc_id", F.length("text").cast("bigint").alias("text_len"))


@_q("q57_image_header_probe", """
SELECT doc_id AS id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
       CAST(doc_id % 640 + 16 AS INT) AS width,
       CAST((doc_id * 7) % 480 + 16 AS INT) AS height
FROM documents WHERE doc_id < 200
""")
def q57(spark, sf):
    """REAL image decode at the container level (round-2 de-stub item):
    spec-valid PNG / JPEG / GIF byte streams are synthesized in an Arrow
    batch step with formula-determined dimensions (PNG gets a genuine
    zlib IDAT + CRCs), then functions/multimodal.parse_image_header
    recovers (format, width, height) from the BYTES alone — PNG IHDR,
    JPEG SOFn marker walk, GIF screen descriptor; no codec library. The
    oracle recomputes the dimension formula, so equality certifies the
    build->parse byte round-trip for all three container layouts."""
    import pandas as pd

    from epigraphdb_graph_spark.functions.multimodal import (
        make_gif, make_jpeg, make_png, probe_media)

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)

    def synth(batches):
        makers = {0: make_png, 1: make_jpeg, 2: make_gif}
        for pdf in batches:
            ids = pdf["doc_id"].astype(int)
            yield pd.DataFrame({
                "id": ids,
                "payload": [
                    makers[i % 3](i % 640 + 16, i * 7 % 480 + 16)
                    for i in ids
                ],
            })

    media = d.select("doc_id").mapInPandas(synth, "id long, payload binary")
    return probe_media(media).select("id", "format", "width", "height")


@_q("q62_range_join_bins", """
WITH bands(lo, hi, band) AS (VALUES
  (0.0, 5.0, 'low'), (5.0, 10.0, 'mid'), (10.0, 15.0, 'high'),
  (15.0, 1000.0, 'xl'), (8.0, 12.0, 'promo'))
SELECT e.event_id, b.band
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
""")
def q62(spark, sf):
    """Interval/range join through the bin-equi-join rewrite
    (operators/ranges.py): ranges exploded into fixed-width bins,
    equi-join on bin id + residual predicate — a hash join Catalyst can
    shuffle/broadcast instead of the O(|F|x|R|) nested loop a pure
    inequality join plans. Overlapping bands ('promo' straddles
    mid/high) prove multi-match semantics. Oracle is the plain
    inequality join."""
    from epigraphdb_graph_spark.operators.ranges import bin_range_join

    e = _t(spark, sf, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [(0.0, 5.0, "low"), (5.0, 10.0, "mid"), (10.0, 15.0, "high"),
         (15.0, 1000.0, "xl"), (8.0, 12.0, "promo")],
        "lo double, hi double, band string")
    j = bin_range_join(e, bands, value_col="value", bin_width=5.0)
    return j.select("event_id", "band")


@_q("q61_asof_join", """
WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
v AS (
  SELECT event_id AS view_event_id, user_id, ts FROM events
  WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id, v.view_event_id,
       CAST(date_diff('second', v.ts, c.ts) AS BIGINT) AS lag_s
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
""")
def q61(spark, sf):
    """Backward as-of join (operators/asof.py): each click event joined
    to the user's most recent prior-or-simultaneous view. Implemented as
    the streaming-merge form — union tagged + ONE key shuffle + running
    ``last(ignorenulls)`` window — never the O(matches)-explosion range
    join. The oracle is DuckDB's native ASOF LEFT JOIN; equality
    certifies the operator against an independent as-of implementation."""
    from epigraphdb_graph_spark.operators.asof import asof_join

    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("_vseq"),  # equal-ts tiebreak
    )
    j = asof_join(clicks, views, on="user_id",
                  right_seq="_vseq", suffix="")
    return j.select(
        "event_id", "user_id", "view_event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("view_ts"))
        .cast("bigint").alias("lag_s"),
    )


@_q("q60_session_windows", """
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_s
FROM s GROUP BY user_id, sid
""")
def q60(spark, sf):
    """Session windows (St5 family beyond tumbling): per-user sessions
    with a 30-minute inactivity gap via Spark's native
    ``F.session_window`` — the same operator a streaming query uses with
    a watermark, here batch-checkable. Spark's semantics (a session
    extends while the next event starts before previous-ts + gap, i.e. a
    gap >= 30min opens a new session) are mirrored in the oracle as a
    lag/cumsum gaps-and-islands rewrite."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.min("ts").alias("session_start"),
             F.count("*").alias("n_events"),
             (F.unix_timestamp(F.max("ts"))
              - F.unix_timestamp(F.min("ts"))).alias("span_s"))
        .select("user_id", "session_start", "n_events", "span_s")
    )


@_q("q59_av_header_probe", """
SELECT doc_id AS id,
       CASE doc_id % 2 WHEN 0 THEN 'wav' ELSE 'mp4' END AS format,
       CAST((doc_id * 37) % 600000 + 1000 AS BIGINT) AS duration_ms
FROM documents WHERE doc_id < 120
""")
def q59(spark, sf):
    """Audio/video container probing (parse_av_header): spec-valid PCM
    WAV (RIFF chunk walk, duration from data size / byte rate) and ISO
    BMFF MP4 (box walk to moov/mvhd, duration from timescale) bytes are
    synthesized with formula-determined durations, then the duration is
    recovered from the BYTES alone — the duration_ms leg of the media
    metadata schema, same round-trip proof shape as q57."""
    import pandas as pd

    from epigraphdb_graph_spark.functions.multimodal import (
        make_mp4, make_wav, probe_media)

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 120)

    def synth(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype(int)
            payloads = []
            for i in ids:
                dur = (i * 37) % 600000 + 1000
                if i % 2 == 0:
                    # 8 samples/ms at 8 kHz -> exact duration recovery
                    payloads.append(make_wav(8000, dur * 8))
                else:
                    payloads.append(make_mp4(dur))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    media = d.select("doc_id").mapInPandas(synth, "id long, payload binary")
    return probe_media(media).select("id", "format", "duration_ms")


def _q58_centroids():
    from epigraphdb_graph_spark.operators.similarity import lcg_centroids

    return lcg_centroids(64, 8, scale=500)


def _q58_sql() -> str:
    cents = _q58_centroids()
    vals = ", ".join(
        f"({c}, [{', '.join(str(v) for v in row)}])"
        for c, row in enumerate(cents)
    )
    return f"""
WITH cent(cell, cv) AS (VALUES {vals}),
qq AS (
  SELECT list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS q,
         embedding AS e0
  FROM embeddings WHERE vec_id = 0
),
probe AS (
  SELECT cell FROM (
    SELECT cell,
           list_sum(list_transform(range(1, 65), i -> (q[i] - cv[i]) * (q[i] - cv[i]))) * 8 + cell AS packed
    FROM qq, cent) ORDER BY packed LIMIT 2
),
assign AS (
  SELECT vec_id,
         CAST(MIN(list_sum(list_transform(range(1, 65), i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) * 8 + cell) % 8 AS INT) AS cell
  FROM (SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
        FROM embeddings), cent
  GROUP BY vec_id
)
SELECT vec_id, label, sim_milli FROM (
  SELECT e.vec_id, e.label,
         CAST(floor(list_cosine_similarity(e.embedding::DOUBLE[], (SELECT e0 FROM qq)::DOUBLE[]) * 10000) AS BIGINT) AS sim_milli,
         ROW_NUMBER() OVER (
           ORDER BY CAST(floor(list_cosine_similarity(e.embedding::DOUBLE[], (SELECT e0 FROM qq)::DOUBLE[]) * 10000) AS BIGINT) DESC,
                    e.vec_id ASC) AS rn
  FROM embeddings e JOIN assign a USING (vec_id)
  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM probe)) x
WHERE rn <= 10
"""


@_q("q58_ivf_ann_topk", _q58_sql())
def q58(spark, sf):
    """IVF-Flat approximate top-k (the coarse-quantizer ANN scale path
    complementing the q39 LSH): deterministic integer LCG centroids,
    integer-exact squared-L2 cell assignment (floor-quantized vectors —
    bit-identical in any engine), query probes its 2 nearest cells,
    brute-force cosine inside the probed cells only. At scale the
    assigned table is stored partitioned by cell, so a query scans
    n_probe/k of the data (operators/similarity.py ivf_assign/ivf_topk).
    The oracle recomputes centroids-from-literals, assignment, probing,
    and the in-cell top-k — equality certifies the whole index path."""
    from epigraphdb_graph_spark.operators.similarity import (
        ivf_assign, ivf_probe_cells)

    e = _t(spark, sf, "embeddings")
    cents = _q58_centroids()
    q0 = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("e0"))
    qvec = [float(x) for x in q0.first()["e0"]]
    cells = ivf_probe_cells(qvec, cents, n_probe=2)
    cand = (
        ivf_assign(e, cents)
        .filter(F.col("_ivf_cell").isin(cells) & (F.col("vec_id") != 0))
        .crossJoin(F.broadcast(q0))
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cos = dot(F.col("embedding"), F.col("e0")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("e0"), F.col("e0")))
    )
    w = W.orderBy(F.desc("sim_milli"), F.asc("vec_id"))
    return (
        cand.select("vec_id", "label",
                    F.floor(cos * 10000).cast("bigint").alias("sim_milli"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 10").drop("rn")
    )


@_q("q63_url_normalize", """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.org/p/'
           || CAST(doc_id % 7 AS VARCHAR) || '/x'
           || CAST(doc_id AS VARCHAR) || '.html'
           || CASE WHEN doc_id % 3 = 0
                   THEN '?utm_source=feed&ref=' || CAST(doc_id % 5 AS VARCHAR)
                        || '&utm_campaign=c'
                   WHEN doc_id % 3 = 1
                   THEN '?id=' || CAST(doc_id AS VARCHAR)
                   ELSE '' END AS url
  FROM documents
),
p AS (
  SELECT doc_id,
         regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
         regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
         nullif(regexp_extract(url, '\\?([^#]*)', 1), '') AS query
  FROM u
),
c AS (
  SELECT doc_id, host, path, query,
         array_to_string(
           list_filter(str_split(query, '&'),
                       x -> NOT starts_with(x, 'utm_')), '&') AS clean
  FROM p
)
SELECT doc_id, host, path,
       len(list_filter(str_split(path, '/'), x -> x <> '')) AS depth,
       host || path || CASE WHEN query IS NOT NULL AND clean <> ''
                            THEN '?' || clean ELSE '' END AS canonical
FROM c
""")
def q63(spark, sf):
    """URL normalization (functions/urls.py): host/path split via
    parse_url, path depth, utm_* tracking-param strip into a canonical
    page key — all JVM higher-order expressions, zero UDFs. Urls are
    derived deterministically from (doc_id, source) identically in both
    engines; the oracle re-implements the parsing with DuckDB regex +
    list lambdas, so equality is a genuine cross-engine semantics check
    (generalizes the reference's per-source id-curation transforms,
    workflow/scripts/rels/gwas-gencor.py:52-58)."""
    from epigraphdb_graph_spark.functions.urls import with_url_parts

    d = _t(spark, sf, "documents").select("doc_id", "source")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/p/"),
        (i % 7).cast("string"), F.lit("/x"), i.cast("string"),
        F.lit(".html"),
        F.when(i % 3 == 0, F.concat(
            F.lit("?utm_source=feed&ref="), (i % 5).cast("string"),
            F.lit("&utm_campaign=c")))
        .when(i % 3 == 1, F.concat(F.lit("?id="), i.cast("string")))
        .otherwise(F.lit("")),
    )
    return (
        with_url_parts(d.withColumn("url", url))
        .select("doc_id", "host", "path", "depth", "canonical")
    )


@_q("q67_merge_into_clauses", """
WITH base AS (
  SELECT CAST(c_custkey AS VARCHAR) AS ck, c_name AS name,
         CAST(c_acctbal AS DOUBLE) AS balance, c_mktsegment AS segment
  FROM customer),
upd AS (
  SELECT CAST(c_custkey AS VARCHAR) AS ck, c_custkey % 7 AS delta
  FROM customer WHERE c_custkey % 3 = 0),
ins AS (
  SELECT 'new:' || CAST(c_custkey AS VARCHAR) AS ck, c_custkey % 7 AS delta
  FROM customer WHERE c_custkey % 100 = 0)
SELECT b.ck, b.name,
       CASE WHEN u.ck IS NOT NULL THEN b.balance + u.delta * 10
            ELSE b.balance END AS balance,
       b.segment
FROM base b LEFT JOIN upd u USING (ck)
WHERE NOT (u.ck IS NOT NULL AND u.delta = 0)
UNION ALL
SELECT ck, 'synthetic' AS name, CAST(delta AS DOUBLE) AS balance,
       CAST(NULL AS VARCHAR) AS segment
FROM ins
""")
def q67(spark, sf):
    """Generic clause-style MERGE INTO (plans/merge_into.py) run for real:
    a lake table is bulk-loaded from customer, then one merge applies
    WHEN MATCHED DELETE (delta=0) / UPDATE (balance += delta*10) /
    WHEN NOT MATCHED INSERT, and the table's resolved state is returned.
    The oracle reconstructs the same final state in plain SQL, so
    equality certifies clause ordering, tombstoned deletes, and the
    bucket-pruned COW rewrite end-to-end (Delta/Iceberg MERGE parity;
    the reference's Neo4j MERGE-on-key analog,
    workflow/scripts/graph_build/merge_sources.py)."""
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.plans.merge_into import merge_into

    c = _t(spark, sf, "customer")
    base = c.select(
        F.col("c_custkey").cast("string").alias("ck"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    d = tempfile.mkdtemp(prefix="graft_q67_")
    t = LakeTable.create(spark, os.path.join(d, "t"), base.schema,
                         key="ck", n_buckets=8)
    t.overwrite(base)
    upd = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").cast("string").alias("ck"),
        (F.col("c_custkey") % 7).cast("long").alias("delta"))
    ins = c.filter(F.col("c_custkey") % 100 == 0).select(
        F.concat(F.lit("new:"), F.col("c_custkey").cast("string")).alias("ck"),
        (F.col("c_custkey") % 7).cast("long").alias("delta"))
    merge_into(
        t, upd.unionAll(ins),
        when_matched_delete=F.col("s.delta") == 0,
        when_matched_update={
            "balance": F.col("t.balance") + F.col("s.delta") * 10},
        when_not_matched_insert={
            "ck": F.col("s.ck"),
            "name": F.lit("synthetic"),
            "balance": F.col("s.delta").cast("double")},
        event_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    return t.read()


@_q("q68_merge_by_source", """
WITH base AS (
  SELECT CAST(c_custkey AS VARCHAR) AS ck, c_name AS name,
         CAST(c_acctbal AS DOUBLE) AS balance, c_mktsegment AS segment
  FROM customer),
src AS (
  SELECT CAST(c_custkey AS VARCHAR) AS ck, c_custkey % 9 AS delta
  FROM customer WHERE c_custkey % 2 = 0)
SELECT b.ck,
       CASE WHEN s.ck IS NULL THEN 'stale:' || b.name ELSE b.name END AS name,
       CASE WHEN s.ck IS NOT NULL THEN b.balance + s.delta
            ELSE b.balance END AS balance,
       b.segment
FROM base b LEFT JOIN src s USING (ck)
WHERE NOT (s.ck IS NULL AND b.segment = 'BUILDING')
""")
def q68(spark, sf):
    """MERGE INTO's WHEN NOT MATCHED BY SOURCE clause family (the Delta
    sync form, plans/merge_into.py): the lake table is bulk-loaded from
    customer, then one merge with src = even custkeys applies
    WHEN MATCHED UPDATE (balance += delta), WHEN NOT MATCHED BY SOURCE
    AND segment='BUILDING' THEN DELETE, and WHEN NOT MATCHED BY SOURCE
    THEN UPDATE (name marked stale). The oracle reconstructs the final
    state with a LEFT JOIN, certifying BY SOURCE clause ordering
    (delete before update), the full-bucket rewrite, and tombstoned
    deletes end-to-end."""
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.plans.merge_into import merge_into

    c = _t(spark, sf, "customer")
    base = c.select(
        F.col("c_custkey").cast("string").alias("ck"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("balance"),
        F.col("c_mktsegment").alias("segment"),
    )
    d = tempfile.mkdtemp(prefix="graft_q68_")
    t = LakeTable.create(spark, os.path.join(d, "t"), base.schema,
                         key="ck", n_buckets=8)
    t.overwrite(base)
    src = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").cast("string").alias("ck"),
        (F.col("c_custkey") % 9).cast("long").alias("delta"))
    merge_into(
        t, src,
        when_matched_update={
            "balance": F.col("t.balance") + F.col("s.delta")},
        when_not_matched_insert=None,
        when_not_matched_by_source_delete=F.col("t.segment") == "BUILDING",
        when_not_matched_by_source_update={
            "name": F.concat(F.lit("stale:"), F.col("t.name"))},
        event_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    return t.read()


@_q("q69_scattered_cdc_state", """
WITH ev AS (
  SELECT 'https://site.org/u/' || CAST(user_id AS VARCHAR) AS url,
         ts AS warc_ts, event_id AS event_seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
         props
  FROM events),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY url ORDER BY warc_ts DESC, event_seq DESC) AS rn
  FROM ev)
SELECT url, warc_ts, props AS text
FROM ranked WHERE rn = 1 AND op <> 'delete'
""")
def q69(spark, sf):
    """Serial MOR CDC replay round-trip, then a full compaction: the
    events table is cast to a change log (url=user, op: error->delete,
    html wraps props), replayed in 3 ordered micro-batches of MOR delta
    commits, compacted, and the final table state — LWW by (warc_ts, event_seq) with tombstoned
    deletes, text extracted by the byte-identical pandas UDF — must
    equal the oracle's window/filter reconstruction. The registered name
    is kept from an earlier delta layout; table state never depended on
    the layout."""
    from epigraphdb_graph_spark.plans.lake import LakeTable
    from epigraphdb_graph_spark.replay import replay

    e = _t(spark, sf, "events")
    ev = e.select(
        F.concat(F.lit("https://site.org/u/"),
                 F.col("user_id").cast("string")).alias("url"),
        # events.parquet carries TIMESTAMP_NTZ; the engine orders by a
        # session-TZ (UTC-pinned) timestamp — the cast is a stable relabel
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.col("event_id").alias("event_seq"),
        F.when(F.col("event_type") == "error", "delete")
         .otherwise("insert").alias("op"),
        F.encode(F.concat(F.lit("<p>"), F.col("props"), F.lit("</p>")),
                 "UTF-8").alias("html"),
    )
    d = tempfile.mkdtemp(prefix="graft_q69_")
    replay(spark, os.path.join(d, "t"), ev, n_batches=3, n_buckets=8,
           mode="mor")
    t = LakeTable(spark, os.path.join(d, "t"))
    t.compact()
    return t.read().select("url", "warc_ts", "text")


@_q("q66_mysql_dump_scan", """
SELECT s_suppkey, s_name, s_nationkey,
       CASE WHEN s_suppkey % 5 = 0 THEN NULL
            ELSE CAST(s_acctbal AS DOUBLE) END AS acctbal
FROM supplier
""")
def q66(spark, sf):
    """S6 MySQL-dump scan: a mysqldump .sql.gz with INSERT statements is
    synthesized deterministically from the supplier table (names carry
    `'` doubling; every 5th acctbal is SQL NULL), then parsed back by
    read_mysql_dump's quote-aware Arrow scanner (ref
    workflow/scripts/source/mysql_to_csv.py:14-95). The oracle recomputes
    the same projection from the table, proving escape handling, NULL
    semantics, and positional typed casts."""
    import gzip
    import hashlib

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from epigraphdb_graph_spark.sources.readers import read_mysql_dump

    d = os.path.join(
        tempfile.gettempdir(),
        "graft_q66_" + hashlib.md5(sf.encode()).hexdigest()[:8],
    )
    os.makedirs(d, exist_ok=True)
    dump = os.path.join(d, "supplier.sql.gz")
    if not os.path.exists(dump):
        t = (
            pq.read_table(
                os.path.join(sf, "supplier.parquet"),
                columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
            )
            .to_pandas()
            .sort_values("s_suppkey")
        )
        with gzip.open(dump, "wt") as f:
            f.write("-- MySQL dump (synthesized)\n")
            vals = []
            for r in t.itertuples(index=False):
                name = str(r.s_name).replace("'", "''")
                bal = ("NULL" if r.s_suppkey % 5 == 0
                       else repr(float(r.s_acctbal)))
                vals.append(
                    f"({r.s_suppkey},'{name}',{r.s_nationkey},{bal})"
                )
            f.write("INSERT INTO `supplier` VALUES " + ",".join(vals) + ";\n")
            f.write("INSERT INTO `other` VALUES (0,'x',0,0);\n")
    return read_mysql_dump(
        spark,
        dump,
        T.StructType([
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.LongType()),
            T.StructField("acctbal", T.DoubleType()),
        ]),
        table="supplier",
    )


@_q("q65_schema_introspect", """
SELECT CAST(cid AS INT) AS ordinal, name AS col
FROM pragma_table_info('lineitem')
""")
def q65(spark, sf):
    """R4 columns->rows: the table's own column metadata as a relation
    (ref tissue nodes from GCT header names, nodes/tissue/gtex.py:31-35).
    Driver-side schema introspection vs DuckDB's pragma_table_info."""
    from epigraphdb_graph_spark.sources.readers import columns_as_rows

    return columns_as_rows(_t(spark, sf, "lineitem"))


@_q("q64_graph_import", """
SELECT CAST(n_nationkey AS VARCHAR) AS id,
       n_name AS name,
       CAST(n_regionkey AS BIGINT) AS region,
       'epigraphdb|' || lower(n_name) AS src
FROM nation
""")
def q64(spark, sf):
    """S5 graph-database scan: a neo4j-admin bulk-import pair (typed
    one-line .header + headerless csv.gz, the reference's interchange —
    utils/writers.py:150-190, create_master_import.py:74) is synthesized
    deterministically from the nation table, then read back through
    read_graph_import. The oracle recomputes the same typed projection
    straight from the table, so equality proves the header-driven
    schema-by-position scan, casts, and string[] array split."""
    import gzip
    import hashlib

    import pyarrow.parquet as pq

    from epigraphdb_graph_spark.sources.readers import read_graph_import

    d = os.path.join(
        tempfile.gettempdir(),
        "graft_q64_" + hashlib.md5(sf.encode()).hexdigest()[:8],
    )
    os.makedirs(d, exist_ok=True)
    data, hdr = os.path.join(d, "nation.csv.gz"), os.path.join(d, "nation.header")
    if not (os.path.exists(data) and os.path.exists(hdr)):
        t = (
            pq.read_table(
                os.path.join(sf, "nation.parquet"),
                columns=["n_nationkey", "n_name", "n_regionkey"],
            )
            .to_pandas()
            .sort_values("n_nationkey")
        )
        with open(hdr, "w") as f:
            f.write("id:ID(Nation-ID),name:string,region:int,_source:string[]\n")
        with gzip.open(data, "wt") as f:
            for r in t.itertuples(index=False):
                f.write(
                    f"{r.n_nationkey},{r.n_name},{r.n_regionkey},"
                    f"epigraphdb;{r.n_name.lower()}\n"
                )
    nodes = read_graph_import(spark, data, hdr)
    return nodes.select(
        "id",
        F.col("name"),
        F.col("region"),
        F.array_join("_source", "|").alias("src"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
