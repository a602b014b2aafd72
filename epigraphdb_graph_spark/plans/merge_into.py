"""Generic declarative MERGE INTO — Delta/Iceberg-style clause API over
the engine's bucket-pruned copy-on-write rewrite.

The engine's native ``LakeTable.merge`` is the CDC form: source rows ARE
change events (op/event_seq/warc_ts) and last-writer-wins is the fixed
rule. Real lakehouse users also need the *clause* form

    MERGE INTO t USING s ON t.k = s.k
    WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE
    WHEN NOT MATCHED [AND cond] THEN INSERT ...
    WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET ...

(the reference's analog is Neo4j ``MERGE``-on-key upserts in its bulk
import, workflow/scripts/graph_build/merge_sources.py). This module
compiles those clauses onto the exact same physical shape as the CDC
path: bucket-prune the target to the source's touched buckets, one
full-outer join per commit, tombstoned deletes, exactly-once via the
table ledger, per-file stats carried in the manifest.

Clause expressions are plain ``pyspark.sql.Column``s over the aliases
``s`` (source) and ``t`` (target) — e.g.
``{"s_acctbal": F.col("t.s_acctbal") + F.col("s.delta")}`` — evaluated
inside the join projection, so everything stays whole-stage-codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lake import LakeTable, MergeResult, _batch_seen


def _cond(c: Column | bool | None, default: bool) -> Column:
    if c is None:
        return F.lit(default)
    if isinstance(c, bool):
        return F.lit(c)
    return c


def merge_into(
    table: LakeTable,
    source: DataFrame,
    *,
    on: str | None = None,
    when_matched_update: dict[str, Column] | str | None = None,
    matched_condition: Column | None = None,
    when_matched_delete: Column | bool = False,
    when_not_matched_insert: dict[str, Column] | str | None = "all",
    not_matched_condition: Column | None = None,
    when_not_matched_by_source_delete: Column | bool = False,
    when_not_matched_by_source_update: dict[str, Column] | None = None,
    not_matched_by_source_condition: Column | None = None,
    batch_id: str | None = None,
    event_time: Column | None = None,
) -> MergeResult:
    """Apply a clause-style MERGE from ``source`` into ``table``.

    - ``on``: equality key (defaults to the table's key column). The
      source must carry at most one row per key (like Spark/Delta, a
      multi-match is a semantics error; it is not checked here).
    - ``when_matched_delete``: bool or condition Column; evaluated first
      (SQL clause order). A delete writes a *tombstone* (CDC-consistent:
      stale late events cannot resurrect the key).
    - ``when_matched_update``: ``"all"`` (every shared data column from
      ``s``) or a ``{column: expr}`` dict; applied when
      ``matched_condition`` (default true) holds.
    - ``when_not_matched_insert``: ``"all"`` or ``{column: expr}``;
      unnamed table columns are null-filled. A tombstoned target key
      counts as NOT MATCHED — inserting over it revives the key.
    - ``when_not_matched_by_source_delete`` / ``..._update``: the Delta
      "sync" clause family, applied to *visible target rows with no
      source match* — delete (tombstone) or update them; expressions may
      reference only ``t.`` columns, and delete is evaluated first (SQL
      clause order), with ``not_matched_by_source_condition`` gating the
      update. NOTE the inherent cost (same as Delta/Iceberg): a
      BY SOURCE clause makes *every* table row a candidate, so the merge
      reads and rewrites ALL buckets instead of only the source's
      touched ones — use for periodic full-sync merges, not CDC tailing.
    - ``event_time``: ordering timestamp for written rows (default
      ``current_timestamp()``); with the commit's version as sequence it
      makes merged rows strictly newer than history under the engine's
      (_ts, _seq) total order.
    - ``batch_id``: exactly-once ledger id (verbatim namespace).

    Source rows matching no clause (or failing its condition) are
    ignored; target rows never matched are carried unchanged — only
    touched buckets are rewritten.
    """
    spark = table.spark
    m = table.manifest()
    if batch_id is not None and _batch_seen(m, batch_id):
        return MergeResult(m["version"], 0, 0, 0, 0, 0, noop=True)
    key = on or m["key"]
    n_buckets = m["n_buckets"]
    version = m["version"] + 1
    import pyspark.sql.types as T

    schema = T.StructType.fromJson(m["schema"])
    data_cols = schema.fieldNames()
    if when_not_matched_by_source_update is not None and not isinstance(
            when_not_matched_by_source_update, dict):
        raise ValueError(
            "when_not_matched_by_source_update must be a {column: expr} "
            "dict (there is no source row to take 'all' from)")
    by_source = (
        when_not_matched_by_source_delete is not False
        and when_not_matched_by_source_delete is not None
    ) or when_not_matched_by_source_update is not None
    for clause, exprs in (
            ("when_matched_update", when_matched_update),
            ("when_not_matched_insert", when_not_matched_insert),
            ("when_not_matched_by_source_update",
             when_not_matched_by_source_update)):
        if isinstance(exprs, dict):
            unknown = set(exprs) - set(data_cols)
            if unknown:
                raise ValueError(
                    f"{clause} names columns not in the table schema: "
                    f"{sorted(unknown)} (schema: {data_cols})")
        elif exprs is not None and exprs != "all":
            raise ValueError(f"{clause} must be a dict, 'all', or None")
    typ = {f.name: f.dataType for f in schema.fields}
    ts = event_time if event_time is not None else F.current_timestamp()

    src = source.withColumn(
        "_bucket", table.bucket_expr(F.col(key), n_buckets)
    ).persist()
    if by_source:
        # every visible target row with no source match is a candidate:
        # all buckets are touched (full-table rewrite, as in Delta)
        touched = list(range(n_buckets))
    else:
        touched = [r[0] for r in src.select("_bucket").distinct().collect()]
    if not touched:
        src.unpersist()
        if batch_id is not None:
            version, _ = table._publish_snapshot(
                m, {"op": "merge_into", "empty": True, "batch_id": batch_id},
                batch_id=batch_id)
            return MergeResult(version, 0, 0, 0, 0, 0)
        return MergeResult(m["version"], 0, 0, 0, 0, 0, noop=True)

    target = table._read_resolved(m, buckets=touched).withColumn(
        "_bucket", table.bucket_expr(F.col(key), n_buckets)
    )
    j = target.alias("t").join(
        src.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer"
    )

    s_present = F.col(f"s.{key}").isNotNull()
    t_present = F.col(f"t.{key}").isNotNull()
    visible = t_present & ~F.col("t._deleted")

    def build(exprs: dict[str, Column] | str | None, *, base: str) -> Column:
        """Row struct for insert (base='s' nulls) / update (base='t')."""
        cols = []
        for c in data_cols:
            if isinstance(exprs, dict) and c in exprs:
                cols.append(exprs[c].cast(typ[c]).alias(c))
            elif exprs == "all" and base == "s":
                cols.append(
                    (F.col(f"s.{c}") if c in source.columns
                     else F.lit(None)).cast(typ[c]).alias(c))
            elif base == "s":  # insert: unnamed columns null-fill
                cols.append(F.lit(None).cast(typ[c]).alias(c))
            elif exprs == "all" and c in source.columns:
                cols.append(F.col(f"s.{c}").cast(typ[c]).alias(c))
            else:  # update: unnamed columns keep target value
                cols.append(F.col(f"t.{c}").alias(c))
        return F.struct(
            *cols,
            F.lit(version).cast("long").alias("_seq"),
            ts.cast("timestamp").alias("_ts"),
            F.lit(False).alias("_deleted"),
            F.coalesce(F.col("s._bucket"), F.col("t._bucket")).alias("_bucket"),
        )

    t_row = F.struct(
        *[F.col(f"t.{c}").alias(c) for c in data_cols],
        F.col("t._seq"), F.col("t._ts"), F.col("t._deleted"), F.col("t._bucket"),
    )
    tomb_row = F.struct(
        *[F.col(f"t.{c}").alias(c) for c in data_cols],
        F.lit(version).cast("long").alias("_seq"),
        ts.cast("timestamp").alias("_ts"),
        F.lit(True).alias("_deleted"),
        F.col("t._bucket").alias("_bucket"),
    )

    t_only = (  # NOT MATCHED BY SOURCE: visible target row, no source row
        F.when(~visible, F.lit("keep"))  # tombstones carried unchanged
        .when(_cond(when_not_matched_by_source_delete, False),
              F.lit("delete"))
        .when(
            F.lit(when_not_matched_by_source_update is not None)
            & _cond(not_matched_by_source_condition, True),
            F.lit("update_t"),
        )
        .otherwise(F.lit("keep"))
    )
    action = (
        F.when(~s_present, t_only if by_source else F.lit("keep"))
        .when(
            ~visible,  # unmatched (or tombstoned) target
            F.when(
                F.lit(when_not_matched_insert is not None)
                & _cond(not_matched_condition, True),
                F.lit("insert"),
            ).otherwise(F.when(t_present, F.lit("keep")).otherwise(F.lit("skip"))),
        )
        .when(_cond(when_matched_delete, False), F.lit("delete"))
        .when(
            F.lit(when_matched_update is not None)
            & _cond(matched_condition, True),
            F.lit("update"),
        )
        .otherwise(F.lit("keep"))
    )
    row = (
        F.when(action == "insert", build(when_not_matched_insert, base="s"))
        .when(action == "update", build(when_matched_update, base="t"))
        .when(action == "update_t",
              build(when_not_matched_by_source_update, base="t"))
        .when(action == "delete", tomb_row)
        .otherwise(t_row)
    )
    resolved = (
        j.select(action.alias("_action"), row.alias("r"))
        .filter(F.col("_action") != "skip")
        .select("_action", "r.*")
    )

    from pyspark.sql import Observation

    obs = Observation()
    out = resolved.observe(
        obs,
        *[F.sum(F.when(F.col("_action") == a, 1).otherwise(0)).alias(a)
          for a in ("insert", "update", "update_t", "delete", "keep")],
    ).drop("_action")

    new_files, new_rows, new_bounds = table._write_snapshot(
        out.repartition(n_buckets, F.col(key)), version, m["key"])
    got = obs.get
    src.unpersist()
    # a rewrite: a lost commit race raises ConcurrentWriteError (never
    # rebased — the clauses were evaluated against m's rows)
    table._publish_snapshot(
        m, {"op": "merge_into", "batch_id": batch_id,
            "actions": {a: int(got.get(a) or 0)
                        for a in ("insert", "update", "update_t", "delete",
                                  "keep")}},
        batch_id=batch_id, new_files=new_files,
        rewritten=[str(b) for b in touched],
        new_rows=new_rows, new_bounds=new_bounds)
    return MergeResult(
        version,
        inserted=int(got.get("insert") or 0),
        updated=int(got.get("update") or 0) + int(got.get("update_t") or 0),
        deleted=int(got.get("delete") or 0),
        stale_skipped=0,
        touched_buckets=len(new_files),
    )
