"""Per-key last-writer-wins deduplication.

The single most load-bearing operator in the engine (SURVEY.md §2.6): the
reference's top-1-per-group pattern (``sort_values(...).groupby(...).head(1)``
— nodes/literature/semrep-biorxiv.py:42-44, source/xqtl.py:38-44) becomes
per-key LWW over ``(warc_ts, event_seq)``.

Two physical strategies:

- ``lww_dedup_agg`` (default): ``max_by(struct(<row>), struct(ts, seq))``.
  Aggregation with **map-side partial combine** — a hot key (Zipf domain)
  collapses to one row per map task before the shuffle, so skew can't
  create straggler reducers, and the exchange carries one row per
  (task, key) instead of every raw event. (Physically Spark lowers the
  struct-buffered max_by to SortAggregate — a partition-local sort — but
  the combine-before-shuffle property is what matters for skew; verified
  in tests/test_plans.py.) This is the scale path.
- ``lww_dedup_window``: the classic ``row_number() over (partition by key
  order by ts desc, seq desc) = 1``. Kept for parity/readability and as
  the oracle-matching SQL form; requires a full sort of each key's rows
  and is skew-sensitive. Used where the full ordered history per key is
  needed anyway.

Both are deterministic: (warc_ts, event_seq) is a total order because
event_seq is unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup_agg(
    df: DataFrame,
    key: str | list[str] = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "event_seq",
) -> DataFrame:
    """One row per key: the one with max (ts_col, seq_col). Skew-resistant
    (partial aggregation). Column order of the input is preserved."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = df.columns
    ordering = F.struct(F.col(ts_col), F.col(seq_col))
    winner = F.max_by(F.struct(*[F.col(c) for c in cols]), ordering).alias("w")
    return df.groupBy(*keys).agg(winner).select("w.*")


def lww_dedup_window(
    df: DataFrame,
    key: str | list[str] = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "event_seq",
) -> DataFrame:
    """Window-function LWW (row_number == 1). SQL-equivalent form."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc(), F.col(seq_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
