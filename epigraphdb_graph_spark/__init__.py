"""epigraphdb_graph_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of the reference pipeline
(MRCIEU/epigraphdb-graph, surveyed in SURVEY.md): its batch
"rebuild-the-graph-from-CSVs" pipeline becomes a change-event (CDC) tailer
applying MERGE-style upserts into a snapshot-versioned lake table of
Common-Crawl-style web pages, with exactly-once semantics, additive schema
evolution, skew-aware partitioning, and checkpoint resumability.

Layout
------
- ``session``    SparkSession factory (AQE on, UTC, Arrow)
- ``schema``     StructType registry + contract checks (ref: utils/qc.py)
- ``sources``    change-event generator + CSV/JSON scan helpers (ref: §2.1)
- ``functions``  html→text extraction, text analytics, vector math
- ``operators``  LWW dedup, exact/minhash/simhash dedup, skew salting,
                 multi-source consolidation, FK audits, similarity search
- ``plans``      LakeTable (snapshot parquet table w/ atomic commits,
                 bucket-pruned copy-on-write MERGE, time travel, evolution)
                 + lineage manifests
- ``streaming``  Structured Streaming tailer (foreachBatch → MERGE)
- ``cli``        spark-submit entry: replay / resume / bench
"""

from .packaging import install_zip_cache_guard

__version__ = "0.1.0"

# every Python worker that unpickles an engine UDF imports this package:
# stop its per-task importlib.invalidate_caches() re-reading zip archives
install_zip_cache_guard()
