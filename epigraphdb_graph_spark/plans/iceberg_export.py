"""Iceberg table-metadata exporter (round-4 verdict ask #7).

The north_rule names "Iceberg tables"; this sandbox has no
iceberg-spark-runtime jar (the jar hunt is documented in
BENCH/BASELINE.md), so the engine ships its own lake format with
Iceberg's *semantics* (atomic pointer swap, snapshot isolation, MOR +
compaction, schema evolution, time travel, CDF, OCC multi-writer
commits). This module converts the externally visible gap into an
interop surface: ``to_iceberg_metadata(table, out_dir)`` writes the
**Iceberg spec's metadata layer** for the table's current snapshot —
``vN.metadata.json`` (format-version 2, TableMetadata fields), a
manifest list, and one manifest of data_file entries — so an external
reader can locate and scan the exact parquet files of the snapshot.

Documented limits (each asserted/explained in tests):

- **Serialization**: manifest lists and manifests are written as Avro
  Object Container Files per the spec via the from-scratch encoder in
  ``plans/avro.py`` (no Avro library ships in this environment —
  fastavro/avro absent, verified), using the spec's record shapes and
  ``field-id`` schema annotations (``manifest_file``,
  ``manifest_entry``/``r2`` data_file structs, v2 field ids). JSON
  mirrors of both are written alongside (same basename, ``.json``) for
  human inspection. The encoder is validated by symmetric-decoder
  round-trips in tests; no independent Avro reader exists in the
  sandbox to cross-check byte compatibility.
- **Partitioning**: the engine buckets by Spark murmur3(seed=42) pmod n;
  Iceberg's ``bucket[n]`` transform hashes with a different recipe, so
  the export declares the table UNPARTITIONED (valid per spec) rather
  than lie about a transform readers would prune incorrectly with.
- **MOR state**: pending LWW deltas are resolve-on-read semantics
  Iceberg cannot express (they are upserts, not position/equality
  deletes) — export refuses until ``compact()`` folds them. System
  columns (``_seq``/``_ts``/``_deleted``) are exported as regular
  columns; ``_deleted = false`` is the reader's residual predicate
  (recorded under ``properties["graft.row-filter"]``), the same way
  Iceberg v2 readers must apply delete files.

Reference analog: the neo4j-admin store boundary the reference hands its
build to (workflow/scripts/graph_build/create_master_import.py:69-88) —
the point where an engine's internal layout must meet an external
format.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import types as T

from .avro import write_ocf
from .lake import LakeTable

# Avro schemas for the two metadata files, with the spec's v2 field ids
# carried as "field-id" annotations (Iceberg readers bind by field id).
# Field names follow the reference Java writer (e.g. the v2
# added/existing/deleted file counts serialize as *_data_files_count;
# the data_file record is named "r2", its partition struct "r102").
_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int",
         "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None,
         "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                # unpartitioned spec -> empty partition struct (see module
                # doc: the engine's murmur3 bucketing is not Iceberg's
                # bucket[n] transform, so no transform is declared)
                {"name": "partition", "field-id": 102, "type": {
                    "type": "record", "name": "r102", "fields": []}},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
            ]}},
    ],
}


def _iceberg_type(dt: T.DataType) -> str:
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"  # session-TZ timestamp == Iceberg timestamptz
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    raise ValueError(f"no Iceberg mapping for Spark type {dt.simpleString()}")


def _iceberg_schema(schema: T.StructType, schema_id: int = 0) -> dict:
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        fields.append({
            "id": i,
            "name": f.name,
            "required": not f.nullable,
            "type": _iceberg_type(f.dataType),
        })
    return {"type": "struct", "schema-id": schema_id, "fields": fields}


def to_iceberg_metadata(table: LakeTable, out_dir: str | None = None) -> str:
    """Write Iceberg-spec table metadata for ``table``'s current snapshot
    under ``{out_dir or table.path}/metadata/``; returns the path of the
    ``vN.metadata.json`` written. See module docstring for the documented
    deviations (JSON manifests, unpartitioned spec, MOR refusal)."""
    m = table.manifest()
    if any(fl for fl in m["deltas"].values()):
        raise ValueError(
            "table has pending MOR deltas — their last-writer-wins "
            "resolve-on-read semantics are not expressible as Iceberg "
            "position/equality deletes; run compact() first, then export")
    version = m["version"]
    meta_dir = os.path.join(out_dir or table.path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    now_ms = int(time.time() * 1000)
    snapshot_id = version + 1  # spec: any unique int64; stable & readable

    # full physical schema: data columns + engine system columns
    phys = table.spark.createDataFrame([], table.schema()).schema
    phys = T.StructType(list(phys.fields) + [
        T.StructField("_seq", T.LongType(), True),
        T.StructField("_ts", T.TimestampType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ])
    ice_schema = _iceberg_schema(phys)

    # ---- one manifest of data_file entries (spec manifest_entry shape)
    entries = []
    for bucket, files in sorted(m["files"].items(), key=lambda kv: kv[0]):
        for rel in files:
            fpath = os.path.join(table.path, rel)
            entries.append({
                "status": 1,  # ADDED in this snapshot's manifest
                "snapshot_id": snapshot_id,
                "sequence_number": version,
                "file_sequence_number": version,
                "data_file": {
                    "content": 0,  # DATA
                    "file_path": os.path.abspath(fpath),
                    "file_format": "PARQUET",
                    "partition": {},  # unpartitioned spec (see module doc)
                    "record_count": int(m["file_rows"][rel]),
                    "file_size_in_bytes": os.path.getsize(fpath),
                },
            })
    stem = f"manifest-{snapshot_id}-{uuid.uuid4().hex}"
    manifest_path = os.path.join(meta_dir, f"{stem}.avro")
    write_ocf(manifest_path, _MANIFEST_ENTRY_SCHEMA, entries, metadata={
        # file-metadata keys the reference manifest writer stamps
        "schema": json.dumps(ice_schema, separators=(",", ":")),
        "schema-id": "0",
        "partition-spec": "[]",
        "partition-spec-id": "0",
        "format-version": "2",
        "content": "data",
    })
    with open(os.path.join(meta_dir, f"{stem}.json"), "w") as f:
        json.dump({"schema": ice_schema, "entries": entries}, f, indent=1)

    # ---- manifest list (spec manifest_file shape)
    mlist = [{
        "manifest_path": os.path.abspath(manifest_path),
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": version,
        "min_sequence_number": 0,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"]
                                for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }]
    snap_stem = f"snap-{snapshot_id}-{uuid.uuid4().hex}"
    mlist_path = os.path.join(meta_dir, f"{snap_stem}.avro")
    write_ocf(mlist_path, _MANIFEST_FILE_SCHEMA, mlist, metadata={
        "snapshot-id": str(snapshot_id),
        "parent-snapshot-id": "null",
        "sequence-number": str(version),
        "format-version": "2",
    })
    with open(os.path.join(meta_dir, f"{snap_stem}.json"), "w") as f:
        json.dump(mlist, f, indent=1)

    # ---- TableMetadata (format-version 2) — spec-true JSON
    metadata = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL,
                                     os.path.abspath(table.path))),
        "location": os.path.abspath(table.path),
        "last-sequence-number": version,
        "last-updated-ms": now_ms,
        "last-column-id": len(ice_schema["fields"]),
        "current-schema-id": 0,
        "schemas": [ice_schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],  # unpartitioned
        "last-partition-id": 999,  # spec: >= 1000 used by real specs; none here
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "graft.engine": "epigraphdb_graph_spark",
            "graft.engine-version": str(version),
            "graft.key": m["key"],
            "graft.n-buckets": str(m["n_buckets"]),
            "graft.row-filter": "_deleted = false",
            "graft.manifest-serialization":
                "avro (from-scratch OCF writer, plans/avro.py; "
                "json mirrors alongside)",
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": [{
            "snapshot-id": snapshot_id,
            "sequence-number": version,
            "timestamp-ms": now_ms,
            "manifest-list": os.path.abspath(mlist_path),
            "summary": {
                "operation": "append",
                "added-data-files": str(len(entries)),
                "added-records": str(sum(e["data_file"]["record_count"]
                                         for e in entries)),
            },
            "schema-id": 0,
        }],
        "snapshot-log": [{"snapshot-id": snapshot_id,
                          "timestamp-ms": now_ms}],
        "metadata-log": [],
        "refs": {"main": {"snapshot-id": snapshot_id, "type": "branch"}},
    }
    out = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(out, "w") as f:
        json.dump(metadata, f, indent=1)
    # version-hint for catalogs that resolve HadoopTables-style
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return out
