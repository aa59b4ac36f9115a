"""Apache Iceberg v2 table source/sink — pure-Python metadata, Spark data.

BASELINE.json's north star reads source code "from an Iceberg table";
the runtime has no iceberg-spark-runtime jar and no Avro library, so
this module implements the Iceberg *metadata* layer itself from the
public table-format spec (https://iceberg.apache.org/spec/) on top of
``avro_ocf``, and hands the planned data-file list to the engine Spark
already has (``spark.read.parquet``). That split mirrors how Iceberg
engines actually work: job planning walks metadata on the
driver/planner, the distributed engine only ever touches data files.

Implemented (spec v2):

- table metadata JSON (``metadata/vN.metadata.json`` + version-hint),
  schemas with field ids, partition specs, snapshots, snapshot-log;
- manifest lists and manifests as Avro OCF with the spec field ids,
  deflate codec, v2 sequence numbers (explicit, inheritance handled on
  read);
- partition transforms ``identity``, ``bucket[N]`` (Murmur3-32 over the
  single-value binary form, spec Appendix B), ``truncate[W]``, ``void``;
- scan planning with three pruning tiers: manifest-list partition
  ``field_summaries``, per-file partition values, per-file column
  ``lower_bounds``/``upper_bounds`` (single-value serialization, spec
  Appendix D) — each tier reported in the returned ``ScanPlan`` so
  tests and bench can assert files were actually skipped;
- snapshot time travel (``snapshot_id=`` / ``as_of_ms=``);
- appends: a driver-local pandas path for fixtures and a distributed
  ``append_spark`` path (executors write parquet data files inside
  ``applyInPandas`` and return one *stats row per file*; the driver
  commits manifests + metadata atomically under a commit lock — the
  same workers-write/driver-commits contract as real Iceberg writers);
- merge-on-read deletes, both kinds: ``delete_where`` writes spec
  POSITION delete files ((file_path, pos) parquet, content=1
  manifests), suppressed on read by a broadcast anti-join on Spark's
  parquet ``(_metadata.file_path, row_index)``; EQUALITY deletes
  (``equality_ids``) apply per key group with the
  strictly-smaller-data-sequence rule, which is what makes
  ``upsert_pandas`` (equality-delete-on-key + new rows in ONE
  snapshot, the Flink CDC writer shape) leave its own appended rows
  alone. Malformed equality-delete files (no equality_ids) refuse
  loudly rather than return wrong rows;
- manifest compaction (min-count-to-merge / target-size-bytes) and
  schema evolution: add-column (old files null-fill on read),
  RENAME-column and DROP-column. Every data file this writer emits
  embeds the Iceberg field id in its parquet footer
  (``PARQUET:field_id``, the spec's column-resolution rule), and reads
  over a renamed/dropped schema resolve columns BY ID via Spark's
  native field-id parquet path (``spark.sql.parquet.fieldId.read``) —
  fully distributed, no per-file driver work. Tables created before
  this writer embedded ids refuse rename/drop loudly (their files
  can only be resolved by name);
- maintenance: ``expire_snapshots`` (time-travel retention + deletion
  of files only reachable from expired snapshots) and
  ``remove_orphan_files`` (disk scan vs the reachable set).

Scale: the driver never reads data files during planning. At 10^12
files the manifest tier is the bottleneck, so ``plan_files`` also has a
distributed twin (``IcebergTable.plan_files_spark``) that decodes
manifests on executors via mapInPandas and returns the pruned file
list as a DataFrame.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import uuid as _uuid

import numpy as np
import pandas as pd

from . import avro_ocf

__all__ = [
    "create_table", "load_table", "IcebergTable", "ScanPlan",
    "append_pandas", "append_spark", "delete_where", "upsert_pandas",
    "add_column", "rename_column", "drop_column",
    "update_partition_spec", "rewrite_data_files", "expire_snapshots",
    "remove_orphan_files", "murmur3_32",
]

_INITIAL_PARTITION_FIELD_ID = 1000

# Table property stamped by create_table: every data/delete file this
# writer emits embeds PARQUET:field_id footers, so id-based column
# resolution (renames/drops) is sound. Tables lacking the property were
# written before ids were embedded — rename/drop refuse on them.
_FIELD_IDS_PROP = "quickwit.parquet-field-ids"

# Spec reserved field ids for position-delete file columns.
_POS_DELETE_PATH_ID = 2147483546
_POS_DELETE_POS_ID = 2147483545


# ----------------------------------------------------------- murmur3-32

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (public-domain reference algorithm);
    Iceberg bucket transforms hash the single-value binary form with
    seed 0 (spec Appendix B)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = struct.unpack_from("<I", data, i)[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = n % 4
    if tail >= 3:
        k ^= data[n - tail + 2] << 16
    if tail >= 2:
        k ^= data[n - tail + 1] << 8
    if tail >= 1:
        k ^= data[n - tail]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


# ------------------------------------------- single-value serialization

def to_single_value_bytes(ice_type: str, value) -> bytes:
    """Spec Appendix D binary single-value serialization (bounds)."""
    if ice_type == "int":
        return struct.pack("<i", int(value))
    if ice_type == "long":
        return struct.pack("<q", int(value))
    if ice_type == "float":
        return struct.pack("<f", float(value))
    if ice_type == "double":
        return struct.pack("<d", float(value))
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "binary":
        return bytes(value)
    raise ValueError(f"no single-value form for {ice_type}")


def from_single_value_bytes(ice_type: str, raw: bytes):
    if ice_type == "int":
        return struct.unpack("<i", raw)[0]
    if ice_type == "long":
        return struct.unpack("<q", raw)[0]
    if ice_type == "float":
        return struct.unpack("<f", raw)[0]
    if ice_type == "double":
        return struct.unpack("<d", raw)[0]
    if ice_type == "boolean":
        return raw != b"\x00"
    if ice_type == "string":
        return raw.decode("utf-8")
    if ice_type == "binary":
        return bytes(raw)
    raise ValueError(f"no single-value form for {ice_type}")


def _bucket_hash_bytes(ice_type: str, value) -> bytes:
    """Bucket transforms hash int AND long as 8-byte LE (Appendix B)."""
    if ice_type in ("int", "long"):
        return struct.pack("<q", int(value))
    return to_single_value_bytes(ice_type, value)


def apply_transform(transform: str, ice_type: str, value):
    """Apply a partition transform to one source value. NaN counts as
    null: pandas delivers numeric nulls as NaN, and a null source value
    must produce a null partition value, not a crash in int()."""
    if value is None or (isinstance(value, float) and value != value):
        return None
    if transform == "identity":
        return value
    if transform == "void":
        return None
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        return (murmur3_32(_bucket_hash_bytes(ice_type, value))
                & 0x7FFFFFFF) % n
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if ice_type == "string":
            return str(value)[:w]
        if ice_type in ("int", "long"):
            v = int(value)
            return v - (v % w)             # floor toward -inf, spec
    raise ValueError(f"unsupported transform {transform!r}")


def _transform_result_type(transform: str, ice_type: str) -> str:
    if transform == "identity" or transform.startswith("truncate["):
        return ice_type
    if transform.startswith("bucket["):
        return "int"
    if transform == "void":
        return ice_type
    raise ValueError(f"unsupported transform {transform!r}")


# --------------------------------------------------- schema conversion

_PA_TO_ICE = {"int64": "long", "int32": "int", "string": "string",
              "large_string": "string", "double": "double",
              "float": "float", "bool": "boolean", "binary": "binary",
              "large_binary": "binary"}

_ICE_TO_AVRO = {"long": "long", "int": "int", "string": "string",
                "double": "double", "float": "float",
                "boolean": "boolean", "binary": "bytes"}

_ICE_TO_SPARK = {"long": "bigint", "int": "int", "string": "string",
                 "double": "double", "float": "float",
                 "boolean": "boolean", "binary": "binary"}


def schema_from_arrow(pa_schema) -> dict:
    """Iceberg schema (field ids assigned in column order) from a
    pyarrow schema. Only flat scalar columns — the engine's input_hint
    table is flat by contract."""
    fields = []
    for i, f in enumerate(pa_schema):
        t = _PA_TO_ICE.get(str(f.type))
        if t is None:
            raise ValueError(f"unsupported column type {f.type} "
                             f"for {f.name!r}")
        fields.append({"id": i + 1, "name": f.name,
                       "required": False, "type": t})
    return {"type": "struct", "schema-id": 0, "fields": fields}


# -------------------------------------------------------- avro schemas

def _partition_avro_fields(spec_fields, schema_by_id) -> list:
    out = []
    for pf in spec_fields:
        src = schema_by_id[pf["source-id"]]
        rt = _transform_result_type(pf["transform"], src["type"])
        out.append({"name": pf["name"], "field-id": pf["field-id"],
                    "type": ["null", _ICE_TO_AVRO[rt]], "default": None})
    return out


def _kv_array(name: str, key_id: int, val_id: int, val_type: str):
    return ["null", {
        "type": "array", "logicalType": "map",
        "items": {"type": "record", "name": name, "fields": [
            {"name": "key", "type": "int", "field-id": key_id},
            {"name": "value", "type": val_type, "field-id": val_id},
        ]}}]


def manifest_entry_avro_schema(spec_fields, schema_by_id) -> dict:
    """Avro schema for v2 manifest entries (spec 'Manifests' table)."""
    part = {"type": "record", "name": "r102",
            "fields": _partition_avro_fields(spec_fields, schema_by_id)}
    data_file = {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": part, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {"name": "value_counts", "field-id": 109,
         "type": _kv_array("k119_v120", 119, 120, "long"),
         "default": None},
        {"name": "null_value_counts", "field-id": 110,
         "type": _kv_array("k121_v122", 121, 122, "long"),
         "default": None},
        {"name": "nan_value_counts", "field-id": 137,
         "type": _kv_array("k138_v139", 138, 139, "long"),
         "default": None},
        {"name": "lower_bounds", "field-id": 125,
         "type": _kv_array("k126_v127", 126, 127, "bytes"),
         "default": None},
        {"name": "upper_bounds", "field-id": 128,
         "type": _kv_array("k129_v130", 129, 130, "bytes"),
         "default": None},
        {"name": "split_offsets", "field-id": 132,
         "type": ["null", {"type": "array", "items": "long"}],
         "default": None},
        {"name": "equality_ids", "field-id": 135,
         "type": ["null", {"type": "array", "items": "int"}],
         "default": None},
        {"name": "sort_order_id", "field-id": 140,
         "type": ["null", "int"], "default": None},
    ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "field-id": 1, "default": None},
        {"name": "sequence_number", "type": ["null", "long"],
         "field-id": 3, "default": None},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "field-id": 4, "default": None},
        {"name": "data_file", "type": data_file, "field-id": 2},
    ]}


MANIFEST_LIST_AVRO_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {"name": "partitions", "field-id": 507, "default": None,
         "type": ["null", {"type": "array", "items": {
             "type": "record", "name": "r508", "fields": [
                 {"name": "contains_null", "type": "boolean",
                  "field-id": 509},
                 {"name": "contains_nan", "type": ["null", "boolean"],
                  "field-id": 518, "default": None},
                 {"name": "lower_bound", "type": ["null", "bytes"],
                  "field-id": 510, "default": None},
                 {"name": "upper_bound", "type": ["null", "bytes"],
                  "field-id": 511, "default": None},
             ]}}]},
    ]}


# ------------------------------------------------------------ metadata

def _metadata_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _read_version(path: str) -> int:
    hint = os.path.join(_metadata_dir(path), "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            return int(f.read().strip())
    best = 0
    if os.path.isdir(_metadata_dir(path)):
        for name in os.listdir(_metadata_dir(path)):
            if name.startswith("v") and name.endswith(".metadata.json"):
                best = max(best, int(name[1:-len(".metadata.json")]))
    if best == 0:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    return best


def _write_metadata(path: str, meta: dict, version: int) -> None:
    mdir = _metadata_dir(path)
    os.makedirs(mdir, exist_ok=True)
    target = os.path.join(mdir, f"v{version}.metadata.json")
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, target)
    hint_tmp = os.path.join(mdir, "version-hint.text.tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.replace(hint_tmp, os.path.join(mdir, "version-hint.text"))


def _det_uuid(*parts) -> str:
    """Deterministic UUID (content-derived) so fixture tables are
    byte-reproducible run to run."""
    h = hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()
    return str(_uuid.UUID(h[:32]))


def create_table(path: str, pa_schema, partition_by=None,
                 properties: dict | None = None) -> "IcebergTable":
    """Create an empty v2 table. ``partition_by`` is a list of
    ``(column, transform)`` pairs, e.g. ``[("lang", "identity"),
    ("doc_id", "bucket[4]")]``."""
    schema = schema_from_arrow(pa_schema)
    by_name = {f["name"]: f for f in schema["fields"]}
    spec_fields = []
    for i, (col, transform) in enumerate(partition_by or []):
        if col not in by_name:
            raise ValueError(f"unknown partition column {col!r}")
        name = col if transform == "identity" else (
            f"{col}_{transform.split('[')[0]}")
        spec_fields.append({"name": name, "transform": transform,
                            "source-id": by_name[col]["id"],
                            "field-id": _INITIAL_PARTITION_FIELD_ID + i})
    meta = {
        "format-version": 2,
        "table-uuid": _det_uuid("table", path),
        "location": path,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": len(schema["fields"]),
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": (_INITIAL_PARTITION_FIELD_ID - 1
                              + len(spec_fields)),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {**(properties or {}), _FIELD_IDS_PROP: "true"},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    _write_metadata(path, meta, 1)
    return IcebergTable(path, meta, 1)


def add_column(path: str, name: str, ice_type: str) -> "IcebergTable":
    """Schema evolution: append a new OPTIONAL column as a new schema
    generation (fresh schema-id, fresh field id from last-column-id).
    Existing data files simply lack the column and read as null —
    Spark's parquet reader null-fills read-schema columns missing from
    a file — and old manifests carry no bounds for the new field, so
    pruning on it keeps old files (conservative, correct). See
    ``rename_column`` / ``drop_column`` for the id-mapped forms."""
    if ice_type not in _ICE_TO_AVRO:
        raise ValueError(f"unsupported column type {ice_type!r}")
    with _commit_lock(path):
        table = load_table(path)
        meta = dict(table.meta)
        if any(f["name"] == name for f in table.schema_fields):
            raise ValueError(f"column {name!r} already exists")
        fid = meta["last-column-id"] + 1
        new_schema = {
            "type": "struct",
            "schema-id": max(s["schema-id"]
                             for s in meta["schemas"]) + 1,
            "fields": table.schema_fields + [
                {"id": fid, "name": name, "required": False,
                 "type": ice_type}],
        }
        meta["schemas"] = meta["schemas"] + [new_schema]
        meta["current-schema-id"] = new_schema["schema-id"]
        meta["last-column-id"] = fid
        _write_metadata(path, meta, table.version + 1)
        return IcebergTable(path, meta, table.version + 1)


def _require_field_ids(table: "IcebergTable", op: str) -> None:
    if table.meta.get("properties", {}).get(_FIELD_IDS_PROP) != "true":
        raise ValueError(
            f"{op} requires parquet field ids embedded in every data "
            "file, but this table predates the id-embedding writer "
            f"(missing property {_FIELD_IDS_PROP!r}) — its files can "
            "only be resolved by name. Rewrite the table (read + "
            "append into a fresh create_table) to enable renames/drops")


def rename_column(path: str, old: str, new: str) -> "IcebergTable":
    """Schema evolution: rename a column, keeping its field id (a new
    schema generation, no data rewritten). Reads resolve old files by
    the parquet field id, so data written under the old name binds to
    the new name; pruning keeps working because manifest bounds are
    keyed by field id, not name."""
    with _commit_lock(path):
        table = load_table(path)
        _require_field_ids(table, "rename_column")
        by_name = {f["name"]: f for f in table.schema_fields}
        if old not in by_name:
            raise ValueError(f"unknown column {old!r}")
        if new in by_name:
            raise ValueError(f"column {new!r} already exists")
        meta = dict(table.meta)
        new_schema = {
            "type": "struct",
            "schema-id": max(s["schema-id"]
                             for s in meta["schemas"]) + 1,
            "fields": [dict(f, name=new) if f["name"] == old else f
                       for f in table.schema_fields],
        }
        meta["schemas"] = meta["schemas"] + [new_schema]
        meta["current-schema-id"] = new_schema["schema-id"]
        _write_metadata(path, meta, table.version + 1)
        return IcebergTable(path, meta, table.version + 1)


def drop_column(path: str, name: str) -> "IcebergTable":
    """Schema evolution: drop a column (new schema generation; data
    files keep the physical column, reads project it away by field id).
    Refuses when the column sources the active partition spec (the
    spec's rule — planning would lose its transform source) or when a
    LIVE equality-delete file references its id (applying that delete
    would need the dropped column's values). A later add_column may
    reuse the name: it gets a FRESH id, and id-based reads keep old
    files' values out of the new column (null-filled instead of
    silently resurrected)."""
    with _commit_lock(path):
        table = load_table(path)
        _require_field_ids(table, "drop_column")
        by_name = {f["name"]: f for f in table.schema_fields}
        if name not in by_name:
            raise ValueError(f"unknown column {name!r}")
        if len(table.schema_fields) == 1:
            raise ValueError("cannot drop the last column")
        fid = by_name[name]["id"]
        if any(pf["source-id"] == fid for pf in table.spec_fields):
            raise ValueError(
                f"column {name!r} sources the active partition spec — "
                "dropping it would break partition planning")
        live_eq = [d for d in table.plan_files().delete_files
                   if d.get("content") == 2
                   and fid in (d.get("equality_ids") or [])]
        if live_eq:
            raise ValueError(
                f"column {name!r} is referenced by {len(live_eq)} live "
                "equality-delete file(s) — their key values would be "
                "unreadable; compact the deletes first")
        meta = dict(table.meta)
        new_schema = {
            "type": "struct",
            "schema-id": max(s["schema-id"]
                             for s in meta["schemas"]) + 1,
            "fields": [f for f in table.schema_fields
                       if f["name"] != name],
        }
        meta["schemas"] = meta["schemas"] + [new_schema]
        meta["current-schema-id"] = new_schema["schema-id"]
        _write_metadata(path, meta, table.version + 1)
        return IcebergTable(path, meta, table.version + 1)


def update_partition_spec(path: str, partition_by) -> "IcebergTable":
    """Partition-spec evolution: make ``partition_by`` (list of
    ``(column, transform)`` pairs) the table's default spec as a NEW
    spec generation. Existing data keeps its old layout — each manifest
    records its spec id and planning prunes every manifest under its
    OWN spec — while new writes partition the new way. A field that
    already exists in any historical spec (same source column id, same
    transform) keeps its partition field id and name, like Iceberg's
    spec-update API; genuinely new fields get fresh ids. To migrate old
    files to the new layout, run ``rewrite_data_files`` (it re-writes
    under the current default spec)."""
    with _commit_lock(path):
        table = load_table(path)
        meta = dict(table.meta)
        by_name = {f["name"]: f for f in table.schema_fields}
        prior = {}                         # (source-id, transform) -> pf
        for s in meta["partition-specs"]:
            for pf in s["fields"]:
                prior.setdefault((pf["source-id"], pf["transform"]), pf)
        last_pid = meta["last-partition-id"]
        fields, seen = [], set()
        for col, transform in (partition_by or []):
            if col not in by_name:
                raise ValueError(f"unknown partition column {col!r}")
            src_id = by_name[col]["id"]
            # validate the transform against the column type up front
            _transform_result_type(transform, by_name[col]["type"])
            if (src_id, transform) in seen:
                raise ValueError(f"duplicate partition field "
                                 f"({col!r}, {transform!r})")
            seen.add((src_id, transform))
            reuse = prior.get((src_id, transform))
            if reuse is not None:
                fields.append(dict(reuse))
                continue
            last_pid += 1
            name = col if transform == "identity" else (
                f"{col}_{transform.split('[')[0]}")
            if any(pf["name"] == name
                   for s in meta["partition-specs"]
                   for pf in s["fields"]):
                name = f"{name}_{last_pid}"    # historical name clash
            fields.append({"name": name, "transform": transform,
                           "source-id": src_id, "field-id": last_pid})
        new_sid = max(s["spec-id"]
                      for s in meta["partition-specs"]) + 1
        meta["partition-specs"] = meta["partition-specs"] + [
            {"spec-id": new_sid, "fields": fields}]
        meta["default-spec-id"] = new_sid
        meta["last-partition-id"] = last_pid
        _write_metadata(path, meta, table.version + 1)
        return IcebergTable(path, meta, table.version + 1)


def load_table(path: str) -> "IcebergTable":
    version = _read_version(path)
    with open(os.path.join(_metadata_dir(path),
                           f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    if meta.get("format-version") != 2:
        raise ValueError("only Iceberg format-version 2 is supported")
    return IcebergTable(path, meta, version)


class ScanPlan:
    """Result of scan planning: the file list plus pruning evidence."""

    def __init__(self, files, manifests_total, manifests_pruned,
                 entries_total, files_pruned_partition,
                 files_pruned_bounds, delete_files=None):
        self.files = files
        self.manifests_total = manifests_total
        self.manifests_pruned = manifests_pruned
        self.entries_total = entries_total
        self.files_pruned_partition = files_pruned_partition
        self.files_pruned_bounds = files_pruned_bounds
        self.delete_files = delete_files or []

    @property
    def paths(self) -> list[str]:
        return [f["file_path"] for f in self.files]

    def __repr__(self):
        return (f"ScanPlan(files={len(self.files)}/{self.entries_total},"
                f" manifests={self.manifests_total - self.manifests_pruned}"
                f"/{self.manifests_total},"
                f" pruned_partition={self.files_pruned_partition},"
                f" pruned_bounds={self.files_pruned_bounds},"
                f" deletes={len(self.delete_files)})")


# ----------------------------------------------------- predicate logic

_OPS = ("=", "==", "!=", "<", "<=", ">", ">=", "in")


def _normalize_filter(flt):
    out = []
    for col, op, lit in (flt or []):
        if op == "==":
            op = "="
        if op not in _OPS:
            raise ValueError(f"unsupported op {op!r}")
        out.append((col, op, lit))
    return out


def _pred_possible_range(op, lit, lo, hi) -> bool:
    """Can ``col <op> lit`` hold for any value in [lo, hi]? ``None``
    bound means unknown on that side (keep the file)."""
    if op == "=":
        return (lo is None or lo <= lit) and (hi is None or lit <= hi)
    if op == "in":
        return any(_pred_possible_range("=", v, lo, hi) for v in lit)
    if op == "!=":
        return not (lo is not None and hi is not None and lo == hi == lit)
    if op == "<":
        return lo is None or lo < lit
    if op == "<=":
        return lo is None or lo <= lit
    if op == ">":
        return hi is None or hi > lit
    if op == ">=":
        return hi is None or hi >= lit
    raise ValueError(op)


def _pred_eval(op, lit, value) -> bool:
    if value is None:
        return False
    if op == "=":
        return value == lit
    if op == "!=":
        return value != lit
    if op == "in":
        return value in lit
    if op == "<":
        return value < lit
    if op == "<=":
        return value <= lit
    if op == ">":
        return value > lit
    if op == ">=":
        return value >= lit
    raise ValueError(op)


class IcebergTable:
    def __init__(self, path: str, meta: dict, version: int):
        self.path = path
        self.meta = meta
        self.version = version

    # -------------------------------------------------------- schema

    @property
    def schema_fields(self) -> list[dict]:
        sid = self.meta["current-schema-id"]
        for s in self.meta["schemas"]:
            if s["schema-id"] == sid:
                return s["fields"]
        raise ValueError("current-schema-id not in schemas")

    @property
    def spec_fields(self) -> list[dict]:
        sid = self.meta["default-spec-id"]
        for s in self.meta["partition-specs"]:
            if s["spec-id"] == sid:
                return s["fields"]
        raise ValueError("default-spec-id not in partition-specs")

    def _spec_fields_by_id(self) -> dict:
        """spec-id -> fields, for resolving each manifest's OWN spec
        (partition-spec evolution: old manifests keep their layout)."""
        return {s["spec-id"]: s["fields"]
                for s in self.meta["partition-specs"]}

    def _manifest_spec(self, mf: dict, spec_by_id: dict) -> list[dict]:
        sid = mf.get("partition_spec_id")
        if sid is None:
            return self.spec_fields
        if sid not in spec_by_id:
            raise ValueError(f"manifest {mf.get('manifest_path')!r} "
                             f"references unknown partition spec {sid}")
        return spec_by_id[sid]

    def spark_schema(self) -> str:
        return ", ".join(f"{f['name']} {_ICE_TO_SPARK[f['type']]}"
                         for f in self.schema_fields)

    def _schema_fields_for(self, schema_id) -> list[dict]:
        """Fields of a historical schema generation (time-travel reads
        use the snapshot's schema, like Iceberg engines); falls back to
        the current schema when the id is missing/unknown (pre-evolution
        snapshots recorded no usable generation)."""
        if schema_id is not None:
            for s in self.meta["schemas"]:
                if s["schema-id"] == schema_id:
                    return s["fields"]
        return self.schema_fields

    def _needs_field_id_read(self, fields) -> bool:
        """True iff NAME-based parquet column resolution could mis-bind
        for this read schema: some historical schema generation bound
        one of these names to a different field id (a name reused after
        a drop) or one of these ids to a different name (a rename) — a
        data file written under that generation carries the old
        binding. Add-only evolution stays on the plain name path, which
        also keeps tables whose files predate id embedding readable."""
        ids = {f["id"]: f["name"] for f in fields}
        names = {f["name"]: f["id"] for f in fields}
        for s in self.meta["schemas"]:
            for f in s["fields"]:
                if ids.get(f["id"], f["name"]) != f["name"]:
                    return True
                if names.get(f["name"], f["id"]) != f["id"]:
                    return True
        return False

    def _spark_read_schema(self, fields, use_ids):
        """Spark StructType for a parquet read over these fields; with
        ``use_ids`` each StructField carries ``parquet.field.id``
        metadata so Spark's fieldId reader resolves columns by id."""
        from pyspark.sql import types as T
        spark_t = {"long": T.LongType(), "int": T.IntegerType(),
                   "string": T.StringType(), "double": T.DoubleType(),
                   "float": T.FloatType(), "boolean": T.BooleanType(),
                   "binary": T.BinaryType()}
        return T.StructType([
            T.StructField(f["name"], spark_t[f["type"]], True,
                          metadata=({"parquet.field.id": f["id"]}
                                    if use_ids else None))
            for f in fields])

    # ----------------------------------------------------- snapshots

    def snapshot(self, snapshot_id: int | None = None,
                 as_of_ms: int | None = None) -> dict | None:
        snaps = {s["snapshot-id"]: s for s in self.meta["snapshots"]}
        if snapshot_id is not None:
            if snapshot_id not in snaps:
                raise ValueError(f"unknown snapshot {snapshot_id}")
            return snaps[snapshot_id]
        if as_of_ms is not None:
            best = None
            for entry in self.meta["snapshot-log"]:
                if entry["timestamp-ms"] <= as_of_ms:
                    best = entry["snapshot-id"]
            return snaps[best] if best is not None else None
        cur = self.meta["current-snapshot-id"]
        return snaps.get(cur)

    # ------------------------------------------------------ planning

    def plan_files(self, filter=None, snapshot_id: int | None = None,
                   as_of_ms: int | None = None) -> ScanPlan:
        """Walk manifest-list -> manifests, pruning with partition
        summaries, partition values, and column bounds."""
        flt = _normalize_filter(filter)
        snap = self.snapshot(snapshot_id, as_of_ms)
        if snap is None:
            return ScanPlan([], 0, 0, 0, 0, 0)
        _, manifests = avro_ocf.read_ocf(snap["manifest-list"])
        schema_by_id = {f["id"]: f for f in self.schema_fields}
        spec_by_id = self._spec_fields_by_id()
        keep_manifests = []
        pruned_m = 0
        for mf in manifests:
            if self._manifest_may_match(mf, flt,
                                        self._manifest_spec(mf,
                                                            spec_by_id),
                                        schema_by_id):
                keep_manifests.append(mf)
            else:
                pruned_m += 1
        files, delete_files, entries_total = [], [], 0
        pruned_part = pruned_bounds = 0
        for mf in keep_manifests:
            spec_fields = self._manifest_spec(mf, spec_by_id)
            spec_id = mf.get("partition_spec_id",
                             self.meta["default-spec-id"])
            is_delete_manifest = mf.get("content") == 1
            for entry in self._live_entries(mf):
                df_rec = entry["data_file"]
                if is_delete_manifest or df_rec.get("content", 0) != 0:
                    if df_rec.get("content") == 2 \
                            and not df_rec.get("equality_ids"):
                        raise ValueError(
                            "equality delete file without equality_ids "
                            f"({df_rec['file_path']}) — refusing "
                            "rather than returning wrong rows")
                    # delete files only matter for data files that
                    # survive pruning; pruning the delete manifest by
                    # the same filter is sound (pruned-away rows can't
                    # need delete suppression), keeping it always is
                    # conservative — keep (partition values are often
                    # null-scoped). _seq drives the equality-delete
                    # strictly-newer rule in read().
                    delete_files.append(
                        dict(df_rec, _seq=entry["sequence_number"]))
                    continue
                entries_total += 1
                verdict = self._file_may_match(
                    df_rec, flt, spec_fields, schema_by_id)
                if verdict == "partition":
                    pruned_part += 1
                elif verdict == "bounds":
                    pruned_bounds += 1
                else:
                    files.append(
                        dict(df_rec, _seq=entry["sequence_number"],
                             _spec_id=spec_id))
        return ScanPlan(files, len(manifests), pruned_m, entries_total,
                        pruned_part, pruned_bounds, delete_files)

    def _live_entries(self, mf: dict) -> list[dict]:
        _, entries = avro_ocf.read_ocf(mf["manifest_path"])
        out = []
        for e in entries:
            if e["status"] == 2:           # DELETED
                continue
            if e["sequence_number"] is None:   # v2 inheritance
                e["sequence_number"] = mf["sequence_number"]
            out.append(e)
        return out

    def _manifest_may_match(self, mf, flt, spec_fields,
                            schema_by_id) -> bool:
        summaries = mf.get("partitions")
        if not flt or not summaries:
            return True
        for i, pf in enumerate(spec_fields):
            if i >= len(summaries):
                break
            src = schema_by_id[pf["source-id"]]
            rt = _transform_result_type(pf["transform"], src["type"])
            summ = summaries[i]
            if summ.get("contains_nan"):
                continue                   # NaN not covered by bounds
            lo = (from_single_value_bytes(rt, summ["lower_bound"])
                  if summ.get("lower_bound") is not None else None)
            hi = (from_single_value_bytes(rt, summ["upper_bound"])
                  if summ.get("upper_bound") is not None else None)
            for col, op, lit in flt:
                if col != src["name"]:
                    continue
                tlit = _transformed_literal(pf["transform"],
                                            src["type"], op, lit)
                if tlit is None:
                    continue
                top, tval = tlit
                if not _pred_possible_range(top, tval, lo, hi) \
                        and not summ["contains_null"]:
                    return False
        return True

    def _file_may_match(self, df, flt, spec_fields, schema_by_id):
        """Returns None (keep), 'partition', or 'bounds' (prune)."""
        if not flt:
            return None
        part = df.get("partition") or {}
        for pf in spec_fields:
            src = schema_by_id[pf["source-id"]]
            pval = part.get(pf["name"])
            for col, op, lit in flt:
                if col != src["name"] or pval is None:
                    continue
                tlit = _transformed_literal(pf["transform"],
                                            src["type"], op, lit)
                if tlit is None:
                    continue
                top, tval = tlit
                if not _pred_eval(top, tval, pval):
                    return "partition"
        lowers = _kv_to_dict(df.get("lower_bounds"))
        uppers = _kv_to_dict(df.get("upper_bounds"))
        nulls = _kv_to_dict(df.get("null_value_counts"))
        nans = _kv_to_dict(df.get("nan_value_counts"))
        for col, op, lit in flt:
            f = next((f for f in schema_by_id.values()
                      if f["name"] == col), None)
            if f is None:
                continue
            if nans.get(f["id"]):
                # spec writers exclude NaN from bounds, and engines
                # order NaN above every value — any comparison may hold
                continue
            if nulls.get(f["id"]) == df["record_count"]:
                return "bounds"            # all-null column
            lo = (from_single_value_bytes(f["type"], lowers[f["id"]])
                  if f["id"] in lowers else None)
            hi = (from_single_value_bytes(f["type"], uppers[f["id"]])
                  if f["id"] in uppers else None)
            if not _pred_possible_range(op, lit, lo, hi):
                return "bounds"
        return None

    def appended_files(self, since_seq: int,
                       snapshot_id: int | None = None) -> list[dict]:
        """Data files APPENDED after sequence number ``since_seq`` as of
        the given (default current) snapshot — the incremental-ingest
        delta. Manifests whose sequence_number is <= since_seq are
        skipped wholesale. Selection within newer manifests is by the
        ENTRY's data sequence number alone (not ADDED status): a
        manifest compaction rewrites unconsumed ADDED entries as
        EXISTING with their original sequence numbers preserved, so a
        status filter would silently drop any delta that a compaction
        raced past — seq > since_seq is both necessary and sufficient
        (consumed means since_seq >= the entry's seq)."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        _, manifests = avro_ocf.read_ocf(snap["manifest-list"])
        out = []
        for mf in manifests:
            if mf["sequence_number"] <= since_seq:
                continue
            if mf.get("content") == 1:
                continue                   # delete manifests: not appends
            for e in self._live_entries(mf):
                if e["sequence_number"] > since_seq:
                    out.append(e["data_file"])
        out.sort(key=lambda d: d["file_path"])
        return out

    # ------------------------------------------------------- reading

    def read(self, spark, filter=None, snapshot_id: int | None = None,
             as_of_ms: int | None = None,
             min_data_seq: int | None = None,
             max_data_seq: int | None = None,
             _plan: "ScanPlan | None" = None):
        """Planned, pruned read: ``spark.read.parquet`` over the
        surviving file list, with the filter re-applied as a Spark
        ``where`` so pruning is purely an optimization (Catalyst also
        pushes it into the parquet row-group scan). Merge-on-read
        deletes apply as broadcast left-anti joins — POSITION deletes
        on (file_path, row position) via Spark's parquet ``_metadata``
        row index (data-file paths are never reused, so global
        application is exact), EQUALITY deletes on null-safe key
        equality restricted to data files with a STRICTLY SMALLER data
        sequence number (the spec rule that lets a same-snapshot
        upsert leave its own appended rows alone). Delete sets are
        compact by design, hence the broadcasts.

        min_data_seq restricts the scan to data files with a sequence
        number STRICTLY GREATER than it, with every live delete file
        still applied — the delta read an incremental consumer wants
        (sync_iceberg): an upsert chain inside the delta resolves to
        its newest version, and delete files aimed at older data files
        are no-ops here. max_data_seq is the inclusive mirror (files AT
        OR BELOW it), used for sync's surviving-duplicate check. _plan
        reuses a ScanPlan the caller already computed (must match
        filter/snapshot) instead of re-decoding every manifest."""
        from pyspark.sql import functions as F
        # time-travel reads use the SNAPSHOT's schema generation (like
        # Iceberg engines); current reads use the current schema. Once
        # any rename (or name reuse after a drop) exists in schema
        # history, name-based parquet resolution would mis-bind old
        # files, so the read switches to Spark's field-id path — the
        # ids our writer embeds in every parquet footer.
        snap = self.snapshot(snapshot_id, as_of_ms)
        fields = (self._schema_fields_for(snap.get("schema-id"))
                  if snap is not None
                  and (snapshot_id is not None or as_of_ms is not None)
                  else self.schema_fields)
        use_ids = self._needs_field_id_read(fields)
        read_schema = self._spark_read_schema(fields, use_ids)
        if use_ids:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                           "true")
        plan = (_plan if _plan is not None
                else self.plan_files(filter, snapshot_id, as_of_ms))
        if min_data_seq is not None or max_data_seq is not None:
            lo = min_data_seq if min_data_seq is not None else -1
            hi = max_data_seq if max_data_seq is not None else None
            plan = ScanPlan(
                [f for f in plan.files if f["_seq"] > lo
                 and (hi is None or f["_seq"] <= hi)],
                plan.manifests_total, plan.manifests_pruned,
                plan.entries_total, plan.files_pruned_partition,
                plan.files_pruned_bounds, plan.delete_files)
        if not plan.files:
            return spark.createDataFrame([], read_schema)
        df = spark.read.schema(read_schema).parquet(*plan.paths)
        pos_dels = [d for d in plan.delete_files
                    if d.get("content") == 1]
        eq_dels = [d for d in plan.delete_files
                   if d.get("content") == 2]
        if pos_dels or eq_dels:
            cols = df.columns
            # _metadata.file_path is a URI (scheme-prefixed AND
            # percent-encoded — a path with a space reads back as
            # %20), so raw metadata paths must be translated to
            # Spark's URI form before any join. One tiny job learns
            # the actual form per planned file; every per-row
            # comparison below then stays a plain JVM string equality
            # (no per-row decode UDF). A plan path that cannot be
            # matched refuses loudly — a missed translation would
            # silently resurrect deleted rows.
            enc_rows = (spark.read.schema(read_schema)
                        .parquet(*plan.paths)
                        .select(F.col("_metadata.file_path").alias("p"))
                        .distinct().collect())
            import re as _re
            from urllib.parse import unquote as _unquote
            enc_by_raw = {}
            for r in enc_rows:
                enc_by_raw[_unquote(
                    _re.sub("^file:/+", "/", r["p"]))] = r["p"]
            missing = [p for p in plan.paths if p not in enc_by_raw]
            if missing:
                raise ValueError(
                    "cannot match planned data files to Spark's "
                    f"_metadata.file_path form (e.g. {missing[0]!r}); "
                    "refusing — delete suppression would be skipped")
            df = (df.withColumn("__fp", F.col("_metadata.file_path"))
                    .withColumn("__pos", F.col("_metadata.row_index")))
            if pos_dels:
                mapdf = spark.createDataFrame(
                    pd.DataFrame({"__raw": list(enc_by_raw),
                                  "__enc": list(enc_by_raw.values())}))
                dels = (spark.read
                        .schema("file_path string, pos bigint")
                        .parquet(*[d["file_path"] for d in pos_dels]))
                # inner map-join: delete rows aimed at files outside
                # this (possibly pruned) plan need no suppression
                dels = (dels.join(F.broadcast(mapdf),
                                  dels["file_path"] == mapdf["__raw"],
                                  "inner")
                        .select(F.col("__enc").alias("__del_fp"),
                                F.col("pos").alias("__del_pos")))
                df = df.join(F.broadcast(dels),
                             (F.col("__fp") == F.col("__del_fp"))
                             & (F.col("__pos") == F.col("__del_pos")),
                             "left_anti")
            if eq_dels:
                df = self._apply_equality_deletes(spark, df, plan,
                                                  eq_dels, enc_by_raw,
                                                  fields, use_ids)
            df = df.select(*cols)
        return _apply_spark_filter(df, filter)

    def _apply_equality_deletes(self, spark, df, plan, eq_dels,
                                enc_by_raw, fields, use_ids):
        """Anti-join per equality-ids group: delete rows match on
        null-safe equality of the key columns AND apply only to data
        files with a strictly smaller sequence number. ``enc_by_raw``
        maps planned raw paths to Spark's URI ``_metadata.file_path``
        form (see read()); ``fields``/``use_ids`` are the read schema —
        delete-key files written before a rename carry the old column
        name, so with ``use_ids`` they too are resolved by field id."""
        from collections import defaultdict

        from pyspark.sql import functions as F
        schema_by_id = {f["id"]: f for f in fields}
        seqdf = spark.createDataFrame(
            pd.DataFrame({"__sfp": [enc_by_raw[f["file_path"]]
                                    for f in plan.files],
                          "__dseq": [f["_seq"] for f in plan.files]}))
        df = (df.join(F.broadcast(seqdf),
                      F.col("__fp") == F.col("__sfp"), "left")
                .drop("__sfp"))
        groups = defaultdict(list)
        for d in eq_dels:
            groups[tuple(d["equality_ids"])].append(d)
        for ids, dfiles in sorted(groups.items()):
            missing = [i for i in ids if i not in schema_by_id]
            if missing:
                raise ValueError(
                    f"equality delete references field id(s) {missing} "
                    "not present in the read schema — refusing rather "
                    "than matching on null-filled keys")
            names = [schema_by_id[i]["name"] for i in ids]
            sub_schema = self._spark_read_schema(
                [schema_by_id[i] for i in ids], use_ids)
            ddf = None
            for d in sorted(dfiles, key=lambda x: x["file_path"]):
                part = (spark.read.schema(sub_schema)
                        .parquet(d["file_path"])
                        .withColumn("__eseq",
                                    F.lit(d["_seq"]).cast("bigint")))
                ddf = part if ddf is None else ddf.unionByName(part)
            ddf = ddf.select(*[F.col(n).alias(f"__eq_{n}")
                               for n in names], "__eseq")
            cond = F.col("__eseq") > F.col("__dseq")
            for n in names:
                cond = cond & F.col(n).eqNullSafe(F.col(f"__eq_{n}"))
            df = df.join(F.broadcast(ddf), cond, "left_anti")
        return df.drop("__dseq")

    def plan_files_spark(self, spark, filter=None,
                         snapshot_id: int | None = None):
        """Distributed planning: decode manifests on executors (one
        task per manifest) and return (file_path, record_count) rows
        for DATA files (delete manifests are excluded — callers that
        need merge-on-read suppression use ``read``, which plans
        locally and applies the anti-join). At 10^12-file scale the
        driver holds only the manifest list; the per-file entries
        never all materialize in one process."""
        flt = _normalize_filter(filter)
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return spark.createDataFrame(
                [], "file_path string, record_count bigint")
        _, manifests = avro_ocf.read_ocf(snap["manifest-list"])
        schema_by_id = {f["id"]: f for f in self.schema_fields}
        spec_by_id = self._spec_fields_by_id()
        keep = [m for m in manifests
                if m.get("content") != 1
                and self._manifest_may_match(
                    m, flt, self._manifest_spec(m, spec_by_id),
                    schema_by_id)]
        if not keep:
            return spark.createDataFrame(
                [], "file_path string, record_count bigint")
        default_sid = self.meta["default-spec-id"]
        mdf = spark.createDataFrame(
            pd.DataFrame({"manifest_path": [m["manifest_path"]
                                            for m in keep],
                          "sequence_number": [m["sequence_number"]
                                              for m in keep],
                          "spec_id": [m.get("partition_spec_id",
                                            default_sid)
                                      for m in keep]}))
        table_path = self.path
        flt_local = flt

        def _decode(iterator):
            tbl = load_table(table_path)
            s_by_id = {f["id"]: f for f in tbl.schema_fields}
            spec_by = tbl._spec_fields_by_id()
            for pdf in iterator:
                rows = {"file_path": [], "record_count": []}
                for mp, seq, sid in zip(pdf["manifest_path"],
                                        pdf["sequence_number"],
                                        pdf["spec_id"]):
                    mf = {"manifest_path": mp, "sequence_number": seq}
                    spec = spec_by[int(sid)]
                    for e in tbl._live_entries(mf):
                        d = e["data_file"]
                        if d.get("content", 0) != 0:
                            continue       # delete files are not data
                        if tbl._file_may_match(d, flt_local, spec,
                                               s_by_id) is None:
                            rows["file_path"].append(d["file_path"])
                            rows["record_count"].append(
                                d["record_count"])
                yield pd.DataFrame(rows)

        return mdf.repartition(min(len(keep), 32)).mapInPandas(
            _decode, "file_path string, record_count bigint")


def _kv_to_dict(kvs) -> dict:
    if not kvs:
        return {}
    return {kv["key"]: kv["value"] for kv in kvs}


def _transformed_literal(transform, ice_type, op, lit):
    """Rewrite predicate (op, lit) into partition space; None when the
    transform can't support the op (keep the file)."""
    if transform == "identity":
        return op, lit
    if transform.startswith("bucket["):
        if op == "=":
            return "=", apply_transform(transform, ice_type, lit)
        if op == "in":
            return "in", [apply_transform(transform, ice_type, v)
                          for v in lit]
        return None                        # buckets don't order
    if transform.startswith("truncate["):
        if op in ("=",):
            return "=", apply_transform(transform, ice_type, lit)
        if op in ("<", "<=", ">", ">="):
            # truncation is monotone: compare against truncated literal
            t = apply_transform(transform, ice_type, lit)
            return {"<": "<=", "<=": "<=", ">": ">=", ">=": ">="}[op], t
        return None
    return None                            # void: no pruning


def _apply_spark_filter(df, filter):
    from pyspark.sql import functions as F
    for col, op, lit in _normalize_filter(filter):
        c = F.col(col)
        if op == "=":
            cond = c == lit
        elif op == "!=":
            cond = c != lit
        elif op == "<":
            cond = c < lit
        elif op == "<=":
            cond = c <= lit
        elif op == ">":
            cond = c > lit
        elif op == ">=":
            cond = c >= lit
        else:                              # "in"
            cond = c.isin(list(lit))
        df = df.where(cond)
    return df


# ------------------------------------------------------------- appends

_BOUND_MAX_BYTES = 64    # omit bounds for wider values (spec: optional)


def _column_stats(pdf: pd.DataFrame, schema_fields) -> tuple:
    lowers, uppers, nulls, values = [], [], [], []
    n = len(pdf)
    for f in schema_fields:
        col = pdf[f["name"]]
        nnull = int(col.isna().sum())
        values.append({"key": f["id"], "value": n})
        nulls.append({"key": f["id"], "value": nnull})
        if nnull == n:
            continue
        nonnull = col.dropna()
        lo, hi = nonnull.min(), nonnull.max()
        blo = to_single_value_bytes(f["type"], lo)
        bhi = to_single_value_bytes(f["type"], hi)
        if len(blo) <= _BOUND_MAX_BYTES and len(bhi) <= _BOUND_MAX_BYTES:
            lowers.append({"key": f["id"], "value": blo})
            uppers.append({"key": f["id"], "value": bhi})
    return lowers, uppers, nulls, values


def _with_field_ids(table, ids_by_name: dict):
    """Stamp ``PARQUET:field_id`` metadata onto an arrow table's schema
    so the written parquet footer carries Iceberg field ids (the spec's
    column-resolution rule; Spark's fieldId read path resolves renamed/
    dropped columns by these). Metadata-only cast — zero data copy."""
    import pyarrow as pa
    fields = []
    for f in table.schema:
        fid = ids_by_name.get(f.name)
        fields.append(f.with_metadata(
            {b"PARQUET:field_id": str(fid).encode()})
            if fid is not None else f)
    return table.cast(pa.schema(fields))


def _pa_type_of(ice_type: str):
    """Arrow type for an Iceberg primitive (None when unmapped)."""
    import pyarrow as pa
    return {"string": pa.string(), "long": pa.int64(),
            "int": pa.int32(), "double": pa.float64(),
            "float": pa.float32(), "boolean": pa.bool_(),
            "date": pa.date32(), "binary": pa.binary(),
            "timestamp": pa.timestamp("us")}.get(ice_type)


def _write_data_file(pdf: pd.DataFrame, table_path: str, seq: int,
                     part_values: dict, schema_fields,
                     salt: str = "") -> dict:
    """Write one parquet data file + return its manifest data_file rec.
    ``salt`` namespaces the content-addressed name: rewrite commits use
    it so a rewritten file whose rows happen to equal an existing
    file's can NEVER land on the live path (pq.write_table is not
    atomic — an in-place overwrite torn by a crash would corrupt a file
    the current snapshot still references)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    salt_parts = [salt] if salt else []    # keep legacy names unsalted
    cols = [f["name"] for f in schema_fields]
    arrow = pa.Table.from_pandas(pdf[cols], preserve_index=False)
    # an ALL-NULL column infers as pa.null(), whose parquet physical
    # type (int32) breaks every later typed read of the file — cast
    # degenerate columns to their DECLARED types
    for i, f in enumerate(schema_fields):
        if pa.types.is_null(arrow.column(i).type):
            want = _pa_type_of(f["type"])
            if want is not None:
                arrow = arrow.set_column(
                    i, pa.field(f["name"], want),
                    arrow.column(i).cast(want))
    table = _with_field_ids(
        arrow, {f["name"]: f["id"] for f in schema_fields})
    # FULL-content name (Arrow IPC stream digest): racing pre-lock
    # writers at the same sequence number with the same row count and
    # first row but DIFFERENT remaining rows must never collide onto
    # one path and clobber each other — the delete/upsert paths already
    # hash full content for exactly this race
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as _w:
        _w.write_table(table)
    content_sig = hashlib.sha256(
        sink.getvalue().to_pybytes()).hexdigest()
    key = _det_uuid("data", *salt_parts, seq,
                    json.dumps(part_values, sort_keys=True, default=str),
                    len(pdf), content_sig)
    fpath = os.path.join(table_path, "data", f"{key}.parquet")
    pq.write_table(table, fpath)
    lowers, uppers, nulls, values = _column_stats(pdf, schema_fields)
    return {
        "content": 0, "file_path": fpath, "file_format": "PARQUET",
        "partition": part_values, "record_count": len(pdf),
        "file_size_in_bytes": os.path.getsize(fpath),
        "value_counts": values, "null_value_counts": nulls,
        # pyarrow from_pandas stores float NaN as null, so our own
        # files never hold NaN values; the field exists so FOREIGN
        # manifests (spec-compliant writers excluding NaN from bounds)
        # round-trip and the reader's NaN pruning guard can see them
        "nan_value_counts": None,
        "lower_bounds": lowers, "upper_bounds": uppers,
        "split_offsets": None, "equality_ids": None,
        "sort_order_id": None,
    }


def _partition_values_of(pdf: pd.DataFrame, spec_fields,
                         schema_by_id) -> pd.DataFrame:
    """Transformed partition-value columns for grouping rows."""
    out = {}
    for pf in spec_fields:
        src = schema_by_id[pf["source-id"]]
        out[pf["name"]] = pdf[src["name"]].map(
            lambda v, t=pf["transform"], it=src["type"]:
            apply_transform(t, it, v))
    return pd.DataFrame(out, index=pdf.index)


from contextlib import contextmanager


@contextmanager
def _commit_lock(path: str):
    """Exclusive table-commit lock (metadata/.commit.lock); callers
    must re-read metadata INSIDE the lock before mutating."""
    lock_path = os.path.join(_metadata_dir(path), ".commit.lock")
    with open(lock_path, "w") as lf:
        try:
            import fcntl
            fcntl.flock(lf, fcntl.LOCK_EX)
        except (ImportError, OSError):
            pass  # no flock (non-posix FS): single-writer assumption
        yield


def _partitioned_data_files(pdf: pd.DataFrame, path: str, seq: int,
                            table: IcebergTable,
                            salt: str = "") -> list[dict]:
    """Group rows by transformed partition tuple; one data file per
    partition value (shared by append_pandas and upsert_pandas)."""
    schema_by_id = {f["id"]: f for f in table.schema_fields}
    spec_fields = table.spec_fields
    if len(pdf) == 0:
        # the partitioned path's groupby yields no files naturally; a
        # zero-row data file would later fail read()'s planned-vs-seen
        # reconciliation (no _metadata row exists for an empty file)
        return []
    if not spec_fields:
        return [_write_data_file(pdf, path, seq, {},
                                 table.schema_fields, salt)]
    out = []
    pvals = _partition_values_of(pdf, spec_fields, schema_by_id)
    for key, idx in pvals.groupby(list(pvals.columns), dropna=False,
                                  sort=True).groups.items():
        if not isinstance(key, tuple):
            key = (key,)
        part = {pf["name"]: (None if pd.isna(k) else _to_py(k))
                for pf, k in zip(spec_fields, key)}
        out.append(_write_data_file(pdf.loc[idx], path, seq, part,
                                    table.schema_fields, salt))
    return out


def _commit_append(table: IcebergTable, data_files: list[dict],
                   timestamp_ms: int, operation: str = "append",
                   delete_files: list[dict] | None = None
                   ) -> IcebergTable:
    """Driver-side metadata commit: manifest -> manifest list -> new
    metadata version + version-hint (atomic os.replace), serialized by
    an exclusive commit lock with a FRESH metadata read inside it (the
    same discipline as Manifest._locked_fresh): appends commute — the
    data files are already on disk and carry no sequence numbers — so a
    commit that raced another simply rebases onto the winner's
    metadata instead of clobbering its snapshot (last-writer-wins was
    the original bug: both writers os.replace the same vN+1 and one
    snapshot silently vanishes)."""
    with _commit_lock(table.path):
        fresh = load_table(table.path)
        return _commit_append_locked(fresh, data_files, timestamp_ms,
                                     operation, delete_files or [])


def _commit_append_locked(table: IcebergTable, data_files: list[dict],
                          timestamp_ms: int,
                          operation: str = "append",
                          delete_files: list[dict] | None = None
                          ) -> IcebergTable:
    delete_files = delete_files or []
    meta = dict(table.meta)
    seq = meta["last-sequence-number"] + 1
    # snapshot id is content-derived, NOT just (uuid, seq): the uuid is
    # path-derived, so a dropped-and-recreated table at the same path
    # reaching the same seq with DIFFERENT data must get a different
    # snapshot id — iceberg_ingest's lineage check depends on it.
    # Still deterministic (same inputs -> same table) for fixtures.
    content_sig = hashlib.sha256("|".join(
        d["file_path"] for d in data_files + delete_files
    ).encode()).hexdigest()[:16]
    snap_id = int(hashlib.sha256(
        f"{meta['table-uuid']}|{seq}|{timestamp_ms}|{content_sig}"
        .encode()).hexdigest()[:15], 16)
    mdir = _metadata_dir(table.path)
    schema_by_id = {f["id"]: f for f in table.schema_fields}
    spec_fields = table.spec_fields

    entry_schema = manifest_entry_avro_schema(spec_fields, schema_by_id)

    def _write_manifest(files: list[dict], content: int,
                        tag: str) -> dict:
        manifest_meta = {
            "schema": json.dumps({"type": "struct",
                                  "fields": table.schema_fields}),
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": str(meta["default-spec-id"]),
            "format-version": "2",
            "content": "data" if content == 0 else "deletes"}
        mpath = os.path.join(
            mdir, f"{_det_uuid('manifest', snap_id, tag)}-{tag}.avro")
        entries = [{"status": 1, "snapshot_id": snap_id,
                    "sequence_number": seq, "file_sequence_number": seq,
                    "data_file": df} for df in files]
        avro_ocf.write_ocf(mpath, entry_schema, entries,
                           metadata=manifest_meta)
        return {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": meta["default-spec-id"],
            "content": content,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(files),
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": sum(d["record_count"] for d in files),
            "existing_rows_count": 0, "deleted_rows_count": 0,
            "partitions": _field_summaries(files, spec_fields,
                                           schema_by_id),
        }

    new_manifests = []
    if data_files or not delete_files:     # keep append's empty commit
        new_manifests.append(_write_manifest(data_files, 0, "m0"))
    if delete_files:
        new_manifests.append(_write_manifest(delete_files, 1, "m1"))
    prior = table.snapshot()
    prior_manifests = []
    if prior is not None:
        _, prior_manifests = avro_ocf.read_ocf(prior["manifest-list"])
    manifest_meta_data = {
        "schema": json.dumps({"type": "struct",
                              "fields": table.schema_fields}),
        "partition-spec": json.dumps(spec_fields),
        "partition-spec-id": str(meta["default-spec-id"]),
        "format-version": "2", "content": "data"}
    manifests = _maybe_merge_manifests(
        table, prior_manifests + new_manifests, meta, snap_id,
        entry_schema, manifest_meta_data, spec_fields, schema_by_id)
    return _finalize_snapshot(table, meta, manifests, snap_id, seq,
                              timestamp_ms, operation, prior)


def _finalize_snapshot(table, meta, manifests, snap_id, seq,
                       timestamp_ms, operation, prior) -> IcebergTable:
    """Write the manifest list, append the snapshot to the metadata,
    and publish the new metadata version (shared by append-style and
    replace-style commits; callers hold the commit lock)."""
    mdir = _metadata_dir(table.path)
    ml_path = os.path.join(
        mdir, f"snap-{snap_id}-1-{_det_uuid('ml', snap_id)}.avro")
    avro_ocf.write_ocf(ml_path, MANIFEST_LIST_AVRO_SCHEMA, manifests)

    snapshot = {"snapshot-id": snap_id, "sequence-number": seq,
                "timestamp-ms": timestamp_ms, "manifest-list": ml_path,
                "summary": {"operation": operation},
                "schema-id": meta["current-schema-id"]}
    if prior is not None:
        snapshot["parent-snapshot-id"] = prior["snapshot-id"]
    meta["snapshots"] = meta["snapshots"] + [snapshot]
    meta["snapshot-log"] = meta["snapshot-log"] + [
        {"timestamp-ms": timestamp_ms, "snapshot-id": snap_id}]
    meta["metadata-log"] = meta["metadata-log"] + [
        {"timestamp-ms": timestamp_ms,
         "metadata-file": os.path.join(
             mdir, f"v{table.version}.metadata.json")}]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = timestamp_ms
    _write_metadata(table.path, meta, table.version + 1)
    return IcebergTable(table.path, meta, table.version + 1)


def _maybe_merge_manifests(table, manifests, meta, snap_id,
                           entry_schema, manifest_meta, spec_fields,
                           schema_by_id):
    """Manifest compaction (the analog of Iceberg's ManifestMergeManager
    with commit.manifest.min-count-to-merge / target-size-bytes): when
    at least min-count manifests are under the target size, rewrite
    them into ONE merged manifest whose entries become EXISTING with
    their original data sequence numbers and snapshot ids preserved.
    This bounds manifest-list growth (and so full-plan cost) under
    many small appends. Old manifest FILES are left on disk — earlier
    snapshots' manifest lists still reference them, and snapshots are
    never expired here. Amortized: the merged manifest eventually
    crosses the target size and graduates out of the small set."""
    props = meta.get("properties", {})
    min_count = int(props.get("commit.manifest.min-count-to-merge", 100))
    target = int(props.get("commit.manifest.target-size-bytes",
                           8 * 1024 * 1024))
    # delete manifests are never merged with data manifests (distinct
    # content type; their entries are (file_path,pos) tuples, not
    # rows), and only manifests under the CURRENT default spec merge —
    # the merged manifest is written with the default spec's partition
    # struct, so folding an old-spec manifest in would mis-encode its
    # entries' partition values
    small = [m for m in manifests
             if m["manifest_length"] < target and m.get("content") == 0
             and m.get("partition_spec_id") == meta["default-spec-id"]]
    if len(small) < max(min_count, 2):
        return manifests
    small_paths = {m["manifest_path"] for m in small}
    big = [m for m in manifests
           if m["manifest_path"] not in small_paths]
    entries = []
    for mf in small:
        for e in table._live_entries(mf):
            entries.append({
                "status": 0,               # EXISTING
                "snapshot_id": e["snapshot_id"],
                "sequence_number": e["sequence_number"],
                "file_sequence_number": (
                    e["file_sequence_number"]
                    if e["file_sequence_number"] is not None
                    else e["sequence_number"]),
                "data_file": e["data_file"]})
    mdir = _metadata_dir(table.path)
    path = os.path.join(
        mdir, f"{_det_uuid('manifest-merged', snap_id, len(entries))}"
              f"-mm.avro")
    avro_ocf.write_ocf(path, entry_schema, entries,
                       metadata=manifest_meta)
    data_files = [e["data_file"] for e in entries]
    merged = {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": meta["default-spec-id"], "content": 0,
        # max child seq: appended_files' manifest-list skip stays exact
        "sequence_number": max(m["sequence_number"] for m in small),
        "min_sequence_number": min(m["min_sequence_number"]
                                   for m in small),
        "added_snapshot_id": snap_id,
        "added_files_count": 0,
        "existing_files_count": len(entries),
        "deleted_files_count": 0,
        "added_rows_count": 0,
        "existing_rows_count": sum(d["record_count"]
                                   for d in data_files),
        "deleted_rows_count": 0,
        "partitions": _field_summaries(data_files, spec_fields,
                                       schema_by_id),
    }
    return big + [merged]


def _field_summaries(data_files, spec_fields, schema_by_id):
    if not spec_fields:
        return None
    out = []
    for pf in spec_fields:
        src = schema_by_id[pf["source-id"]]
        rt = _transform_result_type(pf["transform"], src["type"])
        vals = [d["partition"].get(pf["name"]) for d in data_files]
        nonnull = [v for v in vals if v is not None]
        summ = {"contains_null": len(nonnull) < len(vals),
                "contains_nan": None, "lower_bound": None,
                "upper_bound": None}
        if nonnull:
            summ["lower_bound"] = to_single_value_bytes(rt, min(nonnull))
            summ["upper_bound"] = to_single_value_bytes(rt, max(nonnull))
        out.append(summ)
    return out


def append_pandas(path: str, pdf: pd.DataFrame,
                  timestamp_ms: int = 0) -> IcebergTable:
    """Driver-local append (fixtures / small batches): group rows by
    transformed partition tuple, one data file per partition value."""
    table = load_table(path)
    seq = table.meta["last-sequence-number"] + 1
    data_files = _partitioned_data_files(pdf, path, seq, table)
    return _commit_append(table, data_files, timestamp_ms)


def _to_py(v):
    """numpy scalar -> plain Python for Avro encoding."""
    if hasattr(v, "item"):
        return v.item()
    return v


def _pdf_mask(pdf: pd.DataFrame, flt) -> pd.Series:
    mask = pd.Series(True, index=pdf.index)
    for col, op, lit in flt:
        s = pdf[col]
        if op == "=":
            mask &= s == lit
        elif op == "!=":
            mask &= s != lit
        elif op == "<":
            mask &= s < lit
        elif op == "<=":
            mask &= s <= lit
        elif op == ">":
            mask &= s > lit
        elif op == ">=":
            mask &= s >= lit
        else:                              # "in"
            mask &= s.isin(list(lit))
    return mask


def _read_cols_by_id(fpath: str, wanted: list[dict]) -> pd.DataFrame:
    """Driver-side read of ``wanted`` (schema field dicts) from ONE
    parquet data file, resolving columns by the embedded
    ``PARQUET:field_id`` when the file carries ids (so files written
    under a pre-rename name bind correctly) and by name otherwise
    (legacy files). Output columns use the CURRENT names; fields the
    file lacks (added after it was written) come back all-null. The
    returned RangeIndex is the file row position (delete_where's
    contract)."""
    import pyarrow.parquet as pq
    pf = pq.ParquetFile(fpath)
    phys_by_id = {}
    for f in pf.schema_arrow:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            phys_by_id[int(fid)] = f.name
    names_in_file = set(pf.schema_arrow.names)
    cols, rename, absent = [], {}, []
    for f in wanted:
        if phys_by_id:
            phys = phys_by_id.get(f["id"])
        else:
            phys = f["name"] if f["name"] in names_in_file else None
        if phys is None:
            absent.append(f["name"])
        else:
            cols.append(phys)
            rename[phys] = f["name"]
    if cols:
        pdf = pf.read(columns=cols).to_pandas().rename(columns=rename)
    else:
        pdf = pd.DataFrame(index=pd.RangeIndex(pf.metadata.num_rows))
    for name in absent:
        pdf[name] = None
    return pdf[[f["name"] for f in wanted]]


def _norm_key(v):
    """Dtype-stable key value for equality comparison across parquet
    reads: pandas floatifies int columns that carry nulls in ONE file
    but not another, so 7 and 7.0 must compare equal; bytes stay bytes
    (str(bytes) != str(bytearray)); NaN/None compare as one null."""
    if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NA:
        return None
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return int(f) if f.is_integer() else f
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def delete_where(path: str, filter, timestamp_ms: int = 0
                 ) -> IcebergTable:
    """Row-level delete, merge-on-read style: writes a POSITION DELETE
    file (spec columns file_path/pos) listing every surviving-file row
    matching the filter, committed as a content=1 (deletes) manifest in
    a new snapshot. No data file is rewritten; readers suppress the
    positions via the anti-join in ``read``. The scan to find positions
    is pruned by the same planner as any read (files whose bounds
    can't match are never opened); re-deleting an already-deleted row
    is harmless (the anti-join is idempotent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = load_table(path)
    flt = _normalize_filter(filter)
    if not flt:
        raise ValueError("delete_where requires a non-empty filter; "
                         "use a fresh table for truncate semantics")
    plan = table.plan_files(filter)
    fps: list[str] = []
    poss: list[int] = []
    deleted_before = {}
    eq_sets = []   # (delete seq, field dicts, set of normalized tuples)
    fld_by_id = {f["id"]: f for f in table.schema_fields}
    for d in plan.delete_files:
        if d.get("content") == 2:
            # equality-dead rows must not receive position deletes: a
            # pos delete for an already-dead row later resolves (in a
            # CDC sync) to a key whose LIVE newer version survives —
            # wrongly flagged as a surviving duplicate
            wanted_eq = [fld_by_id[i] for i in d["equality_ids"]
                         if i in fld_by_id]
            if len(wanted_eq) != len(d["equality_ids"]):
                continue    # dropped column: set can't match anything
            epdf = _read_cols_by_id(d["file_path"], wanted_eq)
            eq_sets.append((d["_seq"], wanted_eq, {
                tuple(_norm_key(v) for v in t)
                for t in epdf.itertuples(index=False, name=None)}))
            continue
        ddf = pd.read_parquet(d["file_path"])
        for fp, pos in zip(ddf["file_path"], ddf["pos"]):
            deleted_before.setdefault(fp, set()).add(int(pos))
    filter_cols = sorted({c for c, _op, _lit in flt})
    by_name = {f["name"]: f for f in table.schema_fields}
    unknown = [c for c in filter_cols if c not in by_name]
    if unknown:
        raise ValueError(f"unknown filter column(s) {unknown} — "
                         "delete_where filters use CURRENT schema names")
    wanted = [by_name[c] for c in filter_cols]
    for f in plan.files:
        # read only the predicate columns, resolved by field id (files
        # written under a pre-rename name bind correctly): the pandas
        # RangeIndex preserves file row positions regardless of the
        # column subset, so this driver scan is proportional to key
        # width, not row width
        pdf = _read_cols_by_id(f["file_path"], wanted)
        mask = _pdf_mask(pdf, flt)
        already = set(deleted_before.get(f["file_path"], ()))
        # strictly-smaller rule: an eq delete at seq d kills rows of
        # data files with seq < d — those rows are dead, skip them
        for dseq, eq_fields, keyset in eq_sets:
            if f["_seq"] >= dseq or not keyset:
                continue
            kdf = _read_cols_by_id(f["file_path"], eq_fields)
            already.update(
                i for i, t in enumerate(
                    kdf.itertuples(index=False, name=None))
                if tuple(_norm_key(v) for v in t) in keyset)
        for pos in pdf.index[mask]:
            if int(pos) not in already:
                fps.append(f["file_path"])
                poss.append(int(pos))
    if not fps:
        return table                       # nothing matched: no commit
    seq = table.meta["last-sequence-number"] + 1
    # full-content name: racing delete_where calls with different row
    # sets must never collide on one file path (the commit lock
    # serializes metadata, not these pre-lock file writes)
    content_sig = hashlib.sha256(
        "|".join(f"{fp}:{p}" for fp, p in zip(fps, poss)).encode()
    ).hexdigest()
    key = _det_uuid("delete", seq, content_sig)
    dpath = os.path.join(path, "data", f"{key}-deletes.parquet")
    pq.write_table(_with_field_ids(
        pa.table({"file_path": pa.array(fps, pa.string()),
                  "pos": pa.array(poss, pa.int64())}),
        {"file_path": _POS_DELETE_PATH_ID, "pos": _POS_DELETE_POS_ID}),
        dpath)
    spec_fields = table.spec_fields
    delete_file = {
        "content": 1, "file_path": dpath, "file_format": "PARQUET",
        "partition": {pf["name"]: None for pf in spec_fields},
        "record_count": len(fps),
        "file_size_in_bytes": os.path.getsize(dpath),
        "value_counts": None, "null_value_counts": None,
        "nan_value_counts": None,
        "lower_bounds": None, "upper_bounds": None,
        "split_offsets": None, "equality_ids": None,
        "sort_order_id": None,
    }
    return _commit_append(table, [], timestamp_ms, operation="delete",
                          delete_files=[delete_file])


def upsert_pandas(path: str, pdf: pd.DataFrame, key_cols: list[str],
                  timestamp_ms: int = 0) -> IcebergTable:
    """CDC-style upsert in ONE snapshot (the Flink-writer shape): an
    EQUALITY DELETE file on ``key_cols`` plus the new rows as data
    files. Both carry this commit's sequence number, and equality
    deletes apply only to data files with a STRICTLY SMALLER sequence
    number — so the delete retires every older row with a matching key
    while the rows appended here are untouched. Rows whose keys are
    new behave as plain inserts (the delete matches nothing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = load_table(path)
    by_name = {f["name"]: f for f in table.schema_fields}
    missing = [c for c in key_cols if c not in by_name]
    if missing or not key_cols:
        raise ValueError(f"unknown or empty key columns: {missing}")
    ids = [by_name[c]["id"] for c in key_cols]
    # in-batch last-wins: both versions of a key repeated WITHIN one
    # upsert batch would land at the same sequence number, where the
    # strictly-smaller rule retires neither — the table would serve
    # two live rows for one key (and wedge a CDC sync's uniqueness
    # probe). CDC writers define batch order as arrival order.
    pdf = pdf.drop_duplicates(subset=key_cols, keep="last") \
        .reset_index(drop=True)
    keys = pdf[key_cols].drop_duplicates().reset_index(drop=True)
    kt = pa.Table.from_pandas(keys, preserve_index=False)
    # cast to the DECLARED column types: pandas inference is wrong for
    # degenerate inputs (an all-null key column infers as pa.null(),
    # whose parquet physical type breaks every later read of this file)
    kt = pa.table({c: (kt.column(c).cast(want)
                       if (want := _pa_type_of(by_name[c]["type"]))
                       is not None else kt.column(c))
                   for c in key_cols})
    seq_hint = table.meta["last-sequence-number"] + 1
    # name derives from the FULL key-set content: two racing upserts
    # with different keys must never collide on the same file path
    # (the commit lock serializes metadata, not these pre-lock writes)
    keys_sig = hashlib.sha256(
        keys.to_csv(index=False).encode()).hexdigest()
    kname = _det_uuid("eqdel", seq_hint, keys_sig)
    dpath = os.path.join(path, "data", f"{kname}-eqdeletes.parquet")
    pq.write_table(_with_field_ids(
        kt, {c: by_name[c]["id"] for c in key_cols}), dpath)
    spec_fields = table.spec_fields
    delete_file = {
        "content": 2, "file_path": dpath, "file_format": "PARQUET",
        "partition": {pf["name"]: None for pf in spec_fields},
        "record_count": len(keys),
        "file_size_in_bytes": os.path.getsize(dpath),
        "value_counts": None, "null_value_counts": None,
        "nan_value_counts": None,
        "lower_bounds": None, "upper_bounds": None,
        "split_offsets": None, "equality_ids": ids,
        "sort_order_id": None,
    }
    data_files = _partitioned_data_files(pdf, path, seq_hint, table)
    return _commit_append(table, data_files, timestamp_ms,
                          operation="overwrite",
                          delete_files=[delete_file])


def append_spark(path: str, df, timestamp_ms: int = 0,
                 files_per_partition_value: int = 1) -> IcebergTable:
    """Distributed append: executors write parquet data files inside
    applyInPandas (grouped by the transformed partition tuple plus a
    within-partition file split) and return ONE STATS ROW PER FILE;
    the driver collects only those bounded rows and commits. Requires
    a filesystem all executors and the driver share (local FS here;
    S3A/HDFS on a cluster), the same assumption the index builder
    makes for segment files."""
    from pyspark.sql import functions as F

    table = load_table(path)
    schema_fields = table.schema_fields
    schema_by_id = {f["id"]: f for f in schema_fields}
    spec_fields = table.spec_fields
    seq = table.meta["last-sequence-number"] + 1
    table_path = path

    cols = [f["name"] for f in schema_fields]
    work = df.select(*cols)
    group_cols = []
    for pf in spec_fields:
        src = schema_by_id[pf["source-id"]]
        gname = f"_p_{pf['name']}"
        work = work.withColumn(
            gname, _spark_transform_col(F, pf["transform"],
                                        src["type"], src["name"]))
        group_cols.append(gname)
    # hash ALL data columns: hashing a subset silently degenerates to
    # one file per partition value whenever the subset is constant
    # within a group (e.g. identity partition on that column) — the
    # executor-memory case files_per_partition_value exists to prevent
    split = F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
                   F.lit(files_per_partition_value))
    work = work.withColumn("_p_split", split)
    group_cols.append("_p_split")

    spec_local = spec_fields
    fields_local = schema_fields

    def _write_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        part = {}
        for pf, k in zip(spec_local, key[:-1]):
            part[pf["name"]] = None if pd.isna(k) else _to_py(k)
        rec = _write_data_file(pdf.drop(columns=[c for c in pdf.columns
                                                 if c.startswith("_p_")]),
                               table_path, seq, part, fields_local)
        return pd.DataFrame({"data_file_json": [json.dumps(
            rec, default=_json_bytes)]})

    # groupBy.applyInPandas already shuffles by the group keys; an
    # explicit repartition first would double the shuffle I/O
    stats = (work.groupBy(*group_cols)
             .applyInPandas(_write_group, "data_file_json string")
             .collect())
    data_files = [_json_unbytes(json.loads(r["data_file_json"]))
                  for r in stats]
    data_files.sort(key=lambda d: d["file_path"])
    return _commit_append(table, data_files, timestamp_ms)


# -------------------------------------------------- table maintenance

def _reachable_paths(table: IcebergTable, snapshots: list[dict]
                     ) -> tuple[set, set, set]:
    """(manifest-list paths, manifest paths, data/delete file paths)
    reachable from the given snapshots. Every entry status counts —
    a DELETED entry still references its file, and a reader listing
    that manifest must be able to open it."""
    mlists, mpaths, fpaths = set(), set(), set()
    for snap in snapshots:
        mlists.add(snap["manifest-list"])
        _, manifests = avro_ocf.read_ocf(snap["manifest-list"])
        for mf in manifests:
            if mf["manifest_path"] in mpaths:
                continue                   # manifests are shared
            mpaths.add(mf["manifest_path"])
            _, entries = avro_ocf.read_ocf(mf["manifest_path"])
            for e in entries:
                fpaths.add(e["data_file"]["file_path"])
    return mlists, mpaths, fpaths


def _safe_unlink(p: str, root: str, removed: list) -> None:
    if os.path.abspath(p).startswith(os.path.abspath(root) + os.sep):
        try:
            os.unlink(p)
            removed.append(p)
        except FileNotFoundError:
            pass


def rewrite_data_files(path: str, timestamp_ms: int = 0) -> dict:
    """Compaction: fold the table's merge-on-read delete debt into the
    data files. Every live data file carrying deleted rows (position or
    equality) is rewritten 1:1 without them under the CURRENT schema;
    untouched files are carried forward unchanged. The replace commit's
    manifest list holds ONE data manifest and NO delete manifests —
    every eq/pos delete was applied to every file it governed (position
    deletes name their files; an equality delete at sequence s governs
    files with seq < s, all of which are in this plan), so dropping
    them is sound.

    Files written under an OLD partition spec are also rewritten —
    re-partitioned into the current default layout (this is the
    migration path after ``update_partition_spec``), so the commit's
    single manifest is uniformly current-spec.

    Entries preserve each file's DATA sequence number (explicit v2
    sequence_number, like a compaction's EXISTING rewrite): incremental
    consumers (``ingest_iceberg``) never re-ingest rewritten rows, and
    a FUTURE equality delete (larger seq) still governs them. Combined
    with ``expire_snapshots``, the replaced files become deletable.
    Analog of Iceberg's ``rewrite_data_files`` maintenance action
    (driver-side row work — a maintenance op over delete-bearing files,
    not the bulk-append path)."""
    with _commit_lock(path):
        table = load_table(path)
        plan = table.plan_files()
        default_sid = table.meta["default-spec-id"]
        if not plan.delete_files and all(
                f["_spec_id"] == default_sid for f in plan.files):
            return {"rewritten_files": 0, "carried_files": 0,
                    "dropped_delete_files": 0, "rows_removed": 0}
        fields = table.schema_fields
        schema_by_id = {f["id"]: f for f in fields}
        spec_fields = table.spec_fields
        meta = dict(table.meta)
        seq = meta["last-sequence-number"] + 1

        pos_by_file: dict[str, set] = {}
        eq_groups = []                     # (key_fields, keys_set, seq)
        for d in plan.delete_files:
            if d["content"] == 1:
                ddf = pd.read_parquet(d["file_path"])
                for fp, pos in zip(ddf["file_path"], ddf["pos"]):
                    pos_by_file.setdefault(fp, set()).add(int(pos))
            else:
                ids = d["equality_ids"]
                missing = [i for i in ids if i not in schema_by_id]
                if missing:
                    raise ValueError(
                        f"equality delete references field id(s) "
                        f"{missing} not in the current schema — "
                        "cannot rewrite")
                kf = [schema_by_id[i] for i in ids]
                kdf = _read_cols_by_id(d["file_path"], kf)
                keys = {tuple(None if pd.isna(v) else v for v in row)
                        for row in kdf.itertuples(index=False)}
                eq_groups.append((kf, keys, d["_seq"]))

        entries, rewritten, carried, removed = [], 0, 0, 0
        for f in sorted(plan.files, key=lambda x: x["file_path"]):
            touched = (f["file_path"] in pos_by_file
                       or f["_spec_id"] != default_sid
                       or any(f["_seq"] < eseq
                              for _kf, _keys, eseq in eq_groups))
            if not touched:
                carried += 1
                entries.append({
                    "status": 0, "snapshot_id": None,
                    "sequence_number": f["_seq"],
                    "file_sequence_number": f["_seq"],
                    "data_file": {k: v for k, v in f.items()
                                  if k not in ("_seq", "_spec_id")}})
                continue
            pdf = _read_cols_by_id(f["file_path"], fields)
            keep = pd.Series(True, index=pdf.index)
            dead = pos_by_file.get(f["file_path"])
            if dead:
                keep.iloc[sorted(dead)] = False
            for kf, keys, eseq in eq_groups:
                if f["_seq"] >= eseq:
                    continue               # strictly-smaller rule
                names = [x["name"] for x in kf]
                hit = pdf[names].apply(
                    lambda row: tuple(None if pd.isna(v) else v
                                      for v in row) in keys, axis=1)
                keep &= ~hit
            removed += int((~keep).sum())
            kept = pdf[keep].reset_index(drop=True)
            rewritten += 1
            if not len(kept):
                continue                   # fully deleted: no new file
            # partition under the CURRENT default spec (a one-group
            # no-op when the file's spec is already current — its rows
            # share one partition tuple — and the migration path when
            # it isn't). Salted name: a rewritten file whose rows equal
            # the original's must not overwrite the live path in place
            for rec in _partitioned_data_files(kept, path, f["_seq"],
                                               table, salt=f"rw{seq}"):
                entries.append({
                    "status": 1, "snapshot_id": None,
                    "sequence_number": f["_seq"],
                    "file_sequence_number": seq,
                    "data_file": rec})

        content_sig = hashlib.sha256("|".join(
            e["data_file"]["file_path"] for e in entries
        ).encode()).hexdigest()[:16]
        snap_id = int(hashlib.sha256(
            f"{meta['table-uuid']}|{seq}|{timestamp_ms}|{content_sig}"
            .encode()).hexdigest()[:15], 16)
        for e in entries:
            e["snapshot_id"] = snap_id
        mdir = _metadata_dir(path)
        entry_schema = manifest_entry_avro_schema(spec_fields,
                                                  schema_by_id)
        mpath = os.path.join(
            mdir, f"{_det_uuid('manifest-rewrite', snap_id)}-rw.avro")
        avro_ocf.write_ocf(mpath, entry_schema, entries, metadata={
            "schema": json.dumps({"type": "struct", "fields": fields}),
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": str(meta["default-spec-id"]),
            "format-version": "2", "content": "data"})
        data_files = [e["data_file"] for e in entries]
        manifest = {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": meta["default-spec-id"], "content": 0,
            "sequence_number": seq,
            "min_sequence_number": min(
                (e["sequence_number"] for e in entries), default=seq),
            "added_snapshot_id": snap_id,
            "added_files_count": sum(1 for e in entries
                                     if e["status"] == 1),
            "existing_files_count": sum(1 for e in entries
                                        if e["status"] == 0),
            "deleted_files_count": 0,
            "added_rows_count": sum(e["data_file"]["record_count"]
                                    for e in entries
                                    if e["status"] == 1),
            "existing_rows_count": sum(e["data_file"]["record_count"]
                                       for e in entries
                                       if e["status"] == 0),
            "deleted_rows_count": 0,
            "partitions": _field_summaries(data_files, spec_fields,
                                           schema_by_id),
        }
        if plan.delete_files:
            # watermark for incremental consumers: folding delete debt
            # DROPS the delete manifests while preserving data sequence
            # numbers, so a consumer whose checkpoint predates a folded
            # delete would neither see the delete nor re-read the
            # rewritten rows. Record (max folded delete seq, THIS
            # rewrite's seq) pairs: sync_iceberg refuses a fold only
            # when the rewrite is actually visible in its planned
            # snapshot — a sync pinned BEFORE the rewrite still sees
            # the delete manifests and is sound.
            props = meta.get("properties", {})
            folds = json.loads(props.get("quickwit.folded-deletes",
                                         "[]"))
            folds.append([max(d["_seq"] for d in plan.delete_files),
                          seq])
            meta["properties"] = {**props,
                                  "quickwit.folded-deletes":
                                      json.dumps(folds)}
        _finalize_snapshot(table, meta, [manifest], snap_id, seq,
                           timestamp_ms, "replace", table.snapshot())
        return {"rewritten_files": rewritten, "carried_files": carried,
                "dropped_delete_files": len(plan.delete_files),
                "rows_removed": removed}


def expire_snapshots(path: str, older_than_ms: int | None = None,
                     retain_last: int = 1) -> dict:
    """Retention: drop snapshots older than ``older_than_ms`` (always
    keeping the current one and the ``retain_last`` most recent), then
    delete every file reachable ONLY from the expired snapshots
    (manifest lists, manifests, data/delete files). The highest expired
    sequence number is recorded as a table-property watermark so
    ``ingest_iceberg``'s lineage check can tell legitimately-expired
    history from a replaced table. Analog of Iceberg's
    ``expire_snapshots`` maintenance action."""
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    with _commit_lock(path):
        table = load_table(path)
        meta = dict(table.meta)
        snaps = sorted(meta["snapshots"],
                       key=lambda s: (s["timestamp-ms"],
                                      s["sequence-number"]))
        cur = meta["current-snapshot-id"]
        keep_ids = {s["snapshot-id"] for s in snaps[-retain_last:]}
        if cur != -1:
            keep_ids.add(cur)
        if older_than_ms is not None:
            keep_ids |= {s["snapshot-id"] for s in snaps
                         if s["timestamp-ms"] >= older_than_ms}
        expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
        if not expired:
            return {"expired_snapshots": 0, "deleted_files": 0}
        kept = [s for s in snaps if s["snapshot-id"] in keep_ids]
        kl, km, kf = _reachable_paths(table, kept)
        el, em, ef = _reachable_paths(table, expired)
        doomed = sorted(el - kl) + sorted(em - km) + sorted(ef - kf)
        watermark = max(
            int(meta.get("properties", {})
                .get("quickwit.expired-up-to-seq", -1)),
            max(s["sequence-number"] for s in expired))
        meta["properties"] = {**meta.get("properties", {}),
                              "quickwit.expired-up-to-seq":
                                  str(watermark)}
        meta["snapshots"] = kept
        meta["snapshot-log"] = [
            e for e in meta["snapshot-log"]
            if e["snapshot-id"] in keep_ids]
        # metadata FIRST, file deletion second: a crash in between
        # strands orphans (reclaimable by remove_orphan_files), whereas
        # the reverse order would leave live metadata referencing
        # already-deleted manifest lists — breaking time travel AND the
        # next maintenance call's reachability walk
        _write_metadata(path, meta, table.version + 1)
        removed: list[str] = []
        for p in doomed:
            _safe_unlink(p, path, removed)
        return {"expired_snapshots": len(expired),
                "deleted_files": len(removed),
                "deleted_paths": removed}


def remove_orphan_files(path: str, older_than_ms: int | None = None,
                        dry_run: bool = False) -> list[str]:
    """Delete files under the table's data/ and metadata/ directories
    that no snapshot in the CURRENT metadata references — the debris of
    crashed pre-commit writers (data files are written before the
    commit lock is taken; a crash strands them). ``older_than_ms``
    guards against racing an in-flight append whose commit hasn't
    landed yet: only files whose mtime is older are candidates (pass
    None to skip the guard — safe only when no writer is live).
    Metadata versions, the version hint, and lock files are never
    touched. Analog of Iceberg's ``remove_orphan_files`` action."""
    with _commit_lock(path):
        table = load_table(path)
        ml, mm, mf = _reachable_paths(table, table.meta["snapshots"])
        reachable = {os.path.abspath(p) for p in (ml | mm | mf)}
        removed: list[str] = []
        mdir = _metadata_dir(path)
        for d in (os.path.join(path, "data"), mdir):
            if not os.path.isdir(d):
                continue
            for name in sorted(os.listdir(d)):
                p = os.path.abspath(os.path.join(d, name))
                if not os.path.isfile(p) or p in reachable:
                    continue
                if d == mdir and not name.endswith(".avro"):
                    continue               # metadata json / hint / lock
                if older_than_ms is not None and \
                        os.path.getmtime(p) * 1000 >= older_than_ms:
                    continue
                removed.append(p)
                if not dry_run:
                    os.unlink(p)
        return removed


def _spark_transform_col(F, transform, ice_type, name):
    c = F.col(name)
    if transform == "identity":
        return c
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if ice_type == "string":
            return F.substring(c, 1, w)
        return c - _pymod_expr(F, c, w)
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        # murmur3 isn't a Spark builtin; compute via pandas_udf
        import pandas as _pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("int")
        def _bucket(s: _pd.Series) -> _pd.Series:
            return s.map(lambda v: None if _pd.isna(v) else
                         (murmur3_32(_bucket_hash_bytes(ice_type, v))
                          & 0x7FFFFFFF) % n)
        return _bucket(c)
    if transform == "void":
        return F.lit(None)
    raise ValueError(f"unsupported transform {transform!r}")


def _pymod_expr(F, c, w):
    # Python-style floor mod for truncate[] on ints (Spark % is C-style)
    return ((c % w) + w) % w


def _json_bytes(v):
    if isinstance(v, (bytes, bytearray)):
        return {"__b64__": __import__("base64").b64encode(
            bytes(v)).decode()}
    raise TypeError(type(v).__name__)


def _json_unbytes(obj):
    if isinstance(obj, dict):
        if set(obj) == {"__b64__"}:
            return __import__("base64").b64decode(obj["__b64__"])
        return {k: _json_unbytes(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_json_unbytes(v) for v in obj]
    return obj
