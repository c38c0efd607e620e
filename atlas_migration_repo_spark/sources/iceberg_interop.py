"""Apache Iceberg format interop — read/write the OPEN Iceberg table
format (spec v2) without the iceberg-spark jar (SURVEY.md §2.1 lakehouse
boundary, the sibling of delta_interop.py).

A table is: immutable parquet data files + a `metadata/` tree —
`vN.metadata.json` (schemas with field-ids, partition specs, snapshot
list) + `version-hint.text` (HadoopCatalog convention), where each
snapshot points at a MANIFEST LIST (an Avro file of manifest summaries)
and each manifest (Avro again) lists data files with status, typed
partition values, and counts. All Avro here is written/read by this
repo's own public-spec codec (`sources/avro.py`, extended with the
nested records/arrays/maps manifests require); field-ids ride the Avro
schema as `field-id` annotations the way Iceberg writes them.

Scale story (100 TB): metadata is hierarchical exactly so planning never
lists storage — the manifest LIST is O(#manifests) and carries per-
manifest partition summaries, so partition pruning drops whole manifests
before opening them; a pruned manifest is O(#files-in-it). The data read
is one Spark scan of the surviving file list; partition columns are
re-attached from manifest partition structs via the same broadcast
`_metadata.file_path` join the Delta reader uses (layout never trusted —
Iceberg data files are not required to be hive-laid-out).

Honest boundary: the consumer verified here is this module's own reader
(no pyiceberg/jar in the env to cross-check); the layout, field-ids and
avro encodings follow the published spec (iceberg.apache.org/spec/).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atlas_migration_repo_spark.catalog import load, msum
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query
from atlas_migration_repo_spark.sources.avro import _container_bytes, parse_container
from atlas_migration_repo_spark.sources.files import (
    Footer,
    LogStore,
    attach_partition_values,
    envelope_meets,
    file_path_col,
    resolve_log_store,
    scratch_path,
    stage_write,
    table_file_stream,
)
from atlas_migration_repo_spark.streaming.harness import drain


# Spark type <-> Iceberg primitive type names (spec §Schemas)
_SPARK_TO_ICE = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
    T.BinaryType: "binary",
}
# the spec's safe schema-evolution promotions (§Schema Evolution):
# values widen losslessly, so older files' narrower physical types
# promote at scan time and are never rewritten
_ICE_PROMOTE_OK = {("int", "long"), ("float", "double")}

_ICE_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
    "binary": T.BinaryType(),
}
# partition-value avro branch per Iceberg type
_ICE_TO_AVRO = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
}


def _ice_schema(schema: T.StructType) -> list[dict]:
    """Spark StructType → Iceberg schema fields with stable field-ids
    (1-based, in column order — the ids all other metadata refers to)."""
    out = []
    for i, f in enumerate(schema.fields, start=1):
        for st, it in _SPARK_TO_ICE.items():
            if isinstance(f.dataType, st):
                out.append(
                    {"id": i, "name": f.name, "required": False, "type": it}
                )
                break
        else:
            raise TypeError(f"unsupported Spark type for Iceberg: {f.dataType}")
    return out


def _ids_complete(meta: dict) -> bool:
    """True when every data file of the table carries parquet field ids
    (set at creation by this writer; adopted/foreign tables default
    False) — the precondition for id-based column resolution and hence
    for RENAME."""
    return (meta.get("properties") or {}).get("field-ids-complete") == "true"


def _full_schema(meta: dict, schema_fields: list[dict], spark=None) -> "T.StructType":
    """Spark schema for an Iceberg field list. On id-complete tables
    each StructField carries `parquet.field.id` metadata and the scan
    resolves columns BY ID, not name (fieldId.read) — which is exactly
    what makes a renamed column read correctly from files written under
    its old name."""
    with_ids = _ids_complete(meta)
    if with_ids and spark is not None:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return T.StructType(
        [
            T.StructField(
                f["name"],
                _ICE_TO_SPARK[f["type"]],
                True,
                {"parquet.field.id": f["id"]} if with_ids else None,
            )
            for f in schema_fields
        ]
    )


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


class ConcurrentIcebergCommitError(RuntimeError):
    """Another writer published this metadata version first. The staged
    data files and manifests are intact but uncommitted (reclaimable via
    remove_orphan_files); re-read the table and retry the operation —
    the CommitFailedException contract of Iceberg's HadoopCatalog."""


def _current_metadata(path: str) -> tuple[int, dict] | None:
    """Resolve the CURRENT metadata version: start at version-hint.text,
    then probe forward while vN+1.metadata.json exists — the hint is
    advisory (HadoopTableOperations does the same), so a writer that
    published its metadata file but crashed before updating the hint is
    still visible, and a stale hint can never roll the table back."""
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = int(fh.read().strip())
    elif os.path.exists(os.path.join(_meta_dir(path), "v1.metadata.json")):
        v = 1  # published but crashed before the first hint write
    else:
        return None
    while os.path.exists(os.path.join(_meta_dir(path), f"v{v + 1}.metadata.json")):
        v += 1
    with open(os.path.join(_meta_dir(path), f"v{v}.metadata.json")) as fh:
        return v, json.load(fh)


# -- manifest avro schemas (field-ids per spec §Manifests) -------------------
def _publish_metadata(
    path: str, v: int, meta: dict, store: LogStore | None = None
) -> None:
    """Publish vN.metadata.json via the LogStore's PUT-IF-ABSENT (which
    fails instead of overwriting), then advance the advisory
    version-hint — the HadoopCatalog commit convention. Two writers
    racing the same version get ONE winner and one
    ConcurrentIcebergCommitError; a plain rename would silently drop
    the loser's commit (last-writer-wins, the lost-update anomaly the
    Delta/TableLog paths already refuse). The store is the same seam
    TableLog and the Delta bridge resolve (`resolve_log_store`), so a
    rename-less object-store target swaps the primitive in one place."""
    store = store if store is not None else resolve_log_store()
    meta_dir = _meta_dir(path)
    # finish any crashed writer's half-published metadata first, or a
    # claimed-but-missing version would be double-claimed
    store.recover(meta_dir)
    mpath = os.path.join(meta_dir, f"v{v}.metadata.json")
    tmp = mpath + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        if not store.publish(tmp, mpath):
            raise ConcurrentIcebergCommitError(
                f"metadata version {v} was published by a concurrent "
                "writer; re-read the table and retry the commit"
            )
    finally:
        os.unlink(tmp)
    hint = os.path.join(meta_dir, "version-hint.text")
    tmp = hint + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, hint)


# -- snapshot commit: every committing verb goes through these ---------------
def _new_table_meta(
    path: str, schema_fields: list[dict], partition_by: list[str], properties: dict
) -> tuple[int, dict]:
    """Version 0 of a table being created: its schema and partition spec
    (`partition_by` terms as write_iceberg takes them) and no snapshot —
    the base its first _commit_snapshot publishes as v1."""
    by_name = {f["name"]: f for f in schema_fields}
    spec = []
    for i, term in enumerate(partition_by):
        pf = _parse_partition_term(term, by_name)
        spec.append(
            {
                "name": pf["name"],
                "transform": pf["transform"],
                "source-id": pf["source_id"],
                "field-id": 1000 + i,
            }
        )
    return 0, {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": path,
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": max(f["id"] for f in schema_fields),
        "schemas": [{"type": "struct", "schema-id": 0, "fields": schema_fields}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec}],
        "default-spec-id": 0,
        "last-partition-id": max([pf["field-id"] for pf in spec], default=999),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": properties,
        "snapshots": [],
        "current-snapshot-id": None,
        "snapshot-log": [],
        "metadata-log": [],
    }


def _schema_patch(meta: dict, schema_fields: list[dict]) -> dict:
    """Metadata patch making `schema_fields` the current schema: none when
    they already are, else a NEW schema entry (bumped schema-id) — old
    schemas stay and snapshots keep theirs."""
    if schema_fields == meta["schemas"][meta["current-schema-id"]]["fields"]:
        return {}
    sid = len(meta["schemas"])
    return {
        "schemas": meta["schemas"]
        + [{"type": "struct", "schema-id": sid, "fields": schema_fields}],
        "current-schema-id": sid,
        "last-column-id": max(f["id"] for f in schema_fields),
    }


def _snapshot_ids(meta: dict) -> tuple[int, int]:
    """(sequence number, snapshot id) of the table's next snapshot. Drawn
    before anything is staged: every ADDED manifest entry records both."""
    seq = meta["last-sequence-number"] + 1
    return seq, int(time.time() * 1000) * 1000 + seq  # unique, monotonic


def _current_manifests(meta: dict) -> list[tuple]:
    """Manifest-list rows of the current snapshot ([] before the first)."""
    sid = meta["current-snapshot-id"]
    snap = next((s for s in meta["snapshots"] if s["snapshot-id"] == sid), None)
    if snap is None:
        return []
    return parse_container(open(snap["manifest-list"], "rb").read())[1]


def _manifest_row(
    path: str,
    avsc: dict,
    entries: list[tuple],
    snap_id: int,
    seq: int,
    min_seq: int | None = None,
    partitions: list | None = None,
) -> tuple:
    """Write `entries` as one manifest and return its manifest-list row
    (_MANIFEST_FILE_SCHEMA order). Its content follows the entries (0
    data, 1 deletes of either kind); its file and row counts are the
    entries' by status (1 added, 0 existing, 2 deleted). A rewritten
    manifest keeps the sequence numbers `seq`/`min_seq` it had."""
    man_path = os.path.join(_meta_dir(path), f"{uuid.uuid4().hex}-m0.avro")
    length = _write_avro_file(man_path, avsc, entries)
    by_status = [[e[4]["record_count"] for e in entries if e[0] == s] for s in (1, 0, 2)]
    content = 1 if entries and entries[0][4]["content"] else 0
    return (
        man_path,
        length,
        0,  # partition spec id
        content,
        seq,
        seq if min_seq is None else min_seq,
        snap_id,
        *map(len, by_status),
        *map(sum, by_status),
        partitions,
    )


def _assign_row_ids(meta: dict, entries: list[tuple]) -> None:
    """On a row-lineage table (metadata carries next-row-id), give each
    ADDED data file its first_row_id in manifest-entry order: next-row-id
    plus the rows of the files before it — the spec's inheritance base.
    Rows whose files materialize `_row_id` keep that value at read time."""
    if "next-row-id" not in meta:
        return
    off = int(meta["next-row-id"])
    for e in entries:
        e[4]["first_row_id"] = off
        off += int(e[4]["record_count"])


def _commit_snapshot(
    path: str,
    cur: tuple[int, dict],
    seq: int,
    snap_id: int,
    rows: list[tuple],
    carried: list[tuple],
    summary: dict,
    patch: dict | None = None,
) -> int:
    """Commit one snapshot: write its manifest list — `rows`, the
    manifests this commit wrote, ahead of `carried`, the manifests it
    keeps — then append the snapshot to `cur`'s metadata (from
    _current_metadata, or _new_table_meta for a table being created)
    with `patch` applied, and publish the next vN.metadata.json. On a
    row-lineage table the snapshot records its first-row-id and
    next-row-id advances by the rows its new data manifests add.
    Returns the snapshot id."""
    v, meta = cur
    meta = json.loads(json.dumps({**meta, **(patch or {})}))
    mlist_path = os.path.join(
        _meta_dir(path), f"snap-{snap_id}-{uuid.uuid4().hex}.avro"
    )
    _write_avro_file(mlist_path, _MANIFEST_FILE_SCHEMA, [*rows, *carried])
    now_ms = int(time.time() * 1000)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist_path,
        "summary": summary,
        "schema-id": meta["current-schema-id"],
    }
    if meta["current-snapshot-id"] is not None:
        snapshot["parent-snapshot-id"] = meta["current-snapshot-id"]
    if v:
        meta["metadata-log"].append(
            {
                "timestamp-ms": now_ms,
                "metadata-file": os.path.join(_meta_dir(path), f"v{v}.metadata.json"),
            }
        )
    if "next-row-id" in meta:
        snapshot["first-row-id"] = meta["next-row-id"]
        meta["next-row-id"] += sum(r[10] for r in rows if r[3] == 0)
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["snapshots"].append(snapshot)
    meta["current-snapshot-id"] = snap_id
    meta["snapshot-log"].append({"snapshot-id": snap_id, "timestamp-ms": now_ms})
    _publish_metadata(path, v + 1, meta)
    return snap_id


def _partition_avro_type(part_fields: list[dict]) -> dict:
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", _ICE_TO_AVRO[pf["ice_type"]]],
                "field-id": pf["field_id"],
            }
            for pf in part_fields
        ],
    }


def _bounds_map(name: str, kid: int, vid: int) -> dict:
    """Iceberg's avro shape for map<int, binary>: an array of key/value
    records with logicalType map (avro maps require string keys)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": "bytes", "field-id": vid},
            ],
        },
    }


# v3 row lineage's reserved metadata columns: `_row_id` and
# `_last_updated_sequence_number` (spec reserved field ids 2147483540 /
# 2147483539). Fresh data files leave them unwritten — readers INHERIT
# `first_row_id + _pos` / the file's data sequence number; writers that
# COPY rows (compaction) must materialize both so row identity survives
# rewrites.
_ROW_ID_COL = "_row_id"
_LAST_SEQ_COL = "_last_updated_sequence_number"
_LINEAGE_FIELD_IDS = {_ROW_ID_COL: 2147483540, _LAST_SEQ_COL: 2147483539}


def _manifest_entry_schema(part_fields: list[dict]) -> dict:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": _partition_avro_type(part_fields), "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "lower_bounds",
                "type": ["null", _bounds_map("k126_v127", 126, 127)],
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _bounds_map("k129_v130", 129, 130)],
                "field-id": 128,
            },
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "field-id": 135,
            },
            # v3 row lineage: the row id assigned to this data file's
            # first row (spec field 142); null on pre-lineage manifests
            # (the avro record encoder writes absent dict keys as null,
            # so carried-forward v2 entries stay readable and writable)
            {
                "name": "first_row_id",
                "type": ["null", "long"],
                "field-id": 142,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"], "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
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
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY}],
            "field-id": 507,
        },
    ],
}


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit (public domain algorithm), seed 0 — the hash
    Iceberg's bucket transform requires (spec appendix B; test vector:
    int/long 34 → serialized 8-byte LE → hash 2017239379)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if tail:
        for i in range(len(tail) - 1, -1, -1):
            k = (k << 8) | tail[i]
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


def _bucket_of(v, n: int) -> int:
    """Iceberg bucket transform: murmur3(single-value serialization,
    seed 0) & INT_MAX, mod N. Ints/longs hash as 8-byte LE; strings as
    UTF-8."""
    if isinstance(v, str):
        data = v.encode("utf-8")
    else:
        data = int(v).to_bytes(8, "little", signed=True)
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def _parse_partition_term(term: str, by_name: dict | None) -> dict:
    """Parse a partition_by term: bare column → identity; `year(col)` /
    `month(col)` → hidden-partition transform (spec ordinals from 1970,
    int-typed partition values; the source column stays in data files)."""
    import re as _re

    m = _re.fullmatch(r"(year|month)\((\w+)\)", term)
    if m:
        tr, src = m.group(1), m.group(2)
        return {
            "name": f"{src}_{tr}",
            "transform": tr,
            "source": src,
            "source_id": by_name[src]["id"] if by_name else None,
            "ice_type": "int",
            "hidden": True,
        }
    m = _re.fullmatch(r"bucket\((\d+),\s*(\w+)\)", term)
    if m:
        n, src = int(m.group(1)), m.group(2)
        return {
            "name": f"{src}_bucket",
            "transform": f"bucket[{n}]",
            "source": src,
            "source_id": by_name[src]["id"] if by_name else None,
            "ice_type": "int",
            "hidden": True,
            "buckets": n,
        }
    return {
        "name": term,
        "transform": "identity",
        "source": term,
        "source_id": by_name[term]["id"] if by_name else None,
        "ice_type": by_name[term]["type"] if by_name else None,
        "hidden": False,
    }


def transform_value(transform: str, v):
    """Compute a transform-space partition value for pruning: year →
    years from 1970, month → months from 1970, bucket[N] → murmur3
    bucket, identity → unchanged."""
    import datetime as _dt
    import re as _re

    if transform == "identity":
        return v
    m = _re.fullmatch(r"bucket\[(\d+)\]", transform)
    if m:
        return _bucket_of(v, int(m.group(1)))
    if isinstance(v, str):
        v = _dt.datetime.fromisoformat(v)
    if transform == "year":
        return v.year - 1970
    if transform == "month":
        return (v.year - 1970) * 12 + v.month - 1
    raise ValueError(f"unknown transform {transform!r}")


def _bucket_long_np(vals, n: int):
    """Vectorized murmur3-seed-0 bucket for int/long columns: fixed
    8-byte-LE inputs collapse the hash to two block rounds + finalize,
    all uint32 numpy ops — Arrow-batch speed, no per-row Python."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    h = np.zeros(len(v), np.uint32)
    for blk in ((v & np.uint64(0xFFFFFFFF)), (v >> np.uint64(32))):
        k = blk.astype(np.uint32)
        k = k * np.uint32(0xCC9E2D51)
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * np.uint32(0x1B873593)
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(8)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype("int32")


def _ice_encode_bound(ice_type: str, v) -> bytes:
    """Iceberg binary single-value serialization (spec appendix D):
    little-endian fixed-width numerics, UTF-8 strings, micros/days for
    temporals."""
    import datetime as _dt
    import struct as _struct

    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "int":
        return _struct.pack("<i", int(v))
    if ice_type == "long":
        return _struct.pack("<q", int(v))
    if ice_type == "float":
        return _struct.pack("<f", float(v))
    if ice_type == "double":
        return _struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "date":
        if isinstance(v, _dt.date):
            v = (v - _dt.date(1970, 1, 1)).days
        return _struct.pack("<i", int(v))
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, _dt.datetime):
            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            v = int((v - epoch).total_seconds() * 1_000_000)
        return _struct.pack("<q", int(v))
    raise TypeError(f"no single-value serialization for {ice_type}")


def _ice_decode_bound(ice_type: str, b: bytes):
    import datetime as _dt
    import struct as _struct

    if ice_type == "boolean":
        return b == b"\x01"
    # 4-byte int/float bounds survive in old manifests after an
    # int→long / float→double promotion: decode by the VALUE's width,
    # not only the asked-for (current) type
    if ice_type == "int":
        return _struct.unpack("<i", b)[0]
    if ice_type == "long":
        return _struct.unpack("<q" if len(b) == 8 else "<i", b)[0]
    if ice_type == "float":
        return _struct.unpack("<f", b)[0]
    if ice_type == "double":
        return _struct.unpack("<d" if len(b) == 8 else "<f", b)[0]
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(
            days=_struct.unpack("<i", b)[0]
        )
    if ice_type in ("timestamp", "timestamptz"):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=_struct.unpack("<q", b)[0]
        )
    raise TypeError(f"no single-value serialization for {ice_type}")


def _file_bounds(footer: Footer, fields: list[dict]) -> tuple[list, list]:
    """Per-file typed column bounds from a parquet footer, encoded with
    the spec's single-value serialization and keyed by field-id — the
    lower_bounds/upper_bounds of the data_file."""
    by_name = {f["name"]: f for f in fields}
    lowers, uppers = [], []
    for name, col in footer.columns.items():
        f = by_name.get(name)
        if f is None or col.min is None:
            continue
        lo, hi = col.min, col.max
        if isinstance(lo, bytes):
            try:
                lo, hi = lo.decode(), hi.decode()
            except UnicodeDecodeError:
                continue
        try:
            lowers.append({"key": f["id"], "value": _ice_encode_bound(f["type"], lo)})
            uppers.append({"key": f["id"], "value": _ice_encode_bound(f["type"], hi)})
        except TypeError:
            continue
    return lowers, uppers


def _write_avro_file(path: str, avsc: dict, rows: list[tuple]) -> int:
    data = _container_bytes(avsc, rows)
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.rename(tmp, path)
    return len(data)


def _encode_part_value(v: str | None, ice_type: str):
    if v is None:
        return None
    return {
        "boolean": lambda s: s == "true",
        "int": int,
        "long": int,
        "float": float,
        "double": float,
        "string": str,
    }[ice_type](v)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------
def _partition_summaries(part_fields: list[dict], entries: list[tuple]):
    """Per-manifest partition summaries (contains_null + JSON-encoded
    value bounds) from ADDED entries — the manifest-list-level pruning
    metadata every data manifest carries; None for unpartitioned."""
    summaries = []
    for pf in part_fields:
        vals = [
            e[4]["partition"].get(pf["name"])
            for e in entries
            if e[4]["partition"].get(pf["name"]) is not None
        ]
        nulls = any(e[4]["partition"].get(pf["name"]) is None for e in entries)
        enc = lambda x: None if x is None else json.dumps(x).encode()
        summaries.append(
            {
                "contains_null": nulls,
                "contains_nan": None,
                "lower_bound": enc(min(vals) if vals else None),
                "upper_bound": enc(max(vals) if vals else None),
            }
        )
    return summaries or None


def _spec_part_fields(meta: dict, schema_fields: list[dict]) -> list[dict]:
    """Reconstruct the writer-shaped part_fields dicts from a table's
    CURRENT partition spec — what a non-append commit (merge, rewrite)
    needs to stage files under the same layout the table was created
    with."""
    by_id = {f["id"]: f for f in schema_fields}
    out = []
    for pf in meta["partition-specs"][0]["fields"]:
        src = by_id[pf["source-id"]]
        tr = pf["transform"]
        d = {
            "name": pf["name"],
            "transform": tr,
            "source": src["name"],
            "source_id": pf["source-id"],
            "field_id": pf["field-id"],
            "hidden": tr != "identity",
            "ice_type": src["type"] if tr == "identity" else "int",
        }
        if tr.startswith("bucket["):
            d["buckets"] = int(tr[len("bucket[") : -1])
        out.append(d)
    return out


def _stage_data_files(
    df: DataFrame,
    path: str,
    part_fields: list[dict],
    by_name: dict,
    schema_fields: list[dict],
    snap_id: int,
    seq: int,
) -> list[tuple]:
    """Stage `df` as Iceberg DATA files: derive hidden-transform columns
    (year/month ordinals, murmur3 buckets), write hive layout, move the
    files into data/ decoding dir names into typed partition values, and
    return their ADDED manifest entries with column bounds — the staging
    half shared by write_iceberg and both merges."""
    staged_df = df
    for pf in part_fields:
        if pf["transform"] == "year":
            staged_df = staged_df.withColumn(
                pf["name"], (F.year(pf["source"]) - F.lit(1970)).cast("int")
            )
        elif pf["transform"] == "month":
            staged_df = staged_df.withColumn(
                pf["name"],
                (
                    (F.year(pf["source"]) - F.lit(1970)) * 12
                    + F.month(pf["source"])
                    - F.lit(1)
                ).cast("int"),
            )
        elif pf["transform"].startswith("bucket["):
            src_type = by_name[pf["source"]]["type"]
            nb = pf["buckets"]
            if src_type in ("int", "long"):
                from pyspark.sql.functions import pandas_udf

                def _mk(nb_):
                    @pandas_udf("int")
                    def _b(s):
                        import pandas as pd

                        # null keys → null partition value (NaN through
                        # the int64 view would bucket garbage silently)
                        na = s.isna()
                        out = pd.Series(
                            _bucket_long_np(s.fillna(0).to_numpy("int64"), nb_)
                        )
                        out[na.to_numpy()] = None
                        return out

                    return _b

                staged_df = staged_df.withColumn(
                    pf["name"], _mk(nb)(F.col(pf["source"]).cast("long"))
                )
            elif src_type == "string":
                from pyspark.sql.functions import pandas_udf

                def _mks(nb_):
                    @pandas_udf("int")
                    def _b(s):
                        return s.map(lambda x: _bucket_of(x, nb_)).astype("int32")

                    return _b

                staged_df = staged_df.withColumn(
                    pf["name"], _mks(nb)(F.col(pf["source"]))
                )
            else:
                raise NotImplementedError(
                    f"bucket transform on {src_type} is not supported"
                )
    # every data column carries its Iceberg field id into the parquet
    # footer (fieldId.write) — the physical identity that survives
    # renames; transform-derived dir columns have no field, no id.
    # Materialized row-lineage columns (rewrites carrying row ids
    # forward) take the spec's reserved ids.
    by_fid = {f["name"]: f["id"] for f in schema_fields}
    for lc, lid in _LINEAGE_FIELD_IDS.items():
        if lc in staged_df.columns:
            by_fid[lc] = lid
    staged_df = staged_df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": by_fid[c]})
            if c in by_fid
            else F.col(c)
            for c in staged_df.columns
        ]
    )
    staged_df.sparkSession.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", "true"
    )
    ice_types = {pf["name"]: pf["ice_type"] for pf in part_fields}
    entries: list[tuple] = []
    with stage_write(staged_df, path, list(ice_types)) as leaves:
        for leaf in leaves:
            pvals = {
                k: _encode_part_value(v, ice_types[k]) for k, v in leaf.values.items()
            }
            dest = os.path.join(path, "data", f"{uuid.uuid4().hex}.parquet")
            os.rename(leaf.path, dest)
            nrec = leaf.footer.num_rows
            lowers, uppers = _file_bounds(leaf.footer, schema_fields)
            entries.append(
                (
                    1,  # status ADDED
                    snap_id,
                    seq,
                    seq,
                    {
                        "content": 0,
                        "file_path": dest,
                        "file_format": "PARQUET",
                        "partition": pvals,
                        "record_count": nrec,
                        "file_size_in_bytes": os.path.getsize(dest),
                        "lower_bounds": lowers or None,
                        "upper_bounds": uppers or None,
                    },
                )
            )
    return entries


def iceberg_txn_version(path: str, app_id: str) -> int | None:
    """Latest committed write mark for `app_id`, read from snapshot
    SUMMARY properties — Iceberg has no txn action, so engines store the
    writer's epoch in the summary (the Spark/Flink sink convention);
    expire_snapshots can reclaim old marks, so writers should retain
    enough history for their longest replay window (same rule as the
    real sinks)."""
    cur = _current_metadata(path)
    if cur is None:
        return None
    best: int | None = None
    for s in cur[1]["snapshots"]:
        summ = s.get("summary") or {}
        if summ.get("txn-app-id") == app_id:
            v = int(summ["txn-version"])
            best = v if best is None or v > best else best
    return best


def rename_iceberg_column(path: str, old: str, new: str) -> int:
    """Iceberg-native column RENAME: a metadata-only commit appending a
    new schema entry where the field keeps its ID under the new name —
    zero files rewritten, because id-complete tables resolve scan
    columns by parquet field id, not name (pre-rename files read
    correctly under the new name; pinned snapshots keep theirs).
    Requires an id-complete table (created by this writer); identity
    partition columns refuse (their name is baked into the spec and
    key=value layout)."""
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    v, meta = cur
    if not _ids_complete(meta):
        raise ValueError(
            "table data files do not carry parquet field ids (foreign or "
            "pre-field-id table); rename requires id-based resolution"
        )
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    names = {f["name"] for f in schema_fields}
    if old not in names:
        raise ValueError(f"no column {old!r}; have {sorted(names)}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    for pf in meta["partition-specs"][0]["fields"]:
        if pf.get("transform", "identity") == "identity" and pf["name"] == old:
            raise ValueError(
                f"{old!r} is an identity partition column (name baked "
                "into spec + layout); rename is not supported for it"
            )
    meta = json.loads(json.dumps(meta))
    new_fields = [
        {**f, "name": new} if f["name"] == old else f for f in schema_fields
    ]
    new_sid = len(meta["schemas"])
    meta["schemas"].append(
        {"type": "struct", "schema-id": new_sid, "fields": new_fields}
    )
    meta["current-schema-id"] = new_sid
    meta["last-updated-ms"] = int(time.time() * 1000)
    _publish_metadata(path, v + 1, meta)
    return new_sid


def write_iceberg(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    txn: tuple[str, int] | None = None,
    row_lineage: bool = False,
) -> int:
    """Commit `df` to an Iceberg v2 table at `path` as a new snapshot.

    Data files stage through one Spark parquet write; each commit writes
    one manifest (ADDED entries with typed partition values), a manifest
    list (append: prior manifests carried forward; overwrite: only the
    new manifest — the snapshot's manifest list fully defines its
    content), and a new vN.metadata.json + version-hint. Returns the new
    snapshot id.

    `txn=(app_id, version)` makes the write IDEMPOTENT via snapshot
    summary properties (`txn-app-id`/`txn-version`, the convention
    streaming sinks use since Iceberg has no txn action): a replayed
    mark at or below the recorded one is a no-op returning the current
    snapshot id — the exactly-once foreachBatch pattern, twin of
    write_delta's.

    `row_lineage=True` CREATES the table as format-version 3 with row
    lineage: table metadata tracks `next-row-id`, each snapshot records
    its `first-row-id`, and every added data file is assigned a
    `first_row_id` in its manifest entry — rows inherit
    `first_row_id + position` unless a materialized `_row_id` column
    (carried through rewrites) overrides it. On an existing lineage
    table every write assigns ids regardless of the flag; incoming
    `_row_id`/`_last_updated_sequence_number` columns are written to the
    data files under their reserved field ids and NEVER join the table
    schema."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    partition_by = list(partition_by or [])
    lineage_cols = [c for c in df.columns if c in _LINEAGE_FIELD_IDS]
    schema_df = df.drop(*lineage_cols) if lineage_cols else df
    incoming = _ice_schema(schema_df.schema)
    cur = _current_metadata(path)
    if txn is not None and cur is not None:
        last = iceberg_txn_version(path, txn[0])
        if last is not None and int(txn[1]) <= last:
            return cur[1]["current-snapshot-id"]
    if cur is None:
        cur = _new_table_meta(
            path, incoming, partition_by, {"field-ids-complete": "true"}
        )
        if row_lineage:
            cur[1].update({"format-version": 3, "next-row-id": 0})
    meta = cur[1]
    if lineage_cols and "next-row-id" not in meta:
        raise ValueError(
            "materialized _row_id columns require a row-lineage table "
            "(create with row_lineage=True)"
        )
    want_spec = [
        (d["name"], d["transform"])
        for d in (_parse_partition_term(t, None) for t in partition_by)
    ]
    have_spec = [
        (pf["name"], pf["transform"]) for pf in meta["partition-specs"][0]["fields"]
    ]
    if want_spec != have_spec:
        raise ValueError("partition_by must match the table's partition spec")
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    incoming = {f["name"]: f["type"] for f in incoming}
    existing = {f["name"]: f["type"] for f in schema_fields}
    promoted: dict[str, str] = {}
    for name_, t_ in existing.items():
        if name_ in incoming and incoming[name_] != t_:
            # the spec's safe type promotions: the field keeps its
            # id, a new schema entry carries the wider type, and
            # older narrow files promote at scan time
            if (t_, incoming[name_]) in _ICE_PROMOTE_OK:
                promoted[name_] = incoming[name_]
                continue
        if name_ not in incoming or incoming[name_] != t_:
            raise ValueError(
                f"schema evolution on {name_!r} is not additive "
                "(missing or narrowed/retyped); only new columns and "
                f"safe promotions {sorted(_ICE_PROMOTE_OK)} are allowed"
            )
    schema_fields = [
        {**f, "type": promoted.get(f["name"], f["type"])} for f in schema_fields
    ]
    # Iceberg-native evolution: new columns take fresh field-ids above
    # last-column-id in a NEW schema entry (_schema_patch)
    next_id = meta["last-column-id"] + 1
    for n in incoming:
        if n not in existing:
            schema_fields.append(
                {"id": next_id, "name": n, "required": False, "type": incoming[n]}
            )
            next_id += 1
    by_name = {f["name"]: f for f in schema_fields}
    part_fields = _spec_part_fields(meta, schema_fields)
    os.makedirs(_meta_dir(path), exist_ok=True)
    os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # stage data files — hidden-partition transforms derive their dir
    # column on the fly (year/month ordinals from 1970, per the spec);
    # the SOURCE column stays in the data files, the derived column
    # exists only as directory layout + log metadata
    seq, snap_id = _snapshot_ids(meta)
    entries = _stage_data_files(
        df, path, part_fields, by_name, schema_fields, snap_id, seq
    )
    _assign_row_ids(meta, entries)
    # one manifest per commit; its partition summaries drive
    # manifest-list-level pruning
    row = _manifest_row(
        path,
        _manifest_entry_schema(part_fields),
        entries,
        snap_id,
        seq,
        partitions=_partition_summaries(part_fields, entries),
    )
    summary = {"operation": mode}
    if txn is not None:
        summary["txn-app-id"] = txn[0]
        summary["txn-version"] = str(int(txn[1]))
    carried = _current_manifests(meta) if mode == "append" else []
    return _commit_snapshot(
        path, cur, seq, snap_id, [row], carried, summary,
        _schema_patch(meta, schema_fields),
    )


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------
def iceberg_live_state(
    path: str,
    snapshot_id: int | None = None,
    partition_eq: dict | None = None,
) -> tuple[dict, list[dict], list[dict]]:
    """(metadata, live data entries, live DELETE-file entries) at a
    snapshot, pruned hierarchically: manifest-list partition summaries
    drop whole DATA manifests, then per-file partition values drop files
    — both BEFORE any parquet listing, the Iceberg planning model. Each
    entry is {"data_file": <struct>, "seq": <data sequence number>};
    delete entries (manifest content=1, spec v2 row-level deletes) are
    never partition-pruned — a positional delete can reference any file
    and is applied by file-path join at read time."""
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    _, meta = cur
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == sid), None
    )
    if snap is None:
        raise ValueError(
            f"snapshot {sid} is not in table metadata (expired or unknown)"
        )
    _, manifests = parse_container(open(snap["manifest-list"], "rb").read())
    spec = {
        pf["name"]: i
        for i, pf in enumerate(meta["partition-specs"][0]["fields"])
    }
    want = dict(partition_eq or {})
    datas: list[dict] = []
    deletes: list[dict] = []
    for m in manifests:
        is_delete_manifest = m[3] == 1
        summaries = m[13]
        if want and summaries and not is_delete_manifest:
            skip = False
            for name, idx in spec.items():
                if name not in want or idx >= len(summaries):
                    continue
                s = summaries[idx]
                v = want[name]
                if v is None:
                    if not s["contains_null"]:
                        skip = True
                    continue
                lo = s["lower_bound"] and json.loads(s["lower_bound"])
                hi = s["upper_bound"] and json.loads(s["upper_bound"])
                if lo is not None and hi is not None and not (lo <= v <= hi):
                    skip = True
            if skip:
                continue  # whole manifest pruned from its summary
        _, entries = parse_container(open(m[0], "rb").read())
        for e in entries:
            status, data_file = e[0], e[4]
            if status == 2:  # DELETED
                continue
            seq = e[2] if e[2] is not None else m[4]
            if is_delete_manifest:
                deletes.append({"data_file": data_file, "seq": seq})
                continue
            pv = data_file["partition"] or {}
            if want and any(pv.get(k) != v for k, v in want.items()):
                continue
            datas.append({"data_file": data_file, "seq": seq})
    return meta, datas, deletes


def iceberg_live_files(
    path: str,
    snapshot_id: int | None = None,
    partition_eq: dict | None = None,
) -> tuple[dict, list[dict]]:
    """(metadata, live data_file dicts) at a snapshot — the data half of
    iceberg_live_state (delete files, if any, are ignored here; readers
    that must honor row-level deletes use the full state)."""
    meta, datas, _ = iceberg_live_state(path, snapshot_id, partition_eq)
    return meta, [d["data_file"] for d in datas]


def _file_envelope(data_file: dict, field: dict) -> tuple:
    """(lower, upper) bound of schema `field` recorded for a manifest
    data_file (keyed by field-id, spec single-value binary encoding);
    None where the file records none."""

    def _bound(raw):
        for kv in raw or ():
            if kv["key"] == field["id"]:
                return _ice_decode_bound(field["type"], kv["value"])
        return None

    return _bound(data_file.get("lower_bounds")), _bound(data_file.get("upper_bounds"))


def _datas_in_range(datas: list[dict], field: dict, lo, hi) -> list[dict]:
    """Live data entries whose bounds for `field` meet [lo, hi]."""
    return [
        d for d in datas if envelope_meets(*_file_envelope(d["data_file"], field), lo, hi)
    ]


def _field(schema_fields: list[dict], column: str) -> dict:
    return next(f for f in schema_fields if f["name"] == column)


def _schema_fields_at(meta: dict, snapshot_id: int | None) -> list[dict]:
    """The field list a read at `snapshot_id` sees. A LATEST read (None)
    resolves the CURRENT schema — a rename (a metadata-only commit that
    bumps current-schema-id without a new snapshot) must be visible
    immediately; a pinned snapshot keeps the schema-id it was written
    with (old snapshots keep their narrower schema, per the spec)."""
    schema_id = meta["current-schema-id"]
    if snapshot_id is not None:
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id)
        schema_id = snap.get("schema-id", schema_id)
    return meta["schemas"][schema_id]["fields"]


def iceberg_files_in_range(
    path: str, column: str, lo, hi, snapshot_id: int | None = None
) -> tuple[dict, list[dict]]:
    """Data skipping from MANIFEST bounds: live files whose
    [lower_bounds, upper_bounds] envelope for `column` (named as of the
    snapshot) intersects [lo, hi]. Files without bounds are kept —
    skipping narrows, never filters."""
    meta, datas, _ = iceberg_live_state(path, snapshot_id)
    fld = _field(_schema_fields_at(meta, snapshot_id), column)
    return meta, [d["data_file"] for d in _datas_in_range(datas, fld, lo, hi)]


def read_iceberg_range(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Skip-aware range read: prune files from manifest bounds, read the
    survivors through read_iceberg's core (the snapshot's schema, row
    deletes, identity partition columns), apply the exact predicate."""
    meta, datas, dels = iceberg_live_state(path, snapshot_id)
    schema_fields = _schema_fields_at(meta, snapshot_id)
    kept = _datas_in_range(datas, _field(schema_fields, column), lo, hi)
    return _read_datas(spark, meta, schema_fields, kept, dels).where(
        F.col(column).between(F.lit(lo), F.lit(hi))
    )


def iceberg_snapshot_as_of(path: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution from the snapshot log: the snapshot
    with the newest timestamp-ms <= target (the spec's time-travel
    rule). Metadata-only."""
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    _, meta = cur
    best = None
    for e in meta["snapshot-log"]:
        if e["timestamp-ms"] <= timestamp_ms:
            if best is None or e["timestamp-ms"] >= best["timestamp-ms"]:
                best = e
    if best is None:
        raise ValueError(
            f"no Iceberg snapshot committed at or before {timestamp_ms}"
        )
    return best["snapshot-id"]


def _reattach_partition_cols(spark, df, files, pcols, full):
    """Shared reader tail: reattach identity partition columns from the
    manifests' typed partition structs, stringified for
    attach_partition_values, reusing a pre-captured __ice_uri when the
    MOR anti-joins already projected the _metadata pseudo-column away."""
    file_values = []
    for f in files:
        part = f["partition"] or {}
        file_values.append(
            (
                os.path.abspath(f["file_path"]),
                *[None if part.get(c) is None else str(part.get(c)) for c in pcols],
            )
        )
    out = attach_partition_values(
        spark,
        df,
        file_values,
        pcols,
        {f.name: f.dataType for f in full.fields},
        file_col="__ice_uri" if "__ice_uri" in df.columns else None,
    )
    return out.select(*[f.name for f in full.fields])


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    partition_eq: dict | None = None,
    timestamp_ms: int | None = None,
    ref: str | None = None,
    with_lineage: bool = False,
) -> DataFrame:
    """Read an Iceberg v2 table: resolve the snapshot's manifests, scan
    the live parquet files in ONE Spark read, and re-attach partition
    columns from the manifests' typed partition structs via a broadcast
    `_metadata.file_path` join. `snapshot_id` pins time travel and reads
    with THAT snapshot's schema-id (old snapshots keep their narrower
    schema after evolution, per the spec). Row-level DELETE FILES in the
    snapshot (v2 merge-on-read) are subtracted via _apply_row_deletes.
    `timestamp_ms` resolves TIMESTAMP AS OF via iceberg_snapshot_as_of.

    `with_lineage=True` (v3 row-lineage tables) appends the reserved
    `_row_id` / `_last_updated_sequence_number` columns: materialized
    values from rewritten files win, otherwise rows inherit the file's
    manifest-assigned `first_row_id` + position / the file's data
    sequence number — the spec's inheritance rule, computed as a
    broadcast file-map join over `_metadata.row_index` (no shuffle)."""
    if sum(x is not None for x in (snapshot_id, timestamp_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / timestamp_ms / ref")
    if timestamp_ms is not None:
        snapshot_id = iceberg_snapshot_as_of(path, timestamp_ms)
    elif ref is not None:
        snapshot_id = iceberg_resolve_ref(path, ref)
    meta, datas, dels = iceberg_live_state(path, snapshot_id, partition_eq)
    return _read_datas(
        spark, meta, _schema_fields_at(meta, snapshot_id), datas, dels, with_lineage
    )


def _read_datas(
    spark: SparkSession,
    meta: dict,
    schema_fields: list[dict],
    datas: list[dict],
    dels: list[dict],
    with_lineage: bool = False,
) -> DataFrame:
    """read_iceberg's core over resolved live data and delete entries:
    one scan of the data files, row deletes, lineage columns, identity
    partition columns. Shared by read_iceberg and read_iceberg_range."""
    files = [d["data_file"] for d in datas]
    # only IDENTITY partition columns are reattached from metadata;
    # hidden-transform fields (year/month) exist only as layout + log
    # metadata — their SOURCE columns live in the data files themselves
    pcols = [
        pf["name"]
        for pf in meta["partition-specs"][0]["fields"]
        if pf.get("transform", "identity") == "identity"
    ]
    full = _full_schema(meta, schema_fields, spark)
    if with_lineage:
        if "next-row-id" not in meta:
            raise ValueError(
                "with_lineage requires a row-lineage table (create with "
                "write_iceberg(..., row_lineage=True))"
            )
        full = T.StructType(
            list(full.fields)
            + [
                T.StructField(_ROW_ID_COL, T.LongType()),
                T.StructField(_LAST_SEQ_COL, T.LongType()),
            ]
        )
    if not files:
        return spark.createDataFrame([], full)
    data_schema = T.StructType([f for f in full.fields if f.name not in pcols])
    df = spark.read.schema(data_schema).parquet(*[f["file_path"] for f in files])
    if with_lineage:
        # capture scan pseudo-columns BEFORE any join projects the
        # relation away (the _apply_row_deletes contract)
        df = df.withColumn("__ice_uri", file_path_col()).withColumn(
            "__lin_pos", F.col("_metadata.row_index")
        )
    if dels:
        # _apply_row_deletes keeps its __ice_uri column: _metadata is a
        # scan pseudo-column the anti-joins project away, so the pv join
        # below must reuse the pre-join capture, not re-derive it
        df = _apply_row_deletes(spark, df, datas, dels, schema_fields)
    if with_lineage:
        lmap = spark.createDataFrame(
            [
                (
                    os.path.abspath(d["data_file"]["file_path"]),
                    d["data_file"].get("first_row_id"),
                    int(d["seq"]),
                )
                for d in datas
            ],
            T.StructType(
                [
                    T.StructField("__ice_uri", T.StringType()),
                    T.StructField("__lin_first", T.LongType()),
                    T.StructField("__lin_seq", T.LongType()),
                ]
            ),
        )
        df = (
            df.join(F.broadcast(lmap), "__ice_uri")
            .withColumn(
                _ROW_ID_COL,
                F.coalesce(
                    F.col(_ROW_ID_COL),
                    F.col("__lin_first") + F.col("__lin_pos"),
                ),
            )
            .withColumn(
                _LAST_SEQ_COL,
                F.coalesce(F.col(_LAST_SEQ_COL), F.col("__lin_seq")),
            )
            .drop("__lin_first", "__lin_seq", "__lin_pos")
        )
    return _reattach_partition_cols(spark, df, files, pcols, full)


def _added_data_files_in_seq_range(
    meta: dict, lo_seq: int, hi_seq: int, label: str = "incremental scan"
) -> list[dict]:
    """data_file dicts ADDED by append snapshots with sequence number in
    (lo_seq, hi_seq] — the shared planning core of the batch incremental
    append scan and the iceberg_stream source (same walk, same
    non-append guard): only manifests added BY an in-range snapshot are
    opened, so cost is O(new files)."""
    added: list[dict] = []
    for s in sorted(meta["snapshots"], key=lambda x: x["sequence-number"]):
        seq = s["sequence-number"]
        if seq <= lo_seq or seq > hi_seq:
            continue
        op = (s.get("summary") or {}).get("operation")
        # a table's FIRST snapshot is append-shaped whatever its label —
        # there was nothing to replace
        if op not in (None, "append") and seq > 1:
            raise RuntimeError(
                f"{label}: snapshot {s['snapshot-id']} is {op!r}, "
                "not append-only; read the change feed or a full snapshot"
            )
        _, manifests = parse_container(open(s["manifest-list"], "rb").read())
        for m in manifests:
            if m[3] != 0 or m[6] != s["snapshot-id"]:
                continue  # not a data manifest added BY this snapshot
            _, entries = parse_container(open(m[0], "rb").read())
            for e in entries:
                if e[0] == 1 and e[1] == s["snapshot-id"]:  # status ADDED
                    added.append(e[4])
    return added


def iceberg_appends_between(
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> tuple[dict, list[dict]]:
    """(metadata, data_file dicts ADDED by the snapshots strictly after
    `from_snapshot_id` up to and including `to_snapshot_id`) — the
    planning half of Iceberg's incremental append scan. Snapshots are
    ordered by sequence number; every snapshot in range must be an
    append (the table's FIRST snapshot counts whatever its label —
    there was nothing to replace); an overwrite/delete/replace in range
    raises, since its effect cannot be expressed as added rows (read
    the change feed or restart from a full snapshot instead). Only
    manifests ADDED by an in-range snapshot are opened, so planning
    cost is O(new files), not O(table) — the property that makes
    incremental consumption of a 100 TB table cheap."""
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    _, meta = cur
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    lo_seq = 0
    if from_snapshot_id is not None:
        if from_snapshot_id not in by_id:
            raise ValueError(f"unknown from snapshot {from_snapshot_id}")
        lo_seq = by_id[from_snapshot_id]["sequence-number"]
    hi_sid = (
        to_snapshot_id
        if to_snapshot_id is not None
        else meta["current-snapshot-id"]
    )
    if hi_sid not in by_id:
        raise ValueError(f"unknown to snapshot {hi_sid}")
    hi_seq = by_id[hi_sid]["sequence-number"]
    return meta, _added_data_files_in_seq_range(meta, lo_seq, hi_seq)


def read_iceberg_incremental(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental append scan: the rows ADDED between two snapshots
    (exclusive/inclusive), as one Spark read of only the new files —
    the batch complement of the `iceberg_stream` source (same snapshot
    walk, pull-based). Appends carry no delete files, so no MOR
    subtraction applies; identity partition columns are reattached from
    manifest partition structs exactly as in read_iceberg."""
    meta, files = iceberg_appends_between(path, from_snapshot_id, to_snapshot_id)
    sid = (
        to_snapshot_id
        if to_snapshot_id is not None
        else meta["current-snapshot-id"]
    )
    return _read_datas(
        spark,
        meta,
        _schema_fields_at(meta, sid),
        [{"data_file": f} for f in files],
        [],
    )


def _apply_row_deletes(
    spark: SparkSession,
    df: DataFrame,
    datas: list[dict],
    deletes: list[dict],
    schema_fields: list[dict],
) -> DataFrame:
    """Apply Iceberg v2 row-level deletes to a data scan, as relational
    plans: POSITIONAL delete files (content=1, rows of (file_path, pos))
    anti-join on (normalized file uri, `_metadata.row_index`) for data
    files with data_seq <= delete_seq; EQUALITY delete files (content=2,
    rows of key columns named by equality_ids) anti-join on the keys for
    data files with data_seq < delete_seq — the spec's sequence-number
    visibility rules, so rows appended AFTER a delete always survive it.
    Delete sets are file-list/tombstone-sized next to the data, so both
    anti-joins broadcast; at larger delete volumes Spark's AQE would
    shuffle them instead — same plan shape, no driver loop either way."""
    dv = [
        d
        for d in deletes
        if d["data_file"].get("content") == 1
        and d["data_file"].get("file_format") == "PUFFIN"
    ]
    pos = [
        d
        for d in deletes
        if d["data_file"].get("content") == 1
        and d["data_file"].get("file_format") != "PUFFIN"
    ]
    eqs = [d for d in deletes if d["data_file"].get("content") == 2]
    # _metadata is a scan-relation pseudo-column: both derived columns
    # must be captured BEFORE any join projects the relation away
    df = df.withColumn(
        "__ice_uri",
        file_path_col(),
    )
    if pos or dv:
        df = df.withColumn("__ice_pos", F.col("_metadata.row_index"))
    seq_rows = [
        (os.path.abspath(d["data_file"]["file_path"]), int(d["seq"]))
        for d in datas
    ]
    seq_df = spark.createDataFrame(
        seq_rows,
        T.StructType(
            [
                T.StructField("__ice_uri", T.StringType()),
                T.StructField("__data_seq", T.LongType()),
            ]
        ),
    )
    df = df.join(F.broadcast(seq_df), "__ice_uri")
    if pos or dv:
        dschema = T.StructType(
            [
                T.StructField("file_path", T.StringType()),
                T.StructField("pos", T.LongType()),
            ]
        )
        dels = None
        by_seq: dict[int, list[str]] = {}
        for d in pos:
            by_seq.setdefault(int(d["seq"]), []).append(
                d["data_file"]["file_path"]
            )
        for s, paths in sorted(by_seq.items()):
            one = (
                spark.read.schema(dschema)
                .parquet(*paths)
                .withColumn("__del_seq", F.lit(s).cast("long"))
            )
            dels = one if dels is None else dels.unionByName(one)
        if dv:
            # v3 Puffin deletion vectors: decode the referenced blobs
            # (tombstone-sized — bounded by the data files' row counts)
            # into the same (file_path, pos, seq) shape
            dv_rows = []
            for d in dv:
                f = d["data_file"]
                ref = os.path.abspath(f["referenced_data_file"])
                for p in _read_puffin_dv(
                    f["file_path"],
                    int(f["content_offset"]),
                    int(f["content_size_in_bytes"]),
                ):
                    dv_rows.append((ref, int(p), int(d["seq"])))
            one = spark.createDataFrame(
                dv_rows,
                T.StructType(
                    list(dschema.fields)
                    + [T.StructField("__del_seq", T.LongType())]
                ),
            )
            dels = one if dels is None else dels.unionByName(one)
        cond = (
            (df["__ice_uri"] == dels["file_path"])
            & (df["__ice_pos"] == dels["pos"])
            & (df["__data_seq"] <= dels["__del_seq"])
        )
        df = df.join(F.broadcast(dels), cond, "left_anti").drop("__ice_pos")
    by_id = {f["id"]: f["name"] for f in schema_fields}
    for d in eqs:
        ids = d["data_file"].get("equality_ids") or []
        cols = [by_id[i] for i in ids]
        # the delete file's columns are (by construction) the key tuple
        # in equality_ids ORDER; resolve them positionally to the
        # CURRENT names — the write-time names may predate a rename
        kdf = spark.read.parquet(d["data_file"]["file_path"]).toDF(*cols)
        cond = reduce(
            lambda a, b: a & b, [df[c].eqNullSafe(kdf[c]) for c in cols]
        ) & (df["__data_seq"] < F.lit(int(d["seq"])))
        df = df.join(F.broadcast(kdf), cond, "left_anti")
    return df.drop("__data_seq")


def _stage_delete_files(
    path: str,
    del_df: DataFrame,
    snap_id: int,
    seq: int,
    content: int,
    equality_ids: list[int] | None,
) -> list[tuple]:
    """Stage `del_df` as parquet DELETE FILES under data/ and return
    their ADDED manifest entries — shared by the MOR delete commits,
    merge_iceberg and the UniForm DV bridge."""
    entries: list[tuple] = []
    with stage_write(del_df, path, []) as leaves:
        for leaf in leaves:
            nrec = leaf.footer.num_rows
            if nrec == 0:
                continue
            dest = os.path.join(path, "data", f"{uuid.uuid4().hex}-deletes.parquet")
            # UniForm over a Delta table has no data/ dir yet — the
            # manifest stores absolute paths, the dir is just a home
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(leaf.path, dest)
            entries.append(
                (
                    1,  # status ADDED
                    snap_id,
                    seq,
                    seq,
                    {
                        "content": content,
                        "file_path": dest,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": nrec,
                        "file_size_in_bytes": os.path.getsize(dest),
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": equality_ids,
                    },
                )
            )
    return entries


def _commit_delete_snapshot(
    path: str, del_df: DataFrame, content: int, equality_ids: list[int] | None
) -> int:
    """Shared commit tail for row-level deletes: stage `del_df` as
    parquet DELETE FILES (content=1 positional / 2 equality), wrap them
    in ONE delete manifest (manifest_file.content=1), carry every prior
    manifest forward, and append a `delete` snapshot. Returns the new
    snapshot id (or the current one if the delete matched nothing —
    empty commits are elided)."""
    cur = _current_metadata(path)
    seq, snap_id = _snapshot_ids(cur[1])
    entries = _stage_delete_files(path, del_df, snap_id, seq, content, equality_ids)
    if not entries:
        return cur[1]["current-snapshot-id"]
    row = _manifest_row(path, _manifest_entry_schema([]), entries, snap_id, seq)
    return _commit_snapshot(
        path, cur, seq, snap_id, [row], _current_manifests(cur[1]),
        {"operation": "delete"},
    )


def _identity_cols(meta: dict) -> set[str]:
    """Identity partition columns: their values live only in metadata,
    never in data files, so no row-level verb can key or filter on them."""
    return {
        pf["name"]
        for pf in meta["partition-specs"][0]["fields"]
        if pf.get("transform", "identity") == "identity"
    }


def _range_hits(
    spark: SparkSession, path: str, column: str, lo, hi
) -> tuple[dict, DataFrame | None]:
    """(metadata, (file_path, pos) of the live rows whose `column` lies in
    [lo, hi]) — the scan half of both range deletes. Candidate files are
    pruned from MANIFEST column bounds first, so a file disjoint from
    [lo, hi] is never scanned; None when no file can match."""
    meta, datas, _ = iceberg_live_state(path)
    if column in _identity_cols(meta):
        raise ValueError(
            f"{column!r} is an identity partition column (values live in "
            "metadata, not data files); delete whole partitions via "
            "rewrite/overwrite instead of row tombstones"
        )
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    cands = _datas_in_range(datas, _field(schema_fields, column), lo, hi)
    if not cands:
        return meta, None
    full = _full_schema(meta, schema_fields, spark)
    hits = (
        spark.read.schema(full)
        .parquet(*[d["data_file"]["file_path"] for d in cands])
        .where(F.col(column).between(F.lit(lo), F.lit(hi)))
        .select(
            file_path_col().alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
    )
    return meta, hits


def delete_iceberg_where(
    spark: SparkSession, path: str, column: str, lo, hi
) -> int:
    """Iceberg v2 MERGE-ON-READ range delete: instead of rewriting data
    files (copy-on-write), commit POSITIONAL DELETE FILES — parquet rows
    of (file_path, pos), sorted per spec — that tombstone individual
    rows; readers subtract them with an anti-join. Candidate files are
    pruned from MANIFEST column bounds first (a file disjoint from
    [lo, hi] is never scanned), then one Spark scan of the candidates
    finds matches via `_metadata.row_index`. The whole delete is
    metadata + a tombstone-sized write — no data file is rewritten,
    which is the point of MOR on 100 TB. Partitioned tables delete the
    same way (positional tombstones are partition-agnostic: they target
    (file_path, pos), and the reader never partition-prunes delete
    manifests) — but the predicate column must be a DATA column: an
    identity partition column's values live only in metadata, so a
    range delete on one is an overwrite/rewrite, not a row tombstone."""
    meta, hits = _range_hits(spark, path, column, lo, hi)
    if hits is None:
        return meta["current-snapshot-id"]
    hits = hits.repartitionByRange(4, "file_path", "pos").sortWithinPartitions(
        "file_path", "pos"
    )
    return _commit_delete_snapshot(path, hits, content=1, equality_ids=None)


def delete_iceberg_eq(
    spark: SparkSession, path: str, keys: DataFrame, on: list[str]
) -> int:
    """Iceberg v2 EQUALITY delete: commit a delete file holding key
    tuples (columns `on`, declared via equality_ids as the spec
    requires); at read time every data file with data_seq < delete_seq
    anti-joins the keys away. The delete never scans the table AT ALL —
    it is O(keys) regardless of table size, the cheapest possible
    row-level delete (CDC retractions, GDPR erasure by key). On a
    partitioned table the key columns must be DATA columns — the reader
    anti-joins keys against data-file contents, and an identity
    partition column's values are metadata-only."""
    meta, _, _ = iceberg_live_state(path)
    bad = sorted(set(on) & _identity_cols(meta))
    if bad:
        raise ValueError(
            f"equality-delete keys {bad} are identity partition columns "
            "(metadata-only values); key on data columns"
        )
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    by_name = {f["name"]: f["id"] for f in schema_fields}
    ids = [by_name[c] for c in on]
    return _commit_delete_snapshot(
        path, keys.select(*on).distinct(), content=2, equality_ids=ids
    )


def delete_iceberg_dv(spark: SparkSession, path: str, column: str, lo, hi) -> int:
    """NATIVE Iceberg v3 DELETION-VECTOR delete: a range delete that
    lands as deletion-vector-v1 blobs in a Puffin file plus a v3 delete
    manifest — no Delta table anywhere in the path (the UniForm bridge
    at publish_iceberg_metadata_from_delta remains the other producer
    of the same artifacts).

    Spec obligations implemented, not just exercised:
    - SUPERSEDE-BY-UNION: the spec allows at most ONE live DV per data
      file, so a new DV for a file that already has one must contain
      the union of both position sets; the superseded entry is marked
      DELETED (status 2) in a rewritten copy of its manifest, keeping
      every other entry as EXISTING with its original sequence numbers
      materialized (inheritance would otherwise re-stamp them with the
      new manifest's).
    - v2 COEXISTENCE GUARD: v3 forbids writing DVs for a file that
      still has live v2 position-delete rows unless they are folded in;
      since a v2 delete file may reference many data files, folding
      means rewriting it — out of scope here, so the writer REFUSES
      loudly and tells the caller to compact first (the spec's own
      migration guidance).
    - The table's format-version is stamped 3 at commit, and readers
      subtract DVs under the same data_seq <= delete_seq visibility
      rule as v2 positional deletes (_apply_row_deletes).

    Candidate files are pruned from manifest column bounds before any
    scan, and per-file position lists are tombstone-sized (bounded by
    rows-per-file), so the commit cost is O(matched rows), never a data
    rewrite. Returns the new snapshot id (no-op deletes are elided)."""
    meta, hits = _range_hits(spark, path, column, lo, hi)
    hits = [] if hits is None else (
        hits.groupBy("file_path")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .collect()
    )
    if not hits:
        return meta["current-snapshot-id"]
    new_dvs = {os.path.abspath(r["file_path"]): set(r["positions"]) for r in hits}
    cur = _current_metadata(path)
    seq, snap_id = _snapshot_ids(cur[1])
    return _commit_dv_snapshot(
        spark, path, cur, seq, snap_id, [], new_dvs,
        _current_manifests(cur[1]), {"operation": "delete"},
    )


def _dv_union_supersede(
    spark: SparkSession, new_dvs: dict[str, set[int]], deletes: list[dict]
) -> set[tuple[str, int]]:
    """The DV writers' spec obligations over the live delete files
    `deletes` (data_file dicts): fold each live Puffin DV whose
    referenced data file is re-targeted by `new_dvs` INTO the new
    position set (at-most-one-live-DV-per-file → supersede-by-union),
    and REFUSE when a live v2 position-delete file still references a
    targeted data file (v3 forbids mixing; the spec's migration guidance
    is to compact first). Mutates `new_dvs`; returns the superseded
    (puffin_path, content_offset) pairs whose manifest entries the
    commit must mark DELETED. `spark` reads each live position-delete
    file's referenced data paths for the coexistence check."""
    superseded: set[tuple[str, int]] = set()
    for f in deletes:
        if f.get("content") != 1:
            continue
        if f.get("file_format") == "PUFFIN":
            ref = os.path.abspath(f["referenced_data_file"])
            if ref in new_dvs:
                new_dvs[ref] |= set(
                    _read_puffin_dv(
                        f["file_path"],
                        int(f["content_offset"]),
                        int(f["content_size_in_bytes"]),
                    )
                )
                superseded.add((f["file_path"], int(f["content_offset"])))
        else:
            pos_refs = {
                os.path.abspath(r["file_path"])
                for r in spark.read.parquet(f["file_path"])
                .select("file_path")
                .distinct()
                .collect()
            }
            clash = sorted(pos_refs & set(new_dvs))
            if clash:
                raise ValueError(
                    "live v2 position-delete file "
                    f"{f['file_path']} still references {clash[:3]}; "
                    "compact v2 position deletes into DVs (rewrite_iceberg) "
                    "before writing v3 deletion vectors for these files"
                )
    return superseded


def _commit_dv_snapshot(
    spark: SparkSession,
    path: str,
    cur: tuple[int, dict],
    seq: int,
    snap_id: int,
    rows: list[tuple],
    new_dvs: dict[str, set[int]],
    carried: list[tuple],
    summary: dict,
    patch: dict | None = None,
) -> int:
    """Commit tail of every DV writer: apply supersede-by-union and the
    v2-coexistence refusal against the live deletes of the `carried`
    delete manifests, write ONE Puffin file + v3 delete manifest for
    `new_dvs` after `rows` (a merge's new data manifest), rewrite each
    carried manifest that holds a superseded DV entry (marked DELETED,
    siblings EXISTING with sequence numbers materialized), and commit
    the snapshot at format-version 3. An empty `new_dvs` (insert-only
    merge) writes no Puffin file and no delete manifest."""
    dv_manifests = {
        m[0]: parse_container(open(m[0], "rb").read())[1]
        for m in carried
        if m[3] == 1
    }
    superseded = _dv_union_supersede(
        spark,
        new_dvs,
        [e[4] for es in dv_manifests.values() for e in es if e[0] != 2],
    )
    if new_dvs:
        rows = [
            *rows,
            _manifest_row(
                path,
                _manifest_entry_schema_v3(),
                _puffin_entries(path, new_dvs, snap_id, seq),
                snap_id,
                seq,
            ),
        ]
    kept = []
    for m in carried:
        hit = [
            e[0] != 2
            and e[4].get("file_format") == "PUFFIN"
            and (e[4]["file_path"], int(e[4]["content_offset"])) in superseded
            for e in dv_manifests.get(m[0], ())
        ]
        if not any(hit):
            kept.append(m)
            continue
        rewritten = []
        for is_hit, e in zip(hit, dv_manifests[m[0]]):
            e = list(e)
            e[2] = e[2] if e[2] is not None else m[4]  # materialize seqs
            e[3] = e[3] if e[3] is not None else m[4]
            if is_hit:
                e[0], e[1] = 2, snap_id  # DELETED by this commit
            elif e[0] != 2:
                e[0] = 0  # EXISTING
            else:
                continue  # drop entries already dead before this commit
            rewritten.append(tuple(e))
        kept.append(
            _manifest_row(
                path, _manifest_entry_schema_v3(), rewritten, snap_id, m[4],
                min_seq=m[5], partitions=m[13],
            )
        )
    return _commit_snapshot(
        path, cur, seq, snap_id, rows, kept, summary,
        {**(patch or {}), "format-version": 3},  # DVs require v3
    )


def _dv_positions_for_keys(
    spark: SparkSession,
    meta: dict,
    datas: list[dict],
    keys: DataFrame,
    on: list[str],
) -> dict[str, set[int]]:
    """(data file → positions) of live rows whose `on`-tuple appears in
    `keys` — the scan half of the key-addressed DV verbs. Candidate data
    files are pruned from MANIFEST column bounds against the key set's
    own min/max envelope per key column (collected once: 2·len(on)
    scalars + a null flag), so a key-clustered table scans only the
    delta's neighborhood; the pruned scan then SEMI-joins the broadcast
    distinct key set (null-safe, so NULL key components match like the
    eq-delete reader's eqNullSafe). Pruning is conservative: a column
    whose key set contains NULLs never prunes (file bounds don't cover
    nulls)."""
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    by_name = {f["name"]: f for f in schema_fields}
    kdf = keys.select(*on).distinct()
    env = kdf.agg(
        *[F.min(F.col(c)).alias(f"__lo_{i}") for i, c in enumerate(on)],
        *[F.max(F.col(c)).alias(f"__hi_{i}") for i, c in enumerate(on)],
        *[
            F.max(F.col(c).isNull().cast("int")).alias(f"__nl_{i}")
            for i, c in enumerate(on)
        ],
    ).collect()[0]

    cands = []
    for d in datas:
        f = d["data_file"]
        keep = True
        for i, c in enumerate(on):
            if env[f"__nl_{i}"]:
                continue  # null keys: bounds can't witness absence
            lo, hi = env[f"__lo_{i}"], env[f"__hi_{i}"]
            if lo is not None and not envelope_meets(
                *_file_envelope(f, by_name[c]), lo, hi
            ):
                keep = False
                break
        if keep:
            cands.append(f)
    if not cands:
        return {}
    full = _full_schema(meta, schema_fields, spark)
    scan = spark.read.schema(full).parquet(*[f["file_path"] for f in cands])
    kren = kdf.select(*[F.col(c).alias(f"__k_{c}") for c in on])
    cond = reduce(
        lambda a, b: a & b,
        [scan[c].eqNullSafe(kren[f"__k_{c}"]) for c in on],
    )
    hits = (
        scan.join(F.broadcast(kren), cond, "left_semi")
        .select(
            file_path_col().alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
        .groupBy("file_path")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .collect()
    )
    return {os.path.abspath(r["file_path"]): set(r["positions"]) for r in hits}


def delete_iceberg_eq_dv(
    spark: SparkSession, path: str, keys: DataFrame, on: list[str]
) -> int:
    """Key-addressed delete landing as NATIVE v3 DELETION VECTORS
    (the equality half of the DV verbs): delete_iceberg_eq's
    equality-delete FILE commits in O(keys) but taxes every future read
    with an anti-join; this verb pays ONE bounds-pruned scan at commit
    time to resolve the same key set into positional DVs, so a
    format-version-3 table stays pure-DV (no v2 delete technology ever
    lands) and reads subtract roaring bitmaps instead of joining keys.
    Same identity-partition-column guard as the eq verb (key values on
    identity partition columns live only in metadata), same
    supersede-by-union and v2-coexistence refusal as delete_iceberg_dv
    (shared helpers). Returns the new snapshot id; a no-match delete is
    elided."""
    meta, datas, _ = iceberg_live_state(path)
    bad = sorted(set(on) & _identity_cols(meta))
    if bad:
        raise ValueError(
            f"equality-delete keys {bad} are identity partition columns "
            "(metadata-only values); key on data columns"
        )
    new_dvs = _dv_positions_for_keys(spark, meta, datas, keys, on)
    if not new_dvs:
        return meta["current-snapshot-id"]
    cur = _current_metadata(path)
    seq, snap_id = _snapshot_ids(cur[1])
    return _commit_dv_snapshot(
        spark, path, cur, seq, snap_id, [], new_dvs,
        _current_manifests(cur[1]), {"operation": "delete"},
    )


def _merge_prelude(
    path: str, source: DataFrame, on: list[str]
) -> tuple[tuple[int, dict], int, int, list[tuple]]:
    """The shared first half of both MERGE verbs: refuse merge keys on
    identity partition columns and a source whose schema is not exactly
    the table's, draw the snapshot's ids, and stage the source rows as
    data files under the table's own spec (identity or hidden
    transforms), with row ids on a lineage table. Returns (current
    metadata, seq, snapshot id, [data manifest row] or [])."""
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    meta = cur[1]
    bad = sorted(set(on) & _identity_cols(meta))
    if bad:
        raise ValueError(
            f"merge keys {bad} are identity partition columns "
            "(metadata-only values); key on data columns"
        )
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    incoming = {f["name"]: f["type"] for f in _ice_schema(source.schema)}
    if incoming != {f["name"]: f["type"] for f in schema_fields}:
        raise ValueError("merge source schema must match the table schema")
    seq, snap_id = _snapshot_ids(meta)
    by_name = {f["name"]: f for f in schema_fields}
    part_fields = _spec_part_fields(meta, schema_fields)
    entries = _stage_data_files(
        source.select(*by_name), path, part_fields, by_name, schema_fields,
        snap_id, seq,
    )
    if not entries:
        return cur, seq, snap_id, []
    _assign_row_ids(meta, entries)
    # the data manifest carries the table's partition struct + summaries
    # (manifest-list pruning)
    row = _manifest_row(
        path,
        _manifest_entry_schema(part_fields),
        entries,
        snap_id,
        seq,
        partitions=_partition_summaries(part_fields, entries),
    )
    return cur, seq, snap_id, [row]


def merge_iceberg(
    spark: SparkSession, path: str, source: DataFrame, on: list[str]
) -> int:
    """MERGE (upsert) through Iceberg v2 merge-on-read, as ONE atomic
    snapshot: an EQUALITY DELETE FILE of the source's key tuples plus
    the source rows as new data files, committed together. The spec's
    strict-less visibility rule makes this exact — old data files
    (data_seq < merge_seq) lose the matched keys, the new files
    (data_seq == merge_seq) are untouched by the same delete. Write cost
    is O(source): no table scan, no data-file rewrite — on 100 TB a
    MERGE costs what the delta costs (delta_merge's copy-on-write
    sibling rewrites matched files; this rewrites none). Partitioned
    tables merge identically — source rows stage under the table's own
    spec (identity or hidden transforms) and the equality delete is
    partition-agnostic — but the merge keys must be DATA columns (an
    identity partition column's values are metadata-only, invisible to
    the read-side anti-join). Exact schema match."""
    cur, seq, snap_id, rows = _merge_prelude(path, source, on)
    schema_fields = cur[1]["schemas"][cur[1]["current-schema-id"]]["fields"]
    by_name = {f["name"]: f["id"] for f in schema_fields}
    del_entries = _stage_delete_files(
        path, source.select(*on).distinct(), snap_id, seq, 2,
        [by_name[c] for c in on],
    )
    # the delete manifest is partition-less and never pruned
    if del_entries:
        rows.append(
            _manifest_row(path, _manifest_entry_schema([]), del_entries, snap_id, seq)
        )
    return _commit_snapshot(
        path, cur, seq, snap_id, rows, _current_manifests(cur[1]),
        {"operation": "overwrite"},
    )


def merge_iceberg_dv(
    spark: SparkSession, path: str, source: DataFrame, on: list[str]
) -> int:
    """MERGE (upsert) NATIVE to Iceberg v3: matched rows in existing
    data files are tombstoned as deletion-vector Puffin blobs — never an
    equality- or position-delete file — and the source rows land as new
    data files, all in ONE atomic snapshot. A v3 table merged this way stays pure-DV, so it never
    trips the v2-coexistence refusal that merge_iceberg's equality
    deletes would set up for a later delete_iceberg_dv.

    Cost model vs merge_iceberg: the eq-delete MERGE is O(source) to
    commit but anti-joins keys on every read forever; this verb pays ONE
    commit-time scan of the data files whose key-column MANIFEST bounds
    overlap the source keys' min/max envelope (on a key-clustered 100 TB
    table: the delta's neighborhood, not the table), after which reads
    subtract roaring bitmaps positionally — the steady-state read plan
    the v3 spec exists for. Matched keys resolve through a broadcast
    null-safe semi-join; positions for files that already carry a live
    DV supersede by union (shared with delete_iceberg_dv), and live v2
    position deletes referencing a matched file refuse loudly. Sequence
    visibility keeps the merge exact: the DVs apply at
    data_seq <= merge_seq but reference only PRE-merge files, so the
    same-snapshot source rows are untouched. Merge keys must be DATA
    columns; exact schema match required."""
    cur, seq, snap_id, rows = _merge_prelude(path, source, on)
    meta, datas, _ = iceberg_live_state(path)
    new_dvs = _dv_positions_for_keys(spark, meta, datas, source.select(*on), on)
    return _commit_dv_snapshot(
        spark, path, cur, seq, snap_id, rows, new_dvs,
        _current_manifests(cur[1]), {"operation": "overwrite"},
    )


def rewrite_iceberg(spark: SparkSession, path: str) -> int:
    """Compaction / delete materialization (Iceberg's
    rewrite_data_files): read the current snapshot WITH row-level
    deletes applied and commit the result as an overwrite snapshot whose
    manifest list holds only the new data manifest — delete files drop
    out of the live state (older snapshots keep them until
    expire_snapshots reclaims). The rewrite re-declares the table's own
    spec in writer terms — identity columns by name, hidden transforms
    as year(src)/month(src)/bucket(n, src) — so clustering survives
    compaction for every supported transform."""
    meta, _, _ = iceberg_live_state(path)
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    by_id = {f["id"]: f["name"] for f in schema_fields}
    pb = []
    for pf in meta["partition-specs"][0]["fields"]:
        tr, src = pf["transform"], by_id[pf["source-id"]]
        if tr == "identity":
            pb.append(pf["name"])
        elif tr in ("year", "month"):
            pb.append(f"{tr}({src})")
        elif tr.startswith("bucket["):
            pb.append(f"bucket({int(tr[len('bucket[') : -1])}, {src})")
        else:
            raise NotImplementedError(f"rewrite: unsupported transform {tr!r}")
    lineage = "next-row-id" in meta
    # on a row-lineage table, compaction MUST materialize _row_id and
    # _last_updated_sequence_number for the rows it copies — the spec's
    # carry rule that keeps row identity stable across rewrites
    df = read_iceberg(spark, path, with_lineage=lineage)
    return write_iceberg(df, path, partition_by=pb or None, mode="overwrite")


def iceberg_create_ref(
    path: str, name: str, ref_type: str = "tag", snapshot_id: int | None = None
) -> int:
    """Named REFS (spec v2 `refs` map): a `tag` pins a snapshot forever
    (audit marks, reproducible training-data cuts), a `branch` is a
    movable head. Creating one is a metadata-only commit; snapshot
    expiry refuses to drop a snapshot any ref protects. Returns the
    pinned snapshot id."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be tag|branch, got {ref_type!r}")
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    v, meta = cur
    meta = json.loads(json.dumps(meta))
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    if not any(s["snapshot-id"] == sid for s in meta["snapshots"]):
        raise ValueError(f"snapshot {sid} is not in table metadata")
    refs = meta.setdefault("refs", {})
    if name in refs:
        raise ValueError(f"ref {name!r} already exists")
    refs[name] = {"snapshot-id": sid, "type": ref_type}
    meta["last-updated-ms"] = int(time.time() * 1000)
    _publish_metadata(path, v + 1, meta)
    return sid


def iceberg_drop_ref(path: str, name: str) -> None:
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    v, meta = cur
    meta = json.loads(json.dumps(meta))
    if name not in (meta.get("refs") or {}):
        raise ValueError(f"no such ref {name!r}")
    del meta["refs"][name]
    meta["last-updated-ms"] = int(time.time() * 1000)
    _publish_metadata(path, v + 1, meta)


def iceberg_resolve_ref(path: str, name: str) -> int:
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    refs = cur[1].get("refs") or {}
    if name not in refs:
        raise ValueError(f"no such ref {name!r}")
    return refs[name]["snapshot-id"]


def iceberg_meta_table(
    spark: SparkSession, path: str, kind: str
) -> DataFrame:
    """Iceberg METADATA TABLES — the `SELECT * FROM tbl.snapshots /
    .history / .files / .manifests` inspection surface — answered
    entirely from the metadata tree (never a data scan; on 100 TB these
    are the operational queries that must stay O(metadata)).
    `files` rows carry content (0=data, 1=position deletes, 2=equality
    deletes), record_count and sequence_number for every LIVE file of
    the current snapshot."""
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    _, meta = cur
    if kind == "snapshots":
        schema = T.StructType(
            [
                T.StructField("committed_at_ms", T.LongType()),
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("sequence_number", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("manifest_list", T.StringType()),
            ]
        )
        rows = [
            (
                s["timestamp-ms"],
                s["snapshot-id"],
                s["sequence-number"],
                (s.get("summary") or {}).get("operation"),
                s["manifest-list"],
            )
            for s in meta["snapshots"]
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "history":
        schema = T.StructType(
            [
                T.StructField("made_current_at_ms", T.LongType()),
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("is_current_ancestor", T.BooleanType()),
            ]
        )
        rows = [
            (
                e["timestamp-ms"],
                e["snapshot-id"],
                e["snapshot-id"] == meta["current-snapshot-id"],
            )
            for e in meta["snapshot-log"]
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "files":
        _, datas, dels = iceberg_live_state(path)
        schema = T.StructType(
            [
                T.StructField("content", T.IntegerType()),
                T.StructField("file_path", T.StringType()),
                T.StructField("file_format", T.StringType()),
                T.StructField("record_count", T.LongType()),
                T.StructField("file_size_in_bytes", T.LongType()),
                T.StructField("sequence_number", T.LongType()),
            ]
        )
        rows = [
            (
                e["data_file"].get("content", 0),
                e["data_file"]["file_path"],
                e["data_file"]["file_format"],
                e["data_file"]["record_count"],
                e["data_file"]["file_size_in_bytes"],
                int(e["seq"]),
            )
            for e in datas + dels
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "manifests":
        sid = meta["current-snapshot-id"]
        snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
        _, manifests = parse_container(open(snap["manifest-list"], "rb").read())
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("length", T.LongType()),
                T.StructField("content", T.IntegerType()),
                T.StructField("sequence_number", T.LongType()),
                T.StructField("added_snapshot_id", T.LongType()),
                T.StructField("added_files_count", T.IntegerType()),
                T.StructField("added_rows_count", T.LongType()),
            ]
        )
        rows = [(m[0], m[1], m[3], m[4], m[6], m[7], m[10]) for m in manifests]
        return spark.createDataFrame(rows, schema)
    raise ValueError(
        f"unknown metadata table {kind!r} "
        "(expected snapshots|history|files|manifests)"
    )


def expire_snapshots(path: str, retain: int) -> dict:
    """Iceberg snapshot expiry: keep the newest `retain` snapshots, drop
    the rest from table metadata, then delete manifest lists, manifests
    and DATA FILES reachable only from expired snapshots (reachability
    is computed over the retained set first — a file shared with any
    retained snapshot survives). Writes a new vN.metadata.json so the
    expiry is itself a metadata commit. Returns counts of deleted
    objects."""
    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    v, meta = cur
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    if len(snaps) <= retain:
        return {"snapshots": 0, "manifests": 0, "data_files": 0}
    protected = {
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    }
    keep = snaps[-retain:] + [
        s for s in snaps[: len(snaps) - retain] if s["snapshot-id"] in protected
    ]
    drop = [
        s
        for s in snaps[: len(snaps) - retain]
        if s["snapshot-id"] not in protected
    ]
    if not drop:
        return {"snapshots": 0, "manifests": 0, "data_files": 0}

    def _reach(snapshots):
        mans, files = set(), set()
        for s in snapshots:
            _, manifests = parse_container(open(s["manifest-list"], "rb").read())
            for m in manifests:
                mans.add(m[0])
                _, entries = parse_container(open(m[0], "rb").read())
                for e in entries:
                    if e[0] != 2:
                        files.add(e[4]["file_path"])
        return mans, files

    keep_mans, keep_files = _reach(keep)
    drop_mans, drop_files = _reach(drop)
    n_man = n_dat = 0
    for m in drop_mans - keep_mans:
        os.unlink(m)
        n_man += 1
    for f in drop_files - keep_files:
        os.unlink(f)
        n_dat += 1
    for s in drop:
        os.unlink(s["manifest-list"])
    keep_ids = {s["snapshot-id"] for s in keep}
    meta = json.loads(json.dumps(meta))
    meta["snapshots"] = [s for s in meta["snapshots"] if s["snapshot-id"] in keep_ids]
    meta["snapshot-log"] = [
        e for e in meta["snapshot-log"] if e["snapshot-id"] in keep_ids
    ]
    meta["last-updated-ms"] = int(time.time() * 1000)
    _publish_metadata(path, v + 1, meta)
    return {"snapshots": len(drop), "manifests": n_man, "data_files": n_dat}


def remove_orphan_files(path: str, older_than_ms: int = 3 * 86_400_000) -> list[str]:
    """Iceberg remove_orphan_files action: delete files under the table
    location referenced by NO snapshot — the debris of crashed writers
    (parquet renamed into data/ whose metadata commit never published,
    and abandoned .stage-* staging dirs). Referenced = every file_path
    in every manifest of every snapshot, data AND delete files, at ANY
    entry status (an entry marked DELETED in one snapshot may still be
    live in an older one — reachability is over the whole history, the
    same rule TableLog.vacuum() applies). Committed history is
    untouched: every snapshot stays exactly readable.

    `older_than_ms` (default 3 days, Iceberg's own default) is the
    guard against IN-FLIGHT writers: a writer between staging its
    files and publishing metadata is indistinguishable from a crash,
    so only files older than the cutoff are reclaimed — without it,
    cleanup racing a live commit would corrupt the table it just
    committed. Append snapshots carry prior manifests forward, so each
    manifest is parsed ONCE (path-deduplicated), keeping the walk
    O(manifests), not O(snapshots x manifests)."""
    import shutil as _shutil

    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(f"no Iceberg metadata under {path}")
    _, meta = cur
    cutoff = time.time() - older_than_ms / 1000.0
    referenced: set[str] = set()
    seen_manifests: set[str] = set()
    for s in meta["snapshots"]:
        _, manifests = parse_container(open(s["manifest-list"], "rb").read())
        for m in manifests:
            if m[0] in seen_manifests:
                continue
            seen_manifests.add(m[0])
            _, entries = parse_container(open(m[0], "rb").read())
            for e in entries:
                referenced.add(os.path.abspath(e[4]["file_path"]))
    deleted: list[str] = []
    data_dir = os.path.join(path, "data")
    for dirpath, _dirs, names in os.walk(data_dir):
        for name in names:
            p = os.path.join(dirpath, name)
            if (
                os.path.abspath(p) not in referenced
                and os.path.getmtime(p) < cutoff
            ):
                os.unlink(p)
                deleted.append(p)
    for name in os.listdir(path):
        if name.startswith(".stage-"):
            p = os.path.join(path, name)
            if os.path.getmtime(p) < cutoff:
                _shutil.rmtree(p, ignore_errors=True)
                deleted.append(p)
    return deleted


def _uniform_data_entries(
    path: str, adds: list[dict], by_name: dict, pcols: list[str], snap_id: int, seq: int
) -> list[tuple]:
    """ADDED Iceberg manifest entries over Delta add actions: typed
    partition values, record counts and field-id bounds where the Delta
    stats allow."""
    import urllib.parse as up

    entries: list[tuple] = []
    for a in adds:
        st = json.loads(a.get("stats") or "{}")
        pv = {
            c: _encode_part_value(
                (a.get("partitionValues") or {}).get(c),
                by_name[c]["type"],
            )
            for c in pcols
        }
        lowers, uppers = [], []
        for name, lo in (st.get("minValues") or {}).items():
            f = by_name.get(name)
            hi = (st.get("maxValues") or {}).get(name)
            if f is None or hi is None:
                continue
            # Delta stats hold JSON-native values; encode only when the
            # python type matches the iceberg type (timestamps are
            # stringified in our stats and are skipped here — bounds are
            # an optimization, never required)
            ok = (
                f["type"] in ("int", "long")
                and isinstance(lo, int)
                or f["type"] in ("float", "double")
                and isinstance(lo, (int, float))
                or f["type"] == "string"
                and isinstance(lo, str)
            )
            if not ok:
                continue
            lowers.append(
                {"key": f["id"], "value": _ice_encode_bound(f["type"], lo)}
            )
            uppers.append(
                {"key": f["id"], "value": _ice_encode_bound(f["type"], hi)}
            )
        entries.append(
            (
                1,
                snap_id,
                seq,
                seq,
                {
                    "content": 0,
                    "file_path": os.path.join(path, up.unquote(a["path"])),
                    "file_format": "PARQUET",
                    "partition": pv,
                    "record_count": int(st.get("numRecords", 0)),
                    "file_size_in_bytes": a.get("size", 0),
                    "lower_bounds": lowers or None,
                    "upper_bounds": uppers or None,
                },
            )
        )
    return entries


def _uniform_delete_entries(
    spark: SparkSession, path: str, dv_adds: list[dict], snap_id: int, seq: int
) -> list[tuple]:
    """Delta deletion vectors → ADDED Iceberg v2 positional-delete
    entries: the DV positions expand on executors and stage as
    spec-sorted (file_path, pos) parquet delete files with the SAME
    sequence number as the snapshot's data (positional deletes apply at
    data_seq <= delete_seq), so Iceberg readers subtract exactly the
    rows Delta readers mask — real UniForm's DV bridge."""
    from atlas_migration_repo_spark.sources.delta_interop import _dv_expand_df

    del_df = (
        _dv_expand_df(spark, path, dv_adds)
        .select(
            F.col("__dv_file").alias("file_path"),
            F.col("__dv_pos").alias("pos"),
        )
        .repartitionByRange(4, "file_path", "pos")
        .sortWithinPartitions("file_path", "pos")
    )
    return _stage_delete_files(path, del_df, snap_id, seq, content=1, equality_ids=None)


# ---------------------------------------------------------------------------
# Iceberg v3 deletion vectors (Puffin): the spec stores row-level deletes
# as one deletion-vector-v1 blob per referenced data file inside a Puffin
# file. The blob bytes are deliberately byte-compatible with Delta's DV
# framing — 4-byte big-endian length, the portable 64-bit
# RoaringBitmapArray (magic D1 D3 39 64 = 1681511377 LE), 4-byte
# big-endian CRC-32 of magic+vector — so the bridge reuses the Delta
# codec verbatim (delta_interop._dv_encode/_dv_decode).
# ---------------------------------------------------------------------------
_PUFFIN_MAGIC = b"PFA1"


def _write_puffin_dvs(
    path: str,
    dvs: list[tuple[str, list[int]]],
    snap_id: int,
    seq: int,
) -> tuple[str, list[dict]]:
    """Write ONE Puffin file under data/ holding a deletion-vector-v1
    blob per (referenced data file, positions) pair, per the published
    Puffin spec: magic, blobs, then footer = magic + JSON payload +
    4-byte LE payload size + 4 flag bytes + magic. Returns the file
    path and the footer's per-blob metadata dicts (offset/length/
    properties)."""
    import binascii
    import struct

    from atlas_migration_repo_spark.sources.delta_interop import _dv_encode

    body = bytearray(_PUFFIN_MAGIC)
    blobs_meta: list[dict] = []
    for ref, positions in dvs:
        payload = _dv_encode(positions)  # magic + portable bitmap
        blob = (
            struct.pack(">i", len(payload))
            + payload
            + struct.pack(">I", binascii.crc32(payload) & 0xFFFFFFFF)
        )
        off = len(body)
        body += blob
        blobs_meta.append(
            {
                "type": "deletion-vector-v1",
                "fields": [],
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "offset": off,
                "length": len(blob),
                "properties": {
                    "referenced-data-file": ref,
                    "cardinality": str(len(set(positions))),
                },
            }
        )
    footer_payload = json.dumps(
        {"blobs": blobs_meta, "properties": {}}, sort_keys=True
    ).encode()
    body += (
        _PUFFIN_MAGIC
        + footer_payload
        + struct.pack("<i", len(footer_payload))
        + b"\x00\x00\x00\x00"  # flags: footer payload uncompressed
        + _PUFFIN_MAGIC
    )
    dest = os.path.join(path, "data", f"{uuid.uuid4().hex}-deletes.puffin")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    tmp = dest + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(bytes(body))
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, dest)
    return dest, blobs_meta


def read_puffin_footer(file_path: str) -> dict:
    """Parse a Puffin file's footer into its JSON payload (blob list +
    file properties), verifying the four magic sequences."""
    import struct

    with open(file_path, "rb") as fh:
        data = fh.read()
    if data[:4] != _PUFFIN_MAGIC or data[-4:] != _PUFFIN_MAGIC:
        raise ValueError(f"{file_path}: not a Puffin file (bad magic)")
    flags = data[-8:-4]
    if flags[0] & 1:
        raise ValueError(f"{file_path}: compressed Puffin footers unsupported")
    (payload_size,) = struct.unpack("<i", data[-12:-8])
    payload = data[-12 - payload_size : -12]
    if data[-12 - payload_size - 4 : -12 - payload_size] != _PUFFIN_MAGIC:
        raise ValueError(f"{file_path}: Puffin footer magic missing")
    return json.loads(payload.decode())


def _read_puffin_dv(file_path: str, offset: int, length: int) -> list[int]:
    """Decode one deletion-vector-v1 blob (positions list) from a Puffin
    file, verifying the framing length and CRC."""
    import binascii
    import struct

    from atlas_migration_repo_spark.sources.delta_interop import _dv_decode

    with open(file_path, "rb") as fh:
        fh.seek(offset)
        blob = fh.read(length)
    (n,) = struct.unpack(">i", blob[:4])
    payload = blob[4 : 4 + n]
    (crc,) = struct.unpack(">I", blob[4 + n : 8 + n])
    if binascii.crc32(payload) & 0xFFFFFFFF != crc:
        raise ValueError(f"{file_path}@{offset}: deletion vector failed CRC")
    return _dv_decode(payload)


def _manifest_entry_schema_v3() -> dict:
    """Manifest-entry schema for v3 DELETE manifests: the spec's DV
    fields (referenced_data_file 143, content_offset 144,
    content_size_in_bytes 145) ride as optional columns. Used ONLY for
    puffin-DV delete manifests — every manifest file carries its own
    writer schema, so v2 manifests are untouched."""
    base = _manifest_entry_schema([])
    data_file = next(f for f in base["fields"] if f["name"] == "data_file")
    data_file["type"]["fields"] += [
        {
            "name": "referenced_data_file",
            "type": ["null", "string"],
            "field-id": 143,
        },
        {"name": "content_offset", "type": ["null", "long"], "field-id": 144},
        {
            "name": "content_size_in_bytes",
            "type": ["null", "long"],
            "field-id": 145,
        },
    ]
    return base


def _puffin_entries(
    path: str, dvs: dict[str, set[int]], snap_id: int, seq: int
) -> list[tuple]:
    """Write `dvs` (referenced data file → positions) as ONE Puffin file
    and return its ADDED v3 delete-manifest entries: one per blob, with
    file_format=PUFFIN, referenced_data_file and the blob's
    content_offset/size."""
    puffin, blobs_meta = _write_puffin_dvs(
        path, sorted((ref, sorted(ps)) for ref, ps in dvs.items()), snap_id, seq
    )
    size = os.path.getsize(puffin)
    return [
        (
            1,  # status ADDED
            snap_id,
            seq,
            seq,
            {
                "content": 1,  # position deletes (DV flavor)
                "file_path": puffin,
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": int(bm["properties"]["cardinality"]),
                "file_size_in_bytes": size,
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": None,
                "referenced_data_file": bm["properties"]["referenced-data-file"],
                "content_offset": bm["offset"],
                "content_size_in_bytes": bm["length"],
            },
        )
        for bm in blobs_meta
    ]


def publish_iceberg_metadata_from_delta(
    spark: SparkSession, path: str, dv_format: str = "parquet"
) -> int:
    """UniForm-style dual publish (the public Delta Universal Format
    idea): give an existing DELTA table an ICEBERG metadata tree over
    the SAME data files — one copy of the data, two protocol front
    doors. The publish is the table's first sync: the current Delta
    snapshot becomes Iceberg snapshot 1, one manifest whose entries
    carry the Delta adds' partition values (typed), record counts and,
    where the Delta stats allow, field-id bounds. Refuses if an Iceberg
    metadata tree already exists. Returns the snapshot id.

    Live Delta deletion vectors bridge in the table's DV format, and
    `dv_format` sets it: "parquet" (default) keeps a v2 table and
    expands them into positional-delete parquet files; "puffin" stamps
    format-version 3 and copies the roaring payloads bit-exactly into a
    Puffin deletion-vector file. Every later sync keeps the format."""
    if dv_format not in ("parquet", "puffin"):
        raise ValueError(f"dv_format must be parquet|puffin: {dv_format}")
    from atlas_migration_repo_spark.sources.delta_interop import _replay

    if os.path.exists(os.path.join(_meta_dir(path), "version-hint.text")):
        raise FileExistsError(f"{_meta_dir(path)} already holds Iceberg metadata")
    delta = _replay(path)
    cur = _new_table_meta(
        path,
        _ice_schema(T.StructType.fromJson(json.loads(delta[1]["schemaString"]))),
        delta[1].get("partitionColumns") or [],
        {"write.metadata.converted-from": "delta"},
    )
    if dv_format == "puffin":
        cur[1]["format-version"] = 3  # puffin DVs are a v3 feature
    os.makedirs(_meta_dir(path), exist_ok=True)
    # put-if-absent via the shared LogStore seam: two racing UniForm
    # publishers both passing the exists-check above still get exactly
    # one v1 winner (the loser raises instead of clobbering)
    return _sync_from_delta(spark, path, cur, delta)


def sync_iceberg_metadata_from_delta(spark: SparkSession, path: str) -> int:
    """Keep a UniForm table's Iceberg metadata CURRENT: Delta commits
    made after the initial publish don't exist for Iceberg readers until
    this runs. Each sync appends one Iceberg snapshot over the Delta
    table's current live file set, with the synced Delta version
    recorded in the snapshot summary so a repeat sync is a NO-OP, not a
    duplicate snapshot. Additive Delta schema evolution lands as a new
    Iceberg schema (positional field ids are stable because the Delta
    side refuses non-additive changes). Live deletion vectors bridge in
    the table's own DV format — Puffin on a format-version 3 table,
    positional-delete parquet on v2 — and the snapshot holds exactly
    the live DVs. No data file is read or written. Returns the current
    snapshot id."""
    from atlas_migration_repo_spark.sources.delta_interop import _replay

    cur = _current_metadata(path)
    if cur is None:
        raise FileNotFoundError(
            f"{_meta_dir(path)} holds no Iceberg metadata; run "
            "publish_iceberg_metadata_from_delta first"
        )
    return _sync_from_delta(spark, path, cur, _replay(path))


def _sync_from_delta(
    spark: SparkSession,
    path: str,
    cur: tuple[int, dict],
    delta: tuple[int, dict, list[dict]],
) -> int:
    """One UniForm sync: commit the Delta state `delta` (version,
    metaData, live adds) as the next snapshot of `cur`, unless `cur`'s
    current snapshot already records that Delta version.

    O(delta) fast path: when every data file the Iceberg side already
    tracks is STILL live on the Delta side (append-only history since
    the last sync, or no snapshot yet), one manifest over only the NEW
    files lands ahead of the carried manifests — metadata cost scales
    with the sync's delta, not the table. Any removal (overwrite,
    delete, OPTIMIZE) writes one manifest over the whole live set and
    carries nothing. Live DVs ride the same snapshot (an Iceberg
    manifest over the raw files alone would RESURRECT the DV-masked
    rows), so that it holds exactly the live DVs: a v3 table takes
    them as Puffin DVs through the DV commit, superseding the carried
    ones by union; a v2 table re-stages them as positional-delete
    parquet and drops the carried delete manifests — a v2 delete file
    may reference many data files, so it cannot be superseded one
    file at a time."""
    import urllib.parse as up

    from atlas_migration_repo_spark.sources.delta_interop import _dv_read_positions

    delta_v, dmeta, adds = delta
    _, meta = cur
    last = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]),
        None,
    )
    if last and int(last.get("summary", {}).get("delta-version", -1)) >= delta_v:
        return last["snapshot-id"]
    schema_fields = _ice_schema(
        T.StructType.fromJson(json.loads(dmeta["schemaString"]))
    )
    patch = _schema_patch(meta, schema_fields)
    seq, snap_id = _snapshot_ids(meta)
    by_abs = {os.path.join(path, up.unquote(a["path"])): a for a in adds}
    prior = _current_manifests(meta)
    tracked = {
        e[4]["file_path"]
        for m in prior
        if m[3] == 0
        for e in parse_container(open(m[0], "rb").read())[1]
        if e[0] != 2
    }
    append = tracked <= set(by_abs)
    if not append:
        tracked, prior = set(), []
    entries = _uniform_data_entries(
        path,
        [a for p_, a in by_abs.items() if p_ not in tracked],
        {f["name"]: f for f in schema_fields},
        dmeta.get("partitionColumns") or [],
        snap_id,
        seq,
    )
    rows = [
        _manifest_row(
            path,
            _manifest_entry_schema(_spec_part_fields(meta, schema_fields)),
            entries,
            snap_id,
            seq,
        )
    ]
    summary = {
        "operation": "append" if append else "overwrite",
        "delta-version": str(delta_v),
    }
    if meta["format-version"] >= 3:
        dvs = {
            os.path.abspath(p_): set(_dv_read_positions(path, a["deletionVector"]))
            for p_, a in by_abs.items()
            if a.get("deletionVector")
        }
        return _commit_dv_snapshot(
            spark, path, cur, seq, snap_id, rows,
            {ref: ps for ref, ps in dvs.items() if ps}, prior, summary, patch,
        )
    dv_adds = [a for a in adds if a.get("deletionVector")]
    if dv_adds:
        del_entries = _uniform_delete_entries(spark, path, dv_adds, snap_id, seq)
        if del_entries:
            rows.append(
                _manifest_row(
                    path, _manifest_entry_schema([]), del_entries, snap_id, seq
                )
            )
    return _commit_snapshot(
        path, cur, seq, snap_id, rows, [m for m in prior if m[3] == 0],
        summary, patch,
    )


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------
@query(
    "iceberg_roundtrip",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 write → metadata/manifest replay → read. The whole
    metadata tree (vN.metadata.json, manifest list avro, manifest avro)
    is produced and consumed by this repo's own public-spec codecs."""
    root = scratch_path(sf_dir, "orders_iceberg")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_iceberg(df, root)
    return read_iceberg(spark, root)


@query(
    "iceberg_row_lineage",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id,
             CAST(1 AS BIGINT) AS last_seq
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    b AS (
      SELECT o_orderkey,
             (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0)
             + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id,
             CAST(2 AS BIGINT) AS last_seq
      FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderkey, CAST(row_id AS BIGINT) AS row_id, last_seq
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    WHERE o_orderkey % 10 <> 0
    """,
)
def iceberg_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE end-to-end: two single-file appends get
    manifest-assigned first_row_id 0 and |batch A| (rows inherit id =
    first_row_id + position and last-updated = the file's sequence
    number), an equality delete tombstones every 10th key WITHOUT
    touching lineage, and compaction rewrites the survivors while
    MATERIALIZING `_row_id` / `_last_updated_sequence_number` — the read
    after compaction must return the exact pre-compaction identities.
    The oracle replays the deterministic assignment (sorted single-file
    batches make row ids = rank within batch)."""
    root = scratch_path(sf_dir, "orders_ice_lineage")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    batch_a = (
        orders.where(F.col("o_orderkey") % 3 == 0)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    batch_b = (
        orders.where(F.col("o_orderkey") % 3 == 1)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    write_iceberg(batch_a, root, mode="overwrite", row_lineage=True)
    write_iceberg(batch_b, root, mode="append")
    delete_iceberg_eq(
        spark,
        root,
        orders.where(F.col("o_orderkey") % 10 == 0).select("o_orderkey"),
        on=["o_orderkey"],
    )
    rewrite_iceberg(spark, root)  # compaction must carry row identity
    return read_iceberg(spark, root, with_lineage=True).select(
        "o_orderkey",
        F.col(_ROW_ID_COL).alias("row_id"),
        F.col(_LAST_SEQ_COL).alias("last_seq"),
    )


@query(
    "iceberg_partition_pruning",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def iceberg_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical metadata pruning: manifest-list partition summaries
    drop manifests, per-file partition values drop files — the scan's
    input is only the 1-URGENT files, decided entirely in metadata."""
    root = scratch_path(sf_dir, "orders_iceberg_part")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_iceberg(df, root, partition_by=["o_orderpriority"])
    pruned = read_iceberg(
        spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "lakehouse_uniform",
    oracle=f"""
    SELECT 'delta' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    UNION ALL
    SELECT 'iceberg' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    """,
)
def lakehouse_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm dual publish: ONE copy of partitioned data files carries
    BOTH a `_delta_log` and an Iceberg metadata tree; the same
    partition-pruned aggregate is answered through each protocol's
    reader and must agree (and match the oracle) — a migrating user
    serves Delta and Iceberg clients from the same storage."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        read_delta,
        write_delta,
    )

    root = scratch_path(sf_dir, "orders_uniform")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_delta(df, root, partition_by=["o_orderpriority"])
    publish_iceberg_metadata_from_delta(spark, root)
    outs = []
    for reader, fn in (
        ("delta", lambda: read_delta(spark, root, partition_eq={"o_orderpriority": "1-URGENT"})),
        ("iceberg", lambda: read_iceberg(spark, root, partition_eq={"o_orderpriority": "1-URGENT"})),
    ):
        outs.append(
            fn()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum("o_totalprice").alias("total"),
            )
            .select(F.lit(reader).alias("reader"), "o_orderstatus", "n_rows", "total")
        )
    return outs[0].unionByName(outs[1])


_DV3_PRED = "o_orderstatus = 'F' AND o_totalprice > 150000"


@query(
    "lakehouse_uniform_dv_puffin",
    oracle=f"""
    SELECT 'delta' AS reader, o_orderstatus, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders WHERE NOT ({_DV3_PRED}) GROUP BY o_orderstatus
    UNION ALL
    SELECT 'iceberg' AS reader, o_orderstatus, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders WHERE NOT ({_DV3_PRED}) GROUP BY o_orderstatus
    """,
)
def lakehouse_uniform_dv_puffin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm with ICEBERG V3 DELETION VECTORS: a Delta table takes a
    merge-on-read DV delete (no data file rewritten), then the Iceberg
    publish copies the roaring payloads BIT-EXACTLY into a Puffin
    deletion-vector file (format-version 3, file_format=PUFFIN delete
    manifest with referenced_data_file + content offsets) instead of
    expanding them to v2 positional-delete parquet. Both protocol
    readers must subtract exactly the same rows."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        read_delta,
        write_delta,
    )

    root = scratch_path(sf_dir, "orders_uniform_dv3")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_delta(df.repartition(4), root)
    delete_delta_dv(spark, root, _DV3_PRED)
    publish_iceberg_metadata_from_delta(spark, root, dv_format="puffin")
    outs = []
    for reader, fn in (
        ("delta", lambda: read_delta(spark, root)),
        ("iceberg", lambda: read_iceberg(spark, root)),
    ):
        outs.append(
            fn()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum("o_totalprice").alias("total"),
            )
            .select(
                F.lit(reader).alias("reader"), "o_orderstatus", "n_rows", "total"
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "lakehouse_uniform_sync",
    oracle=f"""
    SELECT 'delta' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    UNION ALL
    SELECT 'iceberg' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    """,
)
def lakehouse_uniform_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm stays CURRENT: the initial dual publish covers only half
    the orders; a later Delta append lands the rest, and
    sync_iceberg_metadata_from_delta appends an Iceberg snapshot over
    the new live set (metadata-only). The same partition-pruned
    aggregate through both readers must cover the FULL table — without
    the sync, the Iceberg door would silently serve the stale half."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        read_delta,
        write_delta,
    )

    root = scratch_path(sf_dir, "orders_uniform_sync")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_delta(
        df.where(F.col("o_orderkey") % 2 == 0),
        root,
        partition_by=["o_orderpriority"],
    )
    publish_iceberg_metadata_from_delta(spark, root)
    write_delta(
        df.where(F.col("o_orderkey") % 2 == 1),
        root,
        partition_by=["o_orderpriority"],
        mode="append",
    )
    sync_iceberg_metadata_from_delta(spark, root)
    outs = []
    for reader, fn in (
        (
            "delta",
            lambda: read_delta(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
        (
            "iceberg",
            lambda: read_iceberg(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
    ):
        outs.append(
            fn()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum("o_totalprice").alias("total"),
            )
            .select(
                F.lit(reader).alias("reader"), "o_orderstatus", "n_rows", "total"
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "lakehouse_uniform_reverse",
    oracle=f"""
    SELECT 'delta' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    UNION ALL
    SELECT 'iceberg' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    """,
)
def lakehouse_uniform_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse UniForm (VERDICT r5 #6): the data lands in ICEBERG first,
    then `publish_delta_log_from_iceberg` grafts a `_delta_log` over the
    same partitioned files — one copy of the data serving both protocol
    readers. The same partition-pruned aggregate is answered through
    each door and must agree (and match the oracle) — the migration
    that lands in Iceberg but must keep serving Delta clients."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        publish_delta_log_from_iceberg,
        read_delta,
    )

    root = scratch_path(sf_dir, "orders_uniform_rev")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_iceberg(df, root, partition_by=["o_orderpriority"])
    publish_delta_log_from_iceberg(spark, root)
    outs = []
    for reader, fn in (
        (
            "delta",
            lambda: read_delta(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
        (
            "iceberg",
            lambda: read_iceberg(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
    ):
        outs.append(
            fn()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum("o_totalprice").alias("total"),
            )
            .select(
                F.lit(reader).alias("reader"), "o_orderstatus", "n_rows", "total"
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "lakehouse_uniform_reverse_sync",
    oracle=f"""
    SELECT 'delta' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    UNION ALL
    SELECT 'iceberg' AS reader, o_orderstatus,
           COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    """,
)
def lakehouse_uniform_reverse_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse UniForm stays CURRENT: the initial Delta graft covers
    only half the Iceberg-written orders; a later Iceberg append lands
    the rest, and sync_delta_log_from_iceberg commits the file-level
    diff so Delta readers see it too. The same partition-pruned
    aggregate through both doors must cover the FULL table."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        publish_delta_log_from_iceberg,
        read_delta,
        sync_delta_log_from_iceberg,
    )

    root = scratch_path(sf_dir, "orders_uniform_rev_sync")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_iceberg(
        df.where(F.col("o_orderkey") % 2 == 0),
        root,
        partition_by=["o_orderpriority"],
    )
    publish_delta_log_from_iceberg(spark, root)
    write_iceberg(
        df.where(F.col("o_orderkey") % 2 == 1),
        root,
        partition_by=["o_orderpriority"],
        mode="append",
    )
    sync_delta_log_from_iceberg(spark, root)
    outs = []
    for reader, fn in (
        (
            "delta",
            lambda: read_delta(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
        (
            "iceberg",
            lambda: read_iceberg(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
    ):
        outs.append(
            fn()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum("o_totalprice").alias("total"),
            )
            .select(
                F.lit(reader).alias("reader"), "o_orderstatus", "n_rows", "total"
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "iceberg_stats_skipping",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
    """,
)
def iceberg_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping from MANIFEST column bounds: orders land
    range-clustered on o_orderdate, every data_file carries
    field-id-keyed lower/upper bounds in the spec's binary single-value
    encoding, and a year-long range read prunes files from manifest
    metadata alone before the exact predicate runs (strict-subset
    pruning unit-asserted)."""
    import datetime as _dt

    root = scratch_path(sf_dir, "orders_iceberg_skip")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_iceberg(orders, root)
    got = read_iceberg_range(
        spark,
        root,
        "o_orderdate",
        _dt.datetime(1996, 1, 1),
        _dt.datetime(1996, 12, 31, 23, 59, 59),
    )
    return got.agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "iceberg_hidden_partitioning",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE YEAR(o_orderdate) = 1996
    """,
)
def iceberg_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN partitioning — the Iceberg feature hive layouts lack:
    orders partition by `year(o_orderdate)` without any user-visible
    year column (the transform ordinal lives only in layout + log
    metadata; o_orderdate itself stays in the data files). A query for
    one year prunes to that year's files entirely in metadata and needs
    no knowledge of the layout."""
    root = scratch_path(sf_dir, "orders_iceberg_hidden")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    write_iceberg(orders, root, partition_by=["year(o_orderdate)"])
    pruned = read_iceberg(
        spark,
        root,
        partition_eq={"o_orderdate_year": transform_value("year", "1996-01-01")},
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "iceberg_bucket_partitioning",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderkey IN (
        SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3)
    """,
)
def iceberg_bucket_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket[16] hidden partitioning with the spec's murmur3-seed-0
    hash (8-byte-LE key serialization; published test vector
    hash(34)=2017239379 unit-asserted): point lookups compute the key's
    bucket driver-side and prune to that bucket's files in METADATA —
    the co-location feature that turns a key lookup on a 100 TB table
    into a 1/N-files read. Three point lookups union and aggregate."""
    root = scratch_path(sf_dir, "orders_iceberg_bucket")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_iceberg(orders, root, partition_by=["bucket(16, o_orderkey)"])
    keys = [r[0] for r in orders.orderBy("o_orderkey").limit(3).collect()]
    parts = []
    for k in keys:
        pv = transform_value("bucket[16]", k)
        parts.append(
            read_iceberg(
                spark, root, partition_eq={"o_orderkey_bucket": pv}
            ).where(F.col("o_orderkey") == k)
        )
    hits = reduce(lambda a, b: a.unionByName(b), parts)
    return hits.agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "iceberg_schema_evolution",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
    FROM customer
    """,
)
def iceberg_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-native schema evolution: the evolving append allocates
    fresh field-ids above last-column-id and commits a NEW schema entry
    with a bumped schema-id (old schemas stay in metadata; each snapshot
    records the schema-id it was written under, so time travel reads
    narrow). The current read resolves the widened schema with nulls
    for files that predate the new column."""
    root = scratch_path(sf_dir, "customer_iceberg_evol")
    shutil.rmtree(root, ignore_errors=True)
    cust = load(spark, sf_dir, "customer")
    write_iceberg(
        cust.where(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name"),
        root,
    )
    write_iceberg(
        cust.where(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_name", "c_acctbal"
        ),
        root,
        mode="append",
    )
    return read_iceberg(spark, root)


@query(
    "iceberg_rename_travel",
    oracle=f"""
    SELECT 0 AS snap, 'o_totalprice' AS price_col, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    UNION ALL
    SELECT 1 AS snap, 'price_usd' AS price_col, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def iceberg_rename_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-native RENAME across time travel: v1 = pre-1997 orders;
    the price column renames o_totalprice → price_usd (metadata-only,
    field id kept, zero files rewritten); later orders append under the
    new name. The latest read aggregates under price_usd over BOTH
    generations of files (pre-rename files resolve by field id), while
    the pinned first snapshot still surfaces o_totalprice."""
    root = scratch_path(sf_dir, "orders_iceberg_rename")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    cut = "1997-01-01"
    s1 = write_iceberg(
        orders.where(F.col("o_orderdate") < cut).drop("o_orderdate"),
        root,
        mode="append",
    )
    rename_iceberg_column(root, "o_totalprice", "price_usd")
    write_iceberg(
        orders.where(F.col("o_orderdate") >= cut)
        .select("o_orderkey", F.col("o_totalprice").alias("price_usd")),
        root,
        mode="append",
    )
    outs = []
    for snap, col, kw in (
        (0, "o_totalprice", {"snapshot_id": s1}),
        (1, "price_usd", {}),
    ):
        agg = read_iceberg(spark, root, **kw).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum(col).alias("total"),
        )
        outs.append(
            agg.select(
                F.lit(snap).alias("snap"),
                F.lit(col).alias("price_col"),
                "n_rows",
                "total",
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "iceberg_sink_txn",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def iceberg_sink_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once landing into Iceberg via snapshot-summary write
    marks: three order batches append with txn=("feed", i), batch 1
    REPLAYS with the same mark and must be a no-op — the landed table
    equals the source exactly (twin of delta_sink_txn)."""
    root = scratch_path(sf_dir, "orders_iceberg_sink_txn")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    batches = [orders.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    write_iceberg(batches[0], root, mode="append", txn=("feed", 0))
    write_iceberg(batches[1], root, mode="append", txn=("feed", 1))
    write_iceberg(batches[1], root, mode="append", txn=("feed", 1))  # replay
    write_iceberg(batches[2], root, mode="append", txn=("feed", 2))
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "iceberg_promote_evolution",
    oracle="""
    SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size FROM part
    """,
)
def iceberg_promote_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe type promotion as a user-facing query: half the parts land
    with p_size INT, the other half appends with p_size LONG — the spec
    promotion keeps the field-id, old 4-byte files promote at scan, and
    the whole table reads back exactly under the widened type."""
    root = scratch_path(sf_dir, "part_iceberg_promote")
    shutil.rmtree(root, ignore_errors=True)
    part = load(spark, sf_dir, "part")
    write_iceberg(
        part.where(F.col("p_partkey") % 2 == 0).select(
            "p_partkey", F.col("p_size").cast("int").alias("p_size")
        ),
        root,
        mode="append",
    )
    write_iceberg(
        part.where(F.col("p_partkey") % 2 == 1).select(
            "p_partkey", F.col("p_size").cast("bigint").alias("p_size")
        ),
        root,
        mode="append",
    )
    return read_iceberg(spark, root)


_TT_CUT = "1997-01-01"


@query(
    "iceberg_time_travel",
    oracle=f"""
    SELECT 0 AS snap, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '{_TT_CUT} 00:00:00'
    UNION ALL
    SELECT 1 AS snap, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 2 AS snap, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel: append commit carries prior manifests
    forward in its manifest list; overwrite's manifest list replaces
    them. Reading each snapshot-id reproduces each committed state."""
    root = scratch_path(sf_dir, "orders_iceberg_tt")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    s0 = write_iceberg(orders.where(F.col("o_orderdate") < _TT_CUT), root)
    s1 = write_iceberg(
        orders.where(F.col("o_orderdate") >= _TT_CUT), root, mode="append"
    )
    s2 = write_iceberg(
        orders.where(F.col("o_orderstatus") == "F"), root, mode="overwrite"
    )
    outs = []
    for i, sid in enumerate((s0, s1, s2)):
        agg = read_iceberg(spark, root, snapshot_id=sid).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(i).alias("snap"), "n_rows", "total"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "iceberg_delete_mor",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
       OR o_orderdate > TIMESTAMP '1996-12-31 23:59:59'
    """,
)
def iceberg_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ range delete through the Iceberg v2 protocol:
    orders land range-clustered on o_orderdate, then the 1996 year is
    deleted as POSITIONAL DELETE FILES — no data file is rewritten
    (unit-asserted); the reader subtracts tombstones with a broadcast
    anti-join on (file uri, row position). The pre-delete snapshot still
    reads the full table (snapshot isolation) — the MOR sibling of
    `delta_delete_range`'s copy-on-write."""
    import datetime as _dt

    root = scratch_path(sf_dir, "orders_iceberg_mordel")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    s0 = write_iceberg(orders, root)
    delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        _dt.datetime(1996, 1, 1),
        _dt.datetime(1996, 12, 31, 23, 59, 59),
    )
    outs = []
    for v, sid in ((0, s0), (1, None)):
        agg = read_iceberg(spark, root, snapshot_id=sid).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(v).alias("version"), "n_rows", "total"))
    return outs[0].unionByName(outs[1])


@query(
    "iceberg_delete_dv",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE NOT (o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1996-06-30 23:59:59')
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE NOT (o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59')
    """,
)
def iceberg_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Iceberg v3 deletion-vector deletes, twice, so the spec's
    at-most-one-live-DV-per-data-file rule is exercised: the first
    commit tombstones 1996-H1 as Puffin deletion-vector blobs; the
    second widens to the full year, which must UNION the surviving H1
    positions into fresh DVs and mark the old blobs' manifest entries
    deleted (supersede-by-union — structurally asserted in
    tests/test_iceberg_interop.py). All three snapshots stay readable
    (snapshot isolation); no data file is ever rewritten. This is the
    no-Delta-involved sibling of lakehouse_uniform_dv_puffin's bridge."""
    import datetime as _dt

    root = scratch_path(sf_dir, "orders_iceberg_dvdel")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    s0 = write_iceberg(orders, root)
    s1 = delete_iceberg_dv(
        spark, root, "o_orderdate",
        _dt.datetime(1996, 1, 1), _dt.datetime(1996, 6, 30, 23, 59, 59),
    )
    s2 = delete_iceberg_dv(
        spark, root, "o_orderdate",
        _dt.datetime(1996, 1, 1), _dt.datetime(1996, 12, 31, 23, 59, 59),
    )
    outs = []
    for i, sid in enumerate((s0, s1, s2)):
        agg = read_iceberg(spark, root, snapshot_id=sid).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(i).alias("version"), "n_rows", "total"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "iceberg_delete_eq",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('c_acctbal')} AS total
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    """,
)
def iceberg_delete_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALITY delete through the Iceberg v2 protocol: one delete file
    holding the key tuple ('BUILDING'), declared via equality_ids —
    O(keys) to commit regardless of table size (the table is never
    scanned), subtracted at read with a broadcast anti-join on the key.
    Sequence visibility is strict-less: rows appended AFTER the delete
    with the same key survive it (unit-asserted)."""
    root = scratch_path(sf_dir, "customer_iceberg_eqdel")
    shutil.rmtree(root, ignore_errors=True)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    write_iceberg(cust, root)
    keys = spark.createDataFrame([("BUILDING",)], "c_mktsegment string")
    delete_iceberg_eq(spark, root, keys, ["c_mktsegment"])
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("c_acctbal").alias("total"),
    )


@query(
    "iceberg_rewrite_mor",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
       OR o_orderdate > TIMESTAMP '1996-12-31 23:59:59'
    """,
)
def iceberg_rewrite_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rewrite_data_files after a MOR delete: the accumulated positional
    tombstones are materialized into compacted data files and the new
    snapshot's live state carries ZERO delete files (unit-asserted) —
    the maintenance step that keeps read-side anti-join cost bounded as
    deletes accumulate. The rewritten table must still answer exactly
    the post-delete oracle."""
    import datetime as _dt

    root = scratch_path(sf_dir, "orders_iceberg_rewrite")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_iceberg(orders, root)
    delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        _dt.datetime(1996, 1, 1),
        _dt.datetime(1996, 12, 31, 23, 59, 59),
    )
    rewrite_iceberg(spark, root)
    return read_iceberg(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "iceberg_merge_mor",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 1 THEN 'F' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 4 = 1 THEN
                    CAST(CAST(o_totalprice AS DECIMAL(18,2))
                         * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey + 40000000, 'O', o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 7
    )
    SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
             AS total
    FROM orders
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
             AS total
    FROM merged
    """,
)
def iceberg_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE through Iceberg v2 merge-on-read — delta_merge's exact twin
    (same source, same oracle) with the opposite physical strategy: ONE
    atomic snapshot carrying an equality delete of the matched keys plus
    the source rows as new data files. No existing data file is read or
    rewritten (unit-asserted) — MERGE cost is O(source), the property
    that matters when the table is 100 TB and the delta is 1 GB. Reading
    both snapshots proves isolation."""
    root = scratch_path(sf_dir, "orders_iceberg_merge")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    s0 = write_iceberg(orders, root)
    k = F.col("o_orderkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    src = (
        orders.where(k % 4 == 1)
        .select(
            "o_orderkey",
            F.lit("F").alias("o_orderstatus"),
            (price_dec * F.expr("CAST(1.05 AS DECIMAL(3,2))"))
            .cast("double")
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.where(k % 1000 == 7).select(
                (k + 40000000).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    merge_iceberg(spark, root, src, on=["o_orderkey"])
    outs = []
    for v, sid in ((0, s0), (1, None)):
        agg = read_iceberg(spark, root, snapshot_id=sid).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(
            agg.select(F.lit(v).cast("long").alias("version"), "n_rows", "total")
        )
    return outs[0].unionByName(outs[1])


@query(
    "iceberg_merge_dv",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE NOT (o_totalprice >= 0.0 AND o_totalprice <= 50000.0)
    ),
    src AS (
      SELECT o_orderkey, 'F' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT o_orderkey + 40000000, 'O', o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 7
    ),
    v2 AS (
      SELECT v1.* FROM v1
      WHERE v1.o_orderkey NOT IN (SELECT o_orderkey FROM src)
      UNION ALL
      SELECT * FROM src
    )
    SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
           {sql_msum("o_totalprice")} AS total FROM orders
    UNION ALL
    SELECT CAST(1 AS BIGINT), COUNT(*), {sql_msum("o_totalprice")} FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT), COUNT(*), {sql_msum("o_totalprice")} FROM v2
    """,
)
def iceberg_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE landing matched-row tombstones as NATIVE v3 deletion
    vectors (VERDICT r8 "next" #2) — and deliberately on a table that
    ALREADY carries live DVs from a prior range delete, so the merge's
    own DVs must supersede-by-union (the exact sequence merge_iceberg's
    equality deletes could not survive: its v2 delete file would poison
    every later DV write). Three snapshots prove isolation: v0 full,
    v1 after the price-range DV delete, v2 after the DV merge (matched
    keys replaced in place, unmatched source keys appended, previously
    DV-deleted rows that match source keys legitimately re-inserted by
    the upsert). No data file is ever rewritten."""
    root = scratch_path(sf_dir, "orders_iceberg_merge_dv")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    s0 = write_iceberg(orders, root)
    s1 = delete_iceberg_dv(spark, root, "o_totalprice", 0.0, 50000.0)
    k = F.col("o_orderkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    src = (
        orders.where(k % 4 == 1)
        .select(
            "o_orderkey",
            F.lit("F").alias("o_orderstatus"),
            (price_dec * F.expr("CAST(1.05 AS DECIMAL(3,2))"))
            .cast("double")
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.where(k % 1000 == 7).select(
                (k + 40000000).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    s2 = merge_iceberg_dv(spark, root, src, on=["o_orderkey"])
    outs = []
    for v, sid in ((0, s0), (1, s1), (2, s2)):
        agg = read_iceberg(spark, root, snapshot_id=sid).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(
            agg.select(F.lit(v).cast("long").alias("version"), "n_rows", "total")
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "iceberg_eq_delete_dv",
    oracle=f"""
    SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
           {sql_msum("c_acctbal")} AS total FROM customer
    UNION ALL
    SELECT CAST(1 AS BIGINT), COUNT(*), {sql_msum("c_acctbal")}
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    UNION ALL
    SELECT CAST(2 AS BIGINT), COUNT(*), {sql_msum("c_acctbal")}
    FROM customer WHERE c_mktsegment NOT IN ('BUILDING', 'AUTOMOBILE')
    """,
)
def iceberg_eq_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-addressed delete landing as NATIVE v3 deletion vectors,
    twice with an overlapping key set, so the second commit must
    supersede-by-union the first commit's blobs (every customer file
    holds both segments, so every live DV is re-targeted). The read
    side subtracts roaring bitmaps positionally — no per-read key
    anti-join, the steady-state plan delete_iceberg_eq's equality file
    never reaches. All three snapshots stay readable."""
    root = scratch_path(sf_dir, "customer_iceberg_eqdel_dv")
    shutil.rmtree(root, ignore_errors=True)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    s0 = write_iceberg(cust, root)
    s1 = delete_iceberg_eq_dv(
        spark,
        root,
        spark.createDataFrame([("BUILDING",)], "c_mktsegment string"),
        ["c_mktsegment"],
    )
    s2 = delete_iceberg_eq_dv(
        spark,
        root,
        spark.createDataFrame(
            [("BUILDING",), ("AUTOMOBILE",)], "c_mktsegment string"
        ),
        ["c_mktsegment"],
    )
    outs = []
    for v, sid in ((0, s0), (1, s1), (2, s2)):
        agg = read_iceberg(spark, root, snapshot_id=sid).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("c_acctbal").alias("total"),
        )
        outs.append(
            agg.select(F.lit(v).cast("long").alias("version"), "n_rows", "total")
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "iceberg_meta_tables",
    oracle="""
    SELECT 'snapshots' AS k, CAST(2 AS BIGINT) AS v
    UNION ALL
    SELECT 'history', CAST(2 AS BIGINT)
    UNION ALL
    SELECT 'data_file_records', (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'delete_file_records',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59')
    """,
)
def iceberg_meta_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata-table inspection surface, cross-checked against the
    DATA it describes: after one load + one MOR delete, `.snapshots` and
    `.history` must show exactly 2 entries, and `.files` record counts
    must reconcile — live data-file records sum to the full table (MOR
    never rewrites data) while delete-file records sum to exactly the
    tombstoned 1996 rows. All four frames come from metadata alone."""
    import datetime as _dt

    root = scratch_path(sf_dir, "orders_iceberg_meta")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_iceberg(orders, root)
    delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        _dt.datetime(1996, 1, 1),
        _dt.datetime(1996, 12, 31, 23, 59, 59),
    )
    snaps = iceberg_meta_table(spark, root, "snapshots")
    hist = iceberg_meta_table(spark, root, "history")
    files = iceberg_meta_table(spark, root, "files")
    return (
        snaps.agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("snapshots").alias("k"), "v")
        .unionByName(
            hist.agg(F.count(F.lit(1)).alias("v")).select(
                F.lit("history").alias("k"), "v"
            )
        )
        .unionByName(
            files.where(F.col("content") == 0)
            .agg(F.sum("record_count").alias("v"))
            .select(F.lit("data_file_records").alias("k"), "v")
        )
        .unionByName(
            files.where(F.col("content") != 0)
            .agg(F.sum("record_count").alias("v"))
            .select(F.lit("delete_file_records").alias("k"), "v")
        )
    )


def _stream_latest(root: str) -> int | None:
    """Last sequence number — iceberg_stream's latest offset."""
    cur = _current_metadata(root)
    return cur[1]["last-sequence-number"] if cur else None


def _stream_added(root: str, lo: int | None, hi: int) -> list[tuple[str, dict]]:
    """iceberg_stream's file list: the data files appended by snapshots
    with sequence number in (lo, hi] (_added_data_files_in_seq_range,
    whose guard fails the stream on a non-append snapshot)."""
    files = _added_data_files_in_seq_range(
        _current_metadata(root)[1], lo or 0, hi, label="iceberg_stream"
    )
    return [(f["file_path"], {}) for f in files]


@query(
    "iceberg_stream",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def iceberg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over an ICEBERG table through the shared
    table file source (files.table_file_stream): offset = sequence
    number; each micro-batch's partitions are the data files ADDED by
    the new snapshots (status=1, matching snapshot id), read
    executor-side with pyarrow as Arrow batches. A non-append snapshot
    (overwrite / delete) fails the stream — the same contract as
    delta_stream. Three append snapshots drain in one availableNow run
    into a memory sink whose aggregate must equal the batch oracle."""
    root = scratch_path(sf_dir, "orders_iceberg_stream")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    cuts = ("1996-01-01", "1997-01-01", "1999-01-01")
    write_iceberg(
        orders.where(F.col("o_orderdate") < cuts[0]).drop("o_orderdate"),
        root,
        mode="append",
    )
    write_iceberg(
        orders.where(
            (F.col("o_orderdate") >= cuts[0]) & (F.col("o_orderdate") < cuts[1])
        ).drop("o_orderdate"),
        root,
        mode="append",
    )
    write_iceberg(
        orders.where(
            (F.col("o_orderdate") >= cuts[1]) & (F.col("o_orderdate") < cuts[2])
        ).drop("o_orderdate"),
        root,
        mode="append",
    )

    stream = table_file_stream(
        spark,
        "iceberg_snapshot_stream",
        root,
        "o_orderkey bigint, o_totalprice double",
        _stream_latest,
        _stream_added,
    )
    return drain(
        spark,
        sf_dir,
        "iceberg_stream",
        stream.agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        ),
    )


@query(
    "iceberg_refs",
    oracle=f"""
    SELECT 'audit_tag' AS ref, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    UNION ALL
    SELECT 'main' AS ref, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def iceberg_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs: a TAG pins the pre-1997 cut (a reproducible
    training-data snapshot) while main moves on with later appends;
    reading the tag must reproduce the pinned state exactly, and
    snapshot expiry refuses to reclaim a tagged snapshot
    (unit-asserted)."""
    root = scratch_path(sf_dir, "orders_iceberg_refs")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    write_iceberg(
        orders.where(F.col("o_orderdate") < "1997-01-01"), root, mode="append"
    )
    iceberg_create_ref(root, "audit_tag", "tag")
    write_iceberg(
        orders.where(F.col("o_orderdate") >= "1997-01-01"), root, mode="append"
    )
    outs = []
    for label, kw in (("audit_tag", {"ref": "audit_tag"}), ("main", {})):
        agg = read_iceberg(spark, root, **kw).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(label).alias("ref"), "n_rows", "total"))
    return outs[0].unionByName(outs[1])


@query(
    "iceberg_incremental_scan",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def iceberg_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch incremental append scan: three append snapshots, then read
    ONLY the rows added after the first one — planning opens just the
    manifests added by snapshots 2 and 3, never the full table's file
    list. The pull-based complement of `iceberg_stream` for catch-up /
    backfill consumers of a shared Iceberg table."""
    root = scratch_path(sf_dir, "orders_iceberg_incr")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    cuts = ("1996-01-01", "1997-01-01", "1999-01-01")
    s1 = write_iceberg(
        orders.where(F.col("o_orderdate") < cuts[0]).drop("o_orderdate"),
        root,
        mode="append",
    )
    write_iceberg(
        orders.where(
            (F.col("o_orderdate") >= cuts[0]) & (F.col("o_orderdate") < cuts[1])
        ).drop("o_orderdate"),
        root,
        mode="append",
    )
    s3 = write_iceberg(
        orders.where(
            (F.col("o_orderdate") >= cuts[1]) & (F.col("o_orderdate") < cuts[2])
        ).drop("o_orderdate"),
        root,
        mode="append",
    )
    return read_iceberg_incremental(
        spark, root, from_snapshot_id=s1, to_snapshot_id=s3
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )
