"""Operational CLI over lakehouse tables — the DESCRIBE / HISTORY /
FILES triple for any table this engine can read, format auto-detected:

    python -m atlas_migration_repo_spark.lakehouse describe <path>
    python -m atlas_migration_repo_spark.lakehouse history  <path>
    python -m atlas_migration_repo_spark.lakehouse files    <path>
    python -m atlas_migration_repo_spark.lakehouse uniform  <path>
    python -m atlas_migration_repo_spark.lakehouse fsck     <path>
    python -m atlas_migration_repo_spark.lakehouse timeline <path>  (hudi)

Formats: Delta (`_delta_log/`, which is also how the engine's own
TableLog is stored), Iceberg v2 (`metadata/version-hint.text`) and Hudi
COW (`.hoodie/hoodie.properties`); a TableLog root of the older `_log/`
format is imported as Delta first (that one-time import types its
partition columns with a Spark read). Otherwise pure metadata reads — no
Spark session, no data scan; output is one JSON document on stdout (stderr
stays clean for piping). This is the operator-facing half of the interop
modules: a user migrating from the reference's Databricks/S3 stack keeps
their `DESCRIBE HISTORY` muscle memory.
"""

from __future__ import annotations

import json
import os
import sys


def detect_format(path: str) -> str:
    if os.path.isdir(os.path.join(path, "_log")):
        # a TableLog root from before TableLog was stored as Delta:
        # opening it imports its `_log/` as a Delta log
        from atlas_migration_repo_spark.sources.table_log import TableLog

        TableLog(path)
    if os.path.isdir(os.path.join(path, "_delta_log")):
        return "delta"
    if os.path.exists(os.path.join(path, "metadata", "version-hint.text")):
        return "iceberg"
    if os.path.exists(os.path.join(path, ".hoodie", "hoodie.properties")):
        return "hudi"
    raise FileNotFoundError(
        f"no _delta_log/, metadata/version-hint.text or .hoodie/ under {path}"
    )


# -- delta -------------------------------------------------------------------
def _delta_describe(path: str) -> dict:
    from atlas_migration_repo_spark.sources.delta_interop import (
        _replay,
        delta_live_files,
    )

    v, meta, _ = _replay(path)
    files = delta_live_files(path)
    return {
        "format": "delta",
        "version": v,
        "schema": json.loads(meta["schemaString"]),
        "partition_columns": meta.get("partitionColumns") or [],
        "configuration": meta.get("configuration") or {},
        "num_files": len(files),
        "size_bytes": sum(f.get("size", 0) for f in files),
        "num_records": sum(
            json.loads(f.get("stats") or "{}").get("numRecords", 0) for f in files
        )
        # numRecords is PHYSICAL per the protocol; deletion vectors
        # subtract logically
        - sum(
            (f.get("deletionVector") or {}).get("cardinality", 0)
            for f in files
        ),
    }


def _delta_history(path: str) -> list[dict]:
    from atlas_migration_repo_spark.sources.delta_interop import (
        _commit_actions,
        _committed_versions,
        _log_dir,
    )

    out = []
    log_dir = _log_dir(path)
    for v in _committed_versions(log_dir):
        acts = _commit_actions(log_dir, v)
        info = next((a["commitInfo"] for a in acts if "commitInfo" in a), {})
        out.append(
            {
                "version": v,
                "operation": info.get("operation"),
                "timestamp": info.get("timestamp"),
                "num_added_files": sum("add" in a for a in acts),
                "num_removed_files": sum("remove" in a for a in acts),
            }
        )
    return out


def _delta_files(path: str) -> list[dict]:
    from atlas_migration_repo_spark.sources.delta_interop import delta_live_files

    return [
        {
            "path": f["path"],
            "size": f.get("size"),
            "partition_values": f.get("partitionValues") or {},
            "stats": json.loads(f.get("stats") or "{}"),
            **(
                {"deleted_rows": f["deletionVector"].get("cardinality")}
                if f.get("deletionVector")
                else {}
            ),
        }
        for f in delta_live_files(path)
    ]


# -- iceberg -----------------------------------------------------------------
def _iceberg_describe(path: str) -> dict:
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _current_metadata,
        iceberg_live_files,
    )

    _, meta = _current_metadata(path)
    _, files = iceberg_live_files(path)
    return {
        "format": "iceberg",
        "format_version": meta["format-version"],
        "table_uuid": meta["table-uuid"],
        "current_snapshot_id": meta["current-snapshot-id"],
        "schema": meta["schemas"][meta["current-schema-id"]],
        "partition_columns": [
            pf["name"] for pf in meta["partition-specs"][0]["fields"]
        ],
        "num_files": len(files),
        "size_bytes": sum(f.get("file_size_in_bytes", 0) for f in files),
        "num_records": sum(f.get("record_count", 0) for f in files),
    }


def _iceberg_history(path: str) -> list[dict]:
    from atlas_migration_repo_spark.sources.iceberg_interop import _current_metadata

    _, meta = _current_metadata(path)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "sequence_number": s["sequence-number"],
            "timestamp_ms": s["timestamp-ms"],
            "operation": (s.get("summary") or {}).get("operation"),
            "schema_id": s.get("schema-id"),
        }
        for s in sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    ]


def _iceberg_files(path: str) -> list[dict]:
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        iceberg_live_state,
    )

    _, datas, dels = iceberg_live_state(path)
    return [
        {
            "path": f["file_path"],
            "size": f.get("file_size_in_bytes"),
            "records": f.get("record_count"),
            "partition_values": f.get("partition") or {},
            "content": f.get("content", 0),
        }
        for f in (
            [d["data_file"] for d in datas] + [d["data_file"] for d in dels]
        )
    ]


# -- hudi --------------------------------------------------------------------
def _hudi_describe(path: str) -> dict:
    from atlas_migration_repo_spark.sources.hudi_interop import (
        _read_props,
        _replay_hudi,
        completed_instants,
        pending_compactions_hudi,
    )

    props = _read_props(path)
    latest, schema_json, slices = _replay_hudi(path)
    return {
        "format": "hudi",
        "table_name": props.get("hoodie.table.name"),
        "table_type": props.get("hoodie.table.type"),
        "latest_instant": latest,
        "num_commits": len(completed_instants(path)),
        "record_key": props.get("hoodie.table.recordkey.fields"),
        "partition_fields": props.get("hoodie.table.partition.fields") or None,
        "index_type": props.get("hoodie.index.type"),
        "num_file_groups": len(slices),
        "num_log_files": sum(len(s.get("logs", [])) for s in slices),
        "pending_compactions": [
            i for i, _plan in pending_compactions_hudi(path)
        ],
        "size_bytes": sum(
            s["stat"].get("fileSizeInBytes", 0) for s in slices
        ),
        "num_records": sum(s["stat"].get("numWrites", 0) for s in slices),
    }


def _hudi_history(path: str) -> list[dict]:
    from atlas_migration_repo_spark.sources.hudi_interop import (
        _read_commit_meta,
        completed_instants,
    )

    out = []
    for instant, action in completed_instants(path):
        meta = _read_commit_meta(path, instant, action)
        stats = [
            st
            for sts in (meta.get("partitionToWriteStats") or {}).values()
            for st in sts
        ]
        out.append(
            {
                "instant": instant,
                "action": action,
                "operation": meta.get("operationType"),
                "num_written_files": len(stats),
                "num_writes": sum(st.get("numWrites", 0) for st in stats),
                "num_updates": sum(
                    st.get("numUpdateWrites", 0) for st in stats
                ),
                "num_deletes": sum(st.get("numDeletes", 0) for st in stats),
                "num_replaced_file_groups": sum(
                    len(v)
                    for v in (
                        meta.get("partitionToReplaceFileIds") or {}
                    ).values()
                ),
            }
        )
    return out


def _hudi_files(path: str) -> list[dict]:
    from atlas_migration_repo_spark.sources.hudi_interop import _replay_hudi

    _, _, slices = _replay_hudi(path)
    return [
        {
            "path": s["stat"]["path"],
            "file_id": s["fileId"],
            "partition": s["partition"] or None,
            "instant": s["instant"],
            "size_bytes": s["stat"].get("fileSizeInBytes", 0),
            "num_records": s["stat"].get("numWrites", 0),
            "log_files": [lg["stat"]["path"] for lg in s.get("logs", [])],
        }
        for s in slices
    ]


_DISPATCH = {
    ("delta", "describe"): _delta_describe,
    ("delta", "history"): _delta_history,
    ("delta", "files"): _delta_files,
    ("iceberg", "describe"): _iceberg_describe,
    ("iceberg", "history"): _iceberg_history,
    ("iceberg", "files"): _iceberg_files,
    ("hudi", "describe"): _hudi_describe,
    ("hudi", "history"): _hudi_history,
    ("hudi", "files"): _hudi_files,
}


def uniform_status(path: str) -> dict:
    """Dual-format (UniForm) status: which protocol trees exist over the
    table, their current versions, and whether the secondary tree is in
    sync with the primary (via the delta-version marker the forward
    sync records in each Iceberg snapshot summary). Pure metadata."""
    has_delta = os.path.isdir(os.path.join(path, "_delta_log"))
    has_ice = os.path.exists(
        os.path.join(path, "metadata", "version-hint.text")
    )
    has_hudi = os.path.exists(
        os.path.join(path, ".hoodie", "hoodie.properties")
    )
    out: dict = {"delta": None, "iceberg": None, "hudi": None, "in_sync": None}
    delta_v = None
    if has_delta:
        from atlas_migration_repo_spark.sources.delta_interop import _replay

        delta_v, meta, files = _replay(path)
        out["delta"] = {"version": delta_v, "num_files": len(files)}
    if has_hudi:
        from atlas_migration_repo_spark.sources.hudi_interop import (
            _latest_write_instant,
            _replay_hudi,
        )

        latest, _sj, slices = _replay_hudi(path)
        out["hudi"] = {
            "latest_instant": latest,
            "num_file_groups": len(slices),
        }
        if has_delta:
            marker = _delta_sync_marker(path, "hudiInstant")
            if marker is not None:
                # compare against the latest DATA-WRITE instant: service
                # actions (clean/savepoint) advance the timeline without
                # changing visible files, and the sync correctly no-ops
                out["in_sync"] = marker == (
                    _latest_write_instant(path) or latest
                )
    if has_ice:
        from atlas_migration_repo_spark.sources.iceberg_interop import (
            _current_metadata,
        )

        v, imeta = _current_metadata(path)
        snap = next(
            s
            for s in imeta["snapshots"]
            if s["snapshot-id"] == imeta["current-snapshot-id"]
        )
        synced = snap.get("summary", {}).get("delta-version")
        out["iceberg"] = {
            "metadata_version": v,
            "current_snapshot_id": snap["snapshot-id"],
            "num_snapshots": len(imeta["snapshots"]),
            "synced_delta_version": int(synced) if synced is not None else None,
        }
        if has_delta and synced is not None:
            out["in_sync"] = int(synced) >= delta_v
        elif has_delta:
            # reverse-UniForm table (Iceberg-owned): the Delta commits
            # record the iceberg snapshot they were synced FROM
            marker = _delta_sync_marker(path, "icebergSnapshot")
            if marker is not None:
                out["in_sync"] = int(marker) == snap["snapshot-id"]
    return out


def _delta_sync_marker(path: str, key: str):
    """Newest `key` in the operationParameters of the Delta log's
    commitInfo actions: `hudiInstant` (written by
    publish/sync_delta_log_from_hudi) or `icebergSnapshot` (by
    publish/sync_delta_log_from_iceberg)."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        _commit_actions,
        _committed_versions,
        _log_dir,
    )

    log_dir = _log_dir(path)
    marker = None
    for v in _committed_versions(log_dir):
        for a in _commit_actions(log_dir, v):
            params = (a.get("commitInfo") or {}).get("operationParameters") or {}
            marker = params.get(key, marker)
    return marker


def fsck(path: str) -> dict:
    """Integrity check (fsck) for any table this engine reads: every
    file the LOG references must exist on disk with the recorded size,
    deletion vectors must decode with their recorded cardinality, and
    Iceberg manifest lists/manifests must resolve. Pure metadata + file
    stats (DV payloads are tombstone-sized); never scans data. Returns
    {"format", "ok", "checked_files", "errors": [...]} — an operator
    runs this after a restore, a copy, or a suspicious vacuum."""
    fmt = detect_format(path)
    errors: list[str] = []
    checked = 0
    if fmt == "delta":
        from atlas_migration_repo_spark.sources.delta_interop import (
            _dv_read_positions,
            _dv_relpath,
            _replay,
        )

        _, meta, adds = _replay(path)
        import urllib.parse as up

        for a in adds:
            rel = up.unquote(a["path"])
            full = os.path.join(path, rel)
            checked += 1
            if not os.path.exists(full):
                errors.append(f"missing data file: {rel}")
            elif a.get("size") and os.path.getsize(full) != a["size"]:
                errors.append(
                    f"size mismatch: {rel} log={a['size']} "
                    f"disk={os.path.getsize(full)}"
                )
            dv = a.get("deletionVector")
            if dv:
                checked += 1
                try:
                    pos = _dv_read_positions(path, dv)
                    if len(pos) != dv.get("cardinality"):
                        errors.append(
                            f"DV cardinality mismatch for {rel}: "
                            f"descriptor={dv.get('cardinality')} "
                            f"decoded={len(pos)}"
                        )
                except Exception as e:  # corrupt/missing DV payload
                    errors.append(f"DV unreadable for {rel}: {e}")
    elif fmt == "iceberg":
        from atlas_migration_repo_spark.sources.avro import parse_container
        from atlas_migration_repo_spark.sources.iceberg_interop import (
            _current_metadata,
        )

        v, meta = _current_metadata(path)
        snap = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        mlist = snap["manifest-list"]
        if not os.path.exists(mlist):
            errors.append(f"missing manifest list: {mlist}")
        else:
            _, manifests = parse_container(open(mlist, "rb").read())
            for m in manifests:
                checked += 1
                if not os.path.exists(m[0]):
                    errors.append(f"missing manifest: {m[0]}")
                    continue
                _, entries = parse_container(open(m[0], "rb").read())
                for e in entries:
                    if e[0] == 2:  # DELETED entry
                        continue
                    f = e[4]
                    checked += 1
                    if not os.path.exists(f["file_path"]):
                        errors.append(f"missing data file: {f['file_path']}")
                        continue
                    if (
                        f.get("file_size_in_bytes")
                        and os.path.getsize(f["file_path"])
                        != f["file_size_in_bytes"]
                    ):
                        errors.append(
                            f"size mismatch: {f['file_path']}"
                        )
                    if f.get("file_format") == "PUFFIN":
                        # v3 deletion vector: the blob must decode and
                        # match its recorded cardinality (tombstone-
                        # sized — no data scan)
                        from atlas_migration_repo_spark.sources.iceberg_interop import (  # noqa: E501
                            _read_puffin_dv,
                        )

                        checked += 1
                        try:
                            pos = _read_puffin_dv(
                                f["file_path"],
                                int(f["content_offset"]),
                                int(f["content_size_in_bytes"]),
                            )
                            if len(pos) != f.get("record_count"):
                                errors.append(
                                    "DV cardinality mismatch: "
                                    f"{f['file_path']}@{f['content_offset']}"
                                    f" manifest={f.get('record_count')} "
                                    f"decoded={len(pos)}"
                                )
                        except Exception as ex:  # corrupt blob
                            errors.append(
                                f"DV unreadable: {f['file_path']}@"
                                f"{f.get('content_offset')}: {ex}"
                            )
    elif fmt == "hudi":
        from atlas_migration_repo_spark.sources.hudi_interop import (
            _replay_hudi,
        )

        from atlas_migration_repo_spark.sources.hudi_interop import (
            _BLOCK_DELETE,
            _HDR_INSTANT_TIME,
            _parse_log_file,
        )

        _, _, slices = _replay_hudi(path)
        for s in slices:
            for lg_instant, st in [(None, s["stat"])] + [
                (lg["instant"], lg["stat"]) for lg in s.get("logs", [])
            ]:
                full = os.path.join(path, st["path"])
                checked += 1
                kind = "log" if "logVersion" in st else "base"
                if not os.path.exists(full):
                    errors.append(f"missing {kind} file: {st['path']}")
                    continue
                if (
                    st.get("fileSizeInBytes")
                    and os.path.getsize(full) != st["fileSizeInBytes"]
                ):
                    errors.append(
                        f"size mismatch: {st['path']} "
                        f"stat={st['fileSizeInBytes']} "
                        f"disk={os.path.getsize(full)}"
                    )
                if kind == "log":
                    # block-level integrity: the framing must parse, the
                    # commit instant in every block header must match the
                    # writeStat's commit, and tombstone/record counts must
                    # equal the recorded numDeletes/numWrites
                    try:
                        blocks = _parse_log_file(full)
                    except Exception as e:
                        errors.append(f"log unreadable: {st['path']} ({e})")
                        continue
                    if not blocks:
                        errors.append(f"log holds no complete block: {st['path']}")
                        continue
                    for btype, hdr, content in blocks:
                        if hdr.get(_HDR_INSTANT_TIME) != lg_instant:
                            errors.append(
                                f"log block instant mismatch: {st['path']} "
                                f"header={hdr.get(_HDR_INSTANT_TIME)} "
                                f"stat={lg_instant}"
                            )
                        want = (
                            st.get("numDeletes", 0)
                            if btype == _BLOCK_DELETE
                            else st.get("numWrites", 0)
                        )
                        if btype == _BLOCK_DELETE:
                            from atlas_migration_repo_spark.sources.avro import (
                                parse_container,
                            )

                            _, recs = parse_container(content)
                            got = len(recs)
                        else:
                            import io as _io

                            import pyarrow.parquet as pq

                            got = pq.ParquetFile(
                                _io.BytesIO(content)
                            ).metadata.num_rows
                        if got != want:
                            errors.append(
                                f"log block count mismatch: {st['path']} "
                                f"block={got} stat={want}"
                            )
    return {
        "format": fmt,
        "ok": not errors,
        "checked_files": checked,
        "errors": errors,
    }


def timeline(path: str) -> dict:
    """Hudi-only: the ACTIVE timeline plus the archived cold history
    (read back from `.hoodie/archived` blocks) and any checkpoints —
    the audit view `history` does not show once instants archive."""
    from atlas_migration_repo_spark.sources.hudi_interop import (
        completed_instants,
        read_archived_timeline_hudi,
    )

    hoodie = os.path.join(path, ".hoodie")
    if not os.path.exists(os.path.join(hoodie, "hoodie.properties")):
        raise ValueError(f"{path} is not a Hudi table root")
    checkpoints = sorted(
        n.split(".")[2]
        for n in os.listdir(hoodie)
        if n.startswith(".checkpoint.") and n.endswith(".json")
    )
    return {
        "active": [
            {"instant": i, "action": a} for i, a in completed_instants(path)
        ],
        "archived": [
            {"instant": i, "action": a, "operation": m.get("operationType")}
            for i, a, m in read_archived_timeline_hudi(path)
        ],
        "checkpoints": checkpoints,
    }


def run(command: str, path: str) -> dict | list:
    if command not in (
        "describe", "history", "files", "uniform", "fsck", "timeline"
    ):
        raise ValueError(f"unknown command {command!r}")
    if command == "uniform":
        return uniform_status(path)
    if command == "fsck":
        return fsck(path)
    if command == "timeline":
        return timeline(path)
    return _DISPATCH[(detect_format(path), command)](path)


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print(json.dumps(run(argv[0], argv[1]), indent=1, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
