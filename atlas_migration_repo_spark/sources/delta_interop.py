"""Delta Lake format interop — read/write the OPEN `_delta_log` protocol
without any Delta jars (SURVEY.md §2.1 lakehouse boundary; VERDICT r4
"What's missing" #5).

The reference's declared migration target is Databricks on S3
(/root/reference/README.md:6-7), where the landing tables are Delta. This
module speaks the published Delta transaction-log protocol
(delta.io PROTOCOL.md — JSON commit files of add/remove/metaData/protocol
actions plus V1 parquet checkpoints) in pure Python + PySpark, so a table
written here is readable by any real Delta reader and vice versa for the
protocol subset we implement (reader version 1 / writer version 2:
appends, overwrites, partitioned tables, stats, checkpoints, time travel;
deletion-vector tables use reader 3 / writer 7 with the deletionVectors
feature, payloads in the spec's portable RoaringBitmapArray format).

Scale story (100 TB): the log holds FILE METADATA, not data — O(number of
data files), bounded in practice by compaction. Replay is
O(actions since last checkpoint). The data read itself is one Spark scan
over the live file list; partition columns are injected via a broadcast
join on `_metadata.file_path` (one row per file — never a per-partition
plan union, never a driver loop over data). Partition pruning happens in
the LOG (the add-action partitionValues), before Spark ever lists a file
— the same mechanics Delta uses. A MERGE reads only the files holding
a matched key and derives their rewrite and, on change-data-feed
tables, the change images from ONE full outer join with the source,
landed by ONE Spark write; change files of partitioned tables keep the
table's hive layout under `_change_data/<col>=<v>/`, their partition
values in the `cdc` actions (older flat change files still read).

This is also the engine's own transaction log: `table_log.TableLog` is a
thin facade over these functions, and a TableLog is a Delta table whose
data files sit under `data/`. A TableLog root written before that (an
`_log` directory of JSON commits) is imported once, zero-copy and with
its history, by `import_tablelog_log` when it is opened.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atlas_migration_repo_spark.catalog import load, msum
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query
from atlas_migration_repo_spark.sources.files import (
    Footer,
    LogStore,
    StagedFile,
    attach_partition_values,
    envelope_meets,
    file_footer,
    file_path_col,
    hive_dir_value,
    log_stats,
    resolve_log_store,
    scratch_path,
    stage_write,
    table_file_stream,
)
from atlas_migration_repo_spark.streaming.harness import drain

_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


def _column_mapping(meta: dict | None) -> dict[str, str]:
    """logical → physical column names for columnMapping mode=name
    tables ({} when unmapped). On mapped tables the protocol requires
    data files, partition dirs/values, and stats to use the PHYSICAL
    names; readers surface the logical names from the schemaString
    field metadata."""
    if not meta or (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    ) != "name":
        return {}
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    return {
        f.name: (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )
        for f in schema.fields
    }


class ConcurrentDeltaWriteError(RuntimeError):
    """A racing commit invalidated this write's remove-set (Delta's
    ConcurrentDeleteDeleteException family); re-read and redo."""


# ---------------------------------------------------------------------------
# log primitives
# ---------------------------------------------------------------------------
def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def _committed_versions(log_dir: str) -> list[int]:
    out = []
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if len(name) == 25 and name.endswith(".json") and name[:20].isdigit():
            out.append(int(name[:20]))
    return sorted(out)


def _commit_actions(log_dir: str, version: int) -> list[dict]:
    """The actions of one JSON commit, in file order."""
    with open(os.path.join(log_dir, f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _data_changes(acts: list[dict]) -> tuple[list[dict], list[dict], list[dict]]:
    """(cdc, data-changing adds, data-changing removes) of one commit —
    the per-version walk under read_delta_cdf and both stream sources.
    dataChange=false actions (OPTIMIZE) rearrange bytes without changing
    data and are left out."""
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    adds = [a["add"] for a in acts if "add" in a and a["add"].get("dataChange")]
    removes = [
        a["remove"] for a in acts if "remove" in a and a["remove"].get("dataChange")
    ]
    return cdc, adds, removes


def _next_version(log_dir: str) -> int:
    """Next commit version: one past the newest JSON commit OR parquet
    checkpoint — a trimmed log's newest version may survive only as its
    checkpoint, and committing below it would collide with history."""
    vs = _committed_versions(log_dir)
    cps = [
        int(n[:20])
        for n in (os.listdir(log_dir) if os.path.isdir(log_dir) else [])
        if n.endswith(".checkpoint.parquet") and n[:20].isdigit()
    ]
    newest = max([*vs, *cps], default=-1)
    return newest + 1


def _publish_commit(
    log_dir: str,
    actions: list[dict],
    version: int,
    expected_adds: dict[str, dict] | None = None,
    store: LogStore | None = None,
) -> int:
    """Publish `actions` as the next commit via put-if-absent — Delta's
    optimistic concurrency. Losing the version race retries at the next
    number, with the protocol's conflict checks re-run first:
    - REMOVE-carrying commits re-resolve the snapshot and raise
      ConcurrentDeltaWriteError if any removed file is no longer live
      (a concurrent overwrite superseded it);
    - metaData-carrying commits raise (the schema/config they computed
      predates the race winner — blind retry would clobber a concurrent
      evolution's columns, Delta's metadata-changed rule), unless the
      table now has the same metaData (two writers creating one table):
      the commit then retries without its metaData and protocol;
    - txn-carrying commits re-check the transaction mark and return the
      winner's version as a NO-OP if the same (appId, version) already
      landed — two restarted workers replaying one micro-batch commit
      it once (staged files of the loser become vacuum-able orphans).
    Blind data appends, the provably-safe case, always retry."""
    os.makedirs(log_dir, exist_ok=True)
    store = store if store is not None else resolve_log_store()
    # finish any crashed writer's half-published commit before reading
    # versions, or a claimed-but-missing version would be re-claimed
    store.recover(log_dir)
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    has_meta = any("metaData" in a for a in actions)
    txns = [a["txn"] for a in actions if "txn" in a]
    table_root = os.path.dirname(log_dir)
    tmp = _stage_commit(log_dir, actions)
    try:
        lost_race = False
        while True:
            if lost_race and has_meta:
                current, _ = _reduce_actions(_raw_actions(table_root)[1])
                ours = next(a["metaData"] for a in actions if "metaData" in a)
                if not _same_table(current, ours):
                    raise ConcurrentDeltaWriteError(
                        "a concurrent commit won the version race and this "
                        "commit carries a metaData action computed before "
                        "it; re-read the table and redo the schema change"
                    )
                actions = [
                    a for a in actions if "metaData" not in a and "protocol" not in a
                ]
                has_meta = False
                os.unlink(tmp)
                tmp = _stage_commit(log_dir, actions)
            if lost_race and removed:
                live = {a["path"] for a in delta_live_files(table_root)}
                gone = sorted(removed - live)
                if gone:
                    raise ConcurrentDeltaWriteError(
                        f"concurrent commit already removed {gone[:3]}"
                        f"{'...' if len(gone) > 3 else ''}; re-read the "
                        "table and redo the operation"
                    )
            if lost_race and expected_adds:
                # rewrite-in-place commits (deletion-vector deletes)
                # remove AND re-add the same path, so the removed-still-
                # live check above can't see a racing rewrite of the same
                # file: compare the live add against the snapshot this
                # commit was computed from — a changed DV means the
                # winner's deletes would be clobbered by a blind retry
                live_by = {
                    a["path"]: a for a in delta_live_files(table_root)
                }
                for p, snap in expected_adds.items():
                    cur = live_by.get(p)
                    if cur is not None and cur.get("deletionVector") != snap.get(
                        "deletionVector"
                    ):
                        raise ConcurrentDeltaWriteError(
                            f"concurrent commit changed the deletion "
                            f"vector of {p}; re-read the table and redo "
                            "the delete"
                        )
            if txns:
                # checked on EVERY attempt, not just after a lost race:
                # a racing replayer can land at version N and leave this
                # writer a clean publish at N+1 — the mark walk at the
                # top of the attempt is what closes that window (the
                # version was computed after the walk, so any commit
                # below it is visible here)
                for t in txns:
                    last = delta_txn_version(table_root, t["appId"])
                    if last is not None and int(t["version"]) <= last:
                        return _raw_actions(table_root)[0]
            if _publish_exact(store, tmp, version):
                return version
            lost_race = True
            version = _committed_versions(log_dir)[-1] + 1
    finally:
        os.unlink(tmp)


def _publish_exact(store: LogStore, tmp: str, version: int) -> bool:
    """Publish staged commit `tmp` as `version`: True if it landed, False
    once a concurrent writer's commit is there. A lost coordinated-store
    claim backs off until the winner's commit object appears."""
    target = os.path.join(os.path.dirname(tmp), f"{version:020d}.json")
    while not store.publish(tmp, target):
        if os.path.exists(target):
            return False
        time.sleep(0.005)
    return True


def _stage_commit(log_dir: str, actions: list[dict]) -> str:
    """Write `actions` to a fresh `.tmp.<uuid>` file in `log_dir` (what
    the store publishes) and return its path."""
    tmp = os.path.join(log_dir, f".tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, sort_keys=True) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    return tmp


def _same_table(a: dict, b: dict) -> bool:
    """Whether two metaData actions describe the same table, table id
    and creation time aside."""
    return {k: v for k, v in a.items() if k not in ("id", "createdTime")} == {
        k: v for k, v in b.items() if k not in ("id", "createdTime")
    }


def _checkpoint_actions(cp_path: str) -> list[dict]:
    """Decode a parquet checkpoint into action dicts (pyarrow — no
    Spark job for metadata; a checkpoint is file-list-sized). Handles
    BOTH flavors: V1 (flat actions) and V2 (spec's v2Checkpoint — a
    top-level file whose `sidecar` actions reference parquet sidecars
    under `_delta_log/_sidecars/` holding the add actions; the
    `checkpointMetadata` row is validated and dropped)."""
    import pyarrow.parquet as pq

    def _demap(v):
        # pyarrow renders map<str,str> as a list of (k, v) tuples
        if isinstance(v, list):
            return {k: x for k, x in v}
        return v or {}

    def _rows_to_actions(rows: list[dict]) -> list[dict]:
        acts: list[dict] = []
        for row in rows:
            for kind in ("metaData", "protocol", "add", "remove", "txn"):
                payload = row.get(kind)
                if payload is None:
                    continue
                payload = {k: v for k, v in payload.items() if v is not None}
                for mk in ("partitionValues", "configuration"):
                    if mk in payload:
                        payload[mk] = _demap(payload[mk])
                acts.append({kind: payload})
        return acts

    rows = pq.read_table(cp_path).to_pylist()
    acts = _rows_to_actions(rows)
    sidecar_dir = os.path.join(os.path.dirname(cp_path), "_sidecars")
    for row in rows:
        sc = row.get("sidecar") if isinstance(row, dict) else None
        if not sc or sc.get("path") is None:
            continue
        sc_path = sc["path"]
        if not os.path.isabs(sc_path):
            sc_path = os.path.join(sidecar_dir, sc_path)
        acts.extend(_rows_to_actions(pq.read_table(sc_path).to_pylist()))
    return acts


def _raw_actions(path: str, version: int | None = None) -> tuple[int, list[dict]]:
    """(resolved version, flat action list) from the newest checkpoint ≤
    target plus the JSON commits after it — the shared walk under
    _replay, txn resolution, and checkpoint writing."""
    log_dir = _log_dir(path)
    vs = _committed_versions(log_dir)
    # checkpoint discovery covers both flavors: V1 `<v>.checkpoint.parquet`
    # and V2 `<v>.checkpoint.<uid>.parquet` (top-level + sidecars)
    cp_by_version: dict[int, str] = {}
    for n in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
        if not n[:20].isdigit():
            continue
        if n.endswith(".checkpoint.parquet") or re.match(
            r"^\d{20}\.checkpoint\.[0-9a-f]{8,}\.parquet$", n
        ):
            # a same-version V2 top-level wins over V1 (later style)
            prev = cp_by_version.get(int(n[:20]))
            if prev is None or len(n) > len(prev):
                cp_by_version[int(n[:20])] = n
    cps = sorted(cp_by_version)
    if version is None:
        if not vs and not cps:
            raise FileNotFoundError(f"no Delta commits under {log_dir}")
        version = max(vs[-1] if vs else -1, cps[-1] if cps else -1)
    acts: list[dict] = []
    start = -1
    usable = [c for c in cps if c <= version]
    if usable:
        start = usable[-1]
        acts.extend(
            _checkpoint_actions(os.path.join(log_dir, cp_by_version[start]))
        )
    for v in vs:
        if v <= start or v > version:
            continue
        acts.extend(_commit_actions(log_dir, v))
    return version, acts


def _reduce_actions(acts: list[dict]) -> tuple[dict, list[dict]]:
    """(last metaData, live add-actions) under the published Delta
    action-reconciliation rules: add/remove reconcile by data-file
    path; last metaData wins."""
    meta: dict = {}
    live: dict[str, dict] = {}
    for a in acts:
        if "metaData" in a:
            meta = a["metaData"]
        elif "add" in a:
            live[a["add"]["path"]] = a["add"]
        elif "remove" in a:
            live.pop(a["remove"]["path"], None)
    return meta, [live[p] for p in sorted(live)]


def _replay(path: str, version: int | None = None) -> tuple[int, dict, list[dict]]:
    """Resolve (version, metaData, live add-actions) by replaying the log:
    newest checkpoint ≤ target (from _last_checkpoint or a listing), then
    the JSON commits after it."""
    version, acts = _raw_actions(path, version)
    meta, adds = _reduce_actions(acts)
    if not meta:
        raise ValueError(f"no metaData action found in {_log_dir(path)}")
    return version, meta, adds


def delta_txn_version(path: str, app_id: str) -> int | None:
    """Latest `txn` version committed for `app_id` (None if never seen) —
    the protocol's transaction-identifier lookup that makes idempotent
    writes possible: a replayed micro-batch checks its (appId, version)
    and skips if the mark is already at or past it. Checkpoints preserve
    txn actions, so the answer survives log trimming."""
    try:
        _, acts = _raw_actions(path)
    except FileNotFoundError:
        return None  # table being created: its first commit carries the mark
    return _txn_mark(acts, app_id)


def _txn_mark(acts: list[dict], app_id: str) -> int | None:
    """Latest `txn` version for `app_id` among resolved log actions."""
    best: int | None = None
    for a in acts:
        t = a.get("txn")
        if t and t.get("appId") == app_id:
            v = int(t["version"])
            best = v if best is None or v > best else best
    return best


def _current_meta(path: str) -> dict | None:
    try:
        _, meta, _ = _replay(path)
        return meta
    except (FileNotFoundError, ValueError):
        return None


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------
def _add_stats(footer: Footer) -> str:
    """Delta-style per-file stats JSON STRING for the add action:
    numRecords plus the same min/max/nullCount envelope TableLog records
    (footer-only — no data scan). Stats cover table columns only: a CDF
    merge's data files also carry the feed's all-null `_change_type`
    column (a name the protocol reserves on CDF tables), which is left
    out."""
    st = log_stats(footer)
    for per_col in st.values():
        per_col.pop("_change_type", None)
    st["numRecords"] = footer.num_rows
    return json.dumps(st, sort_keys=True)


def _cdf_enabled(meta: dict | None) -> bool:
    return bool(meta) and (meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) == "true"


def _stage(
    path: str, df: DataFrame, mapping: dict[str, str], partition_by: list[str]
):
    """`stage_write` of a LOGICAL DataFrame bound for the table. Under a
    logical → physical column `mapping` (columnMapping tables) data
    files, partition dirs (hence partitionValues) and stats carry
    PHYSICAL names; names that are not table columns (`_change_type`,
    `__is_cdc`) stay literal."""
    if mapping:
        df = df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])
        partition_by = [mapping.get(c, c) for c in partition_by]
    return stage_write(df, path, partition_by)


def _files_dir(path: str) -> str:
    """Where a commit to the table at `path` puts its data files."""
    data = os.path.join(path, "data")
    return data if os.path.isdir(data) else path


def _land(
    path: str,
    leaves: list[StagedFile],
    now_ms: int,
    data_change: bool = True,
    cdc: bool = False,
) -> list[dict]:
    """Move staged files into the table under Delta-style unique names,
    keeping their hive dirs, and return one action per file — the shared
    tail of every data-writing commit. Data files land under the table
    root as `add` actions; with `cdc=True` change files land under
    `_change_data/` as the protocol's `cdc` actions (dataChange=false —
    change files are derived, not table data; zero-row files skipped).
    The `__is_cdc` dir a CDF merge splits its one write by is no table
    partition: it is left out of the dirs and partitionValues. A table
    whose root holds a `data/` directory (the TableLog layout) lands its
    data files there."""
    actions: list[dict] = []
    base = os.path.join(path, "_change_data") if cdc else _files_dir(path)
    for leaf in leaves:
        if cdc and leaf.footer.num_rows == 0:
            continue
        segs = [s for s in leaf.segments if not s.startswith("__is_cdc=")]
        dest_dir = os.path.join(base, *segs)
        os.makedirs(dest_dir, exist_ok=True)
        prefix = "cdc" if cdc else "part"
        dest = os.path.join(dest_dir, f"{prefix}-{uuid.uuid4().hex}.snappy.parquet")
        os.rename(leaf.path, dest)
        entry = {
            "path": urllib.parse.quote(os.path.relpath(dest, path)),
            "partitionValues": {
                k: v for k, v in leaf.values.items() if k != "__is_cdc"
            },
            "size": os.path.getsize(dest),
            "dataChange": data_change and not cdc,
        }
        if cdc:
            actions.append({"cdc": entry})
        else:
            entry["modificationTime"] = now_ms
            entry["stats"] = _add_stats(leaf.footer)
            actions.append({"add": entry})
    return actions


class DeltaConstraintViolation(ValueError):
    """Incoming rows violate a `delta.constraints.*` CHECK expression —
    the write refuses instead of landing bad rows (the protocol's
    writer-version-3 enforcement contract)."""


def _check_delta_constraints(df: DataFrame, meta: dict | None) -> None:
    """Enforce every `delta.constraints.*` CHECK expression on incoming
    rows (nulls pass, per SQL CHECK semantics). One early-exit probe per
    constraint — nothing runs when the table carries none."""
    for key, expr in sorted(((meta or {}).get("configuration") or {}).items()):
        if not key.startswith("delta.constraints."):
            continue
        bad = df.where(~F.coalesce(F.expr(expr), F.lit(True))).limit(1)
        if bad.count():
            raise DeltaConstraintViolation(
                "CHECK constraint violated, commit refused: "
                f"{key.removeprefix('delta.constraints.')} ({expr})"
            )


def _constraints_protocol(proto: dict) -> dict | None:
    """The protocol a table needs once it carries CHECK constraints —
    writer version 3, or the checkConstraints feature on a
    table-features protocol — or None when `proto` already allows
    them."""
    if proto.get("minWriterVersion", 2) < 3:
        return {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 3,
        }
    if proto.get("minWriterVersion") == 7 and "checkConstraints" not in (
        proto.get("writerFeatures") or []
    ):
        return {
            **proto,
            "writerFeatures": sorted(
                set(proto.get("writerFeatures") or []) | {"checkConstraints"}
            ),
        }
    return None


def add_delta_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT ... CHECK: validates the EXISTING rows
    first (adding a constraint the data already violates would make the
    table unreadable-by-contract), then commits the expression into
    metaData.configuration as `delta.constraints.<name>` with the
    protocol raised to writer version 3 (legacy checkConstraints) when
    below — after which every write path enforces it."""
    _, meta, _ = _replay(path)
    key = f"delta.constraints.{name}"
    conf = dict(meta.get("configuration") or {})
    if key in conf:
        raise ValueError(f"constraint {name!r} already exists")
    bad = (
        read_delta(spark, path)
        .where(~F.coalesce(F.expr(expr), F.lit(True)))
        .limit(1)
    )
    if bad.count():
        raise DeltaConstraintViolation(
            f"existing rows violate CHECK ({expr}); clean the data first"
        )
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "ADD CONSTRAINT",
                "operationParameters": {"name": name, "expr": expr},
            }
        }
    ]
    new_proto = _constraints_protocol(_current_protocol(path))
    if new_proto:
        actions.append({"protocol": new_proto})
    conf[key] = expr
    new_meta = dict(meta)
    new_meta["configuration"] = conf
    actions.append({"metaData": new_meta})
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def drop_delta_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only removal."""
    _, meta, _ = _replay(path)
    key = f"delta.constraints.{name}"
    conf = dict(meta.get("configuration") or {})
    if key not in conf:
        raise ValueError(f"constraint {name!r} does not exist")
    del conf[key]
    new_meta = dict(meta)
    new_meta["configuration"] = conf
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "DROP CONSTRAINT",
                "operationParameters": {"name": name},
            }
        },
        {"metaData": new_meta},
    ]
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def set_delta_txn(path: str, app_id: str, version: int) -> int:
    """Commit the transaction mark (`app_id`, `version`) alone, with no
    data — how a consumer moves its watermark over versions that changed
    no data. A no-op returning the current version when the mark is
    already at or past `version`."""
    now_ms = int(time.time() * 1000)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "SET TRANSACTION",
                "operationParameters": {"appId": app_id, "version": int(version)},
            }
        },
        {"txn": {"appId": app_id, "version": int(version), "lastUpdated": now_ms}},
    ]
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def write_delta(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    configuration: dict | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Write `df` as a commit to a Delta-format table at `path`.

    Data files are staged by one Spark parquet write (hive-layout when
    partitioned), renamed to Delta-style unique names, and recorded as
    add actions with partitionValues + stats; `mode="overwrite"` also
    emits remove (tombstone) actions for every previously-live file.
    Paths in the log are URL-encoded relative paths per the protocol.

    `txn=(app_id, version)` rides the protocol's transaction-identifier
    action for IDEMPOTENT writes: if the table already carries a txn
    mark for `app_id` at or past `version`, the call is a NO-OP (no
    stage, no commit) and returns the current table version — the
    foreachBatch exactly-once pattern, restart- and replay-safe."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    partition_by = list(partition_by or [])
    # one log resolve serves the metaData, the files an overwrite
    # removes and the txn marks
    try:
        prev_version, acts = _raw_actions(path)
    except FileNotFoundError:
        prev_version, acts = -1, []
    prev_meta, prev_adds = _reduce_actions(acts)
    prev_meta = prev_meta or None
    if txn is not None and prev_meta is not None:
        last = _txn_mark(acts, txn[0])
        if last is not None and int(txn[1]) <= last:
            # current version may live only in a checkpoint (trimmed log)
            return prev_version
    if prev_meta is not None:
        prev_schema = T.StructType.fromJson(json.loads(prev_meta["schemaString"]))
        if partition_by != (prev_meta.get("partitionColumns") or []) and (
            prev_schema.fields  # a table of no columns yet takes the first write's
        ):
            # BOTH directions must refuse: partitioning an existing
            # unpartitioned table would physically drop the partition
            # column from the appended files while the metaData still
            # says unpartitioned — every appended row would read back
            # NULL in that column
            raise ValueError(
                "partition_by must match the table's partitionColumns "
                f"{prev_meta.get('partitionColumns') or []}"
            )

    _check_delta_constraints(df, prev_meta)
    mapping = _column_mapping(prev_meta)
    new_phys: dict[str, str] = {}
    if mapping:
        # additive columns on a mapped table get a fresh stable physical
        # name now so the SAME name lands in both the staged files and
        # the metaData action below
        for f in df.schema.fields:
            if f.name not in mapping:
                new_phys[f.name] = f"col-{uuid.uuid4().hex[:12]}"
        mapping.update(new_phys)

    with _stage(path, df, mapping, partition_by) as leaves:
        now_ms = int(time.time() * 1000)
        adds = _land(path, leaves, now_ms)

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    ]
    if txn is not None:
        actions.append(
            {
                "txn": {
                    "appId": txn[0],
                    "version": int(txn[1]),
                    "lastUpdated": now_ms,
                }
            }
        )
    if prev_meta is None:
        actions.append({"protocol": dict(_PROTOCOL)})
        actions.append(
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": partition_by,
                    "configuration": dict(configuration or {}),
                    "createdTime": now_ms,
                }
            }
        )
    else:
        prev_fields = {f.name: f.dataType for f in prev_schema.fields}
        new_fields = {f.name: f.dataType for f in df.schema.fields}
        if prev_fields != new_fields:
            # additive schema evolution (Delta mergeSchema): new columns
            # may be appended; dropping or retyping an existing column
            # is refused
            for name_, dt in prev_fields.items():
                if name_ not in new_fields or new_fields[name_] != dt:
                    raise ValueError(
                        f"schema evolution on {name_!r} is not additive "
                        "(missing or retyped); only new columns may be "
                        "appended"
                    )
            added = [f for f in df.schema.fields if f.name not in prev_fields]
            new_meta = dict(prev_meta)
            if mapping:
                # mapped tables: every field carries an id + physical
                # name; the new columns take the physical names already
                # staged above and bump maxColumnId
                conf = dict(prev_meta.get("configuration") or {})
                max_id = int(
                    conf.get("delta.columnMapping.maxColumnId", len(prev_fields))
                )
                with_md = []
                for f in added:
                    max_id += 1
                    with_md.append(
                        T.StructField(
                            f.name,
                            f.dataType,
                            True,
                            {
                                "delta.columnMapping.id": max_id,
                                "delta.columnMapping.physicalName": mapping[
                                    f.name
                                ],
                            },
                        )
                    )
                added = with_md
                conf["delta.columnMapping.maxColumnId"] = str(max_id)
                new_meta["configuration"] = conf
            merged = T.StructType(prev_schema.fields + added)
            new_meta["schemaString"] = merged.json()
            new_meta["partitionColumns"] = partition_by
            actions.append({"metaData": new_meta})
    if mode == "overwrite":
        for a in prev_adds:
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    actions.extend(adds)
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def _resolve_checkpoint_state(path: str, version: int | None):
    """(version, protocol, metaData, live adds, latest txn per appId) —
    the state every checkpoint flavor must carry. The checkpoint must
    record the table's REAL protocol (a mapped or type-widened table
    runs at 2/5 or 3/7 — writing the default would silently downgrade
    it) and the latest txn mark per appId (the protocol requires
    transaction identifiers to survive checkpoints, or idempotent
    writers would re-apply after log trimming)."""
    v, acts = _raw_actions(path, version)
    meta, adds = _reduce_actions(acts)
    if not meta:
        raise ValueError(f"no metaData action found in {_log_dir(path)}")
    protocol = dict(_PROTOCOL)
    txns: dict[str, dict] = {}
    for a in acts:
        if "protocol" in a:
            protocol = a["protocol"]
        t = a.get("txn")
        if t and (
            t["appId"] not in txns
            or int(t["version"]) > int(txns[t["appId"]]["version"])
        ):
            txns[t["appId"]] = t
    return v, protocol, meta, adds, txns


def _cp_schema_fields():
    """pyarrow field structs shared by every checkpoint flavor (V1 flat
    file, V2 top-level, V2 sidecars)."""
    import pyarrow as pa

    kv = pa.map_(pa.string(), pa.string())
    return {
        "protocol": pa.field(
            "protocol",
            pa.struct(
                [
                    ("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32()),
                    ("readerFeatures", pa.list_(pa.string())),
                    ("writerFeatures", pa.list_(pa.string())),
                ]
            ),
        ),
        "txn": pa.field(
            "txn",
            pa.struct(
                [
                    ("appId", pa.string()),
                    ("version", pa.int64()),
                    ("lastUpdated", pa.int64()),
                ]
            ),
        ),
        "metaData": pa.field(
            "metaData",
            pa.struct(
                [
                    ("id", pa.string()),
                    ("format", pa.struct([("provider", pa.string())])),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    pa.field("configuration", kv),
                    ("createdTime", pa.int64()),
                ]
            ),
        ),
        "add": pa.field(
            "add",
            pa.struct(
                [
                    ("path", pa.string()),
                    pa.field("partitionValues", kv),
                    ("size", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("dataChange", pa.bool_()),
                    ("stats", pa.string()),
                    pa.field(
                        "deletionVector",
                        pa.struct(
                            [
                                ("storageType", pa.string()),
                                ("pathOrInlineDv", pa.string()),
                                ("offset", pa.int32()),
                                ("sizeInBytes", pa.int32()),
                                ("cardinality", pa.int64()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        "checkpointMetadata": pa.field(
            "checkpointMetadata",
            pa.struct([("version", pa.int64()), pa.field("tags", kv)]),
        ),
        "sidecar": pa.field(
            "sidecar",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("sizeInBytes", pa.int64()),
                    ("modificationTime", pa.int64()),
                ]
            ),
        ),
    }


def _cp_rows(
    meta: dict, adds: list[dict], txns: dict[str, dict]
) -> tuple[dict, list[dict], list[dict]]:
    """(metaData, add rows, txn rows) as every checkpoint flavor writes
    them, in the shape of `_cp_schema_fields`."""
    md = {
        "id": meta.get("id"),
        "format": {"provider": "parquet"},
        "schemaString": meta.get("schemaString"),
        "partitionColumns": meta.get("partitionColumns") or [],
        "configuration": meta.get("configuration") or {},
        "createdTime": meta.get("createdTime"),
    }
    add_rows = [
        {
            "add": {
                "path": a["path"],
                "partitionValues": a.get("partitionValues") or {},
                "size": a.get("size"),
                "modificationTime": a.get("modificationTime"),
                "dataChange": False,
                "stats": a.get("stats"),
                "deletionVector": a.get("deletionVector"),
            }
        }
        for a in adds
    ]
    txn_rows = [
        {
            "txn": {
                "appId": t["appId"],
                "version": int(t["version"]),
                "lastUpdated": t.get("lastUpdated"),
            }
        }
        for t in txns.values()
    ]
    return md, add_rows, txn_rows


def _put_checkpoint(log_dir: str, name: str, table, pointer: dict) -> None:
    """Write checkpoint `table` as `log_dir/name`, then point
    `_last_checkpoint` at it (`pointer`), each through a tmp + rename so
    a torn write is never seen."""
    import pyarrow.parquet as pq

    cp = os.path.join(log_dir, name)
    tmp = cp + f".tmp.{uuid.uuid4().hex}"
    pq.write_table(table, tmp)
    os.rename(tmp, cp)
    last = os.path.join(log_dir, "_last_checkpoint")
    tmp = last + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(pointer, fh)
    os.rename(tmp, last)


def checkpoint_delta(path: str, version: int | None = None) -> int:
    """Write a V1 parquet checkpoint of the resolved state at `version`
    (default latest) plus the `_last_checkpoint` pointer, so readers
    replay O(commits since checkpoint) instead of the whole log."""
    import pyarrow as pa

    v, protocol, meta, adds, txns = _resolve_checkpoint_state(path, version)
    f = _cp_schema_fields()
    schema = pa.schema([f["protocol"], f["txn"], f["metaData"], f["add"]])
    md, add_rows, txn_rows = _cp_rows(meta, adds, txns)
    rows = [{"protocol": protocol, "metaData": md}, *add_rows, *txn_rows]
    _put_checkpoint(
        _log_dir(path),
        f"{v:020d}.checkpoint.parquet",
        pa.Table.from_pylist(rows, schema=schema),
        {"version": v, "size": len(rows)},
    )
    return v


_V2_CP_FEATURE = "v2Checkpoint"


def checkpoint_delta_v2(
    path: str, version: int | None = None, n_sidecars: int = 2
) -> int:
    """Write a V2 SPEC CHECKPOINT (delta.io PROTOCOL.md "V2 Spec
    Checkpoints"): the add actions land in `n_sidecars` parquet SIDECAR
    files under `_delta_log/_sidecars/`, and the top-level
    `<v>.checkpoint.<uid>.parquet` carries checkpointMetadata, protocol,
    metaData, txn marks, and one `sidecar` action per sidecar file.
    At scale this is the flavor that matters: a 10M-file table's
    checkpoint parallelizes across sidecars instead of one giant file,
    and incremental checkpointers rewrite only changed sidecars. If the
    table doesn't yet carry the `v2Checkpoint` reader feature, a
    protocol-upgrade commit (3/7) lands first — pre-feature readers
    must fail loudly rather than miss the sidecar indirection."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = _log_dir(path)
    proto = _current_protocol(path)
    if _V2_CP_FEATURE not in set(proto.get("readerFeatures") or []):
        actions = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": "UPGRADE PROTOCOL",
                    "operationParameters": {"feature": _V2_CP_FEATURE},
                }
            },
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(
                        set(proto.get("readerFeatures") or [])
                        | {_V2_CP_FEATURE}
                    ),
                    "writerFeatures": sorted(
                        set(proto.get("writerFeatures") or [])
                        | {_V2_CP_FEATURE}
                    ),
                }
            },
        ]
        _publish_commit(log_dir, actions, _next_version(log_dir))
        if version is not None:
            version = _next_version(log_dir) - 1
    v, protocol, meta, adds, txns = _resolve_checkpoint_state(path, version)
    f = _cp_schema_fields()
    sidecar_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    side_schema = pa.schema([f["add"]])
    n_sidecars = max(1, min(n_sidecars, max(1, len(adds))))
    sidecars: list[dict] = []
    md, add_rows, txn_rows = _cp_rows(meta, adds, txns)
    for i in range(n_sidecars):
        rows = add_rows[i::n_sidecars]
        name = f"{uuid.uuid4().hex}.parquet"
        dest = os.path.join(sidecar_dir, name)
        tmp = dest + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pylist(rows, schema=side_schema), tmp)
        os.rename(tmp, dest)
        sidecars.append(
            {
                "path": name,
                "sizeInBytes": os.path.getsize(dest),
                "modificationTime": int(os.path.getmtime(dest) * 1000),
            }
        )
    top_schema = pa.schema(
        [
            f["checkpointMetadata"],
            f["protocol"],
            f["metaData"],
            f["txn"],
            f["sidecar"],
        ]
    )
    rows = [
        {"checkpointMetadata": {"version": v, "tags": {}}},
        {"protocol": protocol, "metaData": md},
        *txn_rows,
        *[{"sidecar": sc} for sc in sidecars],
    ]
    name = f"{v:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
    _put_checkpoint(
        log_dir,
        name,
        pa.Table.from_pylist(rows, schema=top_schema),
        {"version": v, "size": len(rows), "v2Checkpoint": {"path": name}},
    )
    return v


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------
def delta_live_files(
    path: str, version: int | None = None, partition_eq: dict | None = None
) -> list[dict]:
    """Live add-actions at `version`, log-pruned by exact-match partition
    predicates BEFORE any filesystem listing or Spark scan — Delta's
    metadata-level partition pruning."""
    _, _, adds = _replay(path, version)
    return _adds_matching(adds, partition_eq)


def _adds_matching(adds: list[dict], partition_eq: dict | None) -> list[dict]:
    """`adds` whose partitionValues equal every `partition_eq` value."""
    if not partition_eq:
        return adds
    want = {k: (None if v is None else str(v)) for k, v in partition_eq.items()}
    return [
        a
        for a in adds
        if all((a.get("partitionValues") or {}).get(k) == v for k, v in want.items())
    ]


def _stats_envelope(add: dict, phys: str) -> tuple:
    """(min, max) of PHYSICAL column `phys` from an add's stats string;
    None where the add records no bound."""
    st = json.loads(add.get("stats") or "{}")
    return (st.get("minValues") or {}).get(phys), (st.get("maxValues") or {}).get(phys)


def _adds_in_range(meta: dict, adds: list[dict], column: str, lo, hi) -> list[dict]:
    """`adds` whose stats envelope for logical `column` meets [lo, hi]."""
    phys = _column_mapping(meta).get(column, column)  # stats keys are physical
    return [a for a in adds if envelope_meets(*_stats_envelope(a, phys), lo, hi)]


def delta_files_in_range(
    path: str, column: str, lo, hi, version: int | None = None
) -> list[dict]:
    """Stats-based data skipping from the LOG: live files whose
    [minValues, maxValues] envelope for `column` intersects [lo, hi].
    Files without stats are kept (skipping is an optimization, never a
    filter) — the same contract as TableLog.files_in_range, driven by
    the Delta stats strings every add action carries."""
    _, meta, adds = _replay(path, version)
    return _adds_in_range(meta, adds, column, lo, hi)


def rename_delta_column(path: str, old: str, new: str) -> int:
    """Delta-native RENAME COLUMN: a metadata-only commit, zero files
    rewritten — the columnMapping mode=name mechanism. The first rename
    UPGRADES the table in the same commit: every field gets a stable id
    and a physical name equal to its CURRENT name (so all existing files
    keep resolving), configuration gains the mapping mode, and the
    protocol bumps to reader 2 / writer 5 (the columnMapping minimum).
    The rename itself only changes the field's LOGICAL name; the
    physical name — what the data files and partitionValues carry — is
    frozen forever. Time travel below the rename surfaces the old name
    (each version reads under its own metaData). TableLog.rename_column
    runs this; iceberg's twin is rename_iceberg_column."""
    _, meta, _ = _replay(path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"column {old!r} not in schema {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    conf = dict(meta.get("configuration") or {})
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "RENAME COLUMN",
                "operationParameters": {"from": old, "to": new},
            }
        }
    ]
    mapped = conf.get("delta.columnMapping.mode") == "name"
    fields = []
    for i, f in enumerate(schema.fields):
        md = dict(f.metadata or {})
        if not mapped:
            md["delta.columnMapping.id"] = i + 1
            md["delta.columnMapping.physicalName"] = f.name
        fields.append(
            T.StructField(new if f.name == old else f.name, f.dataType, True, md)
        )
    if not mapped:
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(len(fields))
        cur = _current_protocol(path)
        if (
            cur.get("minReaderVersion", 1) < 2
            or cur.get("minWriterVersion", 2) < 5
        ):
            actions.append(
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
            )
        elif cur.get("minWriterVersion") == 7:
            # a table-features protocol names every feature it uses
            actions.append(
                {
                    "protocol": {
                        **cur,
                        "readerFeatures": sorted(
                            set(cur.get("readerFeatures") or []) | {"columnMapping"}
                        ),
                        "writerFeatures": sorted(
                            set(cur.get("writerFeatures") or []) | {"columnMapping"}
                        ),
                    }
                }
            )
    new_meta = dict(meta)
    new_meta["schemaString"] = T.StructType(fields).json()
    new_meta["configuration"] = conf
    new_meta["partitionColumns"] = [
        new if c == old else c for c in (meta.get("partitionColumns") or [])
    ]
    actions.append({"metaData": new_meta})
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


_WIDEN_OK = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def widen_delta_column(path: str, column: str, to_type: str) -> int:
    """Delta-native TYPE WIDENING: a metadata-only commit, zero files
    rewritten — the typeWidening table feature. The schemaString carries
    the widened type plus `delta.typeChanges` on the field, the protocol
    bumps to 3/7 with the typeWidening feature (carrying columnMapping
    into the feature lists when the table is mapped), and readers
    promote the narrower physical type at scan (Spark's parquet type
    promotion), so pre-widen files read exactly. Only lossless widenings
    are allowed (integer chain upward, float→double). Time travel below
    the widen surfaces the original type. TableLog.widen_column runs
    this; the sibling is rename_delta_column."""
    _, meta, _ = _replay(path)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if column not in names:
        raise ValueError(f"column {column!r} not in schema {names}")
    cur = next(f for f in schema.fields if f.name == column)
    pair = (cur.dataType.simpleString(), to_type)
    if pair not in _WIDEN_OK:
        raise ValueError(
            f"unsupported widening {pair[0]} -> {to_type}; lossless pairs: "
            f"{sorted(_WIDEN_OK)}"
        )
    fields = []
    for f in schema.fields:
        if f.name != column:
            fields.append(f)
            continue
        md = dict(f.metadata or {})
        changes = list(md.get("delta.typeChanges") or [])
        changes.append({"fromType": pair[0], "toType": to_type})
        md["delta.typeChanges"] = changes
        fields.append(
            T.StructField(
                f.name, _parse_simple_type(to_type), True, md
            )
        )
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "CHANGE COLUMN",
                "operationParameters": {"column": column, "toType": to_type},
            }
        }
    ]
    proto = _current_protocol(path)
    feats = set(proto.get("writerFeatures") or [])
    if "typeWidening" not in feats:
        legacy = (
            {"columnMapping"}
            if _column_mapping(meta)
            or proto.get("minReaderVersion", 1) >= 2
            else set()
        )
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(
                        set(proto.get("readerFeatures") or [])
                        | {"typeWidening"}
                        | legacy
                    ),
                    "writerFeatures": sorted(
                        feats | {"typeWidening"} | legacy
                    ),
                }
            }
        )
    new_meta = dict(meta)
    new_meta["schemaString"] = T.StructType(fields).json()
    actions.append({"metaData": new_meta})
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def _parse_simple_type(name: str) -> T.DataType:
    return {
        "tinyint": T.ByteType(),
        "smallint": T.ShortType(),
        "int": T.IntegerType(),
        "bigint": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
    }[name]


def delta_version_as_of(path: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the newest committed version whose
    commitInfo timestamp is <= the target — Delta's documented rule.
    Metadata-only (reads commit JSON heads, never data)."""
    log_dir = _log_dir(path)
    best = None
    for v in _committed_versions(log_dir):
        ts = None
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if line.strip():
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ts = a["commitInfo"].get("timestamp")
                        break
        if ts is None:
            ts = int(
                os.path.getmtime(os.path.join(log_dir, f"{v:020d}.json")) * 1000
            )
        if ts <= timestamp_ms:
            best = v
    if best is None:
        raise ValueError(
            f"no Delta version committed at or before timestamp {timestamp_ms}"
        )
    return best


def _scan_adds_logical(
    spark: SparkSession,
    adds: list[dict],
    meta: dict,
    path: str,
    file_col: str | None = None,
    pos_col: str | None = None,
    apply_dv: bool = True,
) -> DataFrame:
    """Scan `adds`' data files with the on-disk PHYSICAL schema and
    surface LOGICAL data columns: bookkeeping columns (file path / row
    index) are added straight off the scan node (metadata columns only
    resolve there), DV masks subtracted, columnMapping renames undone.
    Partition columns are NOT attached here — callers compose
    _attach_partition_cols. The shared read core of read_delta,
    read_delta_range and the file-rewriting maintenance ops: on mapped
    tables a logical-schema scan would silently read every renamed
    column as NULL."""
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = meta.get("partitionColumns") or []
    data_fields = [f for f in schema.fields if f.name not in pcols]
    mapping = _column_mapping(meta)
    renames: list[tuple[str, str]] = []
    phys_fields = []
    for f in data_fields:
        phys = mapping.get(f.name, f.name)
        phys_fields.append(T.StructField(phys, f.dataType, True))
        if phys != f.name:
            renames.append((phys, f.name))
    df = spark.read.schema(T.StructType(phys_fields)).parquet(
        *[os.path.join(path, urllib.parse.unquote(a["path"])) for a in adds]
    )
    if file_col:
        df = df.withColumn(file_col, file_path_col())
    if pos_col:
        df = df.withColumn(pos_col, F.col("_metadata.row_index"))
    if apply_dv:
        df = _apply_dv_mask(spark, df, adds, path)
    for phys, logical in renames:
        df = df.withColumnRenamed(phys, logical)
    return df


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    partition_eq: dict | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """Read a Delta-format table: replay the log to the live file list,
    scan those parquet files in ONE Spark read, and re-attach partition
    columns from the log's partitionValues via a broadcast join on
    `_metadata.file_path` (a file-count-sized map side — the layout on
    disk is NOT trusted; a Delta table need not use hive dirs).
    `version` pins time travel (VERSION AS OF); `timestamp_ms` resolves
    TIMESTAMP AS OF via delta_version_as_of; `partition_eq` prunes files
    in the log."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp_ms, not both")
        version = delta_version_as_of(path, timestamp_ms)
    _, meta, adds = _replay(path, version)
    if partition_eq:
        # mapped tables record partitionValues under PHYSICAL names;
        # callers prune with logical ones
        pmap = _column_mapping(meta)
        adds = _adds_matching(
            adds, {pmap.get(k, k): val for k, val in partition_eq.items()}
        )
    return _read_adds(spark, path, meta, adds)


def _read_adds(
    spark: SparkSession, path: str, meta: dict, adds: list[dict]
) -> DataFrame:
    """The table's rows in `adds` under `meta`'s logical schema: the
    mapped scan with DV masks (_scan_adds_logical), partition columns
    from the log, columns in schema order. Shared by read_delta and
    read_delta_range."""
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if not adds:
        return spark.createDataFrame([], schema)
    df = _scan_adds_logical(spark, adds, meta, path)
    return _attach_partition_cols(spark, df, adds, meta, path).select(
        *[f.name for f in schema.fields]
    )


def _attach_partition_cols(
    spark: SparkSession, df: DataFrame, adds: list[dict], meta: dict, path: str
) -> DataFrame:
    """Reattach partition columns to rows read from `adds`' data files,
    from the log's partitionValues (attach_partition_values). No-op for
    unpartitioned tables."""
    pcols = meta.get("partitionColumns") or []
    if not pcols:
        return df
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    # mapped tables key partitionValues by PHYSICAL name (logical
    # fallback for tables adopted before the physical-key convention)
    pmap = _column_mapping(meta)
    file_values = []
    for a in adds:
        pv = a.get("partitionValues") or {}
        file_values.append(
            (
                os.path.abspath(os.path.join(path, urllib.parse.unquote(a["path"]))),
                *[pv.get(pmap.get(c, c), pv.get(c)) for c in pcols],
            )
        )
    return attach_partition_values(
        spark, df, file_values, pcols, {f.name: f.dataType for f in schema.fields}
    )


def merge_delta(
    spark: SparkSession, path: str, source: DataFrame, key: str
) -> int:
    """MERGE INTO the Delta table: source rows update matches by `key`
    and insert non-matches, as ONE atomic commit. File-granular
    selective rewrite — only data files that actually CONTAIN a matched
    key are rewritten (found via a `_metadata.file_path` semi-join, one
    scan); untouched files stay exactly as they are, which at 100 TB is
    the difference between rewriting gigabytes and rewriting the lake.
    The commit removes the affected files and adds their merged
    replacements plus the inserts; a racing writer that superseded any
    affected file trips the ConcurrentDeltaWriteError conflict check.

    The rewrite and the change feed come from ONE full outer join of the
    affected files with the source, written by ONE Spark write. Each
    joined row becomes its merged data row (`coalesce(s.c, t.c)`); on
    CDF tables it also becomes its change images — pre+post image for a
    matched key, an insert for a source-only key — exploded from an
    array of structs. A leading `__is_cdc` partition column splits that
    write: files under `__is_cdc=false` become add actions, files under
    `__is_cdc=true` move to `_change_data/` as cdc actions. CHECK
    constraints are enforced on the data rows only.

    Partitioned tables merge the same way: the rewrite is still scoped
    to the files that CONTAIN matched keys (whatever partitions they
    sit in), partition columns are reattached from the log's
    partitionValues for the join, and replacements land back in hive
    layout with their partitionValues recorded — a matched row may even
    move partitions when the source changes its partition column.
    Change files take the same layout, `_change_data/<col>=<v>/`, with
    the partition columns in the cdc actions' partitionValues (the
    protocol's recommended layout for partitioned change data). The
    merge key must be a data column (merging ON a partition column
    would make the semi-join scan metadata-blind; route that shape
    through read-side partition pruning instead)."""
    _, meta, adds_live = _replay(path)
    pcols = meta.get("partitionColumns") or []
    if key in pcols:
        raise ValueError(
            f"merge key {key!r} is a partition column; merge on a data "
            "column (partition-granular upserts are an overwrite of the "
            "partition, not a row merge)"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    base = _scan_adds_logical(
        spark, adds_live, meta, path, file_col="__file"
    )
    skeys = source.select(F.col(key).alias("__k")).distinct()
    touched = {
        r["__file"]
        for r in base.join(skeys, base[key] == skeys["__k"], "semi")
        .select("__file")
        .distinct()
        .collect()
    }  # file-count-sized, never row-scale
    touched_adds = [
        a
        for a in adds_live
        if os.path.abspath(os.path.join(path, urllib.parse.unquote(a["path"])))
        in touched
    ]
    cols = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    if touched_adds:
        affected = _attach_partition_cols(
            spark,
            _scan_adds_logical(spark, touched_adds, meta, path),
            touched_adds,
            meta,
            path,
        ).select(*cols)
    else:
        affected = spark.createDataFrame([], schema)
    joined = (
        affected.withColumn("__t", F.lit(True))
        .alias("t")
        .join(source.withColumn("__s", F.lit(True)).alias("s"), on=key, how="full")
    )

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def row(side: str | None) -> list[str]:
        # SQL text of the merged data row (side None) or of one side's
        # image, typed as the table declares: one parse on the JVM
        # instead of a py4j round trip per column expression
        exprs = []
        for c in cols:
            if c == key:
                value = q(c)
            elif side:
                value = f"{side}.{q(c)}"
            else:
                value = f"coalesce(s.{q(c)}, t.{q(c)})"
            exprs.append(f"CAST({value} AS {types[c].simpleString()}) AS {q(c)}")
        return exprs

    merged = joined.selectExpr(*row(None))
    _check_delta_constraints(merged, meta)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "MERGE",
                "operationParameters": {"predicate": key},
            }
        }
    ]
    if _cdf_enabled(meta):

        def out(side: str | None, change_type: str | None) -> str:
            if change_type is None:
                tail = "CAST(NULL AS STRING) AS _change_type, false AS __is_cdc"
            else:
                tail = f"'{change_type}' AS _change_type, true AS __is_cdc"
            return f"struct({', '.join(row(side))}, {tail})"

        matched = "__t IS NOT NULL AND __s IS NOT NULL"
        rows = joined.selectExpr(
            f"inline(filter(array({out(None, None)}, "
            f"CASE WHEN {matched} THEN {out('t', 'update_preimage')} END, "
            f"CASE WHEN {matched} THEN {out('s', 'update_postimage')} END, "
            f"CASE WHEN __t IS NULL THEN {out('s', 'insert')} END"
            "), r -> r IS NOT NULL))"
        )
        staged = _stage(path, rows, _column_mapping(meta), ["__is_cdc", *pcols])
    else:
        staged = _stage(path, merged, _column_mapping(meta), pcols)
    with staged as leaves:
        changes = [f for f in leaves if f.values.get("__is_cdc") == "true"]
        data = [f for f in leaves if f.values.get("__is_cdc") != "true"]
        actions.extend(_land(path, changes, now_ms, cdc=True))
        for a in touched_adds:
            actions.append(
                {
                    "remove": {
                        "path": a["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        actions.extend(_land(path, data, now_ms))
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def delete_delta_range(
    spark: SparkSession, path: str, column: str, lo, hi
) -> int:
    """DELETE FROM WHERE column BETWEEN lo AND hi, as one atomic commit
    with stats-driven three-way file handling: files whose [min,max]
    envelope lies ENTIRELY inside the range are tombstoned WITHOUT being
    read (a metadata-only delete); files that merely overlap the
    boundary are rewritten without their matching rows; disjoint files
    are untouched. On a 100 TB range-clustered table a retention delete
    is then almost entirely metadata work — only the two boundary files
    pay a rewrite.

    Partitioned tables: deleting on a PARTITION column is fully
    metadata-only (every row of a file shares its partitionValue, so
    in-range files are tombstoned unread and nothing is rewritten);
    deleting on a data column uses the same stats three-way split, with
    survivors rewritten back into hive layout."""
    _, meta, adds_live = _replay(path)
    pcols = meta.get("partitionColumns") or []
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    # mapped tables key partitionValues and stats by PHYSICAL name
    phys_key = _column_mapping(meta).get(column, column)
    drop_whole: list[dict] = []
    rewrite: list[dict] = []
    if column in pcols:
        # partition-column range: the partitionValue decides the whole
        # file. Compare under the COLUMN'S DECLARED TYPE — the same
        # semantics as the typed BETWEEN the CDF image filter and the
        # data-column path use; a try-float heuristic would diverge on
        # string columns with numeric-looking values ('10' < '9'
        # lexicographically but not numerically)
        col_type = next(f.dataType for f in schema.fields if f.name == column)
        numeric = isinstance(col_type, T.NumericType)

        def _pv_in_range(pv: str | None) -> bool:
            if pv is None:
                return False  # NULL never matches BETWEEN
            if numeric:
                return float(lo) <= float(pv) <= float(hi)
            return str(lo) <= pv <= str(hi)

        for a in adds_live:
            if _pv_in_range((a.get("partitionValues") or {}).get(phys_key)):
                drop_whole.append(a)
    else:
        for a in adds_live:
            fmin, fmax = _stats_envelope(a, phys_key)
            if fmin is not None and fmax is not None and fmin >= lo and fmax <= hi:
                drop_whole.append(a)  # fully inside → metadata-only delete
            elif envelope_meets(fmin, fmax, lo, hi):
                rewrite.append(a)  # overlap or no stats → rewrite survivors
            # else: disjoint → untouched
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DELETE",
                "operationParameters": {
                    "predicate": f"{column} BETWEEN {lo!r} AND {hi!r}"
                },
            }
        }
    ]
    if _cdf_enabled(meta) and (drop_whole or rewrite):
        # CDF delete images: whole-file tombstones contribute every row,
        # boundary files only their matching rows. Reading the tombstoned
        # files is the documented price of CDF on DELETE (without CDF the
        # whole-file path stays metadata-only).
        deleted = _attach_partition_cols(
            spark,
            _scan_adds_logical(spark, drop_whole + rewrite, meta, path),
            drop_whole + rewrite,
            meta,
            path,
        ).where(F.col(column).between(F.lit(lo), F.lit(hi))).select(
            *[f.name for f in schema.fields]
        ).withColumn("_change_type", F.lit("delete"))
        with _stage(path, deleted, _column_mapping(meta), pcols) as leaves:
            actions.extend(_land(path, leaves, now_ms, cdc=True))
    for a in drop_whole + rewrite:
        actions.append(
            {
                "remove": {
                    "path": a["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    if rewrite:
        survivors = _attach_partition_cols(
            spark,
            _scan_adds_logical(spark, rewrite, meta, path),
            rewrite,
            meta,
            path,
        ).where(~F.col(column).between(F.lit(lo), F.lit(hi))).select(
            *[f.name for f in schema.fields]
        )
        with _stage(path, survivors, _column_mapping(meta), pcols) as leaves:
            actions.extend(_land(path, leaves, now_ms))
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


# ---------------------------------------------------------------------------
# deletion vectors — merge-on-read row-level deletes
# ---------------------------------------------------------------------------
# Semantics follow delta.io PROTOCOL.md's deletionVectors table feature:
# an add action may carry a deletionVector descriptor; the file's rows at
# the listed positions are logically deleted; a new DV for a file
# SUPERSEDES the old one and must contain the union; the commit removes
# and re-adds the SAME data file (dataChange=true) — zero data bytes
# rewritten. The descriptor uses storageType "u" (sidecar file at the
# table root, 1-byte format version + [4-byte BE length | payload |
# 4-byte BE CRC32]) exactly as the protocol lays the container out.
# The payload inside the container is the protocol's RoaringBitmapArray
# in the PORTABLE serialization format (delta.io PROTOCOL.md "Deletion
# Vector Format" → RoaringFormatSpec "extension for 64-bit
# implementations"): magic 1681511377 (int32 LE), then u64 LE bucket
# count, then per non-empty bucket a u32 LE key (high 32 bits) followed
# by the bucket's standard 32-bit roaring serialization. The writer
# emits the no-run-container layout (always spec-valid); the reader
# additionally accepts run containers and the run cookie, so DV files
# written by real Delta engines (which runOptimize) decode too. Tables
# written by earlier versions of THIS engine used a documented local
# delta-varint codec ("AMDV" magic) — kept as a fallback reader only.
# Everything above the payload bytes — descriptors, commit shape,
# supersede-by-union, stats semantics (numRecords stays physical),
# protocol feature gating (3/7 + deletionVectors), checkpoint fidelity,
# vacuum retention — is protocol-faithful and tested.

_DV_MAGIC = b"AMDV"  # legacy local codec, fallback reader only
_DV_FEATURE = "deletionVectors"

# RoaringFormatSpec constants (https://github.com/RoaringBitmap/RoaringFormatSpec)
_ROAR_MAGIC = 1681511377  # delta.io PROTOCOL.md RoaringBitmapArray magic
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX_CARD = 4096


def _roar32_encode(values: list[int]) -> bytes:
    """Standard 32-bit roaring serialization of sorted, deduped
    `values`, no-run-container layout: cookie 12346, container count,
    descriptive header (u16 key, u16 card-1), offset header, then
    array (≤4096 values, u16s) or bitmap (8 KiB of u64 words)
    containers in key order."""
    import struct

    buckets: dict[int, list[int]] = {}
    for v in values:
        buckets.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(buckets)
    out = bytearray()
    out += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(buckets[k]) - 1)
    # offset header: byte position of each container from stream start
    pos = len(out) + 4 * len(keys)
    offsets = []
    for k in keys:
        offsets.append(pos)
        card = len(buckets[k])
        pos += 8192 if card > _ARRAY_MAX_CARD else 2 * card
    out += struct.pack(f"<{len(keys)}I", *offsets)
    for k in keys:
        lows = buckets[k]
        if len(lows) > _ARRAY_MAX_CARD:
            words = [0] * 1024
            for lo in lows:
                words[lo >> 6] |= 1 << (lo & 63)
            out += struct.pack("<1024Q", *words)
        else:
            out += struct.pack(f"<{len(lows)}H", *lows)
    return bytes(out)


def _roar32_decode(buf: bytes, at: int) -> tuple[list[int], int]:
    """Decode one standard 32-bit roaring bitmap starting at `at`;
    returns (sorted values, end offset). Accepts both cookies and all
    three container types — real Delta writers runOptimize, so foreign
    DV files routinely carry run containers."""
    import struct

    start = at
    cookie32 = struct.unpack_from("<I", buf, at)[0]
    at += 4
    run_flags = b""
    if (cookie32 & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie32 >> 16) + 1
        nbytes = (n + 7) // 8
        run_flags = buf[at : at + nbytes]
        at += nbytes
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie32 == _SERIAL_COOKIE_NO_RUN:
        n = struct.unpack_from("<I", buf, at)[0]
        at += 4
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie32}")
    header = struct.unpack_from(f"<{2 * n}H", buf, at)
    at += 4 * n
    if has_offsets:
        at += 4 * n  # trust sequential layout; offsets are redundant
    vals: list[int] = []
    for i in range(n):
        key, card = header[2 * i], header[2 * i + 1] + 1
        base = key << 16
        is_run = bool(run_flags) and bool(run_flags[i >> 3] & (1 << (i & 7)))
        if is_run:
            n_runs = struct.unpack_from("<H", buf, at)[0]
            at += 2
            runs = struct.unpack_from(f"<{2 * n_runs}H", buf, at)
            at += 4 * n_runs
            for r in range(n_runs):
                s, ln = runs[2 * r], runs[2 * r + 1]
                vals.extend(base + v for v in range(s, s + ln + 1))
        elif card > _ARRAY_MAX_CARD:
            words = struct.unpack_from("<1024Q", buf, at)
            at += 8192
            for w_i, w in enumerate(words):
                while w:
                    low = w & -w
                    vals.append(base + (w_i << 6) + low.bit_length() - 1)
                    w ^= low
        else:
            vals.extend(
                base + v for v in struct.unpack_from(f"<{card}H", buf, at)
            )
            at += 2 * card
    if at > len(buf):
        raise ValueError(f"truncated roaring bitmap at byte {start}")
    return vals, at


def _dv_encode(positions: list[int]) -> bytes:
    """RoaringBitmapArray portable bytes of the sorted position set:
    magic (i32 LE), u64 LE bucket count, then per non-empty high-32-bit
    bucket a u32 LE key + the bucket's 32-bit roaring serialization."""
    import struct

    pos = sorted(set(int(p) for p in positions))
    buckets: dict[int, list[int]] = {}
    for p in pos:
        buckets.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iQ", _ROAR_MAGIC, len(buckets)))
    for k in sorted(buckets):
        out += struct.pack("<I", k)
        out += _roar32_encode(buckets[k])
    return bytes(out)


def _dv_decode(payload: bytes) -> list[int]:
    import struct

    if payload[:4] == _DV_MAGIC:
        return _dv_decode_legacy(payload)
    magic, n_buckets = struct.unpack_from("<iQ", payload, 0)
    if magic != _ROAR_MAGIC:
        raise ValueError("bad deletion-vector payload magic")
    at = 12
    out: list[int] = []
    for _ in range(n_buckets):
        key = struct.unpack_from("<I", payload, at)[0]
        at += 4
        vals, at = _roar32_decode(payload, at)
        out.extend((key << 32) | v for v in vals)
    return out


def _dv_decode_legacy(payload: bytes) -> list[int]:
    """Fallback reader for DV payloads written by earlier versions of
    this engine (documented local codec: "AMDV" magic + varint count +
    delta-varints of the sorted positions)."""
    i = 4

    def varint() -> int:
        nonlocal i
        n = shift = 0
        while True:
            b = payload[i]
            i += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    count = varint()
    out, cur = [], 0
    for _ in range(count):
        cur += varint()
        out.append(cur)
    return out


def _dv_relpath(desc: dict) -> str:
    """Table-relative (or absolute for "p") path of a descriptor's DV
    file, derived exactly as the protocol specifies for storageType "u":
    pathOrInlineDv is `<random prefix, optional><Base85(RFC 1924) uuid,
    20 chars>` and the file lives at `<prefix>/deletion_vector_<uuid
    canonical form>.bin`. Descriptors written by earlier versions of
    this engine carried the bare 32-char hex uuid — kept as a fallback
    (their files were named with the hex form)."""
    import base64

    if desc.get("storageType") == "p":
        return desc["pathOrInlineDv"]  # absolute (shallow clones)
    tok = desc["pathOrInlineDv"]
    if len(tok) == 32 and all(c in "0123456789abcdef" for c in tok):
        return f"deletion_vector_{tok}.bin"  # legacy hex naming
    prefix, enc = tok[:-20], tok[-20:]
    u = uuid.UUID(bytes=base64.b85decode(enc.encode("ascii")))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(prefix, name) if prefix else name


def _dv_write_file(root: str, positions: list[int]) -> dict:
    """Write one DV container under `root` and return its descriptor.
    Runs on EXECUTORS (inside applyInPandas) — the driver only ever sees
    file-count-sized descriptor lists, never position lists. The
    descriptor's pathOrInlineDv carries the Base85(RFC 1924)-encoded
    uuid (Python's b85 codec uses exactly that alphabet) and the file
    name uses the uuid's canonical form — the derivation every real
    Delta reader applies."""
    import base64
    import binascii

    dv_uuid = uuid.uuid4()
    payload = _dv_encode(positions)
    blob = (
        bytes([1])
        + len(payload).to_bytes(4, "big")
        + payload
        + (binascii.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "big")
    )
    name = f"deletion_vector_{dv_uuid}.bin"
    tmp = os.path.join(root, f".{name}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(blob)
    os.rename(tmp, os.path.join(root, name))
    return {
        "storageType": "u",
        "pathOrInlineDv": base64.b85encode(dv_uuid.bytes).decode("ascii"),
        "offset": 1,
        "sizeInBytes": len(payload),
        "cardinality": len(positions),
    }


def _dv_read_positions(root: str, desc: dict) -> list[int]:
    import binascii

    if desc.get("storageType") == "i":
        # inline DV: pathOrInlineDv IS the Base85-encoded payload (no
        # version/length/CRC framing — that wrapping is file-only)
        import base64

        return _dv_decode(base64.b85decode(desc["pathOrInlineDv"].encode("ascii")))
    p = _dv_relpath(desc)
    full = p if os.path.isabs(p) else os.path.join(root, p)
    with open(full, "rb") as fh:
        blob = fh.read()
    off = desc.get("offset", 1)
    n = int.from_bytes(blob[off : off + 4], "big")
    payload = blob[off + 4 : off + 4 + n]
    crc = int.from_bytes(blob[off + 4 + n : off + 8 + n], "big")
    if binascii.crc32(payload) & 0xFFFFFFFF != crc:
        raise ValueError(f"deletion vector {p} failed its CRC check")
    return _dv_decode(payload)


def _dv_expand_df(
    spark: SparkSession, path: str, dv_adds: list[dict]
) -> DataFrame:
    """(__dv_file abs-path, __dv_pos) rows for every deleted position of
    `dv_adds` — DV files decode on EXECUTORS via mapInPandas (a DV is
    bounded by its data file's row count; the driver ships only the
    file-count-sized descriptor list)."""
    import pandas as pd

    rows = [
        (
            os.path.abspath(
                os.path.join(path, urllib.parse.unquote(a["path"]))
            ),
            json.dumps(a["deletionVector"]),
        )
        for a in dv_adds
    ]
    desc_df = spark.createDataFrame(rows, "__dv_file string, __dv_desc string")
    root = path

    def expand(batches):
        for pdf in batches:
            for f, d in zip(pdf["__dv_file"], pdf["__dv_desc"]):
                pos = _dv_read_positions(root, json.loads(d))
                yield pd.DataFrame({"__dv_file": f, "__dv_pos": pos})

    return desc_df.mapInPandas(expand, "__dv_file string, __dv_pos long")


def _apply_dv_mask(
    spark: SparkSession, df: DataFrame, adds: list[dict], path: str
) -> DataFrame:
    """Mask deleted rows out of a scan over `adds`' data files. Must be
    applied DIRECTLY on the scan output (it reads `_metadata` columns).
    No-op when no add carries a deletionVector."""
    dv_adds = [a for a in adds if a.get("deletionVector")]
    if not dv_adds:
        return df
    dels = _dv_expand_df(spark, path, dv_adds)
    # the descriptors carry EXACT cardinalities the optimizer can't see
    # through mapInPandas: broadcast the tombstone side while it is
    # hint-safely small (a (string, long) row is ~tens of bytes;
    # 2M rows ≪ the driver/executor broadcast budget), else let the
    # shuffled anti-join handle pathological accumulation — purge is
    # the documented fix for that state anyway
    total = sum(a["deletionVector"].get("cardinality", 0) for a in dv_adds)
    if total <= 2_000_000:
        dels = F.broadcast(dels)
    return (
        df.withColumn("__dv_file", file_path_col())
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
        .join(dels, ["__dv_file", "__dv_pos"], "left_anti")
        .drop("__dv_file", "__dv_pos")
    )


def _current_protocol(path: str, version: int | None = None) -> dict:
    protocol = dict(_PROTOCOL)
    _, acts = _raw_actions(path, version)
    for a in acts:
        if "protocol" in a:
            protocol = a["protocol"]
    return protocol


def delete_delta_dv(spark: SparkSession, path: str, predicate: str) -> int:
    """DELETE FROM WHERE `predicate`, merge-on-read: matching rows are
    tombstoned by POSITION in sidecar deletion vectors and every data
    file stays byte-identical on disk — the 100 TB shape for selective
    deletes (GDPR erasure, late corrections), where rewriting a 1 GB
    file to drop 3 rows is the thing you cannot afford. Each touched
    file's remove+add re-commits the SAME path with the (union-merged)
    DV attached, dataChange=true; the first DV commit upgrades the
    table protocol to 3/7 + deletionVectors so pre-feature readers fail
    loudly instead of resurrecting deleted rows. CDF-enabled tables
    stage exact delete images. Returns the new version."""
    v, meta, adds_live = _replay(path)
    pcols = meta.get("partitionColumns") or []
    if not adds_live:
        return v
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    by_rel = {a["path"]: a for a in adds_live}
    abs_of = {
        a["path"]: os.path.abspath(
            os.path.join(path, urllib.parse.unquote(a["path"]))
        )
        for a in adds_live
    }
    scan = _scan_adds_logical(
        spark,
        adds_live,
        meta,
        path,
        file_col="__dv_file",
        pos_col="__dv_pos",
        apply_dv=False,  # this op folds existing DVs itself (union below)
    )
    dv_adds = [a for a in adds_live if a.get("deletionVector")]
    if dv_adds:
        # rows already deleted must neither rematch nor re-emit in CDF
        scan = scan.join(
            _dv_expand_df(spark, path, dv_adds),
            ["__dv_file", "__dv_pos"],
            "left_anti",
        )
    scan = _attach_partition_cols(spark, scan, adds_live, meta, path)
    matched = scan.where(F.expr(predicate))
    new_pos = matched.select("__dv_file", "__dv_pos")
    touched_abs = {
        r["__dv_file"] for r in new_pos.select("__dv_file").distinct().collect()
    }  # file-count-sized
    if not touched_abs:
        return v
    # supersede-by-union: fold the touched files' EXISTING positions in
    carry = [a for a in dv_adds if abs_of[a["path"]] in touched_abs]
    all_pos = (
        new_pos.unionByName(_dv_expand_df(spark, path, carry))
        if carry
        else new_pos
    )
    root = path

    def write_group(pdf):
        import pandas as pd

        desc = _dv_write_file(root, pdf["__dv_pos"].tolist())
        return pd.DataFrame(
            {"__dv_file": [pdf["__dv_file"].iloc[0]], "desc": [json.dumps(desc)]}
        )

    descs = {
        r["__dv_file"]: json.loads(r["desc"])
        for r in all_pos.groupBy("__dv_file")
        .applyInPandas(write_group, "__dv_file string, desc string")
        .collect()
    }  # file-count-sized
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "DELETE",
                "operationParameters": {"predicate": predicate},
            }
        }
    ]
    proto = _current_protocol(path, v)
    if _DV_FEATURE not in (proto.get("writerFeatures") or []):
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    # upgrading a legacy protocol (e.g. columnMapping's
                    # 2/5) to table features must LIST every feature the
                    # old versions implied, or readers drop the mapping
                    "readerFeatures": sorted(
                        set(proto.get("readerFeatures") or [])
                        | {_DV_FEATURE}
                        | ({"columnMapping"} if _column_mapping(meta) else set())
                    ),
                    "writerFeatures": sorted(
                        set(proto.get("writerFeatures") or [])
                        | {_DV_FEATURE}
                        | ({"columnMapping"} if _column_mapping(meta) else set())
                    ),
                }
            }
        )
    if _cdf_enabled(meta):
        cdf = matched.select(*[f.name for f in schema.fields]).withColumn(
            "_change_type", F.lit("delete")
        )
        with _stage(path, cdf, _column_mapping(meta), pcols) as leaves:
            actions.extend(_land(path, leaves, now_ms, cdc=True))
    for rel, a in by_rel.items():
        if abs_of[rel] not in touched_abs:
            continue
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
        new_add = {
            k: a[k]
            for k in (
                "path",
                "partitionValues",
                "size",
                "modificationTime",
                "stats",
            )
            if k in a
        }
        new_add["dataChange"] = True
        new_add["deletionVector"] = descs[abs_of[rel]]
        actions.append({"add": new_add})
    return _publish_commit(
        _log_dir(path),
        actions,
        _next_version(_log_dir(path)),
        expected_adds={
            rel: a for rel, a in by_rel.items() if abs_of[rel] in touched_abs
        },
    )


def purge_delta_dv(spark: SparkSession, path: str) -> int:
    """REORG TABLE ... APPLY (PURGE): materialize the deletion vectors —
    every DV-carrying file is rewritten WITHOUT its deleted rows and its
    DV dropped; untouched files stay as-is. Logical content is unchanged,
    so the commit is dataChange=false (feeds/streams skip it) — the
    maintenance op that reclaims DV-shadowed bytes once enough deletes
    accumulate. Returns the new version (unchanged if no DVs live)."""
    v, meta, adds_live = _replay(path)
    pcols = meta.get("partitionColumns") or []
    dv_adds = [a for a in adds_live if a.get("deletionVector")]
    if not dv_adds:
        return v
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    df = _scan_adds_logical(spark, dv_adds, meta, path)
    df = _attach_partition_cols(spark, df, dv_adds, meta, path).select(
        *[f.name for f in schema.fields]
    )
    if not pcols:
        df = df.coalesce(max(1, len(dv_adds)))
    now_ms = int(time.time() * 1000)
    with _stage(path, df, _column_mapping(meta), pcols) as leaves:
        adds = _land(path, leaves, now_ms, data_change=False)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "REORG",
                "operationParameters": {"applyPurge": True},
            }
        }
    ]
    for a in dv_adds:
        actions.append(
            {
                "remove": {
                    "path": a["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": False,
                }
            }
        )
    actions.extend(adds)
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


_Z_BITS = 8  # quantile buckets per z-order column (256)


def _z_numeric(col: F.Column, dtype: T.DataType) -> F.Column:
    """Order-preserving numeric projection of a z-order column (the
    quantile/bucket domain). Dates count days, timestamps seconds."""
    if isinstance(dtype, T.DateType):
        return F.datediff(col, F.lit("1970-01-01")).cast("double")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # NTZ has no direct long cast; via timestamp is order-preserving
        # (sessions here run UTC)
        return col.cast("timestamp").cast("long").cast("double")
    if isinstance(dtype, T.NumericType):
        return col.cast("double")
    raise ValueError(f"zorder_by supports numeric/date/timestamp, not {dtype}")


def _zvalue(df: DataFrame, zorder_by: list[str]) -> F.Column:
    """Morton z-value over `zorder_by`: each column rank-normalizes into
    2^{_Z_BITS} quantile buckets (splits from ONE approxQuantile pass —
    driver state is 255 doubles per column, index-sized), then the
    bucket bits interleave so that sorting by the result clusters ALL
    the columns at once. Everything row-side is plain JVM bit
    arithmetic; NULLs sort first (bucket 0)."""
    dtypes = dict(zip(df.schema.names, [f.dataType for f in df.schema.fields]))
    k = len(zorder_by)
    probs = [i / (1 << _Z_BITS) for i in range(1, 1 << _Z_BITS)]
    proj = df.select(
        *[
            _z_numeric(F.col(c), dtypes[c]).alias(f"__zn_{j}")
            for j, c in enumerate(zorder_by)
        ]
    )
    all_splits = proj.stat.approxQuantile(
        [f"__zn_{j}" for j in range(k)], probs, 0.001
    )
    z = F.lit(0).cast("long")
    for j, c in enumerate(zorder_by):
        splits = sorted(set(all_splits[j]))
        num = _z_numeric(F.col(c), dtypes[c])
        bucket = F.aggregate(
            F.array(*[F.lit(s) for s in splits]),
            F.lit(0),
            lambda acc, s: acc + F.when(num >= s, 1).otherwise(0),
        )
        bucket = F.when(num.isNull(), 0).otherwise(bucket).cast("long")
        for i in range(_Z_BITS):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * k + j,
                )
            )
    return z


def optimize_delta(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """OPTIMIZE (bin-packing compaction): rewrite the live files into
    fewer, larger ones and commit remove+add with **dataChange=false** —
    the protocol's signal that the commit rearranges bytes but adds no
    data. The change feed and the streaming source both skip such
    commits (no duplicate rows downstream), and time travel across the
    OPTIMIZE stays exact. On 100 TB this is the maintenance op that
    keeps scan task counts bounded as small appends accumulate.

    `zorder_by` = OPTIMIZE ... ZORDER BY: rows get a Morton z-value over
    the named columns (see _zvalue) and land range-partitioned + sorted
    by it, so every output file covers a contiguous z-range and its
    min/max envelope is tight on EVERY z-order column simultaneously —
    log-stats skipping (read_delta_range) then prunes on any of them.
    This is the multi-dimensional layout story for 100 TB: one rewrite
    buys skipping on all the common predicate columns, not just the
    insertion order.

    Partitioned tables compact WITHIN partitions: rows repartition by
    the partition columns (one task per live partition value, so each
    partition's many small files become one), land back in hive layout,
    and `target_files` — a whole-table knob — is ignored."""
    v, meta, adds_live = _replay(path)
    pcols = meta.get("partitionColumns") or []
    if len(adds_live) <= 1:
        return v
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if target_files is None:
        total = sum(a.get("size", 0) for a in adds_live)
        target_files = max(1, -(-total // (128 * 1024 * 1024)))  # ceil /128MB
    df = _attach_partition_cols(
        spark,
        _scan_adds_logical(spark, adds_live, meta, path),
        adds_live,
        meta,
        path,
    ).select(*[f.name for f in schema.fields])
    if zorder_by:
        bad = [c for c in zorder_by if c in pcols]
        if bad:
            raise ValueError(f"zorder_by columns are partition columns: {bad}")
        z = _zvalue(df, zorder_by)
        if pcols:
            df = (
                df.withColumn("__z", z)
                .repartition(*pcols)
                .sortWithinPartitions(*pcols, "__z")
                .drop("__z")
            )
        else:
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
    else:
        df = df.repartition(*pcols) if pcols else df.coalesce(target_files)
    now_ms = int(time.time() * 1000)
    with _stage(path, df, _column_mapping(meta), pcols) as leaves:
        adds = _land(path, leaves, now_ms, data_change=False)
    op_params: dict = {"targetFiles": target_files}
    if zorder_by:
        op_params["zOrderBy"] = json.dumps(zorder_by)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "OPTIMIZE",
                "operationParameters": op_params,
            }
        }
    ]
    for a in adds_live:
        actions.append(
            {
                "remove": {
                    "path": a["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": False,
                }
            }
        )
    actions.extend(adds)
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def restore_delta(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE TO VERSION AS OF: commit the FILE-LEVEL diff that
    makes the current state equal the target version's — re-add files
    live then but not now, remove files live now but not then
    (dataChange=true, as Delta's RESTORE does). Pure metadata: no data
    file is read or written, so restoring a 100 TB table costs one
    commit. History is preserved — the bad versions stay readable.
    The TARGET's metaData is restored along with its file set: a
    restore across a schema evolution must reproduce the old schema,
    or the restored state would surface spurious all-NULL columns the
    target version never had."""
    cur_v, cur_meta, cur_adds = _replay(path)
    _, tgt_meta, tgt_adds = _replay(path, version)
    cur_by, tgt_by = (
        {a["path"]: a for a in cur_adds},
        {a["path"]: a for a in tgt_adds},
    )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "RESTORE",
                "operationParameters": {"version": version},
            }
        }
    ]
    if tgt_meta != cur_meta:
        actions.append({"metaData": tgt_meta})
    for p in sorted(set(cur_by) - set(tgt_by)):
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    for p in sorted(set(tgt_by) - set(cur_by)):
        actions.append({"add": dict(tgt_by[p])})
    # a path live in BOTH versions can still differ by deletion vector
    # (a DV delete between target and now): re-add the target's state,
    # or the "restored" table would keep rows deleted
    for p in sorted(set(tgt_by) & set(cur_by)):
        if tgt_by[p].get("deletionVector") != cur_by[p].get("deletionVector"):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            actions.append({"add": dict(tgt_by[p])})
    return _publish_commit(_log_dir(path), actions, _next_version(_log_dir(path)))


def clone_delta(
    spark: SparkSession, src: str, dst: str, version: int | None = None
) -> int:
    """SHALLOW CLONE: create a NEW Delta table at `dst` whose v0 add
    actions reference the SOURCE's data files by absolute path — zero
    bytes copied, O(metadata) regardless of table size. The clone then
    evolves independently (its own log, its own ids): appends/merges on
    the clone never touch the source, and vice versa. The standard way
    to fork a 100 TB table for an experiment. (Vacuuming the SOURCE can
    of course invalidate a shallow clone — same caveat as Databricks'.)"""
    if os.path.isdir(_log_dir(dst)) and _committed_versions(_log_dir(dst)):
        raise FileExistsError(f"{dst} already has a Delta log")
    v, meta, adds = _replay(src, version)
    now_ms = int(time.time() * 1000)
    os.makedirs(dst, exist_ok=True)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CLONE",
                "operationParameters": {"source": src, "sourceVersion": v},
            }
        },
        {"protocol": _current_protocol(src, v)},
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": meta["schemaString"],
                "partitionColumns": meta.get("partitionColumns") or [],
                "configuration": dict(meta.get("configuration") or {}),
                "createdTime": now_ms,
            }
        },
    ]
    for a in adds:
        c = dict(a)
        c["path"] = urllib.parse.quote(
            os.path.abspath(os.path.join(src, urllib.parse.unquote(a["path"])))
        )
        if c.get("deletionVector"):
            # the clone's DVs live in the SOURCE tree: re-anchor the
            # descriptor as storageType "p" (absolute path)
            d = dict(c["deletionVector"])
            d["pathOrInlineDv"] = os.path.abspath(
                os.path.join(src, _dv_relpath(d))
            )
            d["storageType"] = "p"
            c["deletionVector"] = d
        actions.append({"add": c})
    return _publish_commit(_log_dir(dst), actions, 0)


def read_delta_cdf(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Delta CHANGE DATA FEED: row-level changes between two versions,
    each row tagged `_change_type` (insert / update_preimage /
    update_postimage / delete) + `_commit_version`. Per the protocol's
    reconciliation rules: a commit carrying `cdc` actions is represented
    ONLY by its change files; a pure-append commit derives inserts from
    its add actions (no cdc written for appends — the common case stays
    write-cheap); a data-changing remove without cdc refuses loudly (the
    table wasn't CDF-enabled when that commit ran). One Spark scan per
    version over change/add files — CDC volume scales with the CHANGES,
    never the table, which is what makes downstream incremental syncs
    O(delta) at 100 TB."""
    log_dir = _log_dir(path)
    vs = _committed_versions(log_dir)
    if not vs:
        raise FileNotFoundError(f"no Delta commits under {log_dir}")
    if from_version < vs[0]:
        # vacuum(retain_versions=N) trimmed the JSONs below vs[0]; the
        # changes of those versions are GONE. Skipping them would hand
        # an incremental consumer a silently incomplete feed — fail
        # loudly so it re-bootstraps from a full snapshot instead.
        raise ValueError(
            f"change data for versions {from_version}..{vs[0] - 1} has "
            "been vacuumed; re-bootstrap from a snapshot and resume from "
            f"version {vs[0]}"
        )
    if to_version is None:
        to_version = vs[-1]
    _, meta, _ = _replay(path, to_version)
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    # columnMapping: every generation of change/data files carries the
    # FROZEN physical names (the rename upgrade sets physical := the
    # then-current logical name), so ONE physical schema reads the
    # whole feed and one rename pass surfaces the end-version logical
    # names — no per-version translation needed
    mapping = _column_mapping(meta)
    cdc_renames = [
        (mapping[f.name], f.name)
        for f in schema.fields
        if mapping.get(f.name, f.name) != f.name
    ]
    cdc_schema = T.StructType(
        [
            T.StructField(mapping.get(f.name, f.name), f.dataType, True)
            for f in schema.fields
        ]
        + [T.StructField("_change_type", T.StringType())]
    )
    out_schema = T.StructType(
        cdc_schema.fields + [T.StructField("_commit_version", T.LongType())]
    )
    pcols = meta.get("partitionColumns") or []
    phys_pcols = {mapping.get(c, c) for c in pcols}
    cdc_data_schema = T.StructType(
        [f for f in cdc_schema.fields if f.name not in phys_pcols]
    )
    frames: list[DataFrame] = []
    for v in vs:
        if v < from_version or v > to_version:
            continue
        cdc, adds, removes = _data_changes(_commit_actions(log_dir, v))
        if cdc:
            # change files of partitioned tables sit under
            # _change_data/<col>=<v>/ with the partition columns in
            # partitionValues only; older commits wrote one flat layout
            # (partitionValues {}, partition columns inside the file)
            parts = []
            for hive in (False, True):
                files = [
                    c
                    for c in cdc
                    if bool(pcols and c.get("partitionValues")) == hive
                ]
                if not files:
                    continue
                df = spark.read.schema(
                    cdc_data_schema if hive else cdc_schema
                ).parquet(
                    *[
                        os.path.join(path, urllib.parse.unquote(c["path"]))
                        for c in files
                    ]
                )
                for phys, logical in cdc_renames:
                    df = df.withColumnRenamed(phys, logical)
                if hive:
                    df = _attach_partition_cols(spark, df, files, meta, path)
                parts.append(df.select(*schema.names, "_change_type"))
            df = reduce(lambda a, b: a.unionByName(b), parts)
        elif removes:
            raise ValueError(
                f"version {v} contains data-changing removes but no change "
                "data (change data feed was not enabled for that commit)"
            )
        elif adds:
            # partition columns live in partitionValues, not the data
            # files — reattach them or partitioned appends would feed
            # NULL partition values to CDF consumers
            df = _attach_partition_cols(
                spark,
                _scan_adds_logical(spark, adds, meta, path),
                adds,
                meta,
                path,
            ).select(*[f.name for f in schema.fields]).withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            continue  # metadata-only commit
        frames.append(df.withColumn("_commit_version", F.lit(v).cast("long")))
    if not frames:
        return spark.createDataFrame([], out_schema)
    return reduce(lambda a, b: a.unionByName(b), frames)


def vacuum_delta(path: str, retain_versions: int | None = None) -> list[str]:
    """Delta VACUUM: delete data files that are not live in any retained
    version. Default (None) removes only files referenced by NO committed
    version (crashed-writer orphans) — every tombstoned-but-historical
    file stays readable for time travel. With retain_versions=N, files
    live only in versions older than the newest N are reclaimed and the
    stale commit JSONs are dropped after a checkpoint of the oldest
    retained version (replay stays resolvable), so older time travel
    fails loudly rather than half-resolving. Returns deleted relative
    paths."""
    log_dir = _log_dir(path)
    vs = _committed_versions(log_dir)
    if not vs:
        return []
    if retain_versions is not None and len(vs) > retain_versions:
        keep = vs[-retain_versions:]
        checkpoint_delta(path, keep[0])
        acts = [{"add": a} for v in keep for a in delta_live_files(path, v)]
        for v in vs[: len(vs) - retain_versions]:
            os.unlink(os.path.join(log_dir, f"{v:020d}.json"))
        for n in list(os.listdir(log_dir)):
            if n.endswith(".checkpoint.parquet") and int(n[:20]) < keep[0]:
                os.unlink(os.path.join(log_dir, n))
        # change-data files of RETAINED commits stay readable; cdc of
        # dropped commits loses its reference here and is reclaimed below
        acts += [a for v in keep for a in _commit_actions(log_dir, v) if "cdc" in a]
    else:
        # referenced by ANY committed version: every commit's and
        # checkpoint's actions (never the replayed tail: post-checkpoint
        # replay forgets removed-then-checkpointed history)
        acts = [a for v in vs for a in _commit_actions(log_dir, v)]
        for n in os.listdir(log_dir):
            if n.endswith(".checkpoint.parquet"):
                acts += _checkpoint_actions(os.path.join(log_dir, n))
    referenced: set[str] = set()
    for a in acts:
        f = a.get("add") or a.get("cdc")
        if f:
            referenced.add(urllib.parse.unquote(f["path"]))
            if f.get("deletionVector"):
                referenced.add(_dv_relpath(f["deletionVector"]))
    deleted = []
    for dirpath, _dirs, names in os.walk(path):
        if "_delta_log" in dirpath:
            continue
        for n in names:
            if not (
                n.endswith(".parquet")
                or (n.startswith("deletion_vector_") and n.endswith(".bin"))
            ):
                continue
            if n.endswith("-deletes.parquet"):
                # Iceberg positional-delete files of a UniForm dual
                # publish — owned by the Iceberg metadata tree, never
                # referenced by Delta adds; reclaiming them would
                # resurrect rows for Iceberg readers
                continue
            rel = os.path.relpath(os.path.join(dirpath, n), path)
            if rel not in referenced:
                os.unlink(os.path.join(dirpath, n))
                deleted.append(rel)
    return deleted


# ---------------------------------------------------------------------------
# TableLog roots written before a TableLog was stored as Delta
# ---------------------------------------------------------------------------
_OLD_COMMIT = re.compile(r"^(\d{20})\.json$")
_OLD_CHECKPOINT = re.compile(r"^(\d{20})\.checkpoint\.json$")
_OLD_LOG_META = ("constraints", "columnMapping", "columnTypes")


def _old_log_actions(log_file: str) -> list[dict]:
    """The actions of one old TableLog commit or JSON checkpoint.

    - An application's own metaData key with an int value (the ANN
      index's `ann_indexed_version`) becomes a txn mark of that name.
    - Logs written before partition values were decoded hold the raw
      hive dir string (`a%2Fb`, `__HIVE_DEFAULT_PARTITION__`): a logged
      value equal to the raw `k=<raw>` segment of its add's own path
      becomes the value that segment stands for. A decoded value differs
      from its raw segment only when decoding changed it, so newer logs
      read unchanged."""
    with open(log_file) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    out: list[dict] = []
    for a in acts:
        md = a.get("metaData")
        if md is not None:
            out += [
                {"txn": {"appId": k, "version": v}}
                for k, v in md.items()
                if k not in _OLD_LOG_META and isinstance(v, int)
            ]
            a = {"metaData": {k: v for k, v in md.items() if k in _OLD_LOG_META}}
        out.append(a)
        add = a.get("add")
        if not add or not add.get("partitionValues"):
            continue
        pv = add["partitionValues"]
        for seg in add["path"].split(os.sep)[:-1]:
            k, _, raw = seg.partition("=")
            if pv.get(k) == raw:
                pv[k] = hive_dir_value(raw)
    return out


def _old_log_schema(data_dir: str, files: list[dict]) -> T.StructType:
    """The schema an old TableLog read gave its live `files`: one Spark
    read per staging dir (basePath is the dir above the first `k=v`
    segment, so partition discovery types the partition columns as
    those reads did: int, decimal, date, timestamp, ...), unioned by
    name."""
    if not files:
        return T.StructType([])
    from atlas_migration_repo_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    groups: dict[str, list[str]] = {}
    for f in files:
        segs = f["path"].split(os.sep)[:-1]
        base = os.sep.join(itertools.takewhile(lambda s: "=" not in s, segs))
        groups.setdefault(base, []).append(os.path.join(data_dir, f["path"]))
    parts = [
        spark.read.option("basePath", os.path.join(data_dir, b)).parquet(*ps)
        for b, ps in sorted(groups.items())
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts).schema


def _import_source(acts: list[dict]) -> int | None:
    """The old `_log/` version a Delta commit imported; None for any
    other commit."""
    info = next((a["commitInfo"] for a in acts if "commitInfo" in a), {})
    if info.get("operation") != "CONVERT.TABLELOG":
        return None
    return info["operationParameters"]["sourceVersion"]


def _adoption_state(root: str, vs: list[int], ds: list[int]) -> bool | None:
    """None unless `_log/` was written by adopting this root's Delta
    table (its i-th version mirrors Delta's i-th, data paths `../<p>`);
    else whether nothing was committed through it since: its newest
    version mirrors the Delta version at the same position."""
    first, last = (
        _old_log_actions(os.path.join(root, "_log", f"{v:020d}.json"))
        for v in (vs[0], vs[-1])
    )
    seed = [a["add"]["path"] for a in first if "add" in a]
    if not (seed and all(p.startswith("..") for p in seed)) and not any(
        a.get("commitInfo", {}).get("operation") == "ADOPT.EMPTY" for a in first
    ):
        return None
    n = len(vs) - 1
    if n == 0 or n >= len(ds):
        return n == 0

    def paths(acts: list[dict], rel) -> set:
        return {(k, rel(a[k]["path"])) for a in acts for k in ("add", "remove") if k in a}

    theirs = _commit_actions(_log_dir(root), ds[n])
    return not any("metaData" in a for a in last) and paths(
        last, lambda p: os.path.normpath(os.path.join("data", p))
    ) == paths(theirs, urllib.parse.unquote)


def import_tablelog_log(root: str) -> int | None:
    """Give an old TableLog root (JSON commits under `_log/`, files under
    `data/`) a `_delta_log` over the same files, history preserved — the
    CONVERT TO DELTA run when such a root is opened, until it is done.
    Old version v becomes Delta commit v, claimed at exactly that number:
    a commit already there must be the import of v (another opener
    importing at the same time, or one that stopped part-way), else the
    logs diverged (the table was converted to or adopted from Delta and
    written through both) and ValueError is raised. An `_log/` left by
    adopting the Delta table, with nothing committed through it since,
    is not imported. Commits carry `data/`-prefixed adds and removes,
    stats JSON strings, decoded partition values and txn marks
    (application watermarks included); the first carries the LATEST
    protocol and metaData, as Delta's snapshot conversion does:
    - CHECK constraints land in configuration as `delta.constraints.c<i>`;
    - a RENAME history converts through column mapping (mode=name,
      protocol 2/5): each field's physicalName is the name its files
      carry, so pre-rename versions read under the new names;
    - a WIDEN history converts through the typeWidening feature
      (protocol 3/7), and narrower files promote at scan.
    A retention-trimmed history starts at its oldest surviving version,
    seeded from the state resolved there, with a Delta checkpoint there
    (real Delta readers refuse a log that neither starts at 0 nor has
    one). No data file is copied. Returns the newest version or None."""
    old = os.path.join(root, "_log")
    names = os.listdir(old) if os.path.isdir(old) else []
    vs = sorted(int(m.group(1)) for n in names if (m := _OLD_COMMIT.match(n)))
    if not vs:
        return None
    log_dir = _log_dir(root)
    ds = _committed_versions(log_dir)
    diverged = ValueError(
        f"{root}: `_delta_log/` is not the import of `_log/`; both logs were "
        "written after a conversion or adoption, so neither holds the table"
    )
    if ds:
        adopted = _adoption_state(root, vs, ds)
        if adopted is not None:
            if adopted:
                return None
            raise diverged
        done = vs[0] == 0 or os.path.exists(os.path.join(log_dir, "_last_checkpoint"))
        if ds[-1] >= vs[-1] and done:
            if vs[-1] in ds and _import_source(_commit_actions(log_dir, vs[-1])) != vs[-1]:
                raise diverged
            return vs[-1]  # imported (later JSON commits may be trimmed)
        if ds[: len(vs)] != vs[: len(ds)]:
            raise diverged
    commits = {v: _old_log_actions(os.path.join(old, f"{v:020d}.json")) for v in vs}
    cps = [int(m.group(1)) for n in names if (m := _OLD_CHECKPOINT.match(n))]
    cp = max((c for c in cps if c <= vs[0]), default=-1)
    seed = []
    if cp >= 0:
        seed = _old_log_actions(os.path.join(old, f"{cp:020d}.checkpoint.json"))
    if vs[0] > cp:
        seed += commits[vs[0]]

    def fold(acts: list[dict]) -> tuple[dict, dict, dict]:
        """(live adds by path, latest metaData of each kind, txn marks)"""
        live: dict = {}
        md: dict = {}
        txns: dict = {}
        for a in acts:
            if "add" in a:
                live[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
            elif "txn" in a:
                t = a["txn"]
                txns[t["appId"]] = max(int(t["version"]), txns.get(t["appId"], -1))
            md.update(a.get("metaData") or {})
        return live, md, txns

    seed_live, _, seed_txns = fold(seed)
    live, md, _ = fold(seed + [a for v in vs[1:] for a in commits[v]])
    cmap = md.get("columnMapping") or {}  # physical -> logical
    ctypes = md.get("columnTypes") or {}  # physical -> widened type
    files = sorted(live.values(), key=lambda f: f["path"])
    pcols = next(
        (sorted(f["partitionValues"]) for f in files if f.get("partitionValues")), []
    )
    physical = _old_log_schema(os.path.join(root, "data"), files)
    fields = []
    for i, f in enumerate(physical.fields):
        md_f: dict = {}
        if cmap:
            md_f["delta.columnMapping.id"] = i + 1
            md_f["delta.columnMapping.physicalName"] = f.name
        if f.name in ctypes:
            md_f["delta.typeChanges"] = [{"toType": ctypes[f.name]}]
        dtype = _parse_simple_type(ctypes[f.name]) if f.name in ctypes else f.dataType
        fields.append(T.StructField(cmap.get(f.name, f.name), dtype, True, md_f))
    features = [
        n for n, used in (("columnMapping", cmap), ("typeWidening", ctypes)) if used
    ]
    protocol = dict(_PROTOCOL)
    if ctypes:  # table features need the 3/7 representation
        protocol = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": features,
            "writerFeatures": features,
        }
    elif cmap:
        protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
    conf = {
        f"delta.constraints.c{i}": e for i, e in enumerate(md.get("constraints") or [])
    }
    if conf:
        protocol = _constraints_protocol(protocol) or protocol
    if cmap:
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(len(fields))
    if ctypes:
        conf["delta.enableTypeWidening"] = "true"
    now_ms = int(time.time() * 1000)

    def delta_actions(acts: list[dict]) -> list[dict]:
        out = []
        for a in acts:
            kind = next((k for k in ("add", "remove", "txn") if k in a), None)
            if kind == "txn":
                out.append({"txn": {**a["txn"], "lastUpdated": now_ms}})
            elif kind:
                x = a[kind]
                path = os.path.normpath(os.path.join("data", x["path"]))
                entry = {
                    "path": urllib.parse.quote(path),
                    "dataChange": x.get("dataChange", True),
                }
                if kind == "add":
                    entry.update(
                        partitionValues=x.get("partitionValues") or {},
                        size=x.get("size", 0),
                        modificationTime=now_ms,
                        stats=json.dumps(x.get("stats") or {}, sort_keys=True),
                    )
                else:
                    entry["deletionTimestamp"] = now_ms
                out.append({kind: entry})
        return out

    store = resolve_log_store()
    os.makedirs(log_dir, exist_ok=True)
    store.recover(log_dir)
    for v in vs:
        dacts: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CONVERT.TABLELOG",
                    "operationParameters": {"sourceVersion": v},
                }
            }
        ]
        if v == vs[0]:
            meta = {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": T.StructType(fields).json(),
                "partitionColumns": pcols,
                "configuration": conf,
                "createdTime": now_ms,
            }
            dacts += [{"protocol": protocol}, {"metaData": meta}]
            dacts += delta_actions(
                [{"add": f} for f in seed_live.values()]
                + [{"txn": {"appId": a, "version": x}} for a, x in seed_txns.items()]
            )
        else:
            dacts += delta_actions(commits[v])
        tmp = _stage_commit(log_dir, dacts)
        try:
            won = _publish_exact(store, tmp, v)
        finally:
            os.unlink(tmp)
        if not won:
            theirs = _commit_actions(log_dir, v)
            their_meta = next((a["metaData"] for a in theirs if "metaData" in a), {})
            if _import_source(theirs) != v or (
                v == vs[0] and not _same_table(their_meta, meta)
            ):
                raise diverged
        if v == vs[0] and v > 0:
            checkpoint_delta(root, v)
    return vs[-1]


def convert_tablelog_to_delta(spark: SparkSession, tlog) -> int:
    """CONVERT TO DELTA of a TableLog: nothing left to do, since a
    TableLog is a Delta table (an old `_log` root was imported when
    `tlog` opened it). Returns the table's Delta version."""
    return _raw_actions(tlog.root)[0]


# ---------------------------------------------------------------------------
def publish_delta_log_from_iceberg(spark: SparkSession, path: str) -> int:
    """Reverse UniForm (VERDICT r5 #6): give an existing ICEBERG table a
    `_delta_log` over the SAME data files — one copy of the data, two
    protocol front doors, for migrations that LAND in Iceberg but must
    keep serving Delta readers. The current Iceberg snapshot becomes
    Delta commit 0: protocol + metaData (current schema, identity
    partition columns) + one add action per live data file carrying the
    manifest's partition values and footer-harvested stats.

    Refuses when the publish could lie to a Delta reader:
    - a `_delta_log` already exists (this is a one-time adoption);
    - live row-level DELETE files (v2 merge-on-read) — adds over the
      raw files would resurrect deleted rows; run rewrite_iceberg
      first, the documented bridge (twin of the DV refusal in
      publish_iceberg_metadata_from_delta);
    - a renamed column in schema history — files written under the old
      name resolve by field id in Iceberg, which Delta reader/writer
      1/2 (no column mapping) cannot do;
    - identity partitioning on date/timestamp sources — the manifest
      stores ordinal ints where Delta expects calendar strings.

    Hidden-transform partition fields (year/month/bucket) publish as an
    UNPARTITIONED Delta table: their source columns live physically in
    every data file, so results stay correct — only partition pruning
    is narrower through the Delta door. Returns the Delta version (0).
    """
    log_dir = _log_dir(path)
    if _committed_versions(log_dir):
        raise FileExistsError(f"{log_dir} already holds Delta commits")
    spark_schema, identity, adds_by_rel = _delta_state_from_iceberg(path)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CONVERT",
                "operationParameters": {
                    "sourceFormat": "iceberg",
                    "icebergSnapshot": _ice_current_snapshot_id(path),
                },
            }
        },
        {"protocol": dict(_PROTOCOL)},
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": spark_schema.json(),
                "partitionColumns": [pf["name"] for pf in identity],
                "configuration": {},
                "createdTime": now_ms,
            }
        },
    ]
    actions.extend({"add": a} for _, a in sorted(adds_by_rel.items()))
    return _publish_commit(log_dir, actions, 0)


def _ice_current_snapshot_id(path: str) -> int:
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _current_metadata,
    )

    return _current_metadata(path)[1]["current-snapshot-id"]


def _delta_state_from_iceberg(path: str):
    """(spark schema, identity partition fields, {relpath: add action})
    for the CURRENT Iceberg snapshot — the shared resolution half of the
    reverse-UniForm publish and sync, including every could-lie-to-a-
    Delta-reader guard (live delete files, renamed columns, ordinal-
    encoded date/timestamp identity partitions)."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _ICE_TO_SPARK,
        _spec_part_fields,
        iceberg_live_state,
    )

    meta, datas, dels = iceberg_live_state(path)
    if dels:
        raise ValueError(
            "reverse UniForm: table has live row-level delete files; run "
            "rewrite_iceberg first so both protocol readers see the same "
            "rows"
        )
    schema_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    cur_names = {f["id"]: f["name"] for f in schema_fields}
    for sch in meta["schemas"]:
        for f in sch["fields"]:
            if f["id"] in cur_names and cur_names[f["id"]] != f["name"]:
                raise ValueError(
                    f"column {f['name']!r} was renamed to "
                    f"{cur_names[f['id']]!r}; data files carry the old "
                    "name and Delta reader 1 has no column mapping to "
                    "resolve it — rewrite the table first"
                )
    part_fields = _spec_part_fields(meta, schema_fields)
    identity = [pf for pf in part_fields if pf["transform"] == "identity"]
    for pf in identity:
        if pf["ice_type"] in ("date", "timestamp", "timestamptz"):
            raise NotImplementedError(
                f"identity partition on {pf['ice_type']} column "
                f"{pf['source']!r}: Iceberg manifests store ordinal "
                "ints where Delta partitionValues need calendar strings"
            )
    spark_schema = T.StructType(
        [
            T.StructField(f["name"], _ICE_TO_SPARK[f["type"]], True)
            for f in schema_fields
        ]
    )
    now_ms = int(time.time() * 1000)
    adds_by_rel: dict[str, dict] = {}
    for d in datas:
        f = d["data_file"]
        fp = f["file_path"]
        pv: dict[str, str | None] = {}
        for pf in identity:
            v = (f["partition"] or {}).get(pf["name"])
            if v is None:
                pv[pf["name"]] = None
            elif isinstance(v, bool):
                pv[pf["name"]] = "true" if v else "false"
            else:
                pv[pf["name"]] = str(v)
        rel = os.path.relpath(fp, path)
        adds_by_rel[rel] = {
            "path": urllib.parse.quote(rel),
            "partitionValues": pv,
            "size": f["file_size_in_bytes"],
            "modificationTime": int(os.path.getmtime(fp) * 1000),
            "dataChange": True,
            "stats": _add_stats(file_footer(fp)),
        }
    return spark_schema, identity, adds_by_rel


def sync_delta_log_from_iceberg(spark: SparkSession, path: str) -> int:
    """Keep a reverse-UniForm table's `_delta_log` CURRENT: Iceberg
    commits made after the initial publish don't exist for Delta
    readers until this runs. The sync commits the FILE-LEVEL diff —
    removes for Delta-live files the Iceberg snapshot no longer holds,
    adds for new ones — plus a metaData action when the Iceberg schema
    evolved (additive; renames refuse via the shared guards). A sync
    with nothing to say returns the current version without committing.
    Metadata-only: no data file is read or written (stats come from
    parquet footers of the NEW files only). Twin of
    sync_iceberg_metadata_from_delta."""
    log_dir = _log_dir(path)
    if not _committed_versions(log_dir):
        raise FileNotFoundError(
            f"{log_dir} holds no Delta commits; run "
            "publish_delta_log_from_iceberg first"
        )
    spark_schema, identity, adds_by_rel = _delta_state_from_iceberg(path)
    v, dmeta, live = _replay(path)
    live_by_rel = {urllib.parse.unquote(a["path"]): a for a in live}
    gone = sorted(set(live_by_rel) - set(adds_by_rel))
    new = sorted(set(adds_by_rel) - set(live_by_rel))
    schema_changed = dmeta["schemaString"] != spark_schema.json()
    if not gone and not new and not schema_changed:
        return v
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CONVERT SYNC",
                "operationParameters": {
                    "sourceFormat": "iceberg",
                    "icebergSnapshot": _ice_current_snapshot_id(path),
                },
            }
        }
    ]
    if schema_changed:
        new_meta = dict(dmeta)
        new_meta["schemaString"] = spark_schema.json()
        new_meta["partitionColumns"] = [pf["name"] for pf in identity]
        actions.append({"metaData": new_meta})
    for rel in gone:
        actions.append(
            {
                "remove": {
                    "path": live_by_rel[rel]["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    actions.extend({"add": adds_by_rel[rel]} for rel in new)
    return _publish_commit(log_dir, actions, _next_version(log_dir))


# registered queries (each rebuilds its fixture idempotently per call)
# ---------------------------------------------------------------------------
@query(
    "delta_sink_txn",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def delta_sink_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once landing through transaction identifiers: three
    order batches append with txn=("feed", i), then batch 1 REPLAYS
    with the same mark — the duplicate is a committed no-op, so the
    landed table equals the source exactly (the foreachBatch
    restart-safety contract, batch-shaped)."""
    root = scratch_path(sf_dir, "orders_delta_sink_txn")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    batches = [orders.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    write_delta(batches[0], root, mode="append", txn=("feed", 0))
    write_delta(batches[1], root, mode="append", txn=("feed", 1))
    write_delta(batches[1], root, mode="append", txn=("feed", 1))  # replay
    write_delta(batches[2], root, mode="append", txn=("feed", 2))
    return read_delta(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "delta_roundtrip",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta write → log replay → read: land orders as a real
    `_delta_log` table (protocol/metaData/add actions, stats strings),
    read it back through the protocol reader. Values round-trip exactly
    (parquet doubles bit-preserved), so the oracle is the source table."""
    root = scratch_path(sf_dir, "orders_delta")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_delta(df, root)
    return read_delta(spark, root)


@query(
    "delta_partition_pruning",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def delta_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Delta table + METADATA-level pruning: files for the
    non-matching priorities are dropped from the add-action list before
    Spark ever sees a path (the scan's input is only the 1-URGENT files).
    Partition column values come from the log, not the dir layout."""
    root = scratch_path(sf_dir, "orders_delta_part")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_delta(df, root, partition_by=["o_orderpriority"])
    pruned = read_delta(
        spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


def read_delta_range(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Skip-aware range read: prune files from LOG STATISTICS (no
    listing, no footer reads), read the survivors through read_delta's
    core (column mapping, DV masks, partition columns), then apply the
    exact predicate — skipping narrows, the predicate decides."""
    _, meta, adds = _replay(path, version)
    return _read_adds(
        spark, path, meta, _adds_in_range(meta, adds, column, lo, hi)
    ).where(F.col(column).between(F.lit(lo), F.lit(hi)))


_TT_CUT = "1997-01-01"


@query(
    "delta_time_travel",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '{_TT_CUT} 00:00:00'
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta time travel across three commits: v0 = orders before
    {CUT}, v1 = append of the rest, v2 = OVERWRITE with only status-F
    rows (remove tombstones for every v1 file). Reading AS OF each
    version proves add/remove reconciliation is per-version exact."""
    root = scratch_path(sf_dir, "orders_delta_tt")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    write_delta(orders.where(F.col("o_orderdate") < _TT_CUT), root)
    write_delta(orders.where(F.col("o_orderdate") >= _TT_CUT), root, mode="append")
    write_delta(orders.where(F.col("o_orderstatus") == "F"), root, mode="overwrite")
    outs = []
    for v in (0, 1, 2):
        agg = read_delta(spark, root, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(v).alias("version"), "n_rows", "total"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "delta_rename_travel",
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
def delta_rename_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-native RENAME across time travel (columnMapping mode=name):
    v0 = pre-1997 orders; rename_delta_column upgrades the table to
    column mapping and renames o_totalprice → price_usd (metadata-only,
    physical name frozen, zero files rewritten); later orders append
    THROUGH THE MAPPED WRITE PATH (staged under physical names). The
    latest read aggregates price_usd over both generations of files,
    while version 0 still surfaces o_totalprice — the Delta twin of
    iceberg_rename_travel and the TableLog rename machinery."""
    root = scratch_path(sf_dir, "orders_delta_rename")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    cut = "1997-01-01"
    write_delta(
        orders.where(F.col("o_orderdate") < cut).drop("o_orderdate"),
        root,
        mode="append",
    )
    rename_delta_column(root, "o_totalprice", "price_usd")
    write_delta(
        orders.where(F.col("o_orderdate") >= cut)
        .select("o_orderkey", F.col("o_totalprice").alias("price_usd")),
        root,
        mode="append",
    )
    outs = []
    for snap, col, kw in (
        (0, "o_totalprice", {"version": 0}),
        (1, "price_usd", {}),
    ):
        agg = read_delta(spark, root, **kw).agg(
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
    "delta_widen_travel",
    oracle="""
    SELECT 0 AS snap, 'int' AS key_type, COUNT(*) AS n_rows,
           SUM(CAST(o_orderkey AS BIGINT)) AS key_sum
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    UNION ALL
    SELECT 1 AS snap, 'bigint' AS key_type, COUNT(*) AS n_rows,
           SUM(CAST(o_orderkey AS BIGINT)) AS key_sum
    FROM orders
    """,
)
def delta_widen_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-native TYPE WIDENING across time travel: v0 lands the key
    as INT; widen_delta_column(int → bigint) commits metadata only
    (typeWidening feature, zero files rewritten); later orders append
    as BIGINT. The latest read promotes the pre-widen int32 files at
    scan and sums exactly over both generations, while version 0 still
    surfaces the INT type — the reported key_type comes from the read
    schema itself, so the oracle hash verifies the type travel."""
    root = scratch_path(sf_dir, "orders_delta_widen")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    cut = "1997-01-01"
    write_delta(
        orders.where(F.col("o_orderdate") < cut)
        .select(F.col("o_orderkey").cast("int").alias("okey")),
        root,
        mode="append",
    )
    widen_delta_column(root, "okey", "bigint")
    write_delta(
        orders.where(F.col("o_orderdate") >= cut)
        .select(F.col("o_orderkey").cast("bigint").alias("okey")),
        root,
        mode="append",
    )
    outs = []
    for snap, kw in ((0, {"version": 0}), (1, {})):
        df = read_delta(spark, root, **kw)
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("okey").cast("bigint")).alias("key_sum"),
            ).select(
                F.lit(snap).alias("snap"),
                F.lit(df.schema["okey"].dataType.simpleString()).alias(
                    "key_type"
                ),
                "n_rows",
                "key_sum",
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "delta_checkpoint_read",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def delta_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed Delta log: 4 append commits (customer sliced by
    key%4), a V1 parquet checkpoint at v2 + `_last_checkpoint`, then one
    more append — the read replays checkpoint(v2) + commits v3, not the
    full JSON history (a unit test deletes the pre-checkpoint JSONs to
    prove the checkpoint path carries the state)."""
    root = scratch_path(sf_dir, "customer_delta_cp")
    shutil.rmtree(root, ignore_errors=True)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    for m in (0, 1, 2):
        write_delta(
            cust.where(F.col("c_custkey") % 4 == m),
            root,
            mode="append" if m else "overwrite",
        )
    checkpoint_delta(root)
    write_delta(cust.where(F.col("c_custkey") % 4 == 3), root, mode="append")
    return read_delta(spark, root)


@query(
    "delta_checkpoint_v2",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def delta_checkpoint_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 SPEC CHECKPOINT: 3 append commits, then checkpoint_delta_v2
    lands a protocol upgrade (3/7 + v2Checkpoint), parquet SIDECAR files
    under `_delta_log/_sidecars/` holding the adds, and a top-level
    `<v>.checkpoint.<uid>.parquet` with checkpointMetadata + sidecar
    actions; one more append follows. The read resolves the V2 top-level
    (newest checkpoint <= target), expands the sidecars, and replays
    only the post-checkpoint JSON — a unit test deletes the
    pre-checkpoint JSONs to prove the sidecar path carries the state."""
    root = scratch_path(sf_dir, "customer_delta_cp_v2")
    shutil.rmtree(root, ignore_errors=True)
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    for m in (0, 1, 2):
        write_delta(
            cust.where(F.col("c_custkey") % 4 == m),
            root,
            mode="append" if m else "overwrite",
        )
    checkpoint_delta_v2(root, n_sidecars=2)
    write_delta(cust.where(F.col("c_custkey") % 4 == 3), root, mode="append")
    return read_delta(spark, root)


@query(
    "delta_merge",
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
def delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO through the Delta protocol (the TableLog.merge twin,
    same semantics and oracle as merge_versioned): v0 = orders landed
    range-clustered on o_orderkey across 8 files; one merge_delta
    commits updates (keys %4==1 finalize at +5%) and inserts (keys
    %1000==7 re-keyed) — rewriting ONLY the files that contain matched
    keys (a unit test asserts untouched files survive byte-identical).
    Reading both versions proves snapshot isolation."""
    root = scratch_path(sf_dir, "orders_delta_merge")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    write_delta(orders, root)
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
    merge_delta(spark, root, src, key="o_orderkey")
    outs = []
    for v in (0, 1):
        agg = read_delta(spark, root, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(
            agg.select(F.lit(v).cast("long").alias("version"), "n_rows", "total")
        )
    return outs[0].unionByName(outs[1])


@query(
    "delta_merge_partitioned",
    oracle=f"""
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 1 THEN '1-URGENT'
                  ELSE o_orderpriority END AS o_orderpriority,
             CASE WHEN o_orderkey % 4 = 1 THEN
                    CAST(CAST(o_totalprice AS DECIMAL(18,2))
                         * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      UNION ALL
      SELECT o_orderkey + 40000000, '5-LOW', o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 7
    )
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM merged GROUP BY o_orderpriority
    """,
)
def delta_merge_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO a hive-PARTITIONED Delta table: v0 = orders
    partitioned by o_orderpriority; one merge updates keys %4==1
    (finalize at +5% AND move them to the 1-URGENT partition — a
    partition-moving update) and inserts re-keyed 5-LOW rows. The
    rewrite stays scoped to files containing matched keys, replacement
    files land back in hive layout with partitionValues recorded, and
    the per-partition aggregate must match the oracle exactly."""
    root = scratch_path(sf_dir, "orders_delta_merge_part")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    write_delta(orders, root, partition_by=["o_orderpriority"])
    k = F.col("o_orderkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    src = (
        orders.where(k % 4 == 1)
        .select(
            "o_orderkey",
            F.lit("1-URGENT").alias("o_orderpriority"),
            (price_dec * F.expr("CAST(1.05 AS DECIMAL(3,2))"))
            .cast("double")
            .alias("o_totalprice"),
        )
        .unionByName(
            orders.where(k % 1000 == 7).select(
                (k + 40000000).alias("o_orderkey"),
                F.lit("5-LOW").alias("o_orderpriority"),
                "o_totalprice",
            )
        )
    )
    merge_delta(spark, root, src, key="o_orderkey")
    return (
        read_delta(spark, root)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
    )


@query(
    "delta_stats_skipping",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
    """,
)
def delta_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping from the DELTA log's stats strings: orders land
    range-clustered on o_orderdate (repartitionByRange → tight per-file
    envelopes), a year-long range read prunes files from log metadata
    alone (a unit test asserts the pruned set is a strict subset), and
    the exact predicate decides the survivors' rows."""
    root = scratch_path(sf_dir, "orders_delta_skip")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_delta(orders, root)
    got = read_delta_range(
        spark,
        root,
        "o_orderdate",
        "1996-01-01 00:00:00",
        "1996-12-31 23:59:59",
    )
    return got.agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


@query(
    "delta_delete_range",
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
def delta_delete_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range DELETE through the Delta protocol: orders land
    range-clustered on o_orderdate, then the 1996 year is deleted —
    interior files tombstone from STATS alone (never read), boundary
    files rewrite their survivors, disjoint files stay (the three-way
    split is unit-asserted). v0 still reads the full table (snapshot
    isolation)."""
    root = scratch_path(sf_dir, "orders_delta_del")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_delta(orders, root)
    delete_delta_range(
        spark, root, "o_orderdate", "1996-01-01 00:00:00", "1996-12-31 23:59:59"
    )
    outs = []
    for v in (0, 1):
        agg = read_delta(spark, root, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(v).alias("version"), "n_rows", "total"))
    return outs[0].unionByName(outs[1])


@query(
    "delta_schema_evolution",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
    FROM customer
    """,
)
def delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the Delta log (mergeSchema): v0
    lands (key, name), v1 appends rows that also carry c_acctbal and
    commits a widened metaData schemaString. The read resolves the
    MERGED schema — v0 files return null for the new column; dropping
    or retyping a column refuses loudly (unit-tested)."""
    root = scratch_path(sf_dir, "customer_delta_evol")
    shutil.rmtree(root, ignore_errors=True)
    cust = load(spark, sf_dir, "customer")
    write_delta(
        cust.where(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name"),
        root,
    )
    write_delta(
        cust.where(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_name", "c_acctbal"
        ),
        root,
        mode="append",
    )
    return read_delta(spark, root)


def _stream_latest(root: str) -> int | None:
    """Newest committed version — the Delta streams' latest offset."""
    vs = _committed_versions(_log_dir(root))
    return vs[-1] if vs else None


def _versions_after(root: str, lo: int | None, hi: int) -> list[int]:
    lo = -1 if lo is None else lo
    return [v for v in _committed_versions(_log_dir(root)) if lo < v <= hi]


def _data_file(root: str, rel: str) -> str:
    return os.path.join(root, urllib.parse.unquote(rel))


def _stream_added(root: str, lo: int | None, hi: int) -> list[tuple[str, dict]]:
    """delta_stream's file list: the data files added by versions
    (lo, hi]. A data-changing remove fails the stream."""
    out = []
    for v in _versions_after(root, lo, hi):
        _, adds, removes = _data_changes(_commit_actions(_log_dir(root), v))
        if removes:
            raise RuntimeError(
                f"delta_stream: version {v} is not append-only "
                "(data-changing remove found); restart from a "
                "fresh starting version or stream the change "
                "data feed instead"
            )
        out.extend((_data_file(root, a["path"]), {}) for a in adds)
    return out


def _cdf_stream_added(
    root: str, lo: int | None, hi: int
) -> list[tuple[str, dict]]:
    """stream_delta_cdf's file list for versions (lo, hi]: a version's
    `cdc` files when it has them (their rows carry `_change_type`),
    otherwise its added files as inserts, the same reconciliation as
    read_delta_cdf. Removes without change data fail the stream."""
    out = []
    for v in _versions_after(root, lo, hi):
        cdc, adds, removes = _data_changes(_commit_actions(_log_dir(root), v))
        if cdc:
            out.extend(
                (_data_file(root, c["path"]), {"_commit_version": v}) for c in cdc
            )
        elif removes:
            raise RuntimeError(
                f"stream_delta_cdf: version {v} has data-changing "
                "removes but no change data (CDF was not enabled)"
            )
        else:
            out.extend(
                (
                    _data_file(root, a["path"]),
                    {"_change_type": "insert", "_commit_version": v},
                )
                for a in adds
            )
    return out


@query(
    "delta_stream",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def delta_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over a DELTA table through the shared table
    file source (files.table_file_stream): offset = Delta version, each
    micro-batch's partitions are the add-action files of the new commits
    (read executor-side with pyarrow as Arrow batches — data never
    crosses the driver), and a commit containing data-changing remove
    actions fails the stream, Delta's own default for non-append
    changes. Three append commits of orders slices drain in one
    availableNow run into a memory sink whose global aggregate must
    equal the batch oracle."""
    root = scratch_path(sf_dir, "orders_delta_stream")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    mid = "1996-01-01"
    write_delta(orders.where(F.col("o_orderdate") < mid).drop("o_orderdate"), root)
    write_delta(
        orders.where((F.col("o_orderdate") >= mid) & (F.col("o_orderdate") < _TT_CUT))
        .drop("o_orderdate"),
        root,
        mode="append",
    )
    write_delta(
        orders.where(
            (F.col("o_orderdate") >= _TT_CUT) & (F.col("o_orderdate") < "1999-01-01")
        ).drop("o_orderdate"),
        root,
        mode="append",
    )

    stream = table_file_stream(
        spark,
        "delta_log_stream",
        root,
        "o_orderkey bigint, o_totalprice double",
        _stream_latest,
        _stream_added,
    )
    return drain(
        spark,
        sf_dir,
        "delta_stream",
        stream.agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        ),
    )


@query(
    "delta_adopt_tablelog",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '{_TT_CUT} 00:00:00'
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_TT_CUT} 00:00:00'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def delta_adopt_tablelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reverse migration: a foreign DELTA table (two commits) is
    opened as a TableLog — same files, same log, full history — and
    served by TABLELOG machinery: version time travel for v0/v1 and the
    incremental `changes()` feed for the v1 delta (the version=2 output
    row). A user migrating INTO this engine keeps their Delta history
    and gains the TableLog API."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    root = scratch_path(sf_dir, "orders_delta_adopt")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    write_delta(orders.where(F.col("o_orderdate") < _TT_CUT), root)
    write_delta(
        orders.where(
            (F.col("o_orderdate") >= _TT_CUT) & (F.col("o_orderdate") < "1999-01-01")
        ),
        root,
        mode="append",
    )
    t = TableLog(root)
    outs = []
    for v in (0, 1):
        agg = t.read(spark, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(v).alias("version"), "n_rows", "total"))
    cdc = t.changes(spark, from_version=0).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )
    outs.append(cdc.select(F.lit(2).alias("version"), "n_rows", "total"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "delta_convert_tablelog",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '{_TT_CUT} 00:00:00'
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def delta_convert_tablelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA of a TableLog table: two TableLog commits
    (orders < cut partitioned by year, then the [cut, 1999) append) are
    two Delta commits over the same parquet files, so both versions read
    through the DELTA protocol reader reproduce the TableLog per-version
    state."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    root = scratch_path(sf_dir, "orders_tlog2delta")
    shutil.rmtree(root, ignore_errors=True)
    t = TableLog(root)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    ).withColumn("o_year", F.year("o_orderdate"))
    t.append(orders.where(F.col("o_orderdate") < _TT_CUT), partition_by=["o_year"])
    t.append(
        orders.where(
            (F.col("o_orderdate") >= _TT_CUT) & (F.col("o_orderdate") < "1999-01-01")
        ),
        partition_by=["o_year"],
    )
    convert_tablelog_to_delta(spark, t)
    outs = []
    for v in (0, 1):
        agg = read_delta(spark, t.root, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(v).alias("version"), "n_rows", "total"))
    return outs[0].unionByName(outs[1])


@query(
    "delta_cdf",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, 'F' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice,
             o_orderdate
      FROM orders WHERE o_orderkey % 4 = 1
    ), ins AS (
      SELECT o_orderkey + 40000000 AS o_orderkey, 'O' AS o_orderstatus,
             o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 1000 = 7
    ), merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 1 THEN 'F' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 4 = 1 THEN
                    CAST(CAST(o_totalprice AS DECIMAL(18,2))
                         * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate
      FROM orders
      UNION ALL
      SELECT * FROM ins
    )
    SELECT CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE) AS total
    FROM orders
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'update_preimage', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
    FROM orders WHERE o_orderkey % 4 = 1
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'update_postimage', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
    FROM upd
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'insert', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
    FROM ins
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
    FROM merged
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                          AND TIMESTAMP '1996-12-31 23:59:59'
    """,
)
def delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED through the Delta protocol: a CDF-enabled table
    (delta.enableChangeDataFeed=true) takes an initial load, a MERGE
    (pre+post images + inserts as `cdc` actions under _change_data/),
    and a range DELETE (delete images); read_delta_cdf(0) replays every
    version's row-level changes — appends derive inserts from add
    actions without writing any change file. The per-(version, type)
    aggregate must reproduce the oracle's CTE reconstruction of each
    change set."""
    root = scratch_path(sf_dir, "orders_delta_cdf")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderkey")
    )
    write_delta(
        orders, root, configuration={"delta.enableChangeDataFeed": "true"}
    )
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
            "o_orderdate",
        )
        .unionByName(
            orders.where(k % 1000 == 7).select(
                (k + 40000000).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                "o_totalprice",
                "o_orderdate",
            )
        )
    )
    merge_delta(spark, root, src, key="o_orderkey")
    delete_delta_range(
        spark, root, "o_orderdate", "1996-01-01 00:00:00", "1996-12-31 23:59:59"
    )
    return (
        read_delta_cdf(spark, root, 0)
        .groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
    )


@query(
    "stream_delta_cdf",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 4 = 1
    ), ins AS (
      SELECT o_orderkey + 40000000 AS o_orderkey, o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 7
    )
    SELECT CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE) AS total
    FROM orders
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'update_preimage', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
    FROM orders WHERE o_orderkey % 4 = 1
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'update_postimage', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
    FROM upd
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'insert', COUNT(*),
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DECIMAL(38,4)) AS DOUBLE)
    FROM ins
    """,
)
def stream_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over the CHANGE DATA FEED through the shared
    table file source: offset = Delta version; a micro-batch's
    partitions are the version's `cdc` files (or its add files as
    derived inserts, with `_change_type` and `_commit_version` attached
    as constant columns), read executor-side with pyarrow — the
    streaming twin of read_delta_cdf and the pattern a downstream
    incremental materializer runs forever: consume pre/post images,
    never re-scan the table. A CDF-covered MERGE streams cleanly where
    plain delta_stream must fail on the remove actions. One availableNow
    run drains it."""
    root = scratch_path(sf_dir, "orders_delta_cdf_stream")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    write_delta(
        orders, root, configuration={"delta.enableChangeDataFeed": "true"}
    )
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
    merge_delta(spark, root, src, key="o_orderkey")

    stream = table_file_stream(
        spark,
        "delta_cdf_stream",
        root,
        "o_orderkey bigint, o_totalprice double, "
        "_change_type string, _commit_version bigint",
        _stream_latest,
        _cdf_stream_added,
    )
    return drain(
        spark,
        sf_dir,
        "delta_cdf_stream",
        stream.groupBy("_commit_version", "_change_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        ),
    )


@query(
    "delta_optimize",
    oracle=f"""
    SELECT 0 AS phase, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 1 AS phase, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def delta_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE bin-packing: three small appends fragment the table,
    compaction folds the live set into one file as a dataChange=false
    commit. The aggregate must be identical before (time travel) and
    after — OPTIMIZE moves bytes, never data (file-count reduction and
    feed/stream skipping are unit-asserted)."""
    root = scratch_path(sf_dir, "orders_delta_opt")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    third = F.col("o_orderkey") % 3
    write_delta(orders.where(third == 0).repartition(4), root)
    write_delta(orders.where(third == 1).repartition(4), root, mode="append")
    write_delta(orders.where(third == 2).repartition(4), root, mode="append")
    pre_v = optimize_delta(spark, root) - 1
    outs = []
    for phase, v in ((0, pre_v), (1, None)):
        agg = read_delta(spark, root, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(phase).alias("phase"), "n_rows", "total"))
    return outs[0].unionByName(outs[1])


@query(
    "delta_zorder",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
    """,
)
def delta_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY (o_custkey, o_orderdate): the table lands
    insertion-ordered (scattered on both columns), the z-order rewrite
    re-clusters it, and a log-stats range read on o_custkey — a column
    the ORIGINAL layout could never skip on — returns the exact
    answer over only the surviving files. Pruning strictness on BOTH
    z columns is unit-asserted (test_zorder_clusters_both_columns);
    here the oracle pins the values."""
    root = scratch_path(sf_dir, "orders_delta_zorder")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    write_delta(orders.repartition(8), root)
    optimize_delta(
        spark, root, target_files=8, zorder_by=["o_custkey", "o_orderdate"]
    )
    got = read_delta_range(spark, root, "o_custkey", 100, 400)
    return got.agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


_DV_PRED = "o_orderstatus = 'F' AND o_totalprice > 150000"


@query(
    "delta_delete_dv",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE NOT ({_DV_PRED})
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE NOT ({_DV_PRED})
    """,
)
def delta_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors: matching rows are
    position-tombstoned in sidecar bitmaps and no data file is rewritten
    (byte-identity is unit-asserted); v0 time travel still sees them,
    the masked read doesn't, and REORG PURGE then materializes the
    vectors with identical logical content (version 2 == version 1).
    The selective-delete shape that works at 100 TB."""
    root = scratch_path(sf_dir, "orders_delta_dv")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_delta(orders.repartition(4), root)
    delete_delta_dv(spark, root, _DV_PRED)
    purge_delta_dv(spark, root)
    outs = []
    for phase, v in ((0, 0), (1, 1), (2, None)):
        agg = read_delta(spark, root, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(
            agg.select(F.lit(phase).alias("version"), "n_rows", "total")
        )
    return outs[0].unionByName(outs[1]).unionByName(outs[2])


@query(
    "delta_restore",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
       OR o_orderdate > TIMESTAMP '1996-12-31 23:59:59'
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE TO VERSION AS OF: an accidental range DELETE is
    rolled back by ONE metadata commit (file-level diff vs the target
    version — no data read or written, unit-asserted); all three
    versions stay readable, so the bad state remains auditable."""
    root = scratch_path(sf_dir, "orders_delta_restore")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_delta(orders, root)
    delete_delta_range(
        spark, root, "o_orderdate", "1996-01-01 00:00:00", "1996-12-31 23:59:59"
    )
    restore_delta(spark, root, 0)
    outs = []
    for v in (0, 1, 2):
        agg = read_delta(spark, root, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(v).alias("version"), "n_rows", "total"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "delta_clone",
    oracle=f"""
    SELECT 'source' AS side, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    UNION ALL
    SELECT 'clone' AS side, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def delta_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE: fork the table by metadata alone (v0 of the clone
    references the source's files absolutely — zero bytes copied,
    unit-asserted), then append the post-1997 slice to the CLONE only.
    The source must still read its original state; the clone reads
    source files + its own appends through one log."""
    root = scratch_path(sf_dir, "orders_delta_clone_src")
    dst = scratch_path(sf_dir, "orders_delta_clone_dst")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    write_delta(orders.where(F.col("o_orderdate") < "1997-01-01"), root)
    clone_delta(spark, root, dst)
    write_delta(
        orders.where(F.col("o_orderdate") >= "1997-01-01"), dst, mode="append"
    )
    outs = []
    for side, p in (("source", root), ("clone", dst)):
        agg = read_delta(spark, p).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("o_totalprice").alias("total"),
        )
        outs.append(agg.select(F.lit(side).alias("side"), "n_rows", "total"))
    return outs[0].unionByName(outs[1])
