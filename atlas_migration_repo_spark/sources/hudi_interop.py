"""Apache Hudi format interop (COPY_ON_WRITE and MERGE_ON_READ) —
read/write the OPEN `.hoodie` timeline protocol without any Hudi jars
(SURVEY.md §2.1 lakehouse boundary; completes the Delta/Iceberg/Hudi
trio of open table formats a migration engine must speak).

This module implements the published Hudi table layout
(hudi.apache.org/tech-specs, table version 6 / timeline layout 1 —
the 0.14.x on-disk format):

- `.hoodie/hoodie.properties` carries the table config (name, type,
  record-key/partition/precombine fields, hive-style partitioning).
- The TIMELINE is the source of truth: each write is an instant
  `yyyyMMddHHmmssSSS` moving through `<i>.commit.requested` →
  `<i>.inflight` → `<i>.commit` (the completed commit's inflight file
  is the spec's bare `.inflight` quirk; replacecommits use
  `<i>.replacecommit[.requested|.inflight]`). Completed files hold
  HoodieCommitMetadata JSON: `partitionToWriteStats` (per-file
  HoodieWriteStat: fileId, path, prevCommit, numWrites/numDeletes/
  numUpdateWrites/numInserts, fileSizeInBytes, min/maxEventTime) and,
  for replacecommits, `partitionToReplaceFileIds`.
- Data files are parquet BASE FILES named `<fileId>_<writeToken>_
  <instant>.parquet` inside hive-style partition dirs (each dir also
  carries the spec's `.hoodie_partition_metadata`). Every base file
  version is a FILE SLICE of its file group (partitionPath, fileId);
  a snapshot reads the latest slice ≤ as-of per group, skipping
  groups replaced by a replacecommit ≤ as-of.
- Records carry the five `_hoodie_*` meta columns; COW rewrites
  PRESERVE `_hoodie_commit_time`/`_hoodie_commit_seqno` for
  carried-over rows (only changed rows get the new instant), which is
  what makes incremental queries exact across upserts and clustering.

Honesty boundary: the `extraMetadata.schema` entry stores the Spark
StructType JSON rather than the Avro schema a JVM Hudi writer emits;
bloom-filter key metadata is not written to footers; MOR log-block
FRAMING follows the spec's field sequence (magic, sizes, version,
type, header map, content, footer, trailing size) but the block-type
and header-key integer ids are documented locally, not validated
against a JVM writer; and executor-side log-file publication uses a
POSIX hard link as its put-if-absent (fail-loud on rename-less
stores — the commit-level conflict check remains the real guard).
The timeline layout, file naming, meta columns, and commit metadata
fields above ARE spec-shaped.

Scale story (100 TB): the timeline holds FILE METADATA, not data —
replay is O(completed instants), and every driver-side loop in this
module is bounded by file-group or partition counts, never rows.
Snapshot reads prune partitions and event-time ranges in the TIMELINE
(writeStat partitionPath / minEventTime / maxEventTime) before Spark
lists a single file; incremental reads touch only slices newer than
the begin instant because COW preserves `_hoodie_commit_time` on
carried rows. Upserts shuffle the incoming batch once (key tagging
join + repartition by file group) and rewrite only AFFECTED file
groups; commit publication rides the same `LogStore` put-if-absent
seam as TableLog and the Delta/Iceberg bridges, so rename-less object
stores are one switch away. Concurrency is Hudi's optimistic model:
instant claims are put-if-absent, and a completing writer re-checks
that no commit finished after its claim touched the same file groups.

Distinct from `table_log.py` (the engine's bespoke transactional
layer) and the Delta/Iceberg bridges: Hudi's unit of replacement is
the FILE GROUP (fileId lineage), not the file list — upserts keep the
group identity across slices, which is why tagging joins on the
`_hoodie_file_name`-derived fileId instead of a path diff.
"""

from __future__ import annotations

import io
import json
import math
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atlas_migration_repo_spark.catalog import load, msum
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query
from atlas_migration_repo_spark.sources.files import (
    attach_partition_values,
    scratch_path,
    table_file_stream,
)
from atlas_migration_repo_spark.sources.table_log import (
    LogStore,
    resolve_log_store,
)
from atlas_migration_repo_spark.streaming.harness import drain

_META_COLS = (
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
)
_WRITE_TOKEN = "0-0-0"
_COMPLETED_RE = re.compile(
    r"^(\d{17})\.(commit|deltacommit|replacecommit|savepoint|restore|clean"
    r"|rollback)$"
)
_LOG_MAGIC = b"#HUDI#"
_LOG_FORMAT_VERSION = 1
# HoodieLogBlockType ids (delete / parquet-data) and HeaderMetadataType
# ids (INSTANT_TIME / TARGET_INSTANT_TIME) as documented in this module;
# framing follows the spec's field sequence (magic, size, version, type,
# header map, content, footer map, trailing size)
_BLOCK_DELETE = 2
_BLOCK_PARQUET = 6
_HDR_INSTANT_TIME = 1
_HDR_TARGET_INSTANT_TIME = 2
_LOG_NAME_RE = re.compile(
    r"^\.(?P<fid>[^_]+)_(?P<base>\d{17})\.log\.(?P<ver>\d+)_(?P<token>.+)$"
)


class ConcurrentHudiWriteError(RuntimeError):
    """A commit that finished after this writer's claim touched the same
    file groups (Hudi's optimistic-concurrency write conflict); re-read
    the table and redo the write."""


# ---------------------------------------------------------------------------
# table properties
# ---------------------------------------------------------------------------
def _hoodie_dir(path: str) -> str:
    return os.path.join(path, ".hoodie")


def _props_path(path: str) -> str:
    return os.path.join(_hoodie_dir(path), "hoodie.properties")


def _write_props(path: str, props: dict[str, str]) -> None:
    os.makedirs(_hoodie_dir(path), exist_ok=True)
    with open(_props_path(path), "w") as fh:
        fh.write("#Updated at write time\n")
        for k in sorted(props):
            fh.write(f"{k}={props[k]}\n")


def _read_props(path: str) -> dict[str, str]:
    out: dict[str, str] = {}
    with open(_props_path(path)) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            out[k] = v
    return out


def _init_table(
    path: str,
    table_name: str,
    record_key: str,
    partition_by: list[str],
    precombine: str | None,
    event_time_field: str | None,
    table_type: str = "COPY_ON_WRITE",
    bloom_index: bool = False,
) -> None:
    props = {
        "hoodie.table.name": table_name,
        "hoodie.table.type": table_type,
        "hoodie.table.version": "6",
        "hoodie.timeline.layout.version": "1",
        "hoodie.table.base.file.format": "PARQUET",
        "hoodie.table.recordkey.fields": record_key,
        "hoodie.table.partition.fields": ",".join(partition_by),
        "hoodie.datasource.write.hive_style_partitioning": "true",
        "hoodie.populate.meta.fields": "true",
    }
    if precombine:
        props["hoodie.table.precombine.field"] = precombine
    if event_time_field:
        props["hoodie.payload.event.time.field"] = event_time_field
    if bloom_index:
        # spec BLOOM index family: writers attach per-base-file key
        # blooms + key ranges; upsert tagging prunes against them
        props["hoodie.index.type"] = "BLOOM"
    _write_props(path, props)


def _table_exists(path: str) -> bool:
    return os.path.exists(_props_path(path))


# ---------------------------------------------------------------------------
# timeline primitives
# ---------------------------------------------------------------------------
def _now_instant() -> str:
    import datetime as dt

    t = dt.datetime.now(dt.timezone.utc)
    return t.strftime("%Y%m%d%H%M%S") + f"{t.microsecond // 1000:03d}"


def _all_instants(hoodie: str) -> set[str]:
    out = set()
    if not os.path.isdir(hoodie):
        return out
    for name in os.listdir(hoodie):
        head = name.split(".", 1)[0]
        if len(head) == 17 and head.isdigit():
            out.add(head)
    return out


def completed_instants(path: str) -> list[tuple[str, str]]:
    """Completed (instant, action) pairs in commit order. Requested and
    inflight markers are invisible to readers — the spec's contract that
    an instant exists only once its completed file does."""
    hoodie = _hoodie_dir(path)
    out = []
    if not os.path.isdir(hoodie):
        return out
    for name in os.listdir(hoodie):
        m = _COMPLETED_RE.match(name)
        if m:
            out.append((m.group(1), m.group(2)))
    return sorted(out)


def _read_commit_meta(path: str, instant: str, action: str) -> dict:
    with open(os.path.join(_hoodie_dir(path), f"{instant}.{action}")) as fh:
        return json.load(fh)


def _claim_instant(
    path: str,
    action: str,
    store: LogStore | None = None,
    content: str = "",
    inflight: bool = True,
) -> str:
    """Win a fresh instant on the timeline via put-if-absent on the
    `.requested` marker — the atomic-create contract real Hudi demands of
    its storage. Collisions (two writers picking the same millisecond, or
    a clock behind the newest instant) retry one tick past the max.
    `content` rides the requested marker itself (the spec's shape for
    compaction PLANS); `inflight=False` leaves the instant in the
    scheduled state — execution writes the inflight marker later."""
    store = store or resolve_log_store()
    hoodie = _hoodie_dir(path)
    os.makedirs(hoodie, exist_ok=True)
    while True:
        existing = _all_instants(hoodie)
        cand = _now_instant()
        if existing:
            newest = max(existing)
            if cand <= newest:
                cand = str(int(newest) + 1).zfill(17)
        tmp = os.path.join(hoodie, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(content)
            fh.flush()
            os.fsync(fh.fileno())
        target = os.path.join(hoodie, f"{cand}.{action}.requested")
        won = store.publish(tmp, target)
        os.unlink(tmp)
        if won:
            if inflight:
                marker = (
                    f"{cand}.inflight"
                    if action == "commit"
                    else f"{cand}.{action}.inflight"
                )
                with open(os.path.join(hoodie, marker), "w") as fh:
                    fh.write("")
            return cand


def _complete_instant(
    path: str,
    instant: str,
    action: str,
    meta: dict,
    store: LogStore | None = None,
) -> None:
    store = store or resolve_log_store()
    hoodie = _hoodie_dir(path)
    tmp = os.path.join(hoodie, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    target = os.path.join(hoodie, f"{instant}.{action}")
    ok = store.publish(tmp, target)
    os.unlink(tmp)
    if not ok:  # pragma: no cover - the claim made this instant ours
        raise ConcurrentHudiWriteError(f"instant {instant} already completed")


def _drop_file_claims(fp: str) -> None:
    """Remove coordinated-store claim bookkeeping
    (`<dir>/_claims/<name>.{claim,staged}`) for a reclaimed data or log
    file: once the referencing instant is deleted or rolled back, the
    claim's put-if-absent job is over, and keeping it would shadow the
    name forever and leak storage on cleaned tables."""
    d, name = os.path.split(fp)
    for suffix in (".claim", ".staged"):
        p = os.path.join(d, "_claims", name + suffix)
        if os.path.exists(p):
            os.unlink(p)


def _check_conflicts(
    path: str, base: set[str], touched: set[tuple[str, str]]
) -> None:
    """Optimistic-concurrency gate run just before completing: any commit
    that FINISHED after this writer's claim (not in `base`) and wrote or
    replaced one of the file groups this write rewrites means our input
    snapshot is stale — raise instead of publishing a lost update."""
    for instant, action in completed_instants(path):
        if instant in base:
            continue
        meta = _read_commit_meta(path, instant, action)
        theirs: set[tuple[str, str]] = set()
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            theirs.update((part, st["fileId"]) for st in stats)
        for part, fids in (meta.get("partitionToReplaceFileIds") or {}).items():
            theirs.update((part, fid) for fid in fids)
        clash = theirs & touched
        if clash:
            raise ConcurrentHudiWriteError(
                f"commit {instant} touched file groups {sorted(clash)[:3]} "
                "after this write's snapshot; re-read and retry"
            )


# ---------------------------------------------------------------------------
# state replay
# ---------------------------------------------------------------------------
def _replay_hudi(path: str, as_of: str | None = None):
    """Fold the timeline into visible FILE SLICES at `as_of` (inclusive;
    None = latest): per file group keep the newest slice ≤ as_of, drop
    groups replaced by a replacecommit ≤ as_of. Returns
    (latest_instant, schema_json, slices) where each slice is
    {partition, fileId, instant, stat}. O(completed instants) driver
    work on JSON metadata — no storage listing, no data read.

    Time travel BELOW or ACROSS the archival horizon folds the missing
    instants back from `.hoodie/archived` (cold path — one O(archived)
    metadata read, touched only when `as_of` actually needs entries no
    checkpoint ≤ as_of covers). Without this, an `as_of` at an active
    instant older than the newest checkpoint would silently replay only
    the active suffix and answer with a partial table."""
    groups: dict[tuple[str, str], list[tuple[str, dict]]] = {}
    # (partition, fileId) -> [(base instant the log TARGETS, log instant,
    # stat)] — a log targets either its visible base or a PENDING
    # compaction instant (the spec's barrier: writers route new logs to
    # the scheduled compaction's future base), so slice assembly attaches
    # every log whose target >= the visible base instant
    logs: dict[tuple[str, str], list[tuple[str, str, dict]]] = {}
    replaced: dict[tuple[str, str], str] = {}
    schema_json: str | None = None
    latest: str | None = None
    cp_covers, cp = _newest_checkpoint(path, as_of)
    if cp is not None:
        latest = cp["coversInstant"]
        schema_json = cp["schema"]
        for s in cp["slices"]:
            groups.setdefault((s["partition"], s["fileId"]), []).append(
                (s["instant"], s["stat"])
            )
            for lg in s.get("logs", []):
                logs.setdefault((s["partition"], s["fileId"]), []).append(
                    (
                        lg["stat"].get("baseInstant", s["instant"]),
                        lg["instant"],
                        lg["stat"],
                    )
                )
    timeline: list[tuple[str, str, dict | None]] = [
        (i, a, None)
        for i, a in completed_instants(path)
        if (cp_covers is None or i > cp_covers)
        and (as_of is None or i <= as_of)
    ]
    if as_of is not None and os.path.isdir(
        os.path.join(_hoodie_dir(path), "archived")
    ):
        # archive_timeline_hudi only archives instants ≤ some checkpoint's
        # coversInstant and checkpoints are never deleted, so a latest
        # (as_of=None) replay never needs the archive; a time travel whose
        # best checkpoint is MISSING or NEWER than some archived instant
        # ≤ as_of does — fold those entries (metadata rides the archive
        # blocks inline). Savepoint-protected actives may interleave with
        # archived instants, hence the sort.
        timeline += [
            (i, a, m)
            for i, a, m in read_archived_timeline_hudi(path)
            if (cp_covers is None or i > cp_covers) and i <= as_of
        ]
        timeline.sort(key=lambda t: t[0])
    for instant, action, meta in timeline:
        latest = instant
        if meta is None:
            meta = _read_commit_meta(path, instant, action)
        sj = _fold_commit_meta(groups, logs, replaced, instant, action, meta)
        if sj:
            schema_json = sj
    return latest, schema_json, _assemble_slices(groups, logs, replaced)


def _fold_commit_meta(
    groups: dict,
    logs: dict,
    replaced: dict,
    instant: str,
    action: str,
    meta: dict,
) -> str | None:
    """Fold ONE commit metadata dict into the running replay state —
    shared by timeline replay and metadata-table folding so both planning
    surfaces assemble byte-identical slices. Returns the schema JSON the
    commit carries (if any)."""
    for part, stats in (meta.get("partitionToWriteStats") or {}).items():
        for st in stats:
            if "logVersion" in st:  # MOR log append, not a base slice
                logs.setdefault((part, st["fileId"]), []).append(
                    (st["baseInstant"], instant, st)
                )
            else:
                groups.setdefault((part, st["fileId"]), []).append(
                    (instant, st)
                )
    if action == "replacecommit":
        for part, fids in (
            meta.get("partitionToReplaceFileIds") or {}
        ).items():
            for fid in fids:
                replaced.setdefault((part, fid), instant)
    return (meta.get("extraMetadata") or {}).get("schema")


def _assemble_slices(groups: dict, logs: dict, replaced: dict) -> list[dict]:
    slices = []
    for (part, fid), lst in groups.items():
        if (part, fid) in replaced:
            continue
        instant, st = max(lst, key=lambda t: t[0])
        # logs whose TARGET base is the visible slice OR a newer (pending
        # compaction) instant attach here; logs targeting an OLDER base
        # are orphaned by the compaction that absorbed them. Sorting by
        # log instant keeps latest-writer-wins exact across the mix.
        slice_logs = sorted(
            (
                (li, ls)
                for (b, li, ls) in logs.get((part, fid), [])
                if b >= instant
            ),
            key=lambda t: t[0],
        )
        slices.append(
            {
                "partition": part,
                "fileId": fid,
                "instant": instant,
                "stat": st,
                "logs": [
                    {"instant": li, "stat": ls} for li, ls in slice_logs
                ],
            }
        )
    slices.sort(key=lambda s: (s["partition"], s["fileId"]))
    return slices


def _parse_partition(rel: str) -> dict[str, str]:
    """Hive-style partition dir relpath → {column: decoded value}."""
    import urllib.parse

    out: dict[str, str] = {}
    if not rel:
        return out
    for seg in rel.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = urllib.parse.unquote(v)
    return out


def _part_matches(rel: str, partition_eq: dict[str, str]) -> bool:
    vals = _parse_partition(rel)
    return all(vals.get(k) == str(v) for k, v in partition_eq.items())


def _full_schema(schema_json: str) -> tuple[T.StructType, T.StructType]:
    # read schemas are nullable throughout: MOR delete tombstones carry
    # null data columns through the merge even when the written schema
    # declared a field required
    data = T.StructType(
        [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in T.StructType.fromJson(json.loads(schema_json)).fields
        ]
    )
    full = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in _META_COLS]
        + list(data.fields)
    )
    return data, full


def _scan_slices(
    spark: SparkSession,
    path: str,
    slices: list[dict],
    full: T.StructType,
    view: str = "snapshot",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Full-schema scan of the given file slices. Slices WITHOUT log
    files are one direct parquet scan; log-bearing slices (MOR) go
    through the merge: base rows union log-block rows, latest writer
    per record key wins, delete tombstones drop. `view="read_optimized"`
    skips the merge and reads base files only. The merge window is the
    ONLY shuffle, and it runs over just the log-bearing groups.

    BOOTSTRAP-ADOPTED slices (writeStat `bootstrapped`) are foreign
    files a hive-layout writer produced: no meta columns (read as null)
    and no partition columns IN the file — those inject from the
    timeline's partitionPath (files.attach_partition_values)."""
    merge = [s for s in slices if view == "snapshot" and s.get("logs")]
    rest = [s for s in slices if not (view == "snapshot" and s.get("logs"))]
    boot = [s for s in rest if s["stat"].get("bootstrapped")]
    clean = [s for s in rest if not s["stat"].get("bootstrapped")]
    parts: list[DataFrame] = []
    names = [f.name for f in full.fields]
    if clean:
        paths = [os.path.join(path, s["stat"]["path"]) for s in clean]
        parts.append(spark.read.schema(full).parquet(*paths))
    if boot:
        pcols = list(partition_by or [])
        paths = [os.path.join(path, s["stat"]["path"]) for s in boot]
        file_values = []
        for s in boot:
            vals = _parse_partition(s["partition"])
            file_values.append(
                (
                    os.path.abspath(os.path.join(path, s["stat"]["path"])),
                    *[vals.get(c) for c in pcols],
                )
            )
        df = attach_partition_values(
            spark,
            spark.read.schema(full).parquet(*paths),
            file_values,
            pcols,
            {f.name: f.dataType for f in full.fields},
        )
        parts.append(df.select(*names))
    if merge:
        parts.append(_merge_slices(spark, path, merge, full).select(*names))
    if not parts:
        return spark.createDataFrame([], full)
    return reduce(lambda a, b: a.unionByName(b), parts)


def read_hudi(
    spark: SparkSession,
    path: str,
    as_of: str | None = None,
    partition_eq: dict[str, str] | None = None,
    with_meta: bool = False,
    view: str = "snapshot",
    listing: str = "timeline",
) -> DataFrame:
    """Snapshot (or time-travel) read: replay the timeline to the visible
    file slices, prune partitions against writeStat partitionPath IN THE
    TIMELINE (no file listing for pruned partitions), then scan the
    survivors (merging MOR log files where present — see _scan_slices).
    `view="read_optimized"` reads base files only, the spec's RO view.
    `listing="metadata"` plans from the metadata table's files partition
    (hoodie.metadata.enable readers — latest snapshot only: the metadata
    table serves the CURRENT view, time travel stays on the timeline).
    Meta columns are projected away unless asked for — column pruning
    keeps them out of the parquet read."""
    if view not in ("snapshot", "read_optimized"):
        raise ValueError(f"view must be snapshot|read_optimized: {view}")
    if listing not in ("timeline", "metadata"):
        raise ValueError(f"listing must be timeline|metadata: {listing}")
    if listing == "metadata":
        if as_of is not None:
            raise ValueError(
                "metadata-planned reads serve the latest snapshot; use "
                "listing='timeline' for time travel"
            )
        sync_metadata_hudi(path)  # idempotent O(new instants) catch-up
        latest, schema_json, slices = _slices_from_metadata(path)
    else:
        latest, schema_json, slices = _replay_hudi(path, as_of)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    data, full = _full_schema(schema_json)
    if partition_eq:
        slices = [
            s for s in slices if _part_matches(s["partition"], partition_eq)
        ]
    want = full if with_meta else data
    if not slices:
        return spark.createDataFrame([], want)
    props = _read_props(path)
    pby = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    df = _scan_slices(spark, path, slices, full, view=view, partition_by=pby)
    return df if with_meta else df.select(*[f.name for f in data.fields])


def read_hudi_incremental(
    spark: SparkSession,
    path: str,
    begin: str,
    end: str | None = None,
) -> DataFrame:
    """Incremental query: records written by commits in (begin, end].
    Only slices with a base file OR a log file newer than `begin` can
    hold such records (COW rewrites and MOR compactions both preserve
    `_hoodie_commit_time` on carried rows), so the scan touches just
    those file groups and the commit-time filter drops carried rows."""
    latest, schema_json, slices = _replay_hudi(path, end)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    data, full = _full_schema(schema_json)
    if any(s["stat"].get("bootstrapped") for s in slices):
        raise ValueError(
            "incremental queries need materialized _hoodie_commit_time; "
            "bootstrap-adopted (virtual-key) tables don't carry it — "
            "rewrite through write_hudi for a full-featured table"
        )
    qual = [
        s
        for s in slices
        if s["instant"] > begin
        or any(lg["instant"] > begin for lg in s.get("logs", []))
    ]
    if not qual:
        return spark.createDataFrame([], data)
    df = _scan_slices(spark, path, qual, full)
    cond = F.col("_hoodie_commit_time") > F.lit(begin)
    if end is not None:
        cond = cond & (F.col("_hoodie_commit_time") <= F.lit(end))
    return df.where(cond).select(*[f.name for f in data.fields])


def read_hudi_event_range(
    spark: SparkSession, path: str, lo, hi
) -> DataFrame:
    """Event-time skip read: prune file slices whose writeStat
    [minEventTime, maxEventTime] envelope misses [lo, hi] — pruning
    happens on TIMELINE metadata, the exact predicate decides on the
    survivors. `lo`/`hi` are naive-UTC timestamps or ISO strings."""
    import datetime as dt

    def _ms(v) -> int:
        if isinstance(v, str):
            v = dt.datetime.fromisoformat(v)
        return int(v.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    lo_ms, hi_ms = _ms(lo), _ms(hi)
    latest, schema_json, slices = _replay_hudi(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    data, full = _full_schema(schema_json)
    props = _read_props(path)
    field = props.get("hoodie.payload.event.time.field")
    if not field:
        raise ValueError("table declares no event-time field")

    def _env_overlaps(st: dict) -> bool:
        mn, mx = st.get("minEventTime"), st.get("maxEventTime")
        return mn is None or mx is None or (mx >= lo_ms and mn <= hi_ms)

    keep = []
    for s in slices:
        if s.get("logs"):
            # MOR: log rows update/delete past the base envelope — keep
            # the slice when ANY of base/log envelopes overlaps (delete
            # blocks carry no envelope ⇒ kept ⇒ merged, so log-borne
            # deletes are never resurrected); route it through the
            # snapshot merge below
            if _env_overlaps(s["stat"]) or any(
                _env_overlaps(lg["stat"]) for lg in s["logs"]
            ):
                keep.append(s)
        elif _env_overlaps(s["stat"]):
            keep.append(s)
    if not keep:
        return spark.createDataFrame([], data)
    pby = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    df = _scan_slices(spark, path, keep, full, partition_by=pby)
    return df.select(*[f.name for f in data.fields]).where(
        F.col(field).between(F.lit(lo), F.lit(hi))
    )


def hudi_timeline(path: str) -> list[tuple[str, str, str]]:
    """Completed timeline as (instant, action, operationType) rows."""
    out = []
    for instant, action in completed_instants(path):
        meta = _read_commit_meta(path, instant, action)
        out.append((instant, action, meta.get("operationType", "")))
    return out


def _timeline_metas(path: str):
    """(instant, action, metadata) over the ARCHIVED then ACTIVE
    timeline, ascending. Archived write instants all sort below the
    retained active writes (archival keeps the newest), so "last wins"
    scans stay correct; the archive is read only when one exists."""
    if os.path.isdir(os.path.join(_hoodie_dir(path), "archived")):
        yield from read_archived_timeline_hudi(path)
    for instant, action in completed_instants(path):
        yield instant, action, _read_commit_meta(path, instant, action)


_WRITE_ACTIONS = ("commit", "deltacommit", "replacecommit")


def _latest_write_instant(path: str) -> str | None:
    """Newest completed DATA-WRITE instant. Service actions (clean /
    savepoint / restore / rollback) advance `_replay_hudi`'s `latest`
    without changing visible data, so sync markers and UniForm in_sync
    comparisons key off this instead — otherwise a clean would report
    the grafted _delta_log permanently out of sync while
    sync_delta_log_from_hudi correctly no-ops."""
    writes = [
        i for i, a in completed_instants(path) if a in _WRITE_ACTIONS
    ]
    return writes[-1] if writes else None


def hudi_checkpoint(path: str) -> str | None:
    """Latest deltastreamer-style checkpoint carried on the timeline —
    including instants moved to `.hoodie/archived`, so archival can't
    reset a stream's resume point."""
    cp = None
    for _instant, _action, meta in _timeline_metas(path):
        v = (meta.get("extraMetadata") or {}).get(
            "deltastreamer.checkpoint.key"
        )
        if v is not None:
            cp = v
    return cp


# ---------------------------------------------------------------------------
# write mechanics
# ---------------------------------------------------------------------------
def _footer_rows(fp: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(fp).metadata.num_rows


def _footer_event_range(fp: str, field: str) -> tuple[int | None, int | None]:
    """[min, max] of `field` across row groups in EPOCH MILLIS, read from
    parquet footer statistics only (no data scan)."""
    import datetime as dt

    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    try:
        idx = md.schema.to_arrow_schema().get_field_index(field)
    except Exception:
        return None, None
    if idx < 0:
        return None, None
    mn = mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo, hi = st.min, st.max
        if isinstance(lo, dt.datetime):
            lo = int(lo.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            hi = int(hi.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    return mn, mx


def _footer_key_range(fp: str) -> tuple[str | None, str | None]:
    """[min, max] of `_hoodie_record_key` across row groups, read from
    parquet footer statistics only (no data scan) — the spec's
    HoodieWriteStat minRecordKey/maxRecordKey, which let upsert tagging
    skip file groups whose key band is disjoint from the batch."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    try:
        idx = md.schema.to_arrow_schema().get_field_index(
            "_hoodie_record_key"
        )
    except Exception:
        return None, None
    if idx < 0:
        return None, None
    mn = mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo, hi = st.min, st.max
        if isinstance(lo, bytes):
            lo, hi = lo.decode(), hi.decode()
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    return mn, mx


def _footer_col_range(fp: str, field: str):
    """JSON-encodable [min, max] of an arbitrary column across row
    groups, read from parquet footer statistics only (no data scan) —
    the per-file envelope the metadata table's column_stats partition
    records. Datetimes normalize to epoch millis, binary to utf-8;
    (None, None) when any row group lacks stats (skipping must narrow,
    never filter)."""
    import datetime as dt

    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    try:
        idx = md.schema.to_arrow_schema().get_field_index(field)
    except Exception:
        return None, None
    if idx < 0:
        return None, None
    mn = mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        lo, hi = st.min, st.max
        if isinstance(lo, dt.datetime):
            lo = int(lo.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            hi = int(hi.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        elif isinstance(lo, bytes):
            lo, hi = lo.decode(), hi.decode()
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    return mn, mx


# --- record-key bloom filters (the spec's BLOOM index family) --------------
_BLOOM_BITS_PER_KEY = 10
_BLOOM_K = 7


def _bloom_hash_pair(key: str) -> tuple[int, int]:
    """Two independent 64-bit hashes of the key (md5 halves — engine-
    portable and deterministic); probe bits come from double hashing
    h1 + i*h2, the standard Kirsch-Mitzenmacher construction."""
    import hashlib

    d = hashlib.md5(key.encode()).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


def _bloom_build(keys: list[str]) -> dict:
    """{"m", "k", "b64"} bloom over the key list, ~10 bits/key (≈1% FPP
    at k=7). False positives only ADD tagging candidates — exactness is
    preserved by the equality join that follows."""
    import base64

    m = max(64, _BLOOM_BITS_PER_KEY * max(1, len(keys)))
    bits = bytearray((m + 7) // 8)
    for key in keys:
        h1, h2 = _bloom_hash_pair(key)
        for i in range(_BLOOM_K):
            b = (h1 + i * h2) % m
            bits[b >> 3] |= 1 << (b & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def _bloom_may_contain(bloom: dict, key: str) -> bool:
    import base64

    bits = base64.b64decode(bloom["b64"])
    m = int(bloom["m"])
    h1, h2 = _bloom_hash_pair(key)
    for i in range(int(bloom["k"])):
        b = (h1 + i * h2) % m
        if not (bits[b >> 3] >> (b & 7)) & 1:
            return False
    return True


def _key_blooms(spark: SparkSession, path: str, placed: list[dict]) -> dict:
    """{rel: bloom dict} for the placed base files, computed
    DISTRIBUTED: one task per file reads just the `_hoodie_record_key`
    column (column-pruned parquet) and builds its bloom — the write-side
    cost of the BLOOM index, file-parallel like compaction."""
    import pandas as pd

    rows = [
        (os.path.join(path, p["rel"]), p["rel"])
        for p in placed
        if p.get("rows", 0) > 0
    ]
    if not rows:
        return {}

    def build(pdfs):
        import pyarrow.parquet as _pq

        for pdf in pdfs:
            out = []
            for fp, rel in zip(pdf["fp"], pdf["rel"]):
                keys = (
                    _pq.read_table(fp, columns=["_hoodie_record_key"])
                    .column(0)
                    .to_pylist()
                )
                out.append((rel, json.dumps(_bloom_build(keys))))
            yield pd.DataFrame(out, columns=["rel", "bloom"])

    inp = spark.createDataFrame(rows, "fp string, rel string").repartition(
        min(len(rows), 32)
    )
    got = inp.mapInPandas(build, schema="rel string, bloom string").collect()
    return {r["rel"]: json.loads(r["bloom"]) for r in got}


def _tagging_candidate_slices(
    spark: SparkSession,
    inc_keyed: DataFrame,
    slices: list[dict],
) -> list[dict]:
    """BLOOM-index tagging prune: drop file slices that provably hold
    NONE of the incoming batch's keys, in two metadata layers —
    (1) per-partition incoming [min,max] key bounds vs each slice's
    footer-harvested minRecordKey/maxRecordKey (driver, stats-only),
    (2) per-slice key blooms probed on EXECUTORS against the batch's
    keys (broadcast bloom table, one pass over the batch). Both layers
    err only toward keeping a slice, so the equality tagging join stays
    exact; the win is the tagging read shrinking from every live base
    file to the candidate set."""
    import pandas as pd

    bounds = {
        r["__pp"]: (r["lo"], r["hi"])
        for r in inc_keyed.groupBy("__pp")
        .agg(F.min("__key").alias("lo"), F.max("__key").alias("hi"))
        .collect()
    }
    cand: list[dict] = []
    for s in slices:
        pb = bounds.get(s["partition"])
        if pb is None:
            continue  # batch has no keys in this partition
        mn = s["stat"].get("minRecordKey")
        mx = s["stat"].get("maxRecordKey")
        if (
            mn is not None
            and mx is not None
            and not s.get("logs")  # log rows may carry other key bands
            and (pb[1] < mn or pb[0] > mx)
        ):
            continue
        cand.append(s)
    blooms = {
        (s["partition"], s["fileId"]): s["stat"].get("keyBloom")
        for s in cand
        if s["stat"].get("keyBloom") and not s.get("logs")
    }
    if not blooms:
        return cand
    payload = json.dumps(
        [[p, f, b] for (p, f), b in sorted(blooms.items())]
    )

    def probe(pdfs):
        table: dict[str, list] = {}
        for p, f, b in json.loads(payload):
            table.setdefault(p, []).append((f, b))
        hits: set[tuple[str, str]] = set()
        for pdf in pdfs:
            for key, pp in zip(pdf["__key"], pdf["__pp"]):
                for fid, bloom in table.get(pp, []):
                    if (pp, fid) in hits:
                        continue
                    if _bloom_may_contain(bloom, key):
                        hits.add((pp, fid))
        yield pd.DataFrame(sorted(hits), columns=["part", "fid"])

    hit_rows = (
        inc_keyed.select("__key", "__pp")
        .mapInPandas(probe, schema="part string, fid string")
        .distinct()
        .collect()
    )
    hits = {(r["part"], r["fid"]) for r in hit_rows}
    return [
        s
        for s in cand
        if (s["partition"], s["fileId"]) not in blooms
        or (s["partition"], s["fileId"]) in hits
    ]


def _partition_path_col(partition_by: list[str]):
    if not partition_by:
        return F.lit("")
    return F.concat_ws(
        "/",
        *[
            F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
            for c in partition_by
        ],
    )


def _fresh_meta_cols(df: DataFrame, instant: str, record_key: str,
                     partition_by: list[str], fid_col) -> DataFrame:
    """Attach the five `_hoodie_*` meta columns for NEWLY written rows
    (carried-over rows keep theirs — see upsert). All JVM-side column
    expressions; no UDF."""
    return (
        df.withColumn("_hoodie_commit_time", F.lit(instant))
        .withColumn(
            "_hoodie_commit_seqno",
            F.concat(
                F.lit(instant + "_"),
                F.spark_partition_id().cast("string"),
                F.lit("_"),
                F.monotonically_increasing_id().cast("string"),
            ),
        )
        .withColumn("_hoodie_record_key", F.col(record_key).cast("string"))
        .withColumn("_hoodie_partition_path", _partition_path_col(partition_by))
        .withColumn(
            "_hoodie_file_name",
            F.concat(fid_col, F.lit(f"_{_WRITE_TOKEN}_{instant}.parquet")),
        )
    )


def _stage_place(
    df: DataFrame, path: str, instant: str, partition_by: list[str]
) -> list[dict]:
    """Shared write tail: stage `df` (meta cols + data cols + `__fid`)
    with ONE Spark parquet write, then move each staged file to its
    spec name `<fileId>_<token>_<instant>.parquet` under its hive
    partition dir. The pre-write `repartition(__fid)` makes every file
    group exactly one task's output, so each (partition, fileId) leaf
    holds exactly one base file. Returns [{fid, partition, rel, rows,
    size}] — a FILE-GROUP-scale driver loop, never row-scale."""
    import urllib.parse

    stage = os.path.join(path, f".stage-{uuid.uuid4().hex}")
    dup = [f"__hp_{c}" for c in partition_by]
    staged = df
    for c, d in zip(partition_by, dup):
        staged = staged.withColumn(d, F.col(c).cast("string"))
    staged = staged.repartition(F.col("__fid"))
    staged.write.mode("overwrite").partitionBy(*dup, "__fid").parquet(stage)

    placed: list[dict] = []
    try:
        for dirpath, _dirs, names in os.walk(stage):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, name)
                reldir = os.path.relpath(dirpath, stage)
                fid = None
                real_segs: list[str] = []
                for seg in ([] if reldir == "." else reldir.split(os.sep)):
                    if seg.startswith("__fid="):
                        fid = urllib.parse.unquote(seg[len("__fid="):])
                    elif seg.startswith("__hp_"):
                        real_segs.append(seg[len("__hp_"):])
                assert fid is not None, f"stage leaf without __fid: {reldir}"
                part_rel = "/".join(real_segs)
                dest_dir = os.path.join(path, *real_segs) if real_segs else path
                os.makedirs(dest_dir, exist_ok=True)
                if real_segs:
                    pm = os.path.join(dest_dir, ".hoodie_partition_metadata")
                    if not os.path.exists(pm):
                        with open(pm, "w") as fh:
                            fh.write(
                                "#partition metadata\n"
                                f"commitTime={instant}\n"
                                f"partitionDepth={len(partition_by)}\n"
                            )
                dest = os.path.join(
                    dest_dir, f"{fid}_{_WRITE_TOKEN}_{instant}.parquet"
                )
                assert not os.path.exists(dest), (
                    f"two staged files for file group {fid}"
                )
                os.rename(src, dest)
                placed.append(
                    {
                        "fid": fid,
                        "partition": part_rel,
                        "rel": os.path.relpath(dest, path),
                        "rows": _footer_rows(dest),
                        "size": os.path.getsize(dest),
                    }
                )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return placed


def _write_stats(
    placed: list[dict],
    prev_instant_by_group: dict[tuple[str, str], str],
    event_field: str | None,
    base_path: str,
    updates_by_group: dict[tuple[str, str], int] | None = None,
    deletes_by_group: dict[tuple[str, str], int] | None = None,
    all_rows_inserted: bool = False,
    blooms: dict[str, dict] | None = None,
) -> dict[str, list[dict]]:
    """HoodieWriteStat list per partition for the commit metadata.
    numInserts counts records NEW to the file group: every written row
    for insert-family ops (`all_rows_inserted`); for upsert/delete
    rewrites, a file with updates carries 0 inserts (carried-over rows
    count only in numWrites) while a FRESH group (no prevCommit) takes
    its whole row count. Update/delete counts key by the FULL group
    identity (partition, fileId) — the same fileId can live in several
    partitions when one write task lands multiple partitions."""
    out: dict[str, list[dict]] = {}
    for p in placed:
        gkey = (p["partition"], p["fid"])
        upd = int((updates_by_group or {}).get(gkey, 0))
        dele = int((deletes_by_group or {}).get(gkey, 0))
        fresh_group = (p["partition"], p["fid"]) not in prev_instant_by_group
        if all_rows_inserted or fresh_group:
            n_ins = p["rows"]
        else:
            n_ins = 0
        st = {
            "fileId": p["fid"],
            "path": p["rel"],
            "prevCommit": prev_instant_by_group.get(
                (p["partition"], p["fid"]), "null"
            ),
            "numWrites": p["rows"],
            "numDeletes": dele,
            "numUpdateWrites": upd,
            "numInserts": n_ins,
            "totalWriteBytes": p["size"],
            "fileSizeInBytes": p["size"],
            "partitionPath": p["partition"],
        }
        if event_field:
            mn, mx = _footer_event_range(
                os.path.join(base_path, p["rel"]), event_field
            )
            if mn is not None:
                st["minEventTime"] = mn
                st["maxEventTime"] = mx
        if p["rows"] > 0:
            # spec HoodieWriteStat minRecordKey/maxRecordKey: footer-only
            # stats that let upsert tagging skip disjoint key bands
            kmn, kmx = _footer_key_range(os.path.join(base_path, p["rel"]))
            if kmn is not None:
                st["minRecordKey"] = kmn
                st["maxRecordKey"] = kmx
        if blooms and p["rel"] in blooms:
            st["keyBloom"] = blooms[p["rel"]]
        out.setdefault(p["partition"], []).append(st)
    for stats in out.values():
        stats.sort(key=lambda s: s["fileId"])
    return out


def _maybe_blooms(
    spark: SparkSession, path: str, placed: list[dict], props: dict
) -> dict | None:
    """Per-file key blooms for BLOOM-indexed tables (None otherwise) —
    one distributed column pass over the just-placed base files."""
    if props.get("hoodie.index.type") != "BLOOM":
        return None
    return _key_blooms(spark, path, placed)


def _commit_meta(
    op: str,
    p2ws: dict[str, list[dict]],
    schema_json: str,
    extra: dict[str, str] | None = None,
    replaces: dict[str, list[str]] | None = None,
) -> dict:
    meta = {
        "partitionToWriteStats": p2ws,
        "compacted": False,
        "operationType": op,
        "extraMetadata": {"schema": schema_json, **(extra or {})},
    }
    if replaces is not None:
        meta["partitionToReplaceFileIds"] = replaces
    return meta


def _validate_schema(df: DataFrame, schema_json: str) -> None:
    table = T.StructType.fromJson(json.loads(schema_json))
    have = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in table.fields}
    if have != want:
        raise ValueError(
            "incoming schema must match the table schema exactly "
            f"(table {sorted(want)}, incoming {sorted(have)}); "
            "Hudi-side schema evolution is not implemented here"
        )


def _checkpoint_seen(path: str, checkpoint: str | None) -> str | None:
    """Exactly-once guard: a commit already carrying this checkpoint key
    makes the write a committed no-op (the deltastreamer contract).
    Scans the ARCHIVED timeline too — archival must not turn a replayed
    batch into a double-commit."""
    if checkpoint is None:
        return None
    for instant, _action, meta in _timeline_metas(path):
        if (meta.get("extraMetadata") or {}).get(
            "deltastreamer.checkpoint.key"
        ) == checkpoint:
            return instant
    return None


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------
def write_hudi(
    df: DataFrame,
    path: str,
    record_key: str,
    partition_by: list[str] | None = None,
    precombine: str | None = None,
    operation: str = "insert",
    table_name: str | None = None,
    checkpoint: str | None = None,
    event_time_field: str | None = None,
    table_type: str = "COPY_ON_WRITE",
    bloom_index: bool = False,
) -> str:
    """Land `df` as one Hudi COW commit and return its instant.

    operation="insert" appends NEW file groups (bulk-insert style — no
    small-file bin-packing; clustering compacts later).
    operation="insert_overwrite" publishes a REPLACECOMMIT that swaps in
    the new file groups and lists every previously-live file group of
    the written partitions in partitionToReplaceFileIds (unpartitioned:
    the whole table). `checkpoint` rides extraMetadata for exactly-once
    replays."""
    if operation not in ("insert", "insert_overwrite"):
        raise ValueError(f"operation must be insert|insert_overwrite: {operation}")
    partition_by = list(partition_by or [])
    if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise ValueError(f"unknown table_type: {table_type}")
    if not _table_exists(path):
        _init_table(
            path,
            table_name or os.path.basename(path.rstrip("/")),
            record_key,
            partition_by,
            precombine,
            event_time_field,
            table_type,
            bloom_index,
        )
    props = _read_props(path)
    if props["hoodie.table.recordkey.fields"] != record_key:
        raise ValueError("record_key must match hoodie.table.recordkey.fields")
    if (props.get("hoodie.table.partition.fields") or "") != ",".join(partition_by):
        raise ValueError("partition_by must match hoodie.table.partition.fields")
    seen = _checkpoint_seen(path, checkpoint)
    if seen is not None:
        return seen

    _, prev_schema, prev_slices = _replay_hudi(path)
    if prev_schema is not None:
        _validate_schema(df, prev_schema)
    data_schema_json = prev_schema or df.select(
        *[f.name for f in df.schema.fields]
    ).schema.json()

    mor = props.get("hoodie.table.type") == "MERGE_ON_READ"
    if operation == "insert":
        # MOR write commits are deltacommits; COW writes are commits
        action = "deltacommit" if mor else "commit"
    else:
        action = "replacecommit"
    base = {i for i, _ in completed_instants(path)}
    instant = _claim_instant(path, action)

    src = df.repartition(*partition_by) if partition_by else df
    fid_base = uuid.uuid4().hex[:12]
    fid_col = F.concat(
        F.lit(fid_base + "-"), F.spark_partition_id().cast("string")
    )
    if props.get("hoodie.populate.meta.fields", "true") == "false":
        # virtual-key (bootstrap-adopted) table: files stay meta-less
        staged = src.withColumn("__fid", fid_col)
        order = [f.name for f in df.schema.fields] + ["__fid"]
    else:
        staged = _fresh_meta_cols(
            src, instant, record_key, partition_by, fid_col
        ).withColumn("__fid", fid_col)
        order = list(_META_COLS) + [
            f.name for f in df.schema.fields
        ] + ["__fid"]
    placed = _stage_place(staged.select(*order), path, instant, partition_by)

    prev_by_group = {
        (s["partition"], s["fileId"]): s["instant"] for s in prev_slices
    }
    p2ws = _write_stats(
        placed,
        prev_by_group,
        props.get("hoodie.payload.event.time.field"),
        path,
        all_rows_inserted=True,
        blooms=_maybe_blooms(df.sparkSession, path, placed, props),
    )
    extra = (
        {"deltastreamer.checkpoint.key": checkpoint} if checkpoint else None
    )
    if operation == "insert":
        meta = _commit_meta("insert", p2ws, data_schema_json, extra)
    else:
        written_parts = {p["partition"] for p in placed}
        replaces: dict[str, list[str]] = {}
        for s in prev_slices:
            if not partition_by or s["partition"] in written_parts:
                replaces.setdefault(s["partition"], []).append(s["fileId"])
        for v in replaces.values():
            v.sort()
        meta = _commit_meta(
            "insert_overwrite", p2ws, data_schema_json, extra, replaces
        )
        _check_conflicts(
            path,
            base,
            {(p, fid) for p, fids in replaces.items() for fid in fids},
        )
    _complete_instant(path, instant, action, meta)
    return instant


def _fid_from_filename():
    """fileId parsed from `_hoodie_file_name` — fileIds are generated
    underscore-free here, so the first `_` delimits the id per spec."""
    return F.split(F.col("_hoodie_file_name"), "_").getItem(0)


def upsert_hudi(
    df: DataFrame, path: str, checkpoint: str | None = None
) -> str:
    """Hudi COW UPSERT: dedupe the incoming batch by the precombine
    field, TAG each record against the live key→fileId mapping (a join
    on the record-key column of the current slices — non-global index
    semantics: keys match within their partition), rewrite only the
    AFFECTED file groups (carried rows preserve their meta columns;
    updated rows take the new instant), and route untagged records to
    fresh file groups. One tagging shuffle + one group-placement
    shuffle; untouched file groups are never read or written."""
    props = _read_props(path)
    record_key = props["hoodie.table.recordkey.fields"]
    partition_by = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    precombine = props.get("hoodie.table.precombine.field")
    if props.get("hoodie.populate.meta.fields", "true") == "false":
        raise ValueError(
            "virtual-key (bootstrap-adopted) tables support "
            "read/append/insert_overwrite only; rewrite through write_hudi "
            "for row-level operations"
        )
    seen = _checkpoint_seen(path, checkpoint)
    if seen is not None:
        return seen
    _, schema_json, slices = _replay_hudi(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    _validate_schema(df, schema_json)
    data_cols = [f.name for f in T.StructType.fromJson(json.loads(schema_json)).fields]

    incoming = df
    if precombine:
        from pyspark.sql import Window

        w = Window.partitionBy(record_key).orderBy(
            F.col(precombine).desc(), *[F.col(c) for c in data_cols]
        )
        incoming = (
            incoming.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    mor = props.get("hoodie.table.type") == "MERGE_ON_READ"
    base = {i for i, _ in completed_instants(path)}
    instant = _claim_instant(path, "deltacommit" if mor else "commit")

    inc_keyed = incoming.withColumn(
        "__key", F.col(record_key).cast("string")
    ).withColumn("__pp", _partition_path_col(partition_by))

    # tagging reads the READ-OPTIMIZED view: every live key's file-group
    # membership comes from a base file (inserts always create bases),
    # and a key tombstoned by a MOR delete block still tags to its old
    # group — a re-insert there is a later log record that outranks the
    # tombstone, which is exactly the upsert-after-delete semantics.
    # BLOOM-indexed tables first prune the tagging read to candidate
    # slices (key-range + bloom layers — see _tagging_candidate_slices);
    # both layers only ever KEEP extra slices, so tagging stays exact.
    spark = SparkSession.getActiveSession() or df.sparkSession
    tag_slices = slices
    if props.get("hoodie.index.type") == "BLOOM":
        tag_slices = _tagging_candidate_slices(spark, inc_keyed, slices)
    _, full_for_tag = _full_schema(schema_json)
    if tag_slices:
        current = _scan_slices(
            spark,
            path,
            tag_slices,
            full_for_tag,
            view="read_optimized",
            partition_by=partition_by,
        ).withColumn("__fid", _fid_from_filename())
    else:
        current = spark.createDataFrame([], full_for_tag).withColumn(
            "__fid", F.lit(None).cast("string")
        )
    keymap = current.select(
        F.col("_hoodie_record_key").alias("__key"),
        F.col("_hoodie_partition_path").alias("__pp"),
        "__fid",
    ).distinct()
    tagged = inc_keyed.join(keymap, ["__key", "__pp"], "left")
    updates = tagged.where(F.col("__fid").isNotNull())
    inserts = tagged.where(F.col("__fid").isNull()).drop("__fid")

    # per-group update counts + the affected-group list: metadata-scale.
    # Group identity is (partition path, fileId) — one write task can
    # land the SAME fileId in several partitions.
    upd_counts = {
        (r["__pp"], r["__fid"]): r["n"]
        for r in updates.groupBy("__pp", "__fid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    affected = set(upd_counts)

    order = list(_META_COLS) + data_cols + ["__fid"]
    pieces: list[DataFrame] = []
    log_stats: list[dict] = []
    if affected and mor:
        # MERGE-ON-READ: updates become log-block appends to the
        # affected file groups — the old base files are never read.
        # Groups under a PENDING compaction route their new blocks to
        # the scheduled instant's future base slice.
        pend = _pending_compaction_targets(path)
        info = {
            (s["partition"], s["fileId"]): _log_target_info(s, pend)
            for s in slices
            if (s["partition"], s["fileId"]) in affected
        }
        upd_rows = _fresh_meta_cols(
            updates, instant, record_key, partition_by, F.col("__fid")
        )
        for part, fid, rel, n, size in _append_log_files(
            upd_rows.select(*order), path, instant, info, kind="data"
        ):
            inf = info[(part, fid)]
            log_stats.append(
                {
                    "fileId": fid,
                    "path": rel,
                    "prevCommit": inf["base"],
                    "numWrites": n,
                    "numDeletes": 0,
                    "numUpdateWrites": n,
                    "numInserts": 0,
                    "totalWriteBytes": size,
                    "fileSizeInBytes": size,
                    "partitionPath": inf["part"],
                    "logVersion": inf["ver"],
                    "baseInstant": inf["base"],
                    "baseFile": inf["base_file"],
                }
            )
    elif affected:
        aff_paths = [
            os.path.join(path, s["stat"]["path"])
            for s in slices
            if (s["partition"], s["fileId"]) in affected
        ]
        _, full = _full_schema(schema_json)
        old = (
            df.sparkSession.read.schema(full)
            .parquet(*aff_paths)
            .withColumn("__fid", _fid_from_filename())
        )
        upd_keys = updates.select("__key", "__pp").distinct()
        carried = old.join(
            upd_keys,
            (old["_hoodie_record_key"] == upd_keys["__key"])
            & (old["_hoodie_partition_path"] == upd_keys["__pp"]),
            "left_anti",
        )
        # carried rows keep commit_time/seqno/key/pp; the file name
        # moves to the NEW slice of their group
        carried = carried.withColumn(
            "_hoodie_file_name",
            F.concat(
                F.col("__fid"), F.lit(f"_{_WRITE_TOKEN}_{instant}.parquet")
            ),
        )
        upd_rows = _fresh_meta_cols(
            updates, instant, record_key, partition_by, F.col("__fid")
        )
        pieces.append(carried.select(*order))
        pieces.append(upd_rows.select(*order))

    if inserts.limit(1).count() > 0:
        ins_src = (
            inserts.repartition(*partition_by) if partition_by else inserts
        )
        fid_base = uuid.uuid4().hex[:12]
        fid_col = F.concat(
            F.lit(fid_base + "-"), F.spark_partition_id().cast("string")
        )
        ins_rows = _fresh_meta_cols(
            ins_src, instant, record_key, partition_by, fid_col
        ).withColumn("__fid", fid_col)
        pieces.append(ins_rows.select(*order))

    action = "deltacommit" if mor else "commit"
    extra = (
        {"deltastreamer.checkpoint.key": checkpoint} if checkpoint else None
    )
    if not pieces and not log_stats:
        # nothing to write: empty incoming batch — publish an empty commit
        meta = _commit_meta("upsert", {}, schema_json, extra)
        _complete_instant(path, instant, action, meta)
        return instant

    placed: list[dict] = []
    if pieces:
        out = reduce(lambda a, b: a.unionByName(b), pieces)
        placed = _stage_place(out, path, instant, partition_by)
    prev_by_group = {
        (s["partition"], s["fileId"]): s["instant"] for s in slices
    }
    p2ws = _write_stats(
        placed,
        prev_by_group,
        props.get("hoodie.payload.event.time.field"),
        path,
        updates_by_group=upd_counts,
        blooms=_maybe_blooms(df.sparkSession, path, placed, props),
    )
    for st in log_stats:
        p2ws.setdefault(st["partitionPath"], []).append(st)
    meta = _commit_meta("upsert", p2ws, schema_json, extra)
    touched = {(p["partition"], p["fid"]) for p in placed} | {
        (st["partitionPath"], st["fileId"]) for st in log_stats
    }
    _check_conflicts(path, base, touched)
    _complete_instant(path, instant, action, meta)
    return instant


def delete_hudi(keys_df: DataFrame, path: str) -> str:
    """Hudi COW DELETE: tag the key batch against live file groups,
    rewrite only groups that held a deleted key (remaining rows carry
    their meta columns unchanged). A group whose every record dies
    still publishes a 0-row base file slice — the spec's COW shape for
    full-group deletes — written schema-exact from the old footer.

    Index semantics match the upsert's NON-GLOBAL index when possible:
    a key batch carrying every partition column deletes per
    (record key, partition path), exactly how upsert_hudi tags. A batch
    with the key column only falls back to GLOBAL-index semantics (the
    key dies in every partition) — the spec's global-index delete shape
    for key-only payloads."""
    props = _read_props(path)
    record_key = props["hoodie.table.recordkey.fields"]
    partition_by = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    if props.get("hoodie.populate.meta.fields", "true") == "false":
        raise ValueError(
            "virtual-key (bootstrap-adopted) tables support "
            "read/append/insert_overwrite only; rewrite through write_hudi "
            "for row-level operations"
        )
    spark = keys_df.sparkSession
    _, schema_json, slices = _replay_hudi(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    mor = props.get("hoodie.table.type") == "MERGE_ON_READ"
    action = "deltacommit" if mor else "commit"
    base = {i for i, _ in completed_instants(path)}
    instant = _claim_instant(path, action)

    _, full = _full_schema(schema_json)
    scoped = bool(partition_by) and all(
        c in keys_df.columns for c in partition_by
    )
    if scoped:
        del_keys = keys_df.select(
            F.col(record_key).cast("string").alias("__key"),
            _partition_path_col(partition_by).alias("__part"),
        ).distinct()
    else:
        del_keys = keys_df.select(
            F.col(record_key).cast("string").alias("__key")
        ).distinct()
    # BLOOM-indexed tables prune the tagging read like the upsert does —
    # possible whenever the key batch carries a partition path (scoped)
    # or the table is unpartitioned; a GLOBAL delete on a partitioned
    # table must scan every partition's bases by definition
    tag_slices = slices
    if props.get("hoodie.index.type") == "BLOOM" and (
        scoped or not partition_by
    ):
        probe = (
            del_keys.select(
                "__key", F.col("__part").alias("__pp")
            )
            if scoped
            else del_keys.select("__key", F.lit("").alias("__pp"))
        )
        tag_slices = _tagging_candidate_slices(spark, probe, slices)
    if tag_slices:
        current = _scan_slices(
            spark,
            path,
            tag_slices,
            full,
            view="read_optimized",
            partition_by=partition_by,
        ).withColumn("__fid", _fid_from_filename())
    else:
        current = spark.createDataFrame([], full).withColumn(
            "__fid", F.lit(None).cast("string")
        )

    def _match(df: DataFrame):
        cond = df["_hoodie_record_key"] == del_keys["__key"]
        if scoped:
            cond = cond & (df["_hoodie_partition_path"] == del_keys["__part"])
        return cond

    hit = current.join(del_keys, _match(current), "inner")
    # per-group delete counts: metadata-scale collect; group identity is
    # (partition path, fileId) — the same fileId can live in several
    # partitions when one write task landed multiple partitions
    del_counts = {
        (r["_hoodie_partition_path"], r["__fid"]): r["n"]
        for r in hit.groupBy("_hoodie_partition_path", "__fid")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not del_counts:
        meta = _commit_meta("delete", {}, schema_json)
        _complete_instant(path, instant, action, meta)
        return instant

    slice_by = {(s["partition"], s["fileId"]): s for s in slices}
    if mor:
        # MERGE-ON-READ: deletes append tombstone blocks (avro delete
        # records) to the affected groups' log files — no base is read
        # beyond the key column used for tagging above. Groups under a
        # PENDING compaction route tombstones to the scheduled instant.
        pend = _pending_compaction_targets(path)
        info = {
            gkey: _log_target_info(slice_by[gkey], pend)
            for gkey in sorted(del_counts)
        }
        tomb = hit.select(
            "_hoodie_record_key", "_hoodie_partition_path", "__fid"
        )
        log_stats = []
        for part, fid, rel, n, size in _append_log_files(
            tomb, path, instant, info, kind="delete"
        ):
            inf = info[(part, fid)]
            log_stats.append(
                {
                    "fileId": fid,
                    "path": rel,
                    "prevCommit": inf["base"],
                    "numWrites": 0,
                    "numDeletes": n,
                    "numUpdateWrites": 0,
                    "numInserts": 0,
                    "totalWriteBytes": size,
                    "fileSizeInBytes": size,
                    "partitionPath": inf["part"],
                    "logVersion": inf["ver"],
                    "baseInstant": inf["base"],
                    "baseFile": inf["base_file"],
                }
            )
        p2ws: dict[str, list[dict]] = {}
        for st in log_stats:
            p2ws.setdefault(st["partitionPath"], []).append(st)
        meta = _commit_meta("delete", p2ws, schema_json)
        _check_conflicts(
            path,
            base,
            {(st["partitionPath"], st["fileId"]) for st in log_stats},
        )
        _complete_instant(path, instant, action, meta)
        return instant
    aff_paths = [
        os.path.join(path, slice_by[gkey]["stat"]["path"])
        for gkey in sorted(del_counts)
    ]
    old = (
        spark.read.schema(full)
        .parquet(*aff_paths)
        .withColumn("__fid", _fid_from_filename())
    )
    remain = old.join(del_keys, _match(old), "left_anti").withColumn(
        "_hoodie_file_name",
        F.concat(F.col("__fid"), F.lit(f"_{_WRITE_TOKEN}_{instant}.parquet")),
    )
    placed = _stage_place(remain, path, instant, partition_by)
    placed_groups = {(p["partition"], p["fid"]) for p in placed}

    # groups left with zero rows produce no staged output — publish the
    # empty slice directly (footer-exact schema from the previous file)
    import pyarrow.parquet as pq

    for gkey in sorted(set(del_counts) - placed_groups):
        fid = gkey[1]
        s = slice_by[gkey]
        old_fp = os.path.join(path, s["stat"]["path"])
        dest_dir = (
            os.path.join(path, s["partition"]) if s["partition"] else path
        )
        dest = os.path.join(
            dest_dir, f"{fid}_{_WRITE_TOKEN}_{instant}.parquet"
        )
        sch = pq.read_schema(old_fp)
        pq.write_table(sch.empty_table(), dest)
        placed.append(
            {
                "fid": fid,
                "partition": s["partition"],
                "rel": os.path.relpath(dest, path),
                "rows": 0,
                "size": os.path.getsize(dest),
            }
        )

    prev_by_group = {
        (s["partition"], s["fileId"]): s["instant"] for s in slices
    }
    prev_rows = {
        (s["partition"], s["fileId"]): int(s["stat"].get("numWrites", 0))
        for s in slices
    }
    deletes_by_group = {
        (p["partition"], p["fid"]): prev_rows.get(
            (p["partition"], p["fid"]), 0
        )
        - p["rows"]
        for p in placed
    }
    p2ws = _write_stats(
        placed,
        prev_by_group,
        props.get("hoodie.payload.event.time.field"),
        path,
        deletes_by_group=deletes_by_group,
        blooms=_maybe_blooms(spark, path, placed, props),
    )
    meta = _commit_meta("delete", p2ws, schema_json)
    _check_conflicts(
        path, base, {(p["partition"], p["fid"]) for p in placed}
    )
    _complete_instant(path, instant, "commit", meta)
    return instant


def cluster_hudi(
    path: str,
    sort_by: list[str] | None = None,
    target_groups: int = 4,
) -> str:
    """Clustering as a REPLACECOMMIT: rewrite every live file slice into
    one compacted file group per partition, listing all previous
    fileIds in partitionToReplaceFileIds. Records keep their meta
    columns (commit time/seqno survive — incremental queries stay exact
    across clustering); only the file name moves. Time travel BEFORE
    the replace instant still resolves the old groups.

    `sort_by` (unpartitioned tables) RANGE-CLUSTERS the rewrite into
    `target_groups` file groups — one column range-partitions directly,
    several interleave through the shared Morton z-value machinery — so
    per-file stat envelopes (e.g. minEventTime/maxEventTime) become
    disjoint and skip reads start pruning, Hudi's sort/z-order
    clustering strategy."""
    spark = SparkSession.getActiveSession()
    assert spark is not None, "cluster_hudi needs an active SparkSession"
    props = _read_props(path)
    partition_by = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    _, schema_json, slices = _replay_hudi(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    if not slices:
        raise ValueError("nothing to cluster: no live file slices")
    if any(s.get("logs") for s in slices):
        raise ValueError(
            "clustering requires compacted slices: run compact_hudi first "
            "(log files would be silently dropped by a base-only rewrite)"
        )
    if any(s["stat"].get("bootstrapped") for s in slices):
        raise ValueError(
            "virtual-key (bootstrap-adopted) tables support "
            "read/append/insert_overwrite only; rewrite through write_hudi "
            "for clustering"
        )
    base = {i for i, _ in completed_instants(path)}
    instant = _claim_instant(path, "replacecommit")

    if sort_by and partition_by:
        raise ValueError(
            "sort_by clustering applies to unpartitioned tables here; "
            "partitioned tables compact one group per partition"
        )
    _, full = _full_schema(schema_json)
    paths = [os.path.join(path, s["stat"]["path"]) for s in slices]
    cur = spark.read.schema(full).parquet(*paths)
    fid_base = uuid.uuid4().hex[:12]
    if partition_by:
        # one task per partition value -> one compacted group apiece
        cur = cur.repartition(*[F.col(c) for c in partition_by])
    elif sort_by:
        if len(sort_by) == 1:
            cur = cur.repartitionByRange(target_groups, F.col(sort_by[0]))
        else:
            from atlas_migration_repo_spark.sources.delta_interop import (
                _zvalue,
            )

            cur = (
                cur.withColumn("__zv", _zvalue(cur, list(sort_by)))
                .repartitionByRange(target_groups, F.col("__zv"))
                .drop("__zv")
            )
    else:
        cur = cur.coalesce(1)
    fid_col = F.concat(
        F.lit(fid_base + "-"), F.spark_partition_id().cast("string")
    )
    out = cur.withColumn("__fid", fid_col).withColumn(
        "_hoodie_file_name",
        F.concat(fid_col, F.lit(f"_{_WRITE_TOKEN}_{instant}.parquet")),
    )
    placed = _stage_place(out, path, instant, partition_by)
    replaces: dict[str, list[str]] = {}
    for s in slices:
        replaces.setdefault(s["partition"], []).append(s["fileId"])
    for v in replaces.values():
        v.sort()
    prev_by_group = {
        (s["partition"], s["fileId"]): s["instant"] for s in slices
    }
    p2ws = _write_stats(
        placed,
        prev_by_group,
        props.get("hoodie.payload.event.time.field"),
        path,
        blooms=_maybe_blooms(spark, path, placed, props),
    )
    meta = _commit_meta("cluster", p2ws, schema_json, replaces=replaces)
    _check_conflicts(
        path,
        base,
        {(p, fid) for p, fids in replaces.items() for fid in fids},
    )
    _complete_instant(path, instant, "replacecommit", meta)
    return instant


# ---------------------------------------------------------------------------
# registered queries (each rebuilds its fixture idempotently per call)
# ---------------------------------------------------------------------------
@query(
    "hudi_roundtrip",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def hudi_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi write -> timeline replay -> snapshot read: land orders as a
    real `.hoodie` COW table (requested/inflight/completed instant files,
    HoodieWriteStat metadata, `_hoodie_*` meta columns, spec file names)
    and read it back through the timeline. Values round-trip exactly."""
    root = scratch_path(sf_dir, "orders_hudi")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_hudi(df, root, record_key="o_orderkey")
    return read_hudi(spark, root)


@query(
    "hudi_partition_pruning",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def hudi_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned Hudi table + TIMELINE-level pruning: file
    slices of non-matching priorities are dropped from the read set via
    their writeStat partitionPath before Spark lists a single file."""
    root = scratch_path(sf_dir, "orders_hudi_part")
    shutil.rmtree(root, ignore_errors=True)
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_hudi(
        df, root, record_key="o_orderkey", partition_by=["o_orderpriority"]
    )
    pruned = read_hudi(
        spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )


@query(
    "hudi_upsert_cow",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 3
                ELSE o_totalprice END AS o_totalprice,
           CAST(CASE WHEN o_orderkey % 2 = 0 THEN 3.0 ELSE 1.0 END
                AS DOUBLE) AS o_version
    FROM orders
    """,
)
def hudi_upsert_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COW upsert with precombine: base holds keys !=0 (mod 4) at
    version 1; the incoming batch carries EVERY even key TWICE (version
    2 at 2x price, version 3 at 3x) — precombine keeps the version-3
    row per key, updates rewrite only affected file groups, unmatched
    even keys (0 mod 4) land as inserts in fresh groups. Final table =
    all orders keys, evens at 3x/v3, odds untouched at v1."""
    root = scratch_path(sf_dir, "orders_hudi_upsert")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.where(F.col("o_orderkey") % 4 != 0).withColumn(
        "o_version", F.lit(1.0)
    )
    write_hudi(
        base, root, record_key="o_orderkey", precombine="o_version"
    )
    evens = orders.where(F.col("o_orderkey") % 2 == 0)
    batch = evens.select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(2.0).alias("o_version"),
    ).unionByName(
        evens.select(
            "o_orderkey",
            (F.col("o_totalprice") * 3).alias("o_totalprice"),
            F.lit(3.0).alias("o_version"),
        )
    )
    upsert_hudi(batch, root)
    return read_hudi(spark, root)


@query(
    "hudi_delete_cow",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderkey % 5 <> 0
    GROUP BY o_orderstatus
    """,
)
def hudi_delete_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COW delete: a key batch (every 5th order) rewrites only the file
    groups that held those keys; remaining rows keep their original
    `_hoodie_commit_time`."""
    root = scratch_path(sf_dir, "orders_hudi_del")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_hudi(orders, root, record_key="o_orderkey")
    delete_hudi(
        orders.where(F.col("o_orderkey") % 5 == 0).select("o_orderkey"), root
    )
    return read_hudi(spark, root).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )


_HUDI_TT_CUT = "1997-01-01"


@query(
    "hudi_time_travel",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '{_HUDI_TT_CUT} 00:00:00'
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def hudi_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across three instants: i0 = orders before the cut,
    i1 = append of the rest, i2 = DELETE of every non-F order. Reading
    as-of each instant proves slice visibility is per-instant exact
    (the delete's rewritten slices are invisible at i0/i1)."""
    root = scratch_path(sf_dir, "orders_hudi_tt")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    write_hudi(
        orders.where(F.col("o_orderdate") < _HUDI_TT_CUT),
        root,
        record_key="o_orderkey",
    )
    write_hudi(
        orders.where(F.col("o_orderdate") >= _HUDI_TT_CUT),
        root,
        record_key="o_orderkey",
    )
    delete_hudi(
        orders.where(F.col("o_orderstatus") != "F").select("o_orderkey"), root
    )
    instants = [i for i, _a in completed_instants(root)]
    outs = []
    for v, instant in enumerate(instants):
        agg = read_hudi(spark, root, as_of=instant).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum(F.col("o_totalprice")).alias("total"),
        )
        outs.append(agg.select(F.lit(v).alias("version"), "n_rows", "total"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "hudi_incremental",
    oracle="SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0",
)
def hudi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental query: three insert commits land thirds of orders;
    pulling (i0, latest] returns exactly the records of commits 2 and 3
    — only slices newer than the begin instant are read, and the
    commit-time predicate pushes to parquet."""
    root = scratch_path(sf_dir, "orders_hudi_incr")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(3):
        write_hudi(
            orders.where(F.col("o_orderkey") % 3 == i),
            root,
            record_key="o_orderkey",
        )
    begin = completed_instants(root)[0][0]
    return read_hudi_incremental(spark, root, begin)


@query(
    "hudi_insert_overwrite",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           {sql_msum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.5 "
                     "ELSE o_totalprice END")} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def hudi_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE as a replacecommit: partition F is rewritten
    with discounted rows; its previous file groups land in
    partitionToReplaceFileIds while other partitions' groups stay
    untouched (no rewrite, no replace)."""
    root = scratch_path(sf_dir, "orders_hudi_iow")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_hudi(
        orders, root, record_key="o_orderkey", partition_by=["o_orderstatus"]
    )
    f_half = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
        "o_orderstatus",
    )
    write_hudi(
        f_half,
        root,
        record_key="o_orderkey",
        partition_by=["o_orderstatus"],
        operation="insert_overwrite",
    )
    return read_hudi(spark, root).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )


@query(
    "hudi_clustering",
    oracle=f"""
    SELECT 0 AS snap, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    UNION ALL
    SELECT 1 AS snap, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def hudi_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering replacecommit: four small insert commits compact into
    one file group; the data is byte-identical before (snap 0,
    time-traveled to the pre-cluster instant) and after (snap 1), and
    records keep their original commit times through the rewrite."""
    root = scratch_path(sf_dir, "orders_hudi_cluster")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(4):
        write_hudi(
            orders.where(F.col("o_orderkey") % 4 == i),
            root,
            record_key="o_orderkey",
        )
    pre = completed_instants(root)[-1][0]
    cluster_hudi(root)
    outs = []
    for snap, as_of in ((0, pre), (1, None)):
        agg = read_hudi(spark, root, as_of=as_of).agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum(F.col("o_totalprice")).alias("total"),
        )
        outs.append(agg.select(F.lit(snap).alias("snap"), "n_rows", "total"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "hudi_sink_txn",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def hudi_sink_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once landing through deltastreamer-style checkpoint keys:
    three batches commit with checkpoints feed:0..2, then batch 1
    REPLAYS with its original checkpoint — the duplicate is a committed
    no-op, so the landed table equals the source exactly."""
    root = scratch_path(sf_dir, "orders_hudi_sink_txn")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    batches = [orders.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    write_hudi(batches[0], root, record_key="o_orderkey", checkpoint="feed:0")
    write_hudi(batches[1], root, record_key="o_orderkey", checkpoint="feed:1")
    write_hudi(batches[1], root, record_key="o_orderkey", checkpoint="feed:1")
    write_hudi(batches[2], root, record_key="o_orderkey", checkpoint="feed:2")
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )


_HUDI_EV_LO = "2024-01-10 00:00:00"
_HUDI_EV_HI = "2024-01-20 00:00:00"


@query(
    "hudi_event_range",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_rows, {sql_msum('value')} AS total
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{_HUDI_EV_LO}' AND TIMESTAMP '{_HUDI_EV_HI}'
    GROUP BY event_type
    """,
)
def hudi_event_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time skip read: events land sorted by ts into many file
    groups, each writeStat carrying the spec's minEventTime/maxEventTime
    (epoch ms, from parquet footers only); a range read prunes slices by
    that envelope in the TIMELINE and applies the exact predicate to the
    survivors."""
    root = scratch_path(sf_dir, "events_hudi_ev")
    shutil.rmtree(root, ignore_errors=True)
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .repartitionByRange(8, "ts")
    )
    write_hudi(ev, root, record_key="event_id", event_time_field="ts")
    ranged = read_hudi_event_range(spark, root, _HUDI_EV_LO, _HUDI_EV_HI)
    return ranged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("value")).alias("total"),
    )


@query(
    "hudi_timeline",
    oracle="""
    SELECT CAST(idx AS INT) AS idx, action, op
    FROM (VALUES (0, 'commit', 'insert'), (1, 'commit', 'upsert'),
                 (2, 'commit', 'delete'), (3, 'replacecommit', 'cluster'))
         AS t(idx, action, op)
    """,
)
def hudi_timeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The timeline as data: one lifecycle (insert -> upsert -> delete ->
    cluster) leaves exactly the spec's action/operationType sequence on
    the completed timeline."""
    root = scratch_path(sf_dir, "nation_hudi_timeline")
    shutil.rmtree(root, ignore_errors=True)
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_hudi(nation, root, record_key="n_nationkey")
    upsert_hudi(nation.where(F.col("n_nationkey") % 2 == 0), root)
    delete_hudi(
        nation.where(F.col("n_nationkey") % 7 == 0).select("n_nationkey"), root
    )
    cluster_hudi(root)
    rows = [
        (i, action, op)
        for i, (_instant, action, op) in enumerate(hudi_timeline(root))
    ]
    schema = T.StructType(
        [
            T.StructField("idx", T.IntegerType()),
            T.StructField("action", T.StringType()),
            T.StructField("op", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# MERGE-ON-READ: log-file format, log appends, merge reads, compaction
# ---------------------------------------------------------------------------
def _log_block_bytes(
    block_type: int, header: dict[int, str], content: bytes
) -> bytes:
    """Frame one log block per the spec's field sequence: magic, block
    size, log format version, block type, header map (id -> utf8),
    content length + content, footer map, trailing block size (enables
    reverse scans). Big-endian fixed-width ints; map entries sorted by
    id for determinism."""
    import struct

    body = io.BytesIO()
    body.write(struct.pack(">i", _LOG_FORMAT_VERSION))
    body.write(struct.pack(">i", block_type))
    body.write(struct.pack(">i", len(header)))
    for k in sorted(header):
        v = header[k].encode()
        body.write(struct.pack(">i", k))
        body.write(struct.pack(">i", len(v)))
        body.write(v)
    body.write(struct.pack(">q", len(content)))
    body.write(content)
    body.write(struct.pack(">i", 0))  # footer map: empty
    b = body.getvalue()
    total = len(b) + 8  # + the trailing size field
    out = io.BytesIO()
    out.write(_LOG_MAGIC)
    out.write(struct.pack(">q", total))
    out.write(b)
    out.write(struct.pack(">q", total))
    return out.getvalue()


def _parse_log_file(fp: str) -> list[tuple[int, dict, bytes]]:
    """Parse every block of a log file -> [(type, header, content)].
    Torn trailing bytes (a crashed append) are treated as the spec's
    corrupt-block case: parsing stops at the last complete block."""
    import struct

    out: list[tuple[int, dict, bytes]] = []
    with open(fp, "rb") as fh:
        data = fh.read()
    pos = 0
    n = len(data)
    while pos + len(_LOG_MAGIC) + 8 <= n:
        if data[pos : pos + len(_LOG_MAGIC)] != _LOG_MAGIC:
            break  # torn/corrupt tail
        pos += len(_LOG_MAGIC)
        (total,) = struct.unpack(">q", data[pos : pos + 8])
        pos += 8
        if pos + total > n:
            break  # incomplete block
        end = pos + total
        (_ver,) = struct.unpack(">i", data[pos : pos + 4])
        (btype,) = struct.unpack(">i", data[pos + 4 : pos + 8])
        cur = pos + 8
        (n_hdr,) = struct.unpack(">i", data[cur : cur + 4])
        cur += 4
        header: dict[int, str] = {}
        for _ in range(n_hdr):
            k, ln = struct.unpack(">ii", data[cur : cur + 8])
            cur += 8
            header[k] = data[cur : cur + ln].decode()
            cur += ln
        (clen,) = struct.unpack(">q", data[cur : cur + 8])
        cur += 8
        content = data[cur : cur + clen]
        out.append((btype, header, content))
        pos = end
    return out


_DELETE_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("recordKey", T.StringType(), False),
        T.StructField("partitionPath", T.StringType(), True),
        T.StructField("orderingVal", T.LongType(), True),
    ]
)


def _append_log_files(
    df: DataFrame,
    path: str,
    instant: str,
    info: dict[tuple[str, str], dict],
    kind: str,
) -> list[tuple[str, str, str, int, int]]:
    """Distributed MOR log append: repartition by file group — the FULL
    (partition path, fileId) identity, since one write task can land the
    same fileId in several partitions — each task writes ONE new
    log-file version per group it holds — a magic-framed
    block of parquet-data (updates) or avro delete records (tombstones)
    — and yields its metadata row. Data bytes never pass through the
    driver; the returned list is file-group-scale. Log files publish
    through the SAME LogStore put-if-absent seam as every commit
    publisher (resolved on the driver, shipped in the task closure so
    `set_default_log_store` overrides reach executors): a concurrent
    writer racing the same log version fails loudly rather than
    clobbering, on POSIX and rename-less object stores alike."""
    assert kind in ("data", "delete")
    out_rows = df.repartition(
        F.col("_hoodie_partition_path"), F.col("__fid")
    ).mapInPandas(
        _log_writer_fn(path, instant, info, kind, resolve_log_store()),
        schema="part string, fid string, rel string, n long, size long",
    )
    return [
        (r["part"], r["fid"], r["rel"], int(r["n"]), int(r["size"]))
        for r in out_rows.collect()
    ]


def _log_writer_fn(
    path: str, instant: str, info: dict[str, dict], kind: str, store
):
    def write_groups(pdfs):
        import os as _os
        import uuid as _uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as _pq

        from atlas_migration_repo_spark.sources.avro import (
            _container_bytes,
            avro_schema_for,
        )

        acc: dict[tuple[str, str], list] = {}
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for gkey, g in pdf.groupby(
                ["_hoodie_partition_path", "__fid"], sort=False
            ):
                acc.setdefault(tuple(gkey), []).append(g)
        outs = []
        for (part, fid), frames in acc.items():
            g = pd.concat(frames, ignore_index=True)
            inf = info[(part, fid)]
            name = f".{fid}_{inf['base']}.log.{inf['ver']}_{_WRITE_TOKEN}"
            dest_dir = (
                _os.path.join(path, inf["part"]) if inf["part"] else path
            )
            if kind == "data":
                g2 = g.drop(columns=["__fid"]).copy()
                g2["_hoodie_file_name"] = name
                buf = io.BytesIO()
                _pq.write_table(
                    pa.Table.from_pandas(g2, preserve_index=False), buf
                )
                content = buf.getvalue()
                btype = _BLOCK_PARQUET
                n = len(g2)
            else:
                rows = list(
                    zip(
                        g["_hoodie_record_key"],
                        g["_hoodie_partition_path"],
                        [0] * len(g),
                    )
                )
                content = _container_bytes(
                    avro_schema_for(_DELETE_RECORD_SCHEMA, "HoodieDeleteRecord"),
                    rows,
                )
                btype = _BLOCK_DELETE
                n = len(rows)
            block = _log_block_bytes(
                btype,
                {
                    _HDR_INSTANT_TIME: instant,
                    _HDR_TARGET_INSTANT_TIME: inf["base"],
                },
                content,
            )
            _os.makedirs(dest_dir, exist_ok=True)
            tmp = _os.path.join(dest_dir, f".tmp-{_uuid.uuid4().hex}")
            with open(tmp, "wb") as fh:
                fh.write(block)
                fh.flush()
                _os.fsync(fh.fileno())
            dest = _os.path.join(dest_dir, name)
            # put-if-absent through the LogStore seam (hard link on
            # POSIX, claim+staged-copy on rename-less object stores):
            # a racing writer of the same log version collides loudly
            if not store.publish(tmp, dest):
                _os.unlink(tmp)
                raise ConcurrentHudiWriteError(
                    f"log version already published: {dest}"
                )
            _os.unlink(tmp)
            outs.append(
                (
                    part,
                    fid,
                    _os.path.relpath(dest, path),
                    n,
                    _os.path.getsize(dest),
                )
            )
        yield pd.DataFrame(outs, columns=["part", "fid", "rel", "n", "size"])

    return write_groups


def _log_rows_df(
    spark: SparkSession, path: str, slices: list[dict], full: T.StructType
) -> DataFrame:
    """Parse the log blocks of the given slices into rows, DISTRIBUTED:
    one input row per log file fans out to tasks that open the file,
    unwrap each block, and emit Arrow batches (parquet content read
    in-memory; delete blocks become tombstone rows with null data
    columns). Ordering column `__ord` = '<logInstant>:<blockIdx>' —
    string-sortable above the base rows' empty ord."""
    rows = []
    for s in slices:
        for lg in s.get("logs", []):
            rows.append(
                (
                    os.path.join(path, lg["stat"]["path"]),
                    lg["instant"],
                    s["fileId"],
                    s["partition"],
                )
            )
    names = [f.name for f in full.fields]
    out_schema = T.StructType(
        list(full.fields)
        + [
            T.StructField("__ord", T.StringType()),
            T.StructField("__del", T.IntegerType()),
            T.StructField("__fid", T.StringType()),
        ]
    )

    def parse(pdfs):
        import pandas as pd
        import pyarrow.parquet as _pq

        from atlas_migration_repo_spark.sources.avro import parse_container

        for pdf in pdfs:
            for fp, ord_, fid, _part in pdf.itertuples(index=False):
                for bi, (btype, _hdr, content) in enumerate(
                    _parse_log_file(fp)
                ):
                    if btype == _BLOCK_PARQUET:
                        out = _pq.read_table(io.BytesIO(content)).to_pandas()
                        out = out.reindex(columns=names)
                        out["__del"] = 0
                    elif btype == _BLOCK_DELETE:
                        _, recs = parse_container(content)
                        out = pd.DataFrame(
                            {c: [None] * len(recs) for c in names}
                        )
                        out["_hoodie_record_key"] = [r[0] for r in recs]
                        out["_hoodie_partition_path"] = [r[1] for r in recs]
                        out["__del"] = 1
                    else:
                        continue
                    out["__ord"] = f"{ord_}:{bi:04d}"
                    out["__fid"] = fid
                    yield out

    inp = spark.createDataFrame(
        rows, "path string, ord string, fid string, part string"
    ).repartition(min(len(rows), 32))
    return inp.mapInPandas(parse, schema=out_schema)


def _merge_slices(
    spark: SparkSession, path: str, slices: list[dict], full: T.StructType
) -> DataFrame:
    """MOR snapshot merge over LOG-BEARING slices: base rows (ord='')
    union log rows (ord=instant:block), latest writer per record key
    wins, winners that are delete tombstones drop. One window shuffle,
    scoped to exactly these file groups. Output keeps __fid for callers
    (compaction) and the full meta+data schema."""
    from pyspark.sql import Window

    base_paths = [os.path.join(path, s["stat"]["path"]) for s in slices]
    base = (
        spark.read.schema(full)
        .parquet(*base_paths)
        .withColumn("__ord", F.lit(""))
        .withColumn("__del", F.lit(0))
        .withColumn("__fid", _fid_from_filename())
    )
    logs = _log_rows_df(spark, path, slices, full)
    ev = base.unionByName(logs)
    w = Window.partitionBy(
        "_hoodie_record_key", "_hoodie_partition_path"
    ).orderBy(F.col("__ord").desc())
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col("__del") == 0))
        .drop("__rn", "__ord", "__del")
    )


def _pending_compaction_targets(path: str) -> dict[tuple[str, str], str]:
    """(partition, fileId) -> the pending compaction instant covering
    the group. Writers route NEW log blocks to this instant's future
    base slice (the spec's barrier), so plan execution never loses a
    post-schedule write."""
    out: dict[tuple[str, str], str] = {}
    for inst, plan in pending_compactions_hudi(path):
        for op in plan["operations"]:
            out[(op["partitionPath"], op["fileId"])] = inst
    return out


def _log_target_info(s: dict, pend: dict[tuple[str, str], str]) -> dict:
    """Log-append routing for one visible slice: target the pending
    compaction instant when one covers the group (versions restart per
    target base), else the slice's own base instant."""
    gkey = (s["partition"], s["fileId"])
    tgt = pend.get(gkey, s["instant"])
    if tgt < s["instant"]:  # stale marker below the current base
        tgt = s["instant"]
    ver = (
        sum(
            1
            for lg in s.get("logs", [])
            if lg["stat"].get("baseInstant", s["instant"]) == tgt
        )
        + 1
    )
    return {
        "part": s["partition"],
        "base": tgt,
        "ver": ver,
        "base_file": os.path.basename(s["stat"]["path"]),
    }


def schedule_compaction_hudi(path: str) -> str:
    """SCHEDULE a compaction without running it — the spec's async
    contract: the claimed instant's `.compaction.requested` marker
    carries the PLAN (per file group: base file, the exact log files to
    fold, the timeline snapshot it was planned against). Writers that
    land between scheduling and execution route their new log blocks to
    the scheduled instant (see the pending-target logic in upsert/
    delete), so execution never races ingestion; `run_pending_
    compactions` is the maintenance verb symmetric with clean/archive
    (VERDICT r6 "next" #6)."""
    props = _read_props(path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError("compaction applies to MERGE_ON_READ tables")
    _, schema_json, slices = _replay_hudi(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    already = _pending_compaction_targets(path)
    log_slices = [
        s
        for s in slices
        if s.get("logs") and (s["partition"], s["fileId"]) not in already
    ]
    if not log_slices:
        raise ValueError(
            "nothing to compact: no file slice carries logs (or every "
            "log-bearing group is already covered by a pending plan)"
        )
    plan = {
        "operations": [
            {
                "partitionPath": s["partition"],
                "fileId": s["fileId"],
                "baseInstant": s["instant"],
                "baseFile": s["stat"]["path"],
                "logFiles": [
                    {"path": lg["stat"]["path"], "instant": lg["instant"]}
                    for lg in s["logs"]
                ],
            }
            for s in log_slices
        ],
        "schema": schema_json,
        "baseSnapshot": sorted(i for i, _ in completed_instants(path)),
    }
    return _claim_instant(
        path,
        "compaction",
        content=json.dumps(plan, sort_keys=True),
        inflight=False,
    )


def pending_compactions_hudi(path: str) -> list[tuple[str, dict]]:
    """(instant, plan) for every scheduled compaction not yet executed,
    ascending — `.compaction.requested` markers without a completed
    commit file."""
    hoodie = _hoodie_dir(path)
    if not os.path.isdir(hoodie):
        return []
    done = {i for i, _ in completed_instants(path)}
    out = []
    for name in sorted(os.listdir(hoodie)):
        m = re.match(r"^(\d{17})\.compaction\.requested$", name)
        if not m or m.group(1) in done:
            continue
        with open(os.path.join(hoodie, name)) as fh:
            out.append((m.group(1), json.load(fh)))
    return out


def run_pending_compactions(path: str) -> list[str]:
    """Execute every scheduled compaction plan, oldest first; returns
    the instants completed. Each execution folds EXACTLY the plan's log
    files into new bases at the SCHEDULED instant — log blocks appended
    after scheduling target that instant and stay live on the new
    slice."""
    return [
        _execute_compaction(path, instant, plan)
        for instant, plan in pending_compactions_hudi(path)
    ]


def _execute_compaction(path: str, instant: str, plan: dict) -> str:
    """Run one scheduled compaction plan: requested → inflight → a
    completed `commit` whose new bases carry the merged (plan-listed)
    base+log rows with meta columns preserved. Aborts loudly if a
    replacecommit or base rewrite touched a planned group after the
    plan's snapshot (log appends are expected and compatible)."""
    spark = SparkSession.getActiveSession()
    assert spark is not None, "compaction needs an active SparkSession"
    props = _read_props(path)
    partition_by = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    schema_json = plan["schema"]
    planned = {
        (op["partitionPath"], op["fileId"]) for op in plan["operations"]
    }
    # base-changing conflict gate: anything completed after the plan's
    # snapshot that replaced or rewrote a planned group's BASE makes the
    # plan stale; new log stats on those groups are the design, not a
    # conflict
    base_snapshot = set(plan.get("baseSnapshot", []))
    for done_instant, action in completed_instants(path):
        if done_instant in base_snapshot:
            continue
        meta = _read_commit_meta(path, done_instant, action)
        theirs: set[tuple[str, str]] = set()
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            theirs.update(
                (part, st["fileId"])
                for st in stats
                if "logVersion" not in st
            )
        for part, fids in (meta.get("partitionToReplaceFileIds") or {}).items():
            theirs.update((part, fid) for fid in fids)
        clash = theirs & planned
        if clash:
            raise ConcurrentHudiWriteError(
                f"compaction plan {instant} is stale: {done_instant} "
                f"rewrote planned groups {sorted(clash)[:3]}"
            )
    hoodie = _hoodie_dir(path)
    with open(os.path.join(hoodie, f"{instant}.compaction.inflight"), "w"):
        pass

    data, full = _full_schema(schema_json)
    # synthetic slices: exactly the planned base + log files
    slices = [
        {
            "partition": op["partitionPath"],
            "fileId": op["fileId"],
            "instant": op["baseInstant"],
            "stat": {"path": op["baseFile"]},
            "logs": [
                {"instant": lf["instant"], "stat": {"path": lf["path"]}}
                for lf in op["logFiles"]
            ],
        }
        for op in plan["operations"]
    ]
    merged = _merge_slices(spark, path, slices, full)
    out = merged.withColumn(
        "_hoodie_file_name",
        F.concat(F.col("__fid"), F.lit(f"_{_WRITE_TOKEN}_{instant}.parquet")),
    ).select(
        *(list(_META_COLS) + [f.name for f in data.fields] + ["__fid"])
    )
    placed = _stage_place(out, path, instant, partition_by)
    placed_groups = {(p["partition"], p["fid"]) for p in placed}

    # fully-tombstoned groups stage nothing — publish their empty base
    import pyarrow.parquet as pq

    for s in slices:
        if (s["partition"], s["fileId"]) in placed_groups:
            continue
        old_fp = os.path.join(path, s["stat"]["path"])
        dest_dir = (
            os.path.join(path, s["partition"]) if s["partition"] else path
        )
        dest = os.path.join(
            dest_dir, f"{s['fileId']}_{_WRITE_TOKEN}_{instant}.parquet"
        )
        pq.write_table(pq.read_schema(old_fp).empty_table(), dest)
        placed.append(
            {
                "fid": s["fileId"],
                "partition": s["partition"],
                "rel": os.path.relpath(dest, path),
                "rows": 0,
                "size": os.path.getsize(dest),
            }
        )

    prev_by_group = {
        (op["partitionPath"], op["fileId"]): op["baseInstant"]
        for op in plan["operations"]
    }
    p2ws = _write_stats(
        placed,
        prev_by_group,
        props.get("hoodie.payload.event.time.field"),
        path,
        blooms=_maybe_blooms(spark, path, placed, props),
    )
    meta = _commit_meta("compact", p2ws, schema_json)
    _complete_instant(path, instant, "commit", meta)
    return instant


def compact_hudi(path: str) -> str:
    """SYNCHRONOUS MOR compaction — schedule + execute in one call:
    merge every log-bearing file slice into a NEW base file at the
    compaction instant (completed as a `commit`, per the spec's
    compaction-on-MOR action), preserving record meta columns —
    incremental pulls stay exact across the rewrite. Old logs reference
    the old base instant, so replay orphans them automatically; time
    travel below the compaction still merges them. A group whose
    records all died publishes a 0-row base. For the spec's async
    contract use schedule_compaction_hudi + run_pending_compactions."""
    instant = schedule_compaction_hudi(path)
    (plan,) = [p for i, p in pending_compactions_hudi(path) if i == instant]
    return _execute_compaction(path, instant, plan)


# ---------------------------------------------------------------------------
# registered MOR queries
# ---------------------------------------------------------------------------
@query(
    "hudi_mor_upsert",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 3
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)
def hudi_mor_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ upsert: updates land as parquet-data LOG BLOCKS on
    the affected file groups (no base rewrite), inserts open fresh base
    groups; the snapshot read merges base + logs with latest-writer-wins
    per record key. Evens present in the base (2 mod 4) come back from
    log records, evens absent (0 mod 4) from insert bases, odds from
    untouched base files."""
    root = scratch_path(sf_dir, "orders_hudi_mor_upsert")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_hudi(
        orders.where(F.col("o_orderkey") % 4 != 0),
        root,
        record_key="o_orderkey",
        table_type="MERGE_ON_READ",
    )
    evens = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 3).alias("o_totalprice")
    )
    upsert_hudi(evens, root)
    return read_hudi(spark, root)


@query(
    "hudi_mor_read_optimized",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 3
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
)
def hudi_mor_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The READ-OPTIMIZED view of the same MOR upsert: base files only,
    so log-block updates (keys 2 mod 4) are NOT visible yet while the
    insert-created bases (0 mod 4, at 3x) are — the spec's RO/snapshot
    divergence until compaction."""
    root = scratch_path(sf_dir, "orders_hudi_mor_ro")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_hudi(
        orders.where(F.col("o_orderkey") % 4 != 0),
        root,
        record_key="o_orderkey",
        table_type="MERGE_ON_READ",
    )
    evens = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 3).alias("o_totalprice")
    )
    upsert_hudi(evens, root)
    return read_hudi(spark, root, view="read_optimized")


@query(
    "hudi_mor_delete",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderkey % 5 <> 0
    GROUP BY o_orderstatus
    """,
)
def hudi_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR delete: tombstone blocks (avro HoodieDeleteRecord content)
    append to the affected groups' logs; the snapshot merge drops the
    keys while base files stay byte-identical."""
    root = scratch_path(sf_dir, "orders_hudi_mor_del")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_hudi(
        orders, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    delete_hudi(
        orders.where(F.col("o_orderkey") % 5 == 0).select("o_orderkey"), root
    )
    return read_hudi(spark, root).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )


_HUDI_COMPACT_ORACLE_LEG = """
    SELECT {phase} AS phase, COUNT(*) AS n_rows,
           {msum} AS total
    FROM orders WHERE o_orderkey % 5 <> 0
"""


@query(
    "hudi_compaction",
    oracle=" UNION ALL ".join(
        _HUDI_COMPACT_ORACLE_LEG.format(
            phase=p,
            msum=sql_msum(
                "CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 "
                "ELSE o_totalprice END"
            ),
        )
        for p in (0, 1, 2)
    ),
)
def hudi_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction folds an upsert + delete log history into new base
    files: the snapshot answer is identical before (phase 0) and after
    (phase 1) the compaction, and the READ-OPTIMIZED view converges to
    it (phase 2) because the logs are now absorbed into bases."""
    root = scratch_path(sf_dir, "orders_hudi_compact")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_hudi(
        orders, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    upsert_hudi(
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        ),
        root,
    )
    delete_hudi(
        orders.where(F.col("o_orderkey") % 5 == 0).select("o_orderkey"), root
    )
    outs = []

    def snap(phase: int, view: str) -> DataFrame:
        return (
            read_hudi(spark, root, view=view)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum(F.col("o_totalprice")).alias("total"),
            )
            .select(F.lit(phase).alias("phase"), "n_rows", "total")
        )

    outs.append(snap(0, "snapshot"))
    compact_hudi(root)
    outs.append(snap(1, "snapshot"))
    outs.append(snap(2, "read_optimized"))
    return reduce(lambda a, b: a.unionByName(b), outs)


@query(
    "hudi_compaction_async",
    oracle="""
    WITH folded AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
    ),
    live AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice
        FROM folded WHERE o_orderkey % 7 <> 0
    )
    SELECT CAST(0 AS INT) AS phase, o_orderkey, o_totalprice FROM live
    UNION ALL
    SELECT CAST(1 AS INT) AS phase, o_orderkey, o_totalprice FROM live
    UNION ALL
    SELECT CAST(2 AS INT) AS phase, o_orderkey, o_totalprice FROM folded
    """,
)
def hudi_compaction_async(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYNC compaction (the spec's scheduled contract): an upsert lands
    log blocks, `schedule_compaction_hudi` writes the plan into a
    `.compaction.requested` instant, then a SECOND upsert and a delete
    land AFTER scheduling (their blocks route to the scheduled instant's
    future base slice), and `run_pending_compactions` executes the plan.
    Phase 0 = snapshot before execution, phase 1 = after (must be
    identical — execution is invisible to readers), phase 2 = the
    read-optimized view after execution (exactly the plan-folded state:
    pre-schedule upserts baked in, post-schedule writes still log-only).
    """
    root = scratch_path(sf_dir, "orders_hudi_compaction_async")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_hudi(
        orders, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    upsert_hudi(
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        ),
        root,
    )
    schedule_compaction_hudi(root)
    upsert_hudi(
        orders.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            F.col("o_orderkey").cast("double").alias("o_totalprice"),
        ),
        root,
    )
    delete_hudi(
        orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"), root
    )
    outs = []

    def snap(phase: int, view: str) -> DataFrame:
        return read_hudi(spark, root, view=view).select(
            F.lit(phase).alias("phase"), "o_orderkey", "o_totalprice"
        )

    outs.append(snap(0, "snapshot"))
    run_pending_compactions(root)
    outs.append(snap(1, "snapshot"))
    outs.append(snap(2, "read_optimized"))
    return reduce(lambda a, b: a.unionByName(b), outs)


# ---------------------------------------------------------------------------
# table services: savepoint, restore, cleaner
# ---------------------------------------------------------------------------
def _group_history(path: str, as_of: str | None = None):
    """FULL slice history per file group (every base version + its
    logs), unlike _replay_hudi's latest-visible view — the cleaner and
    savepoints reason over old versions. Returns
    {(part, fid): [{"instant", "stat", "logs": [...]}, ...]} sorted old
    to new, plus the replaced-group map."""
    groups: dict[tuple[str, str], list[dict]] = {}
    logs: dict[tuple[str, str, str], list[dict]] = {}
    replaced: dict[tuple[str, str], str] = {}
    for instant, action in completed_instants(path):
        if as_of is not None and instant > as_of:
            break
        meta = _read_commit_meta(path, instant, action)
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                if "logVersion" in st:
                    logs.setdefault(
                        (part, st["fileId"], st["baseInstant"]), []
                    ).append({"instant": instant, "stat": st})
                else:
                    groups.setdefault((part, st["fileId"]), []).append(
                        {"instant": instant, "stat": st}
                    )
        if action == "replacecommit":
            for part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    replaced.setdefault((part, fid), instant)
    for (part, fid), versions in groups.items():
        versions.sort(key=lambda v: v["instant"])
        for v in versions:
            v["logs"] = sorted(
                logs.get((part, fid, v["instant"]), []),
                key=lambda lg: lg["instant"],
            )
    return groups, replaced


def savepoint_hudi(path: str, instant: str, comment: str = "") -> str:
    """SAVEPOINT the table state at `instant`: a completed `.savepoint`
    timeline entry listing every data/log file live at that instant.
    The cleaner never deletes a savepointed file, and restore targets
    savepoints — the spec's backup/rollback anchor."""
    done = {i for i, _ in completed_instants(path)}
    if instant not in done:
        raise ValueError(f"cannot savepoint {instant}: not a completed instant")
    _, _, slices = _replay_hudi(path, as_of=instant)
    part_meta: dict[str, dict] = {}
    for s in slices:
        files = [s["stat"]["path"]] + [
            lg["stat"]["path"] for lg in s.get("logs", [])
        ]
        part_meta.setdefault(s["partition"], {"savepointDataFile": []})[
            "savepointDataFile"
        ].extend(files)
    sp = _claim_instant(path, "savepoint")
    meta = {
        "savepointedAt": instant,
        "comments": comment,
        "partitionMetadata": part_meta,
        "operationType": "savepoint",
    }
    _complete_instant(path, sp, "savepoint", meta)
    return sp


def _savepointed_instants(path: str) -> dict[str, set[str]]:
    """{savepointed instant: protected file relpaths} from every live
    savepoint on the timeline."""
    out: dict[str, set[str]] = {}
    for instant, action in completed_instants(path):
        if action != "savepoint":
            continue
        meta = _read_commit_meta(path, instant, "savepoint")
        files = {
            f
            for pm in (meta.get("partitionMetadata") or {}).values()
            for f in pm.get("savepointDataFile", [])
        }
        out[meta["savepointedAt"]] = files
    return out


def restore_hudi(path: str, to_instant: str) -> str:
    """RESTORE the table to a SAVEPOINTED instant: every completed
    write instant after it is rolled back — its data/log files deleted,
    its timeline triple removed — and a `.restore` entry records what
    was undone. Destructive by design (the spec's restore semantics);
    refuse when `to_instant` carries no savepoint so a typo cannot
    silently destroy history."""
    if to_instant not in _savepointed_instants(path):
        raise ValueError(
            f"restore target {to_instant} is not savepointed; run "
            "savepoint_hudi first"
        )
    hoodie = _hoodie_dir(path)
    rolled: list[str] = []
    deleted_files: list[str] = []
    for instant, action in completed_instants(path):
        if instant <= to_instant:
            continue
        if action not in ("commit", "deltacommit", "replacecommit"):
            continue  # service entries (savepoint/clean/restore) stay
        meta = _read_commit_meta(path, instant, action)
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                fp = os.path.join(path, st["path"])
                if os.path.exists(fp):
                    os.unlink(fp)
                    _drop_file_claims(fp)
                    deleted_files.append(st["path"])
        for name in (
            f"{instant}.{action}",
            f"{instant}.{action}.requested",
            f"{instant}.{action}.inflight",
            f"{instant}.inflight",
            f"{instant}.commit.requested",
            f"{instant}.compaction.requested",
            f"{instant}.compaction.inflight",
        ):
            p = os.path.join(hoodie, name)
            if os.path.exists(p):
                os.unlink(p)
        # drop coordinated-store claims for the rolled instants too, or
        # a same-millisecond re-claim could resurrect the deleted commit
        claims = os.path.join(hoodie, "_claims")
        if os.path.isdir(claims):
            for cname in os.listdir(claims):
                if cname.startswith(f"{instant}."):
                    os.unlink(os.path.join(claims, cname))
        rolled.append(instant)
    # checkpoints covering rolled-back instants hold slices whose data
    # files were just deleted — a replay seeded from one would read dead
    # paths (found by the archival/restore model check); drop them
    for name in os.listdir(hoodie):
        m = re.match(r"^\.checkpoint\.(\d{17})\.json$", name)
        if m and m.group(1) > to_instant:
            os.unlink(os.path.join(hoodie, name))
    rs = _claim_instant(path, "restore")
    meta = {
        "restoreInstant": to_instant,
        "instantsToRollback": rolled,
        "numFilesDeleted": len(deleted_files),
        "deletedFiles": sorted(deleted_files),
        "operationType": "restore",
    }
    _complete_instant(path, rs, "restore", meta)
    return rs


def clean_hudi(path: str, retain_versions: int = 1) -> str:
    """CLEANER with the KEEP_LATEST_FILE_VERSIONS policy: per file
    group, base slices older than the newest `retain_versions` are
    deleted (with their log files) UNLESS a savepoint protects them.
    Publishes a `.clean` timeline entry listing the deletions.
    Time travel below the cleaner horizon stops resolving — the same
    contract as Delta VACUUM's retention trimming."""
    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    groups, replaced = _group_history(path)
    protected: set[str] = set()
    for files in _savepointed_instants(path).values():
        protected.update(files)
    deleted: list[str] = []
    for (part, fid), versions in sorted(groups.items()):
        # replaced groups' newest slices are still kept for time travel
        # below the replace instant unless version-trimmed like any other
        drop = versions[:-retain_versions] if retain_versions else versions
        for v in drop:
            rels = [v["stat"]["path"]] + [
                lg["stat"]["path"] for lg in v.get("logs", [])
            ]
            if any(r in protected for r in rels):
                continue
            for rel in rels:
                fp = os.path.join(path, rel)
                if os.path.exists(fp):
                    os.unlink(fp)
                    _drop_file_claims(fp)
                    deleted.append(rel)
    cl = _claim_instant(path, "clean")
    meta = {
        "policy": "KEEP_LATEST_FILE_VERSIONS",
        "retainVersions": retain_versions,
        "deletedFiles": sorted(deleted),
        "operationType": "clean",
    }
    _complete_instant(path, cl, "clean", meta)
    return cl


@query(
    "hudi_restore",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 < 2
    """,
)
def hudi_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savepoint + restore: three insert commits land thirds of orders,
    a savepoint anchors the second instant, and restore rolls the third
    commit back — its files and timeline entries are gone, the snapshot
    equals the first two batches."""
    root = scratch_path(sf_dir, "orders_hudi_restore")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(3):
        write_hudi(
            orders.where(F.col("o_orderkey") % 3 == i),
            root,
            record_key="o_orderkey",
        )
    second = [i for i, a in completed_instants(root) if a == "commit"][1]
    savepoint_hudi(root, second)
    restore_hudi(root, second)
    return read_hudi(spark, root)


@query(
    "hudi_clean",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders
    """,
)
def hudi_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaner removes superseded COW slices (two upserts leave
    three base versions of the hot file groups; KEEP_LATEST_FILE_VERSIONS=1
    drops the two old ones) without touching the live snapshot — the
    final read equals the source exactly (the upserts cancel out:
    x*2*0.5 = x bit-exactly)."""
    root = scratch_path(sf_dir, "orders_hudi_clean")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_hudi(orders, root, record_key="o_orderkey")
    evens = orders.where(F.col("o_orderkey") % 2 == 0)
    upsert_hudi(
        evens.select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        ),
        root,
    )
    upsert_hudi(
        evens.select("o_orderkey", F.col("o_totalprice").alias("o_totalprice")),
        root,
    )
    clean_hudi(root, retain_versions=1)
    return read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )


# ---------------------------------------------------------------------------
# bootstrap adoption: graft a timeline over an existing parquet lake
# ---------------------------------------------------------------------------
def adopt_parquet_to_hudi(
    spark: SparkSession,
    path: str,
    record_key: str,
    partition_by: list[str] | None = None,
    table_name: str | None = None,
) -> str:
    """ZERO-COPY adoption of an existing (optionally hive-partitioned)
    parquet directory: graft a `.hoodie` timeline over the files in
    place — Hudi's METADATA_ONLY bootstrap idea. No file is read beyond
    its footer, renamed, or rewritten: each becomes a file group whose
    writeStat points at the ORIGINAL path, marked `bootstrapped` so
    readers inject partition values from the timeline (hive-layout
    files don't carry their partition column) and treat meta columns as
    absent. The table runs in the spec's virtual-key mode
    (`hoodie.populate.meta.fields=false`): snapshot/time-travel reads,
    timeline partition pruning, appends and INSERT OVERWRITE work;
    row-level upsert/delete/incremental refuse with a rewrite hint, the
    mode's real limitation."""
    import pyarrow.parquet as pq

    partition_by = list(partition_by or [])
    if _table_exists(path):
        raise ValueError(f"{path} already carries a .hoodie timeline")
    data_files: list[tuple[str, str]] = []  # (relpath, partition_rel)
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        rel_dir = os.path.relpath(dirpath, path)
        part_rel = "" if rel_dir == "." else rel_dir.replace(os.sep, "/")
        for name in sorted(names):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                data_files.append(
                    (os.path.join(part_rel, name) if part_rel else name,
                     part_rel)
                )
    if not data_files:
        raise FileNotFoundError(f"no parquet files under {path}")
    for rel, part_rel in data_files:
        vals = _parse_partition(part_rel)
        if sorted(vals) != sorted(partition_by):
            raise ValueError(
                f"{rel}: hive dirs {sorted(vals)} do not match "
                f"partition_by {sorted(partition_by)}"
            )

    # logical schema = file schema + the dir-encoded partition columns
    # (typed as strings — the dir encoding's native type)
    file_schema = (
        spark.read.parquet(os.path.join(path, data_files[0][0]))
        .schema
    )
    fields = list(file_schema.fields) + [
        T.StructField(c, T.StringType(), True) for c in partition_by
    ]
    schema_json = T.StructType(fields).json()

    _init_table(
        path,
        table_name or os.path.basename(path.rstrip("/")),
        record_key,
        partition_by,
        precombine=None,
        event_time_field=None,
    )
    props = _read_props(path)
    props["hoodie.populate.meta.fields"] = "false"
    _write_props(path, props)

    instant = _claim_instant(path, "commit")
    p2ws: dict[str, list[dict]] = {}
    for rel, part_rel in data_files:
        fp = os.path.join(path, rel)
        p2ws.setdefault(part_rel, []).append(
            {
                "fileId": os.path.splitext(os.path.basename(rel))[0],
                "path": rel,
                "prevCommit": "null",
                "numWrites": pq.ParquetFile(fp).metadata.num_rows,
                "numDeletes": 0,
                "numUpdateWrites": 0,
                "numInserts": pq.ParquetFile(fp).metadata.num_rows,
                "totalWriteBytes": os.path.getsize(fp),
                "fileSizeInBytes": os.path.getsize(fp),
                "partitionPath": part_rel,
                "bootstrapped": True,
            }
        )
    for stats in p2ws.values():
        stats.sort(key=lambda s: s["fileId"])
    meta = _commit_meta("bootstrap", p2ws, schema_json)
    _complete_instant(path, instant, "commit", meta)
    return instant


@query(
    "hudi_adopt_parquet",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def hudi_adopt_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adopt a pre-existing hive-partitioned parquet directory (written
    by vanilla Spark, partition column ONLY in the dir names) with zero
    copies, then answer a partition-pruned aggregate through the Hudi
    reader: pruning happens in the grafted timeline, partition values
    inject from writeStat partitionPath."""
    root = scratch_path(sf_dir, "orders_hudi_adopt")
    shutil.rmtree(root, ignore_errors=True)
    load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    ).write.partitionBy("o_orderpriority").parquet(root)
    adopt_parquet_to_hudi(
        spark, root, record_key="o_orderkey",
        partition_by=["o_orderpriority"],
    )
    pruned = read_hudi(
        spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )


@query(
    "hudi_adopt_append",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    """,
)
def hudi_adopt_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed adopted + native files in ONE table: two thirds of orders
    are adopted in place (partition values live only in dir names), the
    last third appends through write_hudi (partition column in-file,
    meta-less virtual-key mode); a full read stitches both kinds —
    adopted rows get their partition column injected from the timeline,
    native rows carry it."""
    root = scratch_path(sf_dir, "orders_hudi_adopt_append")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.where(F.col("o_orderkey") % 3 != 0).write.partitionBy(
        "o_orderpriority"
    ).parquet(root)
    adopt_parquet_to_hudi(
        spark, root, record_key="o_orderkey",
        partition_by=["o_orderpriority"],
    )
    write_hudi(
        orders.where(F.col("o_orderkey") % 3 == 0),
        root,
        record_key="o_orderkey",
        partition_by=["o_orderpriority"],
    )
    return read_hudi(spark, root)


# ---------------------------------------------------------------------------
# tri-format UniForm: a _delta_log over the Hudi table's base files
# ---------------------------------------------------------------------------
def _delta_state_from_hudi(path: str):
    """Current Hudi COW state as Delta-shaped pieces: (schemaString
    source StructType, partition column names, {rel: add action}).
    Refuses live MOR log files — adds over the raw bases would serve
    pre-merge rows to Delta readers; compact first (the documented
    bridge, twin of the MOR-delete refusal on the Iceberg side)."""
    import urllib.parse

    from atlas_migration_repo_spark.sources.delta_interop import _delta_stats

    latest, schema_json, slices = _replay_hudi(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    # the sync marker is the latest DATA-WRITE instant, not the latest
    # timeline entry: a clean/savepoint bumps the replay's `latest`
    # while the visible files (and hence the correct sync) are unchanged
    latest = _latest_write_instant(path) or latest
    if any(s.get("logs") for s in slices):
        raise ValueError(
            "table has live MOR log files; run compact_hudi first — a "
            "base-only _delta_log would serve pre-merge rows"
        )
    props = _read_props(path)
    pcols = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    data, _full = _full_schema(schema_json)
    adds_by_rel: dict[str, dict] = {}
    for s in slices:
        rel = s["stat"]["path"]
        fp = os.path.join(path, rel)
        vals = _parse_partition(s["partition"])
        adds_by_rel[rel] = {
            "path": urllib.parse.quote(rel),
            "partitionValues": {c: vals.get(c) for c in pcols},
            "size": os.path.getsize(fp),
            "modificationTime": int(os.path.getmtime(fp) * 1000),
            "dataChange": True,
            "stats": _delta_stats(fp),
        }
    return latest, data, pcols, adds_by_rel


def publish_delta_log_from_hudi(spark: SparkSession, path: str) -> int:
    """Tri-format UniForm: give a Hudi COW table a `_delta_log` over the
    SAME base files — one copy of the data, a third protocol front door
    (the timeline, the grafted Delta log, and — via the existing
    Delta→Iceberg publisher — an Iceberg tree if wanted). The current
    timeline state becomes Delta commit 0: protocol + metaData (data
    schema incl. partition columns, values re-attached from the log —
    Delta readers never trust dir layout or in-file copies) + one add
    per live base file with footer-harvested stats. Note: populated
    Hudi files carry the five `_hoodie_*` columns the Delta schema does
    not declare; readers project the declared schema, so results are
    unaffected (virtual-key/adopted tables don't even carry them)."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        _PROTOCOL,
        _committed_versions,
        _log_dir,
        _publish_commit,
    )

    log_dir = _log_dir(path)
    if _committed_versions(log_dir):
        raise FileExistsError(f"{log_dir} already holds Delta commits")
    latest, data, pcols, adds_by_rel = _delta_state_from_hudi(path)
    import time as _time

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CONVERT",
                "operationParameters": {
                    "sourceFormat": "hudi",
                    "hudiInstant": latest,
                },
            }
        },
        {"protocol": dict(_PROTOCOL)},
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": data.json(),
                "partitionColumns": pcols,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
    ]
    actions.extend({"add": a} for _, a in sorted(adds_by_rel.items()))
    return _publish_commit(log_dir, actions, 0)


def sync_delta_log_from_hudi(spark: SparkSession, path: str) -> int:
    """Keep the grafted `_delta_log` CURRENT after later Hudi commits:
    one Delta commit carrying the file-level diff — removes for files
    no longer in any live slice (COW rewrites, restores, cleans), adds
    for new ones. Metadata-only: stats come from new files' footers.
    A sync with nothing to say returns the current version without
    committing; the synced instant rides commitInfo so status tools can
    tell. Twin of sync_delta_log_from_iceberg."""
    import urllib.parse

    from atlas_migration_repo_spark.sources.delta_interop import (
        _committed_versions,
        _log_dir,
        _next_version,
        _publish_commit,
        _replay,
    )

    log_dir = _log_dir(path)
    if not _committed_versions(log_dir):
        raise FileNotFoundError(
            f"{log_dir} holds no Delta commits; run "
            "publish_delta_log_from_hudi first"
        )
    latest, _data, _pcols, adds_by_rel = _delta_state_from_hudi(path)
    v, _dmeta, live = _replay(path)
    live_by_rel = {urllib.parse.unquote(a["path"]): a for a in live}
    gone = sorted(set(live_by_rel) - set(adds_by_rel))
    new = sorted(set(adds_by_rel) - set(live_by_rel))
    if not gone and not new:
        return v
    import time as _time

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CONVERT SYNC",
                "operationParameters": {
                    "sourceFormat": "hudi",
                    "hudiInstant": latest,
                },
            }
        }
    ]
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


@query(
    "lakehouse_uniform_hudi",
    oracle=f"""
    SELECT 'hudi' AS reader, o_orderstatus, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    UNION ALL
    SELECT 'delta' AS reader, o_orderstatus, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
    """,
)
def lakehouse_uniform_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tri-format UniForm, Hudi edition: a partitioned Hudi COW table
    gets a grafted `_delta_log` over the same base files, and the SAME
    partition-pruned aggregate answers identically through the timeline
    reader and the Delta protocol reader — each pruning in its own
    metadata (writeStat partitionPath vs add partitionValues)."""
    from atlas_migration_repo_spark.sources.delta_interop import read_delta

    root = scratch_path(sf_dir, "orders_uniform_hudi")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    write_hudi(
        orders, root, record_key="o_orderkey",
        partition_by=["o_orderpriority"],
    )
    publish_delta_log_from_hudi(spark, root)
    outs = []
    for reader, df in (
        (
            "hudi",
            read_hudi(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
        (
            "delta",
            read_delta(
                spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
            ),
        ),
    ):
        outs.append(
            df.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum(F.col("o_totalprice")).alias("total"),
            )
            .select(F.lit(reader).alias("reader"), "o_orderstatus", "n_rows", "total")
        )
    return outs[0].unionByName(outs[1])


@query(
    "lakehouse_uniform_hudi_sync",
    oracle=f"""
    SELECT 'hudi' AS reader, COUNT(*) AS n_rows,
           {sql_msum("CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 "
                     "ELSE o_totalprice END")} AS total
    FROM orders
    UNION ALL
    SELECT 'delta' AS reader, COUNT(*) AS n_rows,
           {sql_msum("CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 "
                     "ELSE o_totalprice END")} AS total
    FROM orders
    """,
)
def lakehouse_uniform_hudi_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grafted `_delta_log` stays CURRENT: a Hudi COW upsert
    replaces file slices after the publish, one metadata-only sync
    carries the file-level diff (removes + adds), and both protocol
    doors answer the updated aggregate identically."""
    from atlas_migration_repo_spark.sources.delta_interop import read_delta

    root = scratch_path(sf_dir, "orders_uniform_hudi_sync")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_hudi(orders, root, record_key="o_orderkey")
    publish_delta_log_from_hudi(spark, root)
    upsert_hudi(
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        ),
        root,
    )
    sync_delta_log_from_hudi(spark, root)
    outs = []
    for reader, df in (
        ("hudi", read_hudi(spark, root)),
        ("delta", read_delta(spark, root)),
    ):
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum(F.col("o_totalprice")).alias("total"),
            ).select(F.lit(reader).alias("reader"), "n_rows", "total")
        )
    return outs[0].unionByName(outs[1])


_HUDI_STREAM_CUT0 = "1996-01-01"
_HUDI_STREAM_CUT1 = "1997-01-01"
_HUDI_STREAM_CUT2 = "1999-01-01"


def _stream_latest(root: str) -> str | None:
    """Newest completed write instant — stream_hudi's latest offset."""
    writes = [
        i for i, a in completed_instants(root) if a in ("commit", "deltacommit")
    ]
    return writes[-1] if writes else None


def _stream_added(root: str, lo: str | None, hi: str) -> list[tuple[str, dict]]:
    """stream_hudi's file list: the base files written by commits in
    (lo, hi]. A replacecommit, or a write that rewrites or amends file
    groups, fails the stream."""
    out = []
    for instant, action in completed_instants(root):
        if not ((lo or "") < instant <= hi):
            continue
        if action == "replacecommit":
            raise RuntimeError(
                f"stream_hudi: instant {instant} is a replacecommit "
                "(clustering/insert_overwrite); the timeline is not "
                "append-only — use read_hudi_incremental instead"
            )
        if action not in ("commit", "deltacommit"):
            continue  # savepoint/clean/restore: no data
        meta = _read_commit_meta(root, instant, action)
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                if (
                    "logVersion" in st
                    or st.get("prevCommit") not in (None, "null")
                    or st.get("numUpdateWrites")
                    or st.get("numDeletes")
                ):
                    raise RuntimeError(
                        f"stream_hudi: instant {instant} rewrites or "
                        "amends file groups; the timeline is not "
                        "append-only — use read_hudi_incremental "
                        "instead"
                    )
                out.append((os.path.join(root, st["path"]), {}))
    return out


@query(
    "stream_hudi",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_orderdate < TIMESTAMP '{_HUDI_STREAM_CUT2} 00:00:00'
    """,
)
def stream_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over a HUDI timeline through the shared
    table file source (files.table_file_stream): offset = completed
    instant, each micro-batch's partitions are the base files of the
    new write commits (read executor-side with pyarrow as Arrow batches
    — data never crosses the driver). Non-append history — rewrites
    (prevCommit set, updates/deletes counted), replacecommits, or MOR
    log appends — fails the stream with a pointer at the incremental
    pull, the same contract delta_stream enforces for remove actions.
    Three insert commits of orders slices drain in one availableNow run
    into a memory sink whose global aggregate must equal the batch
    oracle."""
    root = scratch_path(sf_dir, "orders_hudi_streamsrc")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    cuts = [
        (None, _HUDI_STREAM_CUT0),
        (_HUDI_STREAM_CUT0, _HUDI_STREAM_CUT1),
        (_HUDI_STREAM_CUT1, _HUDI_STREAM_CUT2),
    ]
    for lo, hi in cuts:
        batch = orders.where(F.col("o_orderdate") < hi)
        if lo is not None:
            batch = batch.where(F.col("o_orderdate") >= lo)
        write_hudi(
            batch.drop("o_orderdate"), root, record_key="o_orderkey"
        )

    stream = table_file_stream(
        spark,
        "hudi_timeline_stream",
        root,
        "o_orderkey bigint, o_totalprice double",
        _stream_latest,
        _stream_added,
    )
    return drain(
        spark,
        sf_dir,
        "stream_hudi",
        stream.agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum(F.col("o_totalprice")).alias("total"),
        ),
    )


# ---------------------------------------------------------------------------
# crash recovery: rollback of stale pending instants + orphan reclaim
# ---------------------------------------------------------------------------
def rollback_pending_hudi(
    path: str, older_than_ms: int = 3 * 86_400_000
) -> dict:
    """Reclaim crashed-writer debris: a writer that died between its
    instant claim and `_complete_instant` leaves a PENDING instant
    (requested/inflight markers, no completed file) plus any data/log
    files it already placed — invisible to readers (the timeline is the
    source of truth) but occupying storage and blocking nothing. For
    every pending instant older than the grace window, delete its
    placed base files (they carry the instant in their spec name), its
    log blocks (matched by the block header's INSTANT_TIME — the log
    FILE may also hold completed writers' blocks, in which case it is
    kept), its timeline markers, and any coordinated-store claim.
    Publishes a `.rollback` timeline entry listing what was undone.
    The grace window means an IN-FLIGHT writer is never raced — the
    same contract as Iceberg remove_orphan_files."""
    import time as _time

    hoodie = _hoodie_dir(path)
    completed = {i for i, _ in completed_instants(path)}
    pending: dict[str, str] = {}
    for name in os.listdir(hoodie) if os.path.isdir(hoodie) else []:
        head = name.split(".", 1)[0]
        if len(head) != 17 or not head.isdigit() or head in completed:
            continue
        fp = os.path.join(hoodie, name)
        age_ms = (_time.time() - os.path.getmtime(fp)) * 1000
        if age_ms < older_than_ms:
            continue
        pending.setdefault(head, name)
    if not pending:
        return {"rolled_back": [], "deleted_files": []}

    deleted: list[str] = []
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [
            d
            for d in dirs
            if d not in (".hoodie", "_claims")
            and not d.startswith(".stage-")
        ]
        for name in names:
            fp = os.path.join(dirpath, name)
            rel = os.path.relpath(fp, path)
            m = _LOG_NAME_RE.match(name)
            if m is not None:
                # log file: orphaned iff EVERY block belongs to a
                # pending instant (completed appends share no file —
                # each append rolls a new version — but stay safe)
                try:
                    blocks = _parse_log_file(fp)
                except OSError:  # pragma: no cover
                    continue
                instants = {
                    h.get(_HDR_INSTANT_TIME) for _t, h, _c in blocks
                }
                if blocks and instants <= set(pending):
                    os.unlink(fp)
                    _drop_file_claims(fp)
                    deleted.append(rel)
                continue
            if name.endswith(".parquet"):
                stem = name[: -len(".parquet")]
                parts = stem.split("_")
                if len(parts) >= 3 and parts[-1] in pending:
                    os.unlink(fp)
                    _drop_file_claims(fp)
                    deleted.append(rel)

    for instant in sorted(pending):
        for name in list(os.listdir(hoodie)):
            if name.startswith(f"{instant}."):
                os.unlink(os.path.join(hoodie, name))
        claims = os.path.join(hoodie, "_claims")
        if os.path.isdir(claims):
            for cname in os.listdir(claims):
                if cname.startswith(f"{instant}."):
                    os.unlink(os.path.join(claims, cname))

    rb = _claim_instant(path, "rollback")
    meta = {
        "rolledBackInstants": sorted(pending),
        "deletedFiles": sorted(deleted),
        "operationType": "rollback",
    }
    _complete_instant(path, rb, "rollback", meta)
    return {"rolled_back": sorted(pending), "deleted_files": sorted(deleted)}


# ---------------------------------------------------------------------------
# timeline checkpoint + archival: replay stays O(recent instants)
# ---------------------------------------------------------------------------
def checkpoint_timeline_hudi(path: str) -> str:
    """Fold the current visible state (file slices, logs, schema) into a
    CHECKPOINT under `.hoodie/` so replay no longer needs the full
    instant history — the role Hudi's metadata-table `files` partition
    (and Delta's parquet checkpoint) plays: without one, every read
    replays O(all instants ever). The checkpoint records the instant it
    covers; `_replay_hudi` starts from the newest checkpoint ≤ as_of and
    folds only newer instants. Time travel BELOW the newest checkpoint
    keeps working as long as the covering instants aren't archived."""
    latest, schema_json, slices = _replay_hudi(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    cp = {
        "coversInstant": latest,
        "schema": schema_json,
        "slices": [
            {
                "partition": s["partition"],
                "fileId": s["fileId"],
                "instant": s["instant"],
                "stat": s["stat"],
                "logs": s.get("logs", []),
            }
            for s in slices
        ],
    }
    hoodie = _hoodie_dir(path)
    tmp = os.path.join(hoodie, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(cp, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    target = os.path.join(hoodie, f".checkpoint.{latest}.json")
    store = resolve_log_store()
    store.publish(tmp, target)  # idempotent: same state for same instant
    os.unlink(tmp)
    return latest


def _newest_checkpoint(path: str, as_of: str | None):
    """(covers_instant, checkpoint dict) of the newest checkpoint ≤
    as_of, or (None, None)."""
    hoodie = _hoodie_dir(path)
    best: str | None = None
    if not os.path.isdir(hoodie):
        return None, None
    for name in os.listdir(hoodie):
        m = re.match(r"^\.checkpoint\.(\d{17})\.json$", name)
        if not m:
            continue
        covers = m.group(1)
        if as_of is not None and covers > as_of:
            continue
        if best is None or covers > best:
            best = covers
    if best is None:
        return None, None
    with open(os.path.join(hoodie, f".checkpoint.{best}.json")) as fh:
        return best, json.load(fh)


def archive_timeline_hudi(path: str, keep_recent: int = 10) -> dict:
    """ARCHIVE old completed instants: everything except the newest
    `keep_recent` write instants and every service entry past the
    newest checkpoint moves into an append-only archive file
    (`.hoodie/archived/commits_<n>`, one spec-framed log block per
    instant), and the active timeline files are deleted. Requires a
    checkpoint covering the archived range — the replay contract is
    checkpoint + active instants, so nothing readable is lost at the
    CURRENT snapshot; time travel below the checkpoint moves to the
    archive (readable via read_archived_timeline_hudi, not the hot
    path). Savepointed instants never archive."""
    cp_covers, _cp = _newest_checkpoint(path, None)
    if cp_covers is None:
        raise ValueError(
            "archive requires a timeline checkpoint; run "
            "checkpoint_timeline_hudi first"
        )
    done = completed_instants(path)
    writes = [
        (i, a) for i, a in done if a in ("commit", "deltacommit", "replacecommit")
    ]
    protected = set(_savepointed_instants(path))
    keep_from = (
        writes[-keep_recent][0] if len(writes) > keep_recent else
        (writes[0][0] if writes else "")
    )
    # a restore to savepoint S must be able to roll back every write
    # AFTER S from the ACTIVE timeline, so nothing newer than the OLDEST
    # savepoint may archive (Hudi's own rule: archival stops at the first
    # savepoint) — found by the archival/restore model check
    sp_cap = min(protected) if protected else None
    to_archive = [
        (i, a)
        for i, a in done
        if i <= cp_covers
        and i < keep_from
        and i not in protected
        and (sp_cap is None or i < sp_cap)
        and a != "savepoint"  # savepoint entries carry live protection
    ]
    if not to_archive:
        return {"archived": [], "archive_file": None}
    hoodie = _hoodie_dir(path)
    arch_dir = os.path.join(hoodie, "archived")
    os.makedirs(arch_dir, exist_ok=True)
    n = len([f for f in os.listdir(arch_dir) if f.startswith("commits_")])
    arch = os.path.join(arch_dir, f"commits_{n}")
    with open(arch, "wb") as fh:
        for instant, action in to_archive:
            meta = _read_commit_meta(path, instant, action)
            content = json.dumps(
                {"instant": instant, "action": action, "metadata": meta},
                sort_keys=True,
            ).encode()
            fh.write(
                _log_block_bytes(
                    1,  # command-block id: archival entry
                    {_HDR_INSTANT_TIME: instant},
                    content,
                )
            )
        fh.flush()
        os.fsync(fh.fileno())
    for instant, action in to_archive:
        for name in (
            f"{instant}.{action}",
            f"{instant}.{action}.requested",
            f"{instant}.{action}.inflight",
            f"{instant}.inflight",
            f"{instant}.commit.requested",
            f"{instant}.compaction.requested",
            f"{instant}.compaction.inflight",
        ):
            p = os.path.join(hoodie, name)
            if os.path.exists(p):
                os.unlink(p)
    return {
        "archived": [i for i, _ in to_archive],
        "archive_file": os.path.relpath(arch, path),
    }


def read_archived_timeline_hudi(path: str) -> list[tuple[str, str, dict]]:
    """Parse every archive file back into (instant, action, metadata)
    rows — the cold-history audit surface."""
    arch_dir = os.path.join(_hoodie_dir(path), "archived")
    out = []
    if not os.path.isdir(arch_dir):
        return out
    for name in sorted(os.listdir(arch_dir)):
        if not name.startswith("commits_"):
            continue
        for _btype, _hdr, content in _parse_log_file(
            os.path.join(arch_dir, name)
        ):
            rec = json.loads(content.decode())
            out.append((rec["instant"], rec["action"], rec["metadata"]))
    return sorted(out, key=lambda t: t[0])


# ---------------------------------------------------------------------------
# metadata table (.hoodie/metadata): the spec's listing-free planning
# surface. Real Hudi keeps an internal MOR table there whose `files`
# partition maps each data partition to its file list, bootstrapped from
# one storage listing and then maintained with a deltacommit per data
# commit; readers with hoodie.metadata.enable plan from it instead of
# listing the filesystem. This twin keeps the spec's layout and lifecycle
# (files partition under .hoodie/metadata, its own timeline of
# deltacommits named by the DATA instant they cover, compaction folding
# deltas into a base, restore wiping + re-bootstrapping) with the
# module's JSON record idiom, and ENRICHES each file entry with the full
# HoodieWriteStat so metadata-planned reads assemble the exact same
# slices as timeline replay (shared _fold_commit_meta/_assemble_slices).
# ---------------------------------------------------------------------------
def _md_root(path: str) -> str:
    return os.path.join(_hoodie_dir(path), "metadata")


def _md_hoodie(path: str) -> str:
    return os.path.join(_md_root(path), ".hoodie")


def _md_files_dir(path: str) -> str:
    return os.path.join(_md_root(path), "files")


def _md_publish_json(obj: dict, target: str, store: LogStore) -> bool:
    tmp = target + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    ok = store.publish(tmp, target)
    os.unlink(tmp)
    return ok


def metadata_enabled_hudi(path: str) -> bool:
    return _read_props(path).get("hoodie.metadata.enable") == "true"


def _md_synced_instants(path: str) -> set[str]:
    d = _md_hoodie(path)
    out: set[str] = set()
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        m = re.match(r"^(\d{17})\.deltacommit$", name)
        if m:
            out.add(m.group(1))
    return out


def _md_newest_base(path: str) -> tuple[str | None, dict | None]:
    """(coversInstant, base dict) of the newest files-partition base
    (bootstrap or metadata compaction output), or (None, None)."""
    d = _md_files_dir(path)
    best = None
    if os.path.isdir(d):
        for name in os.listdir(d):
            m = re.match(r"^base_(\d{17})\.json$", name)
            if m and (best is None or m.group(1) > best):
                best = m.group(1)
    if best is None:
        return None, None
    with open(os.path.join(d, f"base_{best}.json")) as fh:
        return best, json.load(fh)


def _md_listing_walk(path: str) -> dict[str, dict[str, int]]:
    """ONE physical listing of the data table — the bootstrap's storage
    scan (exactly what the metadata table exists to amortize away):
    partition relpath -> {file relpath: size} over base and log files."""
    files: dict[str, dict[str, int]] = {}
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [
            d
            for d in dirs
            if d not in (".hoodie", "_claims") and not d.startswith(".stage-")
        ]
        for name in names:
            if not (name.endswith(".parquet") or _LOG_NAME_RE.match(name)):
                continue
            fp = os.path.join(dirpath, name)
            rel = os.path.relpath(fp, path)
            part = os.path.relpath(dirpath, path)
            part = "" if part == "." else part.replace(os.sep, "/")
            files.setdefault(part, {})[rel.replace(os.sep, "/")] = (
                os.path.getsize(fp)
            )
    return files


def _md_bootstrap(path: str, store: LogStore) -> str | None:
    """Build the initial files-partition base: one storage listing for
    the physical file map plus a timeline replay for the slice view.
    Returns the covered instant (None on an empty timeline)."""
    latest, schema_json, slices = _replay_hudi(path)
    if latest is None:
        return None
    files = _md_listing_walk(path)
    base = {
        "coversInstant": latest,
        "schema": schema_json,
        "slices": slices,
        "files": files,
    }
    cs_cols = _cs_columns(path)
    if cs_cols:
        rels = [rel for m in files.values() for rel in m]
        base["columnStats"] = _cs_for_files(path, rels, cs_cols)
    os.makedirs(_md_files_dir(path), exist_ok=True)
    os.makedirs(_md_hoodie(path), exist_ok=True)
    target = os.path.join(_md_files_dir(path), f"base_{latest}.json")
    _md_publish_json(base, target, store)
    _md_publish_json(
        {"baseFile": f"files/base_{latest}.json", "action": "bootstrap"},
        os.path.join(_md_hoodie(path), f"{latest}.commit"),
        store,
    )
    return latest


def enable_metadata_hudi(path: str) -> int:
    """Turn the metadata table on for an existing table (the spec's
    hoodie.metadata.enable): bootstrap the files partition from one
    storage listing, then catch up any newer instants. Returns the
    number of instants synced (bootstrap counts its covered timeline)."""
    props = _read_props(path)
    props["hoodie.metadata.enable"] = "true"
    _write_props(path, props)
    return sync_metadata_hudi(path)


def sync_metadata_hudi(path: str) -> int:
    """Catch the metadata table up with the data timeline: one
    deltacommit (named by the DATA instant it covers) per completed
    instant newer than what the files partition has seen — adds from
    partitionToWriteStats, replaced groups from replacecommits, physical
    removals from clean/rollback. A RESTORE wipes and re-bootstraps the
    metadata table (the spec's behavior: restore rewinds the data
    timeline below what the metadata base may cover, so rebuilding is
    the only state that stays exact). O(new instants) driver work;
    idempotent; concurrent syncs collide harmlessly on put-if-absent."""
    if not metadata_enabled_hudi(path):
        raise ValueError(
            "metadata table not enabled; run enable_metadata_hudi first"
        )
    store = resolve_log_store()
    base_covers, _b = _md_newest_base(path)
    if base_covers is None:
        covered = _md_bootstrap(path, store)
        if covered is None:
            return 0
        return sum(1 for i, _a in completed_instants(path) if i <= covered)
    synced = _md_synced_instants(path)
    n = 0
    for instant, action in completed_instants(path):
        if instant <= base_covers or instant in synced:
            continue
        meta = _read_commit_meta(path, instant, action)
        if action == "restore":
            # rewind below the base's coverage: rebuild from scratch
            shutil.rmtree(_md_root(path), ignore_errors=True)
            _md_bootstrap(path, store)
            return n + 1
        rec: dict = {"coversInstant": instant, "action": action}
        if action in ("commit", "deltacommit", "replacecommit"):
            rec["adds"] = meta.get("partitionToWriteStats") or {}
            if action == "replacecommit":
                rec["replaces"] = meta.get("partitionToReplaceFileIds") or {}
            sj = (meta.get("extraMetadata") or {}).get("schema")
            if sj:
                rec["schema"] = sj
            cs_cols = _cs_columns(path)
            if cs_cols:
                rels = [
                    st["path"]
                    for stats in rec["adds"].values()
                    for st in stats
                ]
                rec["columnStats"] = _cs_for_files(path, rels, cs_cols)
        elif action in ("clean", "rollback"):
            rec["removes"] = meta.get("deletedFiles") or []
        # savepoint is filesystem-neutral: an empty record keeps the
        # covered-instant bookkeeping contiguous
        os.makedirs(_md_files_dir(path), exist_ok=True)
        _md_publish_json(
            rec,
            os.path.join(_md_files_dir(path), f"{instant}.json"),
            store,
        )
        _md_publish_json(
            {"recordsFile": f"files/{instant}.json", "action": action},
            os.path.join(_md_hoodie(path), f"{instant}.deltacommit"),
            store,
        )
        n += 1
    return n


def _md_deltas(path: str, base_covers: str) -> list[dict]:
    out = []
    for instant in sorted(_md_synced_instants(path)):
        if instant <= base_covers:
            continue
        with open(os.path.join(_md_files_dir(path), f"{instant}.json")) as fh:
            out.append(json.load(fh))
    return out


def metadata_files_hudi(path: str) -> dict[str, dict[str, int]]:
    """The files-partition VIEW: partition relpath -> {file relpath:
    size} of every live physical file (base + log, superseded versions
    included until cleaned) — the listing real Hudi readers fetch instead
    of an object-store LIST. Folds the newest base plus its deltas:
    O(base partitions + instants since last metadata compaction)."""
    base_covers, base = _md_newest_base(path)
    if base is None:
        raise FileNotFoundError(
            f"{path} has no metadata table; run enable_metadata_hudi"
        )
    files = {p: dict(m) for p, m in base["files"].items()}
    for rec in _md_deltas(path, base_covers):
        for part, stats in (rec.get("adds") or {}).items():
            for st in stats:
                files.setdefault(part, {})[st["path"]] = st["fileSizeInBytes"]
        for rel in rec.get("removes") or []:
            part = os.path.dirname(rel)
            if part in files:
                files[part].pop(rel, None)
                if not files[part]:
                    del files[part]
    return files


def metadata_partitions_hudi(path: str) -> list[str]:
    """The __all_partitions__ record's view: every live partition path."""
    return sorted(metadata_files_hudi(path))


# --- column_stats metadata partition (spec: metadata table, column_stats
# index — per-file min/max envelopes keyed by (column, file), collected
# from parquet footers at index-update time so range reads plan from the
# metadata table instead of per-commit writeStats) -------------------------
def _cs_columns(path: str) -> list[str]:
    props = _read_props(path)
    if props.get("hoodie.metadata.index.column.stats.enable") != "true":
        return []
    return [
        c
        for c in (
            props.get("hoodie.metadata.index.column.stats.columns") or ""
        ).split(",")
        if c
    ]


def _cs_for_files(path: str, rels: list[str], cols: list[str]) -> dict:
    """{file relpath: {column: [min, max]}} from parquet footers — the
    index-update cost is O(new base files) footer reads, never a data
    scan; log files carry no footer stats and are skipped (a slice with
    logs is never pruned)."""
    out: dict[str, dict] = {}
    for rel in rels:
        if not rel.endswith(".parquet"):
            continue
        fp = os.path.join(path, rel)
        if not os.path.isfile(fp):
            continue
        stats = {}
        for c in cols:
            mn, mx = _footer_col_range(fp, c)
            if mn is not None:
                stats[c] = [mn, mx]
        if stats:
            out[rel] = stats
    return out


def enable_column_stats_hudi(path: str, columns: list[str]) -> int:
    """Turn the metadata table's column_stats partition on for `columns`
    (hoodie.metadata.index.column.stats.*). If the metadata table already
    exists it is rebuilt so the index backfills every live file — the
    spec's index-bootstrap behavior; the metadata table is always exactly
    reconstructible from the data timeline, so a rebuild loses nothing.
    Returns the number of instants synced."""
    if not columns:
        raise ValueError("column_stats needs at least one column")
    props = _read_props(path)
    props["hoodie.metadata.enable"] = "true"
    props["hoodie.metadata.index.column.stats.enable"] = "true"
    props["hoodie.metadata.index.column.stats.columns"] = ",".join(columns)
    _write_props(path, props)
    shutil.rmtree(_md_root(path), ignore_errors=True)
    return sync_metadata_hudi(path)


def metadata_column_stats_hudi(path: str) -> dict[str, dict]:
    """The column_stats-partition VIEW: {file relpath: {column: [min,
    max]}} for every live base file — folded from the newest metadata
    base plus per-instant deltas, with cleaned/rolled-back files dropped.
    Raises if the index is not enabled (a missing index must fail loudly,
    not degrade into a silent full scan)."""
    if not _cs_columns(path):
        raise ValueError(
            "column_stats index not enabled; run enable_column_stats_hudi"
        )
    base_covers, base = _md_newest_base(path)
    if base is None:
        raise FileNotFoundError(
            f"{path} has no metadata table; run enable_metadata_hudi"
        )
    stats = {rel: dict(m) for rel, m in (base.get("columnStats") or {}).items()}
    for rec in _md_deltas(path, base_covers):
        stats.update(rec.get("columnStats") or {})
        for rel in rec.get("removes") or []:
            stats.pop(rel, None)
    return stats


def metadata_column_stats_relation(
    spark: SparkSession, path: str, column: str
) -> DataFrame:
    """The column_stats partition for ONE column as a Spark RELATION
    (rel, mn_long/mx_long | mn_dbl/mx_dbl | mn_str/mx_str) — the
    10M-file planning surface (VERDICT r8 "next" #4): the newest base
    plus per-instant delta blobs are parsed EXECUTOR-side (wholetext
    scan + mapInPandas), and the spec's fold — an instant's entry
    replaces a file's whole stats record, removes drop it, newest wins —
    is ONE window over (rel, ordinal), so the envelope relation is never
    materialized on the driver. Envelope values keep their JSON type in
    typed column pairs (int64 exactly in longs; floats in doubles;
    strings — datetimes were already normalized to epoch millis at index
    time); a file whose newest record lacks the column yields NULLs,
    which every consumer must treat as keep (skipping narrows, never
    filters)."""
    from pyspark.sql import Window

    if not _cs_columns(path):
        # same loud guard as metadata_column_stats_hudi (ADVICE r9 #2):
        # without it, a metadata-enabled table with no column_stats
        # index returns an EMPTY relation and every consumer's left join
        # silently degrades skipping into keep-everything.
        raise ValueError(
            "column_stats index not enabled; run enable_column_stats_hudi"
        )
    base_covers, base_fp = None, None
    d = _md_files_dir(path)
    if os.path.isdir(d):
        for name in os.listdir(d):
            m = re.match(r"^base_(\d{17})\.json$", name)
            if m and (base_covers is None or m.group(1) > base_covers):
                base_covers, base_fp = m.group(1), os.path.join(d, name)
    if base_fp is None:
        raise FileNotFoundError(
            f"{path} has no metadata table; run enable_metadata_hudi"
        )
    paths = [base_fp] + [
        os.path.join(d, f"{i}.json")
        for i in sorted(_md_synced_instants(path))
        if i > base_covers
    ]
    ords = {os.path.basename(p): i for i, p in enumerate(paths)}
    txt = spark.read.text(paths, wholetext=True).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__src"),
        "value",
    )
    out_schema = (
        "rel string, ord int, is_remove boolean, "
        "mn_long long, mx_long long, mn_dbl double, mx_dbl double, "
        "mn_str string, mx_str string"
    )
    cols = [
        "rel", "ord", "is_remove",
        "mn_long", "mx_long", "mn_dbl", "mx_dbl", "mn_str", "mx_str",
    ]

    def _parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for src, blob in zip(pdf["__src"], pdf["value"]):
                rec = json.loads(blob)
                o = ords[src]
                for rel, stats in (rec.get("columnStats") or {}).items():
                    row = {c: None for c in cols}
                    row.update(rel=rel, ord=o, is_remove=False)
                    env = (stats or {}).get(column)
                    if env is not None:
                        mn, mx = env
                        if isinstance(mn, bool) or isinstance(mx, bool):
                            pass  # no boolean range semantics: keep NULLs
                        elif isinstance(mn, int) and isinstance(mx, int):
                            row["mn_long"], row["mx_long"] = mn, mx
                        elif isinstance(mn, (int, float)) and isinstance(
                            mx, (int, float)
                        ):
                            row["mn_dbl"], row["mx_dbl"] = float(mn), float(mx)
                        else:
                            row["mn_str"], row["mx_str"] = str(mn), str(mx)
                    rows.append(row)
                for rel in rec.get("removes") or []:
                    row = {c: None for c in cols}
                    row.update(rel=rel, ord=o, is_remove=True)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    rel_df = txt.mapInPandas(_parse, out_schema)
    w = Window.partitionBy("rel").orderBy(F.col("ord").desc())
    return (
        rel_df.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & ~F.col("is_remove"))
        .drop("__rn", "ord", "is_remove")
    )


def read_hudi_column_range(
    spark: SparkSession, path: str, column: str, lo, hi
) -> DataFrame:
    """Column-range skip read planned ENTIRELY from the metadata table:
    file listing from the files partition, min/max envelopes from the
    column_stats partition — zero data-timeline commit reads, zero
    storage listing, zero footer opens at query time (VERDICT r7 "next"
    #6: at 10M-file scale this is the listing-free planning surface; the
    per-commit writeStat path read_hudi_event_range uses costs O(commits)
    timeline reads instead). A slice is kept when its base file's
    envelope intersects [lo, hi], when the envelope is missing (skipping
    narrows, never filters), or when the slice carries log files (log
    rows have no footer stats); the exact predicate decides on the
    survivors.

    The keep/prune itself is a SPARK FILTER over the column_stats
    relation (VERDICT r8 "next" #4): the slice list joins
    metadata_column_stats_relation on file rel, the disjointness
    predicate runs executor-side in the envelope's own type (int64
    exact; doubles IEEE; strings lexicographic — the same comparisons
    the old driver loop made), and only SURVIVING file names are
    collected — never the envelope relation (a unit test pins that
    metadata_column_stats_hudi is not called on this path)."""
    sync_metadata_hudi(path)
    if not _cs_columns(path):
        raise ValueError(
            "column_stats index not enabled; run enable_column_stats_hudi"
        )
    latest, schema_json, slices = _slices_from_metadata(path)
    if schema_json is None:
        raise FileNotFoundError(f"{path} holds no completed Hudi commits")
    data, full = _full_schema(schema_json)
    env = metadata_column_stats_relation(spark, path, column)
    if isinstance(lo, bool) or isinstance(hi, bool):
        raise ValueError("boolean range predicates have no skip semantics")
    lo_l, hi_l = lo, hi  # integer-exact bounds (set by the numeric branch)
    if isinstance(lo, (int, float)):
        # The long branch compares in LONG (ADVICE r9 #3): int predicates
        # pass through exactly, float predicates are converted to the
        # equivalent integer bounds (mx < lo ⟺ mx < ceil(lo);
        # mn > hi ⟺ mn > floor(hi) for integer mx/mn), clamped to int64.
        # NB the old mixed long-vs-double compare could never WRONGLY
        # prune (IEEE long→double rounding is monotone, so widened
        # disjointness implies exact disjointness) — but it could
        # conservatively keep files an exact compare prunes; this keeps
        # the predicate exact end-to-end instead.
        LMIN, LMAX = -(1 << 63), (1 << 63) - 1
        lo_l = lo if isinstance(lo, int) else min(max(math.ceil(lo), LMIN), LMAX)
        hi_l = hi if isinstance(hi, int) else min(max(math.floor(hi), LMIN), LMAX)
        disjoint = (
            F.when(
                F.col("mn_long").isNotNull(),
                (F.col("mx_long") < F.lit(lo_l))
                | (F.col("mn_long") > F.lit(hi_l)),
            )
            .when(
                F.col("mn_dbl").isNotNull(),
                (F.col("mx_dbl") < F.lit(float(lo)))
                | (F.col("mn_dbl") > F.lit(float(hi))),
            )
            .otherwise(F.lit(False))
        )
    else:
        disjoint = F.when(
            F.col("mn_str").isNotNull(),
            (F.col("mx_str") < F.lit(str(lo))) | (F.col("mn_str") > F.lit(str(hi))),
        ).otherwise(F.lit(False))
    sdf = spark.createDataFrame(
        [(s["stat"]["path"], bool(s.get("logs"))) for s in slices],
        "rel string, has_logs boolean",
    )
    keep_rels = {
        r["rel"]
        for r in sdf.join(env, "rel", "left")
        .where(F.col("has_logs") | ~disjoint)
        .select("rel")
        .collect()
    }
    keep = [s for s in slices if s["stat"]["path"] in keep_rels]
    if not keep:
        return spark.createDataFrame([], data).where(F.lit(False))
    props = _read_props(path)
    pby = [
        c
        for c in (props.get("hoodie.table.partition.fields") or "").split(",")
        if c
    ]
    df = _scan_slices(spark, path, keep, full, partition_by=pby)
    # The survivor predicate must carry the SAME exact semantics as the
    # prune (ADVICE r9 #3): for an integral column, a raw float literal
    # would make Spark widen the column to double (values beyond 2^53
    # collapse), silently matching rows outside the mathematical range —
    # so integral columns compare against the equivalent integer bounds
    # computed above.
    ityp = {f.name: f.dataType.simpleString() for f in data.fields}[column]
    if ityp in ("tinyint", "smallint", "int", "bigint"):
        pred = F.col(column).between(F.lit(lo_l), F.lit(hi_l))
    else:
        pred = F.col(column).between(F.lit(lo), F.lit(hi))
    return df.where(pred).select(*[f.name for f in data.fields])


def _slices_from_metadata(path: str):
    """Assemble visible file slices FROM THE METADATA TABLE — same
    (latest, schema_json, slices) contract as _replay_hudi, built from
    the newest base plus per-instant deltas through the SAME fold
    helpers, so a metadata-planned read is plan-identical to timeline
    replay without touching the data timeline's commit files."""
    base_covers, base = _md_newest_base(path)
    if base is None:
        raise FileNotFoundError(
            f"{path} has no metadata table; run enable_metadata_hudi"
        )
    groups: dict = {}
    logs: dict = {}
    replaced: dict = {}
    latest = base["coversInstant"]
    schema_json = base["schema"]
    for s in base["slices"]:
        groups.setdefault((s["partition"], s["fileId"]), []).append(
            (s["instant"], s["stat"])
        )
        for lg in s.get("logs", []):
            logs.setdefault((s["partition"], s["fileId"]), []).append(
                (lg["stat"].get("baseInstant", s["instant"]),
                 lg["instant"], lg["stat"])
            )
    for rec in _md_deltas(path, base_covers):
        if rec["action"] not in ("commit", "deltacommit", "replacecommit"):
            continue
        latest = max(latest, rec["coversInstant"])
        meta = {
            "partitionToWriteStats": rec.get("adds") or {},
            "partitionToReplaceFileIds": rec.get("replaces") or {},
            "extraMetadata": {"schema": rec.get("schema")},
        }
        sj = _fold_commit_meta(
            groups, logs, replaced, rec["coversInstant"], rec["action"], meta
        )
        if sj:
            schema_json = sj
    return latest, schema_json, _assemble_slices(groups, logs, replaced)


def compact_metadata_hudi(path: str) -> str:
    """Fold the files partition's base + deltas into a fresh base (the
    metadata table's OWN compaction): after it, planning reads one base
    file regardless of how many instants have landed. The superseded
    base and delta records stay for audit (the data table's cleaner
    problem does not recur here — they are KB-scale JSON)."""
    store = resolve_log_store()
    latest, schema_json, slices = _slices_from_metadata(path)
    files = metadata_files_hudi(path)
    base = {
        "coversInstant": latest,
        "schema": schema_json,
        "slices": slices,
        "files": files,
    }
    if _cs_columns(path):
        base["columnStats"] = metadata_column_stats_hudi(path)
    target = os.path.join(_md_files_dir(path), f"base_{latest}.json")
    _md_publish_json(base, target, store)
    _md_publish_json(
        {"baseFile": f"files/base_{latest}.json", "action": "compaction"},
        os.path.join(_md_hoodie(path), f"{latest}.commit"),
        store,
    )
    return latest


@query(
    "hudi_metadata_files",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_msum('o_totalprice')} AS total,
           TRUE AS files_view_exact
    FROM orders WHERE o_orderkey % 5 <> 0 GROUP BY o_orderstatus
    """,
)
def hudi_metadata_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-table lifecycle end-to-end: a partitioned COW table gets
    an insert, two upserts (×2 then back — values cancel bit-exactly), a
    delete, and a clean; the metadata table bootstraps from one listing,
    syncs a deltacommit per instant, and compacts into a base. The final
    read PLANS FROM THE METADATA TABLE (listing="metadata") — zero data-
    timeline commit reads, zero storage listing — and must equal the
    logical state; `files_view_exact` asserts the files-partition view
    matches a physical walk file-for-file after clean removed the
    superseded slices. At 100 TB the files partition is what replaces
    the O(partitions) object-store LIST every query would otherwise pay
    [spec: hudi.apache.org/tech-specs metadata table, files partition]."""
    root = scratch_path(sf_dir, "orders_hudi_metadata")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_hudi(
        orders, root, record_key="o_orderkey", partition_by=["o_orderstatus"]
    )
    enable_metadata_hudi(root)
    evens = orders.where(F.col("o_orderkey") % 2 == 0)
    upsert_hudi(
        evens.select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            "o_orderstatus",
        ),
        root,
    )
    upsert_hudi(evens, root)
    delete_hudi(
        orders.where(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey", "o_orderstatus"
        ),
        root,
    )
    clean_hudi(root, retain_versions=1)
    sync_metadata_hudi(root)
    compact_metadata_hudi(root)
    exact = metadata_files_hudi(root) == _md_listing_walk(root)
    return (
        read_hudi(spark, root, listing="metadata")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum(F.col("o_totalprice")).alias("total"),
        )
        .withColumn("files_view_exact", F.lit(bool(exact)))
    )


@query(
    "hudi_column_stats",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_msum('o_totalprice')} AS total,
           TRUE AS pruned_blind
    FROM orders WHERE o_orderkey BETWEEN 100 AND 2000
    """,
)
def hudi_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-table column_stats partition (VERDICT r7 "next" #6): a
    range-clustered COW table enables the column_stats index on
    o_orderkey, takes two upserts AFTER enabling (so per-instant sync
    records index updates, ×2 then back — values cancel bit-exactly) and
    a clean, then compacts the metadata table. The range read plans
    ENTIRELY from the metadata table — files partition for the listing,
    column_stats for the min/max envelopes; zero per-commit writeStat
    reads, zero footer opens at query time. The proof is
    iceberg_partition_pruning-style DELETED-BLIND: every live base file
    whose envelope misses [100, 2000] is physically REMOVED from disk
    before the read, so any pruning regression fails loudly instead of
    silently scanning; `pruned_blind` additionally asserts files were
    actually deleted. At 10M-file scale this is the listing-free planning
    surface [spec: hudi.apache.org/tech-specs metadata table,
    column_stats partition]."""
    root = scratch_path(sf_dir, "orders_hudi_colstats")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .repartitionByRange(8, "o_orderkey")
    )
    write_hudi(orders, root, record_key="o_orderkey")
    enable_column_stats_hudi(root, ["o_orderkey"])
    evens = orders.where(F.col("o_orderkey") % 2 == 0)
    upsert_hudi(
        evens.select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"),
            "o_orderstatus",
        ),
        root,
    )
    upsert_hudi(evens, root)
    clean_hudi(root, retain_versions=1)
    sync_metadata_hudi(root)
    compact_metadata_hudi(root)
    lo, hi = 100, 2000
    stats = metadata_column_stats_hudi(root)
    _, _, slices = _slices_from_metadata(root)
    n_deleted = 0
    for s in slices:
        if s.get("logs"):
            continue
        env = (stats.get(s["stat"]["path"]) or {}).get("o_orderkey")
        if env is not None and (env[1] < lo or env[0] > hi):
            os.remove(os.path.join(root, s["stat"]["path"]))
            n_deleted += 1
    return (
        read_hudi_column_range(spark, root, "o_orderkey", lo, hi)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum(F.col("o_totalprice")).alias("total"),
        )
        .withColumn("pruned_blind", F.lit(n_deleted > 0))
    )


@query(
    "hudi_timeline_archive",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total,
           CAST(2 AS INT) AS n_active_writes, CAST(4 AS INT) AS n_archived
    FROM orders
    """,
)
def hudi_timeline_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded timeline replay: six insert commits land sixths of
    orders, a checkpoint folds the visible state, and archival moves
    the four oldest write instants into `.hoodie/archived` (one framed
    block each) — the snapshot read is byte-identical afterwards while
    replay touches only the checkpoint plus the two active instants.
    The archived history stays auditable via the archive reader."""
    root = scratch_path(sf_dir, "orders_hudi_archive")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(6):
        write_hudi(
            orders.where(F.col("o_orderkey") % 6 == i),
            root,
            record_key="o_orderkey",
        )
    checkpoint_timeline_hudi(root)
    out = archive_timeline_hudi(root, keep_recent=2)
    n_active = len(
        [
            1
            for _i, a in completed_instants(root)
            if a in ("commit", "deltacommit", "replacecommit")
        ]
    )
    agg = read_hudi(spark, root).agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("o_totalprice")).alias("total"),
    )
    return agg.select(
        "n_rows",
        "total",
        F.lit(n_active).cast("int").alias("n_active_writes"),
        F.lit(len(out["archived"])).cast("int").alias("n_archived"),
    )


@query(
    "hudi_mor_incremental",
    oracle="""
    SELECT o_orderkey,
           o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def hudi_mor_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental pull on MERGE-ON-READ: an upsert that only touched
    LOG FILES still surfaces — qualifying file groups include those
    whose logs are newer than the begin instant, and only the updated
    records (whose `_hoodie_commit_time` is the log instant) come back,
    never the carried base rows."""
    root = scratch_path(sf_dir, "orders_hudi_mor_incr")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_hudi(
        orders, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    begin = completed_instants(root)[0][0]
    upsert_hudi(
        orders.where(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        ),
        root,
    )
    return read_hudi_incremental(spark, root, begin)


@query(
    "hudi_adopt_delta",
    oracle=f"""
    SELECT 'delta' AS reader, o_orderstatus, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'hudi' AS reader, o_orderstatus, COUNT(*) AS n_rows,
           {sql_msum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def hudi_adopt_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reverse direction of the tri-format bridge: a table that
    LANDED as Delta gains a `.hoodie` timeline over the same data files
    (zero-copy, virtual-key mode — Delta data files carry no Hudi meta
    columns), with partition values taken from the LOG's
    partitionValues rather than dir layout. Both protocol readers
    answer the same partitioned aggregate identically. Completes the
    adoption matrix: plain parquet→Hudi, TableLog→Delta,
    Iceberg⇄Delta, Hudi→Delta, and now Delta→Hudi."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        read_delta,
        write_delta,
    )

    root = scratch_path(sf_dir, "orders_delta_to_hudi")
    shutil.rmtree(root, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_delta(orders, root, partition_by=["o_orderstatus"])
    adopt_delta_to_hudi(spark, root)
    outs = []
    for reader, df in (
        ("delta", read_delta(spark, root)),
        ("hudi", read_hudi(spark, root)),
    ):
        outs.append(
            df.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                msum(F.col("o_totalprice")).alias("total"),
            )
            .select(
                F.lit(reader).alias("reader"),
                "o_orderstatus",
                "n_rows",
                "total",
            )
        )
    return outs[0].unionByName(outs[1])


def adopt_delta_to_hudi(spark: SparkSession, path: str) -> str:
    """ZERO-COPY adoption of a DELTA table into Hudi: graft a `.hoodie`
    timeline whose bootstrapped file groups point at the Delta table's
    LIVE data files, partition values sourced from the log's
    partitionValues (never the dir layout — matching Delta's own
    contract). Runs in virtual-key mode like adopt_parquet_to_hudi;
    refuses tables with live deletion vectors (a raw-file read would
    resurrect DV-deleted rows — REORG PURGE first, the same refusal the
    Iceberg publisher makes) and columnMapping tables (physical names
    in files would lie to a name-based reader)."""
    import urllib.parse

    import pyarrow.parquet as pq

    from atlas_migration_repo_spark.sources.delta_interop import (
        _column_mapping,
        _replay,
    )

    if _table_exists(path):
        raise ValueError(f"{path} already carries a .hoodie timeline")
    _v, dmeta, adds = _replay(path)
    if _column_mapping(dmeta):
        raise ValueError(
            "columnMapping tables store PHYSICAL column names in files; "
            "a name-based Hudi reader would misread them"
        )
    if any(a.get("deletionVector") for a in adds):
        raise ValueError(
            "table carries live deletion vectors; run purge_delta_dv "
            "first — raw-file reads would resurrect deleted rows"
        )
    schema = T.StructType.fromJson(json.loads(dmeta["schemaString"]))
    pcols = dmeta.get("partitionColumns") or []
    record_key = schema.fields[0].name  # virtual key: first column
    _init_table(
        path,
        os.path.basename(path.rstrip("/")),
        record_key,
        pcols,
        precombine=None,
        event_time_field=None,
    )
    props = _read_props(path)
    props["hoodie.populate.meta.fields"] = "false"
    _write_props(path, props)

    instant = _claim_instant(path, "commit")
    p2ws: dict[str, list[dict]] = {}
    for a in adds:
        rel = urllib.parse.unquote(a["path"])
        fp = os.path.join(path, rel)
        pv = a.get("partitionValues") or {}
        part_rel = "/".join(
            f"{c}={urllib.parse.quote(str(pv.get(c)), safe='')}"
            for c in pcols
            if pv.get(c) is not None
        )
        n = pq.ParquetFile(fp).metadata.num_rows
        p2ws.setdefault(part_rel, []).append(
            {
                "fileId": os.path.splitext(os.path.basename(rel))[0],
                "path": rel,
                "prevCommit": "null",
                "numWrites": n,
                "numDeletes": 0,
                "numUpdateWrites": 0,
                "numInserts": n,
                "totalWriteBytes": a.get("size", os.path.getsize(fp)),
                "fileSizeInBytes": a.get("size", os.path.getsize(fp)),
                "partitionPath": part_rel,
                "bootstrapped": True,
            }
        )
    for stats in p2ws.values():
        stats.sort(key=lambda s: s["fileId"])
    meta = _commit_meta("bootstrap", p2ws, schema.json())
    _complete_instant(path, instant, "commit", meta)
    return instant


@query(
    "hudi_clustering_sorted",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_rows, {sql_msum('value')} AS total
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{_HUDI_EV_LO}' AND TIMESTAMP '{_HUDI_EV_HI}'
    GROUP BY event_type
    """,
)
def hudi_clustering_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORT-clustering makes skip reads effective: events land in
    time-interleaved file groups (every group spans the whole range —
    nothing prunes), then one range-clustering replacecommit on `ts`
    rewrites them into disjoint-envelope groups, and the SAME
    event-range read now drops most files in the timeline. The answer
    is identical before and after — only the file layout moved."""
    root = scratch_path(sf_dir, "events_hudi_cluster_sorted")
    shutil.rmtree(root, ignore_errors=True)
    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .repartition(8)  # time-INTERLEAVED groups: no pruning possible
    )
    write_hudi(ev, root, record_key="event_id", event_time_field="ts")
    cluster_hudi(root, sort_by=["ts"], target_groups=8)
    ranged = read_hudi_event_range(spark, root, _HUDI_EV_LO, _HUDI_EV_HI)
    return ranged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("value")).alias("total"),
    )


@query(
    "sink_hudi_cdc",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, value AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def sink_hudi_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-UPSERT landing into Hudi: each micro-batch reduces to the
    latest event per user (deterministic ts/event_id ordering) and
    UPSERTS it with a checkpoint key — replayed batches are committed
    no-ops, later batches override earlier rows per key, and the table's
    precombine field (a sortable ts||id string) resolves any cross-batch
    ties the spec way. The landed table equals the batch latest-per-user
    query exactly."""
    from pyspark.sql import Window

    from atlas_migration_repo_spark.streaming.harness import (
        read_events_stream,
    )

    root = scratch_path(sf_dir, "events_hudi_cdc")
    shutil.rmtree(root, ignore_errors=True)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("last_value"),
                F.concat(
                    F.lpad(
                        F.unix_micros(
                            F.col("ts").cast("timestamp")
                        ).cast("string"),
                        20,
                        "0",
                    ),
                    F.lpad(F.col("event_id").cast("string"), 10, "0"),
                ).alias("ord"),
            )
        )
        if not _table_exists(root):
            write_hudi(
                latest,
                root,
                record_key="user_id",
                precombine="ord",
                checkpoint=f"cdc:{batch_id}",
            )
            return
        # payload-ordering semantics (HoodieDefaultPayload): an incoming
        # row only overrides when its precombine value BEATS the current
        # table row — batches need not arrive in event-time order
        cur = read_hudi(spark, root).select(
            "user_id", F.col("ord").alias("__cur_ord")
        )
        latest = (
            latest.join(cur, "user_id", "left")
            .where(
                F.col("__cur_ord").isNull()
                | (F.col("ord") > F.col("__cur_ord"))
            )
            .drop("__cur_ord")
        )
        for _attempt in range(2):  # second call = simulated replay
            upsert_hudi(latest, root, checkpoint=f"cdc:{batch_id}")

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(land)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_hudi(spark, root).select(
        "user_id", "last_event_id", "last_value"
    )


@query(
    "hudi_bloom_index",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey BETWEEN 1000 AND 2000
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey + 90000000, 1.0
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 1100
    """,
)
def hudi_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-index upsert tagging: the table lands range-clustered on
    the record key with `bloom_index=True`, so every base file carries
    footer-harvested minRecordKey/maxRecordKey plus a per-file key
    bloom in its writeStat. An upsert touching a narrow key band tags
    against ONLY the candidate slices (key-range prune, then bloom
    probe — see _tagging_candidate_slices) instead of scanning every
    live base file; matched keys update, unmatched route to fresh
    insert groups. Both prune layers are keep-only-safe, so the result
    is exact — the unit tests assert the candidate set actually
    shrinks."""
    root = scratch_path(sf_dir, "orders_hudi_bloom")
    shutil.rmtree(root, ignore_errors=True)
    orders = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    write_hudi(orders, root, record_key="o_orderkey", bloom_index=True)
    band = F.col("o_orderkey").between(1000, 2000)
    batch = (
        orders.where(band)
        .select(
            "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
        )
        .unionByName(
            orders.where(F.col("o_orderkey").between(1000, 1100)).select(
                (F.col("o_orderkey") + 90000000).alias("o_orderkey"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    upsert_hudi(batch, root)
    return read_hudi(spark, root)
