"""Unit tests for the Hudi COW bridge: timeline layout, spec file
naming, LogStore-backed concurrent instants, optimistic conflict
detection, clustering history, event-range pruning, and meta-column
preservation across rewrites."""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

import atlas_migration_repo_spark.sources.hudi_interop as H
from atlas_migration_repo_spark.catalog import load
from atlas_migration_repo_spark.sources.files import scratch_path
from atlas_migration_repo_spark.sources.hudi_interop import (
    ConcurrentHudiWriteError,
    cluster_hudi,
    completed_instants,
    delete_hudi,
    hudi_timeline,
    read_hudi,
    read_hudi_event_range,
    read_hudi_incremental,
    upsert_hudi,
    write_hudi,
)

from conftest import SF_DIR


def _fresh(key: str) -> str:
    root = scratch_path(SF_DIR, key)
    shutil.rmtree(root, ignore_errors=True)
    return root


_BASEFILE_RE = re.compile(r"^[0-9a-f]{12}-\d+_0-0-0_\d{17}\.parquet$")


def test_timeline_layout_and_file_naming(spark):
    """The on-disk shape is the published spec: hoodie.properties keys,
    the requested -> inflight -> completed instant triple (commit's
    inflight is the bare `.inflight` quirk), spec base-file names,
    per-partition `.hoodie_partition_metadata`, and the five `_hoodie_*`
    meta columns leading every data file's footer schema."""
    root = _fresh("t_hudi_layout")
    df = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_hudi(
        df, root, record_key="o_orderkey", partition_by=["o_orderstatus"]
    )
    props = H._read_props(root)
    assert props["hoodie.table.type"] == "COPY_ON_WRITE"
    assert props["hoodie.table.recordkey.fields"] == "o_orderkey"
    assert props["hoodie.table.partition.fields"] == "o_orderstatus"
    assert props["hoodie.datasource.write.hive_style_partitioning"] == "true"

    (instant, action), = completed_instants(root)
    assert action == "commit"
    hoodie = H._hoodie_dir(root)
    assert os.path.exists(os.path.join(hoodie, f"{instant}.commit.requested"))
    assert os.path.exists(os.path.join(hoodie, f"{instant}.inflight"))
    assert os.path.exists(os.path.join(hoodie, f"{instant}.commit"))

    meta = H._read_commit_meta(root, instant, "commit")
    assert meta["operationType"] == "insert"
    import pyarrow.parquet as pq

    n_meta_files = 0
    for part, stats in meta["partitionToWriteStats"].items():
        pm = os.path.join(root, part, ".hoodie_partition_metadata")
        assert os.path.exists(pm)
        n_meta_files += 1
        for st in stats:
            name = os.path.basename(st["path"])
            assert _BASEFILE_RE.match(name), name
            assert name.startswith(st["fileId"] + "_")
            assert st["prevCommit"] == "null"
            fp = os.path.join(root, st["path"])
            sch = pq.read_schema(fp)
            assert tuple(sch.names[:5]) == H._META_COLS
            assert pq.ParquetFile(fp).metadata.num_rows == st["numWrites"]
            assert st["numInserts"] == st["numWrites"]
    assert n_meta_files >= 2  # multiple order statuses


@pytest.mark.parametrize("store_name", ["posix_link", "coordinated_put"])
def test_hudi_concurrent_insert_race(spark, store_name):
    """The Hudi bridge claims instants through the same LogStore seam as
    TableLog and the Delta/Iceberg bridges: 4 threads x 3 inserts against
    one table must all win UNIQUE instants with no lost or duplicated
    batch — under both the POSIX hard-link store and the coordinated-put
    store (the rename-less object-store protocol)."""
    import threading

    from atlas_migration_repo_spark.sources.table_log import (
        CoordinatedPutLogStore,
        PosixLinkLogStore,
        set_default_log_store,
    )

    mk = {
        "posix_link": PosixLinkLogStore,
        "coordinated_put": CoordinatedPutLogStore,
    }[store_name]
    root = _fresh(f"t_hudi_race_{store_name}")
    set_default_log_store(mk())
    try:
        write_hudi(
            spark.range(10_000, 10_010).select("id").coalesce(1),
            root,
            record_key="id",
        )
        errors: list[Exception] = []

        def writer(tid: int) -> None:
            try:
                for j in range(3):
                    lo = (tid * 3 + j) * 100
                    write_hudi(
                        spark.range(lo, lo + 100).select("id").coalesce(1),
                        root,
                        record_key="id",
                    )
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        done = completed_instants(root)
        assert len(done) == 13  # seed + 12 appends
        assert len({i for i, _ in done}) == 13  # unique instants
        got = sorted(r["id"] for r in read_hudi(spark, root).collect())
        assert got == list(range(1200)) + list(range(10_000, 10_010))
    finally:
        set_default_log_store(None)


def test_upsert_conflict_detection(spark, monkeypatch):
    """Optimistic concurrency: a delete that COMPLETES between an
    upsert's claim and its publication, touching the same file group,
    must fail the upsert loudly (stale snapshot) instead of silently
    losing the delete."""
    root = _fresh("t_hudi_conflict")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    )
    write_hudi(df.coalesce(1), root, record_key="id")
    upd = spark.range(0, 100).select(F.col("id"), F.lit(9.9).alias("v"))

    orig = H._stage_place
    fired = {"done": False}

    def interpose(df_, path_, instant_, pby_):
        placed = orig(df_, path_, instant_, pby_)
        if not fired["done"]:
            fired["done"] = True
            # racing delete rewrites the same file group and wins
            delete_hudi(spark.range(500, 510).select("id"), root)
        return placed

    monkeypatch.setattr(H, "_stage_place", interpose)
    with pytest.raises(ConcurrentHudiWriteError):
        upsert_hudi(upd, root)
    # the delete's outcome survives; the failed upsert published nothing
    got = {r["id"] for r in read_hudi(spark, root).collect()}
    assert got == set(range(1000)) - set(range(500, 510))


def test_clustering_compacts_and_preserves_history(spark):
    """Clustering collapses many small file groups into one compacted
    group via a replacecommit; the pre-cluster instant still resolves
    the OLD groups (time travel across a replace), and the data is
    identical through the rewrite."""
    root = _fresh("t_hudi_cluster_unit")
    for i in range(4):
        write_hudi(
            spark.range(i * 100, (i + 1) * 100).select("id").coalesce(1),
            root,
            record_key="id",
        )
    pre = completed_instants(root)[-1][0]
    _, _, before = H._replay_hudi(root)
    assert len(before) == 4
    cluster_hudi(root)
    _, _, after = H._replay_hudi(root)
    assert len(after) == 1
    _, _, at_pre = H._replay_hudi(root, as_of=pre)
    assert len(at_pre) == 4
    a = sorted(r["id"] for r in read_hudi(spark, root).collect())
    b = sorted(r["id"] for r in read_hudi(spark, root, as_of=pre).collect())
    assert a == b == list(range(400))


def test_event_range_prunes_files(spark):
    """Event-time skipping drops file slices in the TIMELINE: a narrow
    window scans strictly fewer files than the table holds, and the
    result equals the exact filter over a full read."""
    root = _fresh("t_hudi_ev_unit")
    ev = (
        load(spark, SF_DIR, "events")
        .select("event_id", "ts", "event_type", "value")
        .repartitionByRange(8, "ts")
    )
    write_hudi(ev, root, record_key="event_id", event_time_field="ts")
    _, _, slices = H._replay_hudi(root)
    lo, hi = "2024-01-10 00:00:00", "2024-01-12 00:00:00"
    ranged = read_hudi_event_range(spark, root, lo, hi)
    assert 0 < len(ranged.inputFiles()) < len(slices)
    expect = (
        read_hudi(spark, root)
        .where(F.col("ts").between(F.lit(lo), F.lit(hi)))
        .count()
    )
    assert ranged.count() == expect > 0


def test_incremental_exact_across_clustering(spark):
    """COW rewrites preserve `_hoodie_commit_time`, so an incremental
    pull from before a clustering replacecommit still returns exactly
    the records of the later commits — no phantom re-emission of
    clustered rows."""
    root = _fresh("t_hudi_incr_unit")
    for i in range(3):
        write_hudi(
            spark.range(i * 100, (i + 1) * 100).select("id").coalesce(1),
            root,
            record_key="id",
        )
    begin = completed_instants(root)[0][0]
    cluster_hudi(root)
    got = sorted(r["id"] for r in read_hudi_incremental(spark, root, begin).collect())
    assert got == list(range(100, 300))


def test_checkpoint_replay_is_noop(spark):
    """A write replayed with an already-committed checkpoint key returns
    the original instant and adds nothing to the timeline."""
    root = _fresh("t_hudi_ckpt_unit")
    df = spark.range(0, 100).select("id").coalesce(1)
    i0 = write_hudi(df, root, record_key="id", checkpoint="src:0")
    i1 = write_hudi(df, root, record_key="id", checkpoint="src:0")
    assert i0 == i1
    assert len(completed_instants(root)) == 1
    assert read_hudi(spark, root).count() == 100
    assert H.hudi_checkpoint(root) == "src:0"


def test_delete_all_rows_publishes_empty_slice(spark):
    """Deleting every record of a file group publishes a 0-row base file
    slice (the group stays visible, empty) rather than leaving the old
    slice live."""
    root = _fresh("t_hudi_del_all")
    write_hudi(
        spark.range(0, 50).select("id").coalesce(1), root, record_key="id"
    )
    delete_hudi(spark.range(0, 50).select("id"), root)
    assert read_hudi(spark, root).count() == 0
    _, _, slices = H._replay_hudi(root)
    assert len(slices) == 1
    st = slices[0]["stat"]
    assert st["numWrites"] == 0 and st["numDeletes"] == 50
    assert os.path.exists(os.path.join(root, st["path"]))


def test_upsert_preserves_meta_on_carried_rows(spark):
    """Within a rewritten file group, carried-over rows keep their
    original commit time and seqno; only updated rows take the new
    instant (the invariant incremental queries rely on)."""
    root = _fresh("t_hudi_carry")
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    write_hudi(df.coalesce(1), root, record_key="id")
    upsert_hudi(
        spark.range(0, 50).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    i0, i1 = [i for i, _ in completed_instants(root)]
    rows = read_hudi(spark, root, with_meta=True).select(
        "id", "_hoodie_commit_time", "_hoodie_file_name"
    ).collect()
    assert len(rows) == 200
    for r in rows:
        want = i1 if r["id"] < 50 else i0
        assert r["_hoodie_commit_time"] == want, (r["id"], want)
        # every row of the group lives in the NEW slice file
        assert r["_hoodie_file_name"].endswith(f"_{i1}.parquet")


def test_partition_pruning_reads_only_matching_files(spark):
    """partition_eq pruning happens against writeStat partitionPath:
    every scanned file sits under the requested partition dir."""
    root = _fresh("t_hudi_prune_unit")
    df = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    write_hudi(
        df, root, record_key="o_orderkey", partition_by=["o_orderpriority"]
    )
    pruned = read_hudi(
        spark, root, partition_eq={"o_orderpriority": "1-URGENT"}
    )
    files = pruned.inputFiles()
    assert files and all("o_orderpriority=1-URGENT" in f for f in files)


def test_timeline_operation_types(spark):
    """hudi_timeline reports the spec action/operationType pairs for a
    full lifecycle, and the commit JSON carries partitionToReplaceFileIds
    only on the replacecommit."""
    root = _fresh("t_hudi_tl_unit")
    df = spark.range(0, 60).select("id").coalesce(1)
    write_hudi(df, root, record_key="id")
    upsert_hudi(spark.range(0, 10).select("id"), root)
    delete_hudi(spark.range(50, 60).select("id"), root)
    cluster_hudi(root)
    tl = hudi_timeline(root)
    assert [(a, o) for _i, a, o in tl] == [
        ("commit", "insert"),
        ("commit", "upsert"),
        ("commit", "delete"),
        ("replacecommit", "cluster"),
    ]
    for instant, action in completed_instants(root):
        meta = H._read_commit_meta(root, instant, action)
        assert ("partitionToReplaceFileIds" in meta) == (
            action == "replacecommit"
        )
    assert read_hudi(spark, root).count() == 50


def test_lakehouse_cli_on_hudi(spark):
    """The operational CLI auto-detects Hudi roots and serves the
    describe/history/files/fsck verbs from timeline metadata alone."""
    from atlas_migration_repo_spark.lakehouse import (
        _DISPATCH,
        detect_format,
        fsck,
    )

    root = _fresh("t_hudi_cli")
    write_hudi(
        spark.range(0, 100).select("id").coalesce(1), root, record_key="id"
    )
    upsert_hudi(spark.range(0, 10).select("id"), root)
    assert detect_format(root) == "hudi"
    d = _DISPATCH[("hudi", "describe")](root)
    assert d["num_commits"] == 2 and d["num_records"] == 100
    h = _DISPATCH[("hudi", "history")](root)
    assert [x["operation"] for x in h] == ["insert", "upsert"]
    assert h[1]["num_updates"] == 10
    files = _DISPATCH[("hudi", "files")](root)
    assert len(files) == 1  # the upsert produced a new slice of the group
    chk = fsck(root)
    assert chk["ok"] and chk["checked_files"] == 1


# ---------------------------------------------------------------------------
# merge-on-read
# ---------------------------------------------------------------------------
def _mor_table(spark, key, n=200):
    root = _fresh(key)
    df = spark.range(0, n).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    write_hudi(
        df.coalesce(1), root, record_key="id", table_type="MERGE_ON_READ"
    )
    return root


def test_mor_log_file_layout(spark):
    """A MOR upsert appends a spec-named log file (`.fid_base.log.v_tok`)
    holding one magic-framed parquet-data block whose INSTANT_TIME header
    is the upsert instant; the base file is byte-untouched."""
    root = _mor_table(spark, "t_mor_layout")
    _, _, before = H._replay_hudi(root)
    base_rel = before[0]["stat"]["path"]
    base_size = os.path.getsize(os.path.join(root, base_rel))
    upsert_hudi(
        spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    i1 = completed_instants(root)[-1][0]
    _, _, after = H._replay_hudi(root)
    (sl,) = after
    assert len(sl["logs"]) == 1
    log_rel = sl["logs"][0]["stat"]["path"]
    name = os.path.basename(log_rel)
    m = H._LOG_NAME_RE.match(name)
    assert m and m.group("fid") == sl["fileId"] and m.group("base") == sl["instant"]
    fp = os.path.join(root, log_rel)
    with open(fp, "rb") as fh:
        assert fh.read(6) == H._LOG_MAGIC
    blocks = H._parse_log_file(fp)
    assert len(blocks) == 1
    btype, header, content = blocks[0]
    assert btype == H._BLOCK_PARQUET
    assert header[H._HDR_INSTANT_TIME] == i1
    assert header[H._HDR_TARGET_INSTANT_TIME] == sl["instant"]
    # base untouched
    assert os.path.getsize(os.path.join(root, base_rel)) == base_size
    # deltacommit actions on the timeline
    assert [a for _i, a in completed_instants(root)] == [
        "deltacommit",
        "deltacommit",
    ]


def test_mor_delete_then_reinsert_ordering(spark):
    """Ordering across log blocks: delete keys 0-9 (tombstone block),
    then re-upsert keys 0-4 — the later log record outranks the
    tombstone, so 0-4 come back with the new value and 5-9 stay gone."""
    root = _mor_table(spark, "t_mor_order", n=100)
    delete_hudi(spark.range(0, 10).select("id"), root)
    upsert_hudi(
        spark.range(0, 5).select(F.col("id"), F.lit(42.0).alias("v")), root
    )
    rows = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert len(rows) == 95
    for k in range(5):
        assert rows[k] == 42.0
    for k in range(5, 10):
        assert k not in rows


def test_mor_compaction_absorbs_logs(spark):
    """After compaction no visible slice carries logs, the RO view
    equals the snapshot, and time travel below the compaction instant
    still merges the old base + logs."""
    root = _mor_table(spark, "t_mor_compact", n=100)
    upsert_hudi(
        spark.range(0, 20).select(F.col("id"), F.lit(-2.0).alias("v")), root
    )
    delete_hudi(spark.range(90, 100).select("id"), root)
    pre = completed_instants(root)[-1][0]
    pre_rows = sorted(
        (r["id"], r["v"]) for r in read_hudi(spark, root).collect()
    )
    H.compact_hudi(root)
    _, _, slices = H._replay_hudi(root)
    assert all(not s["logs"] for s in slices)
    post = sorted((r["id"], r["v"]) for r in read_hudi(spark, root).collect())
    ro = sorted(
        (r["id"], r["v"])
        for r in read_hudi(spark, root, view="read_optimized").collect()
    )
    tt = sorted(
        (r["id"], r["v"])
        for r in read_hudi(spark, root, as_of=pre).collect()
    )
    assert pre_rows == post == ro == tt
    assert len(post) == 90 and dict(post)[5] == -2.0


def test_mor_incremental_includes_log_records(spark):
    """Incremental pull on MOR: an upsert that only touched log files
    still surfaces — qualifying file groups include those whose LOGS are
    newer than the begin instant."""
    root = _mor_table(spark, "t_mor_incr", n=100)
    begin = completed_instants(root)[0][0]
    upsert_hudi(
        spark.range(0, 7).select(F.col("id"), F.lit(7.0).alias("v")), root
    )
    got = sorted(
        (r["id"], r["v"])
        for r in read_hudi_incremental(spark, root, begin).collect()
    )
    assert got == [(i, 7.0) for i in range(7)]


def test_mor_block_framing_roundtrip(tmp_path):
    """Two framed blocks round-trip through the parser; a torn trailing
    write (partial block) is ignored like the spec's corrupt-block
    handling."""
    b1 = H._log_block_bytes(H._BLOCK_PARQUET, {1: "20240101000000000"}, b"abc")
    b2 = H._log_block_bytes(H._BLOCK_DELETE, {1: "x", 2: "y"}, b"zz")
    fp = tmp_path / "t.log.1_0-0-0"
    fp.write_bytes(b1 + b2 + b"#HUDI#\x00\x00")  # torn tail
    blocks = H._parse_log_file(str(fp))
    assert [(t, c) for t, _h, c in blocks] == [
        (H._BLOCK_PARQUET, b"abc"),
        (H._BLOCK_DELETE, b"zz"),
    ]
    assert blocks[1][1] == {1: "x", 2: "y"}


def test_cluster_refuses_uncompacted_mor(spark):
    """Clustering a MOR table with live log files must refuse (a
    base-only rewrite would silently drop the log records)."""
    root = _mor_table(spark, "t_mor_cluster_refuse", n=50)
    upsert_hudi(
        spark.range(0, 5).select(F.col("id"), F.lit(1.5).alias("v")), root
    )
    with pytest.raises(ValueError, match="compact"):
        cluster_hudi(root)


# ---------------------------------------------------------------------------
# table services: savepoint / restore / clean
# ---------------------------------------------------------------------------
def test_restore_requires_savepoint(spark):
    root = _fresh("t_hudi_restore_guard")
    write_hudi(
        spark.range(0, 10).select("id").coalesce(1), root, record_key="id"
    )
    i0 = completed_instants(root)[0][0]
    with pytest.raises(ValueError, match="not savepointed"):
        H.restore_hudi(root, i0)


def test_restore_rolls_back_files_and_timeline(spark):
    """Restore to a savepoint deletes the later commits' data files AND
    their timeline triples, records a `.restore` entry, and the table
    keeps working for new writes afterwards."""
    root = _fresh("t_hudi_restore_unit")
    for i in range(3):
        write_hudi(
            spark.range(i * 10, (i + 1) * 10).select("id").coalesce(1),
            root,
            record_key="id",
        )
    instants = [i for i, _ in completed_instants(root)]
    third_meta = H._read_commit_meta(root, instants[2], "commit")
    third_files = [
        os.path.join(root, st["path"])
        for sts in third_meta["partitionToWriteStats"].values()
        for st in sts
    ]
    H.savepoint_hudi(root, instants[1])
    H.restore_hudi(root, instants[1])
    assert all(not os.path.exists(f) for f in third_files)
    actions = [a for _i, a in completed_instants(root)]
    assert actions == ["commit", "commit", "savepoint", "restore"]
    got = sorted(r["id"] for r in read_hudi(spark, root).collect())
    assert got == list(range(20))
    # the table still accepts writes after a restore
    write_hudi(
        spark.range(100, 110).select("id").coalesce(1), root, record_key="id"
    )
    assert read_hudi(spark, root).count() == 30


def test_clean_removes_superseded_slices_and_respects_savepoints(spark):
    """KEEP_LATEST_FILE_VERSIONS=1 deletes old COW slices — except those
    a savepoint protects, which must stay time-travelable."""
    root = _fresh("t_hudi_clean_unit")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    write_hudi(df.coalesce(1), root, record_key="id")
    i0 = completed_instants(root)[0][0]
    upsert_hudi(spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v")), root)
    upsert_hudi(spark.range(0, 10).select(F.col("id"), F.lit(-2.0).alias("v")), root)
    groups, _ = H._group_history(root)
    (versions,) = groups.values()
    assert len(versions) == 3
    v0_fp = os.path.join(root, versions[0]["stat"]["path"])
    v1_fp = os.path.join(root, versions[1]["stat"]["path"])

    # protect v0 via a savepoint, then clean: v1 dies, v0 survives
    H.savepoint_hudi(root, i0)
    H.clean_hudi(root, retain_versions=1)
    assert os.path.exists(v0_fp) and not os.path.exists(v1_fp)
    tt = {r["id"]: r["v"] for r in read_hudi(spark, root, as_of=i0).collect()}
    assert tt[5] == 5.0 and len(tt) == 100
    now = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert now[5] == -2.0
    meta = H._read_commit_meta(
        root, *[x for x in completed_instants(root) if x[1] == "clean"][0]
    )
    assert meta["deletedFiles"] and all(
        "parquet" in f for f in meta["deletedFiles"]
    )


# ---------------------------------------------------------------------------
# bootstrap adoption
# ---------------------------------------------------------------------------
def test_adopt_is_zero_copy_and_guarded(spark):
    """Adoption grafts a timeline without touching the original files
    (same inode), marks the commit as bootstrap, and row-level ops on
    the virtual-key table refuse with a rewrite hint."""
    root = _fresh("t_hudi_adopt_unit")
    df = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    df.write.partitionBy("o_orderpriority").parquet(root)
    inodes_before = {
        f: os.stat(os.path.join(dp, f)).st_ino
        for dp, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }
    H.adopt_parquet_to_hudi(
        spark, root, record_key="o_orderkey",
        partition_by=["o_orderpriority"],
    )
    inodes_after = {
        f: os.stat(os.path.join(dp, f)).st_ino
        for dp, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }
    assert inodes_after == inodes_before  # no rename, no rewrite
    (instant, action), = completed_instants(root)
    assert action == "commit"
    assert H._read_commit_meta(root, instant, action)["operationType"] == (
        "bootstrap"
    )
    assert read_hudi(spark, root).count() == df.count()
    with pytest.raises(ValueError, match="virtual-key"):
        upsert_hudi(df.limit(1), root)
    with pytest.raises(ValueError, match="virtual-key"):
        delete_hudi(df.select("o_orderkey").limit(1), root)
    with pytest.raises(ValueError, match="virtual-key"):
        cluster_hudi(root)
    with pytest.raises(ValueError, match="_hoodie_commit_time"):
        read_hudi_incremental(spark, root, instant)
    with pytest.raises(ValueError, match="already carries"):
        H.adopt_parquet_to_hudi(spark, root, record_key="o_orderkey")


def test_adopt_pruned_read_touches_only_matching_partition(spark):
    root = _fresh("t_hudi_adopt_prune")
    load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.partitionBy("o_orderstatus").parquet(root)
    H.adopt_parquet_to_hudi(
        spark, root, record_key="o_orderkey", partition_by=["o_orderstatus"]
    )
    pruned = read_hudi(spark, root, partition_eq={"o_orderstatus": "F"})
    files = pruned.inputFiles()
    assert files and all("o_orderstatus=F" in f for f in files)
    got = pruned.select("o_orderstatus").distinct().collect()
    assert [r["o_orderstatus"] for r in got] == ["F"]


# ---------------------------------------------------------------------------
# tri-format UniForm (Hudi + grafted _delta_log)
# ---------------------------------------------------------------------------
def test_uniform_hudi_rowwise_parity_and_sync_noop(spark):
    """Row-wise parity through both doors, MOR refusal, repeat-sync
    no-op, and uniform status reporting the synced instant."""
    from atlas_migration_repo_spark.lakehouse import uniform_status
    from atlas_migration_repo_spark.sources.delta_interop import read_delta

    root = _fresh("t_uniform_hudi_unit")
    df = spark.range(0, 500).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    write_hudi(df.coalesce(2), root, record_key="id")
    H.publish_delta_log_from_hudi(spark, root)
    a = sorted((r["id"], r["v"]) for r in read_hudi(spark, root).collect())
    b = sorted((r["id"], r["v"]) for r in read_delta(spark, root).collect())
    assert a == b and len(a) == 500
    st = uniform_status(root)
    assert st["hudi"]["latest_instant"] and st["in_sync"] is True

    # a COW upsert makes the delta door stale until the sync runs
    upsert_hudi(spark.range(0, 5).select(F.col("id"), F.lit(-9.0).alias("v")), root)
    assert uniform_status(root)["in_sync"] is False
    v1 = H.sync_delta_log_from_hudi(spark, root)
    assert uniform_status(root)["in_sync"] is True
    assert {r["id"]: r["v"] for r in read_delta(spark, root).collect()}[3] == -9.0
    # nothing new: the sync is a no-op returning the same version
    assert H.sync_delta_log_from_hudi(spark, root) == v1

    # MOR tables with live logs refuse the publish
    mroot = _fresh("t_uniform_hudi_mor_refuse")
    write_hudi(
        df.coalesce(1), mroot, record_key="id", table_type="MERGE_ON_READ"
    )
    upsert_hudi(spark.range(0, 5).select(F.col("id"), F.lit(0.0).alias("v")), mroot)
    with pytest.raises(ValueError, match="compact_hudi first"):
        H.publish_delta_log_from_hudi(spark, mroot)


def test_rollback_pending_reclaims_crash_debris(spark, monkeypatch):
    """A writer that dies after placing files but before completing its
    instant leaves invisible debris; rollback_pending_hudi (past the
    grace window) deletes the placed files and markers, records a
    `.rollback` entry, and never touches completed instants' files —
    while an in-flight (young) writer is left alone."""
    root = _fresh("t_hudi_rollback")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    write_hudi(df.coalesce(1), root, record_key="id")

    class _Boom(RuntimeError):
        pass

    def crash(*a, **k):
        raise _Boom()

    monkeypatch.setattr(H, "_complete_instant", crash)
    with pytest.raises(_Boom):
        upsert_hudi(
            spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v")),
            root,
        )
    monkeypatch.undo()

    # debris exists: a second base slice file with no completed instant
    n_parquet = sum(
        1
        for dp, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
    assert n_parquet == 2
    assert len(completed_instants(root)) == 1

    # young pending instants are protected by the grace window
    out = H.rollback_pending_hudi(root)
    assert out["rolled_back"] == []

    out = H.rollback_pending_hudi(root, older_than_ms=0)
    assert len(out["rolled_back"]) == 1 and len(out["deleted_files"]) == 1
    n_parquet = sum(
        1
        for dp, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
    assert n_parquet == 1
    actions = [a for _i, a in completed_instants(root)]
    assert actions == ["commit", "rollback"]
    # table fully functional afterwards
    assert read_hudi(spark, root).count() == 100
    upsert_hudi(
        spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    assert {r["v"] for r in read_hudi(spark, root).where("id < 10").collect()} == {-1.0}


def test_rollback_pending_reclaims_orphan_log_blocks(spark, monkeypatch):
    """MOR flavor: the crashed upsert's debris is a LOG file whose only
    block carries the pending instant — rollback deletes it; a later
    completed log on the same group is never touched."""
    root = _mor_table(spark, "t_mor_rollback", n=50)

    class _Boom(RuntimeError):
        pass

    monkeypatch.setattr(H, "_complete_instant", lambda *a, **k: (_ for _ in ()).throw(_Boom()))
    with pytest.raises(_Boom):
        upsert_hudi(
            spark.range(0, 5).select(F.col("id"), F.lit(-1.0).alias("v")), root
        )
    monkeypatch.undo()
    logs = [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(root)
        for f in fs
        # _claims/ holds coordinated-store bookkeeping named after the
        # files it guards, not data
        if H._LOG_NAME_RE.match(f) and not dp.endswith("_claims")
    ]
    assert len(logs) == 1
    out = H.rollback_pending_hudi(root, older_than_ms=0)
    assert len(out["deleted_files"]) == 1
    assert not os.path.exists(logs[0])
    # a real upsert afterwards lands log version 1 again and reads merge
    upsert_hudi(
        spark.range(0, 5).select(F.col("id"), F.lit(9.0).alias("v")), root
    )
    assert {r["v"] for r in read_hudi(spark, root).where("id < 5").collect()} == {9.0}


# ---------------------------------------------------------------------------
# timeline checkpoint + archival
# ---------------------------------------------------------------------------
def test_checkpoint_is_self_sufficient(spark):
    """A replay from the checkpoint needs none of the covered instants:
    deleting every pre-checkpoint active timeline file leaves the
    snapshot read byte-identical (the Delta-checkpoint contract)."""
    root = _fresh("t_hudi_cp_unit")
    for i in range(4):
        write_hudi(
            spark.range(i * 50, (i + 1) * 50).select("id").coalesce(1),
            root,
            record_key="id",
        )
    before = sorted(r["id"] for r in read_hudi(spark, root).collect())
    covers = H.checkpoint_timeline_hudi(root)
    hoodie = H._hoodie_dir(root)
    for name in list(os.listdir(hoodie)):
        head = name.split(".", 1)[0]
        if len(head) == 17 and head.isdigit() and head <= covers:
            os.unlink(os.path.join(hoodie, name))
    after = sorted(r["id"] for r in read_hudi(spark, root).collect())
    assert after == before == list(range(200))
    # and the table still accepts writes whose replay folds cp + delta
    write_hudi(
        spark.range(200, 250).select("id").coalesce(1), root, record_key="id"
    )
    assert read_hudi(spark, root).count() == 250


def test_archive_bounds_replay_and_keeps_audit_trail(spark):
    """Archival moves old write instants into framed archive blocks,
    time travel below OR ACROSS the horizon folds them back from the
    archive (exact data at every historical instant), and post-archive
    upserts still rewrite checkpoint-known groups correctly (COW and
    MOR with logs)."""
    root = _fresh("t_hudi_archive_unit")
    for i in range(5):
        write_hudi(
            spark.range(i * 20, (i + 1) * 20).select("id").coalesce(1),
            root,
            record_key="id",
        )
    instants = [i for i, _ in completed_instants(root)]
    H.checkpoint_timeline_hudi(root)
    out = H.archive_timeline_hudi(root, keep_recent=2)
    assert len(out["archived"]) == 3
    assert read_hudi(spark, root).count() == 100
    arch = H.read_archived_timeline_hudi(root)
    assert [i for i, _a, _m in arch] == out["archived"]
    assert all(a == "commit" for _i, a, _m in arch)
    # ADVICE r6 (high): as_of at an ACTIVE instant older than the newest
    # checkpoint must fold the archived prefix, not silently replay only
    # the active suffix (was returning 20 rows here)
    assert read_hudi(spark, root, as_of=instants[3]).count() == 80
    # as_of at an ARCHIVED instant folds entirely from the archive
    assert sorted(
        r["id"] for r in read_hudi(spark, root, as_of=instants[0]).collect()
    ) == list(range(20))
    assert read_hudi(spark, root, as_of=instants[1]).count() == 40

    # MOR: checkpoint carries attached logs through archival
    mroot = _mor_table(spark, "t_mor_archive", n=60)
    upsert_hudi(
        spark.range(0, 6).select(F.col("id"), F.lit(-3.0).alias("v")), mroot
    )
    H.checkpoint_timeline_hudi(mroot)
    write_hudi(
        spark.range(100, 110).select(
            F.col("id"), (F.col("id") * 1.0).alias("v")
        ).coalesce(1),
        mroot,
        record_key="id",
    )
    H.archive_timeline_hudi(mroot, keep_recent=1)
    rows = {r["id"]: r["v"] for r in read_hudi(spark, mroot).collect()}
    assert len(rows) == 70 and rows[3] == -3.0
    H.compact_hudi(mroot)
    rows2 = {r["id"]: r["v"] for r in read_hudi(spark, mroot).collect()}
    assert rows2 == rows


# ---------------------------------------------------------------------------
# protocol model checks (the test_model_check_* family, 4th format)
# ---------------------------------------------------------------------------
def _model_rows(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v double")


def test_model_check_hudi_cow_sequences(spark):
    """Model-check the COW machinery: a seeded random sequence of
    insert / upsert / delete / cluster instants against a plain dict
    model — EVERY recorded write instant must time-travel back to
    exactly its model state (slice visibility, replacecommit
    boundaries, carried-row preservation)."""
    import random

    rng = random.Random(11)
    root = _fresh("ut_hudi_model_cow")
    rows = [(i, float(i)) for i in range(200)]
    write_hudi(_model_rows(spark, rows).coalesce(2), root, record_key="id")
    model = dict(rows)
    by_instant = {completed_instants(root)[-1][0]: dict(model)}
    next_key = 1000
    for _step in range(10):
        op = rng.choice(["insert", "upsert", "delete", "cluster"])
        if op == "insert":
            new = [
                (next_key + i, float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 30))
            ]
            next_key += 100
            write_hudi(
                _model_rows(spark, new).coalesce(1), root, record_key="id"
            )
            model.update(dict(new))
        elif op == "upsert":
            keys = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 25)))
                if model
                else []
            )
            src = [(k, model[k] + 0.5) for k in keys] + [
                (next_key + i, float(i)) for i in range(rng.randint(1, 8))
            ]
            next_key += 100
            upsert_hudi(_model_rows(spark, src), root)
            model.update(dict(src))
        elif op == "delete":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 40)))
            delete_hudi(
                spark.createDataFrame([(k,) for k in keys], "id bigint"), root
            )
            for k in keys:
                model.pop(k)
        else:
            cluster_hudi(root)  # state identical through the replace
        by_instant[completed_instants(root)[-1][0]] = dict(model)

    for instant, want in by_instant.items():
        got = {
            r["id"]: r["v"]
            for r in read_hudi(spark, root, as_of=instant).collect()
        }
        assert got == want, f"instant {instant}: {len(got)} vs {len(want)}"


def test_model_check_hudi_mor_sequences(spark):
    """MOR flavor: the same dict-model replay with log-block upserts,
    tombstone deletes, and compactions interleaved — every instant's
    merged snapshot must equal the model, and after a final compaction
    the read-optimized view converges to the snapshot."""
    import random

    rng = random.Random(13)
    root = _fresh("ut_hudi_model_mor")
    rows = [(i, float(i)) for i in range(150)]
    write_hudi(
        _model_rows(spark, rows).coalesce(2),
        root,
        record_key="id",
        table_type="MERGE_ON_READ",
    )
    model = dict(rows)
    by_instant = {completed_instants(root)[-1][0]: dict(model)}
    next_key = 1000
    for _step in range(8):
        op = rng.choice(["insert", "upsert", "upsert", "delete", "compact"])
        if op == "insert":
            new = [
                (next_key + i, float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 20))
            ]
            next_key += 100
            write_hudi(
                _model_rows(spark, new).coalesce(1), root, record_key="id"
            )
            model.update(dict(new))
        elif op == "upsert":
            keys = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 20)))
                if model
                else []
            )
            src = [(k, model[k] + 0.25) for k in keys] + [
                (next_key + i, float(i)) for i in range(rng.randint(1, 5))
            ]
            next_key += 100
            upsert_hudi(_model_rows(spark, src), root)
            model.update(dict(src))
        elif op == "delete":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 30)))
            delete_hudi(
                spark.createDataFrame([(k,) for k in keys], "id bigint"), root
            )
            for k in keys:
                model.pop(k)
        else:
            _, _, slices = H._replay_hudi(root)
            if any(s.get("logs") for s in slices):
                H.compact_hudi(root)
        by_instant[completed_instants(root)[-1][0]] = dict(model)

    for instant, want in by_instant.items():
        got = {
            r["id"]: r["v"]
            for r in read_hudi(spark, root, as_of=instant).collect()
        }
        assert got == want, f"instant {instant}: {len(got)} vs {len(want)}"

    _, _, slices = H._replay_hudi(root)
    if any(s.get("logs") for s in slices):
        H.compact_hudi(root)
    snap = sorted(
        (r["id"], r["v"]) for r in read_hudi(spark, root).collect()
    )
    ro = sorted(
        (r["id"], r["v"])
        for r in read_hudi(spark, root, view="read_optimized").collect()
    )
    assert snap == ro and dict(snap) == model


def test_fsck_validates_log_blocks_and_mor_clean(spark):
    """fsck parses every live log file: framing, per-block instant
    headers, and record/tombstone counts against the writeStats — a
    truncated log is reported, not silently shortened. The cleaner on a
    compacted MOR table removes the superseded base AND its absorbed
    logs together."""
    from atlas_migration_repo_spark.lakehouse import fsck

    root = _mor_table(spark, "t_mor_fsck_clean", n=80)
    upsert_hudi(
        spark.range(0, 8).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    delete_hudi(spark.range(70, 80).select("id"), root)
    chk = fsck(root)
    assert chk["ok"], chk["errors"]
    assert chk["checked_files"] == 3  # base + data log + delete log

    # corrupt the tail of a log file: fsck flags the count mismatch
    _, _, slices = H._replay_hudi(root)
    log_rel = slices[0]["logs"][0]["stat"]["path"]
    fp = os.path.join(root, log_rel)
    data = open(fp, "rb").read()
    open(fp, "wb").write(data[: len(data) - 9])  # torn trailing bytes
    chk2 = fsck(root)
    assert not chk2["ok"]
    assert any("log" in e for e in chk2["errors"])
    open(fp, "wb").write(data)  # restore
    assert fsck(root)["ok"]

    # compaction then clean: old base + absorbed logs all reclaimed
    H.compact_hudi(root)
    n_before = sum(
        1 for dp, _d, fs in os.walk(root) for f in fs
        if (f.endswith(".parquet") or H._LOG_NAME_RE.match(f))
        and not dp.endswith("_claims")
    )
    H.clean_hudi(root, retain_versions=1)
    n_after = sum(
        1 for dp, _d, fs in os.walk(root) for f in fs
        if (f.endswith(".parquet") or H._LOG_NAME_RE.match(f))
        and not dp.endswith("_claims")
    )
    assert n_after < n_before
    logs_left = [
        f
        for dp, _d, fs in os.walk(root)
        for f in fs
        if H._LOG_NAME_RE.match(f) and not dp.endswith("_claims")
    ]
    assert logs_left == []
    rows = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert len(rows) == 70 and rows[3] == -1.0
    assert fsck(root)["ok"]


def test_sorted_clustering_enables_event_pruning(spark):
    """Before sort-clustering every file group spans the whole time
    range (no pruning possible); after the range-clustering
    replacecommit the same narrow event-range read drops most files in
    the timeline, answers identically, and multi-column sort_by routes
    through the z-value path."""
    root = _fresh("t_hudi_sorted_cluster")
    ev = (
        load(spark, SF_DIR, "events")
        .select("event_id", "ts", "event_type", "value")
        .repartition(8)
    )
    write_hudi(ev, root, record_key="event_id", event_time_field="ts")
    lo, hi = "2024-01-10 00:00:00", "2024-01-12 00:00:00"
    before_files = len(read_hudi_event_range(spark, root, lo, hi).inputFiles())
    before_n = read_hudi_event_range(spark, root, lo, hi).count()
    assert before_files == 8  # interleaved: nothing prunes
    cluster_hudi(root, sort_by=["ts"], target_groups=8)
    after = read_hudi_event_range(spark, root, lo, hi)
    assert 0 < len(after.inputFiles()) < 8
    assert after.count() == before_n > 0

    # multi-column sort_by exercises the z-value interleave
    root2 = _fresh("t_hudi_z_cluster")
    ev2 = load(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "value"
    ).repartition(6)
    write_hudi(ev2, root2, record_key="event_id", event_time_field="ts")
    cluster_hudi(root2, sort_by=["ts", "user_id"], target_groups=6)
    assert read_hudi(spark, root2).count() == ev2.count()


# ---------------------------------------------------------------------------
# ADVICE r6 regressions: archival-aware replay, MOR event-range merge,
# exactly-once across archival, service-action sync status, scoped delete,
# LogStore-backed executor log publish
# ---------------------------------------------------------------------------
def test_event_range_merges_mor_logs(spark):
    """ADVICE r6 (medium): an event-range read on a MOR table must merge
    live log files — log-borne deletes stay dead and log-borne updates
    (including ones that MOVE a row's event time into the range) are
    served, while log-free slices keep envelope pruning."""
    import datetime as dt

    root = _fresh("t_mor_event_range")
    base = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + i), float(i)) for i in range(10)],
        "id bigint, ts timestamp, v double",
    )
    write_hudi(
        base.coalesce(1),
        root,
        record_key="id",
        table_type="MERGE_ON_READ",
        event_time_field="ts",
    )
    delete_hudi(spark.range(0, 5).select("id"), root)
    lo, hi = "2024-01-01 00:00:00", "2024-01-20 00:00:00"
    got = sorted(
        r["id"] for r in read_hudi_event_range(spark, root, lo, hi).collect()
    )
    assert got == [5, 6, 7, 8, 9]  # was resurrecting the 5 deleted rows
    # snapshot agreement: event-range over the full envelope == snapshot
    snap = sorted(r["id"] for r in read_hudi(spark, root).collect())
    assert got == snap
    # a log-borne update that moves id=7 to March must surface in a
    # March-only range even though every base envelope misses it
    upsert_hudi(
        spark.createDataFrame(
            [(7, dt.datetime(2024, 3, 1), -7.0)],
            "id bigint, ts timestamp, v double",
        ),
        root,
    )
    got2 = {
        (r["id"], r["v"])
        for r in read_hudi_event_range(
            spark, root, "2024-02-25 00:00:00", "2024-03-05 00:00:00"
        ).collect()
    }
    assert got2 == {(7, -7.0)}


def test_checkpoint_key_survives_archival(spark):
    """ADVICE r6 (medium): replaying a batch whose checkpoint-key commit
    was ARCHIVED must still be a committed no-op — archival cannot break
    the deltastreamer exactly-once contract."""
    root = _fresh("t_hudi_cp_archive")
    for i in range(4):
        write_hudi(
            spark.range(i * 10, (i + 1) * 10).select("id").coalesce(1),
            root,
            record_key="id",
            checkpoint=f"batch-{i}",
        )
    H.checkpoint_timeline_hudi(root)
    out = H.archive_timeline_hudi(root, keep_recent=1)
    assert len(out["archived"]) == 3
    assert H.hudi_checkpoint(root) == "batch-3"
    n_before = len(completed_instants(root))
    write_hudi(
        spark.range(0, 10).select("id").coalesce(1),
        root,
        record_key="id",
        checkpoint="batch-0",  # its commit lives in .hoodie/archived
    )
    assert len(completed_instants(root)) == n_before
    assert read_hudi(spark, root).count() == 40


def test_uniform_in_sync_survives_service_actions(spark):
    """ADVICE r6 (low): in_sync keys off the latest DATA-WRITE instant —
    a clean (service action) after a synced state must not report the
    grafted _delta_log permanently out of sync."""
    from atlas_migration_repo_spark.lakehouse import uniform_status

    root = _fresh("t_hudi_uniform_clean")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    )
    write_hudi(df.coalesce(2), root, record_key="id")
    H.publish_delta_log_from_hudi(spark, root)
    assert uniform_status(root)["in_sync"] is True
    upsert_hudi(
        spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    H.sync_delta_log_from_hudi(spark, root)
    assert uniform_status(root)["in_sync"] is True
    H.clean_hudi(root, retain_versions=1)
    H.sync_delta_log_from_hudi(spark, root)  # correctly a no-op
    assert uniform_status(root)["in_sync"] is True


def test_delete_scoped_by_partition(spark):
    """ADVICE r6 (low): a key batch carrying the partition columns
    deletes per (record key, partition path) — the upsert's non-global
    index semantics; a key-only batch stays a documented global-index
    delete (key dies in every partition)."""
    root = _fresh("t_hudi_delete_scope")
    df = spark.createDataFrame(
        [(1, "A", 1.0), (1, "B", 2.0), (2, "A", 3.0), (2, "B", 4.0)],
        "id bigint, p string, v double",
    )
    write_hudi(df.coalesce(1), root, record_key="id", partition_by=["p"])
    delete_hudi(
        spark.createDataFrame([(1, "A")], "id bigint, p string"), root
    )
    got = {(r["id"], r["p"]) for r in read_hudi(spark, root).collect()}
    assert got == {(1, "B"), (2, "A"), (2, "B")}
    delete_hudi(spark.createDataFrame([(2,)], "id bigint"), root)
    got2 = {(r["id"], r["p"]) for r in read_hudi(spark, root).collect()}
    assert got2 == {(1, "B")}


def test_mor_log_append_publishes_through_log_store(spark):
    """VERDICT r6 missing #1: the EXECUTOR-side MOR log publish goes
    through the LogStore seam (no os.link on rename-less stores) — the
    full upsert/delete/read cycle works under the coordinated-put store,
    and a pre-existing log version collides loudly instead of being
    clobbered."""
    from atlas_migration_repo_spark.sources.table_log import (
        CoordinatedPutLogStore,
        set_default_log_store,
    )

    root = _fresh("t_mor_coordput")
    set_default_log_store(CoordinatedPutLogStore())
    try:
        df = spark.range(0, 50).select(
            F.col("id"), (F.col("id") * 1.0).alias("v")
        )
        write_hudi(
            df.coalesce(1), root, record_key="id",
            table_type="MERGE_ON_READ",
        )
        upsert_hudi(
            spark.range(0, 5).select(F.col("id"), F.lit(-1.0).alias("v")),
            root,
        )
        delete_hudi(spark.range(5, 10).select("id"), root)
        rows = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
        assert len(rows) == 45 and rows[0] == -1.0 and 5 not in rows
    finally:
        set_default_log_store(None)
    # collision under the POSIX store (forced explicitly — the suite may
    # run with SPARK_GRAFT_LOG_STORE=coordinated): pre-publishing the
    # NEXT log version's name makes the racing upsert fail loudly
    # instead of clobbering (under coordinated-put the CLAIM, not the
    # object, is the existence authority — raced claims are covered by
    # test_hudi_concurrent_insert_race)
    from atlas_migration_repo_spark.sources.table_log import (
        PosixLinkLogStore,
    )

    set_default_log_store(PosixLinkLogStore())
    _, _, slices = H._replay_hudi(root)
    (sl,) = slices
    next_ver = len(sl["logs"]) + 1
    name = (
        f".{sl['fileId']}_{sl['instant']}.log."
        f"{next_ver}_{H._WRITE_TOKEN}"
    )
    with open(os.path.join(root, name), "wb") as fh:
        fh.write(b"occupied")
    try:
        with pytest.raises(Exception, match="already published"):
            upsert_hudi(
                spark.range(10, 12).select(
                    F.col("id"), F.lit(9.0).alias("v")
                ),
                root,
            )
    finally:
        set_default_log_store(None)


# ---------------------------------------------------------------------------
# async compaction (VERDICT r6 #6): scheduled plan + separate execution
# ---------------------------------------------------------------------------
def test_async_compaction_schedule_run_and_log_routing(spark):
    """schedule_compaction_hudi writes the plan into a
    `.compaction.requested` instant; writes landing AFTER scheduling
    route their log blocks to the scheduled instant's future base (spec
    barrier) and stay visible before, during, and after
    run_pending_compactions; the executed commit folds EXACTLY the
    planned logs."""
    root = _mor_table(spark, "t_mor_async", n=60)
    upsert_hudi(
        spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    t_c = H.schedule_compaction_hudi(root)
    hoodie = H._hoodie_dir(root)
    assert os.path.exists(
        os.path.join(hoodie, f"{t_c}.compaction.requested")
    )
    assert not os.path.exists(
        os.path.join(hoodie, f"{t_c}.compaction.inflight")
    )
    (pend,) = H.pending_compactions_hudi(root)
    assert pend[0] == t_c and len(pend[1]["operations"]) == 1
    # scheduling again with every log-bearing group covered refuses
    with pytest.raises(ValueError, match="nothing to compact"):
        H.schedule_compaction_hudi(root)
    # post-schedule writes: their log files NAME the scheduled instant
    upsert_hudi(
        spark.range(5, 15).select(F.col("id"), F.lit(-2.0).alias("v")), root
    )
    delete_hudi(spark.range(20, 25).select("id"), root)
    post_logs = [
        f
        for dp, _d, fs in os.walk(root)
        for f in fs
        if H._LOG_NAME_RE.match(f)
        and f"_{t_c}.log." in f
        and not dp.endswith("_claims")
    ]
    assert len(post_logs) == 2  # data block + tombstone block
    expect = {
        i: (-2.0 if 5 <= i < 15 else (-1.0 if i < 5 else float(i)))
        for i in range(60)
        if not (20 <= i < 25)
    }
    before = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert before == expect
    done = H.run_pending_compactions(root)
    assert done == [t_c]
    after = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert after == expect  # execution is invisible to snapshot readers
    # RO view = the plan-folded state: first upsert baked in, the
    # post-schedule upsert/delete still log-only
    ro = {
        r["id"]: r["v"]
        for r in read_hudi(spark, root, view="read_optimized").collect()
    }
    assert ro == {i: (-1.0 if i < 10 else float(i)) for i in range(60)}
    assert H.pending_compactions_hudi(root) == []
    # a second full cycle folds the remaining logs onto the t_c base
    H.compact_hudi(root)
    ro2 = {
        r["id"]: r["v"]
        for r in read_hudi(spark, root, view="read_optimized").collect()
    }
    assert ro2 == expect


def test_pending_compaction_crash_rollback(spark):
    """A scheduled-but-never-run compaction is crashed-writer debris:
    rollback_pending_hudi reclaims the plan marker without touching
    data; logs that targeted the rolled-back instant stay attached to
    the visible slice, and a later synchronous compaction folds them."""
    root = _mor_table(spark, "t_mor_async_rb", n=40)
    upsert_hudi(
        spark.range(0, 8).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    t_c = H.schedule_compaction_hudi(root)
    # post-schedule write targets t_c, then the plan "crashes" unrun
    upsert_hudi(
        spark.range(8, 12).select(F.col("id"), F.lit(-2.0).alias("v")), root
    )
    out = H.rollback_pending_hudi(root, older_than_ms=0)
    assert t_c in out["rolled_back"]
    assert out["deleted_files"] == []  # plan only — no data placed yet
    assert H.pending_compactions_hudi(root) == []
    expect = {
        i: (-1.0 if i < 8 else (-2.0 if i < 12 else float(i)))
        for i in range(40)
    }
    got = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert got == expect  # orphan-targeted logs still merge
    # a fresh synchronous compaction folds EVERYTHING, including the
    # logs that named the rolled-back instant
    H.compact_hudi(root)
    ro = {
        r["id"]: r["v"]
        for r in read_hudi(spark, root, view="read_optimized").collect()
    }
    assert ro == expect
    _, _, slices = H._replay_hudi(root)
    assert all(not s.get("logs") for s in slices)


# ---------------------------------------------------------------------------
# BLOOM index: key-range + bloom tagging prune
# ---------------------------------------------------------------------------
def test_bloom_index_prunes_tagging_candidates(spark):
    """A BLOOM-indexed, range-clustered table: every base writeStat
    carries minRecordKey/maxRecordKey + a keyBloom; a narrow-band
    upsert's candidate set shrinks below the full slice list (range
    layer), the bloom layer agrees with direct _bloom_may_contain
    probes, and the upsert result is exact."""
    root = _fresh("t_hudi_bloom_unit")
    df = (
        spark.range(0, 800)
        .select(F.col("id"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(8, "id")
    )
    write_hudi(df, root, record_key="id", bloom_index=True)
    assert H._read_props(root)["hoodie.index.type"] == "BLOOM"
    _, _, slices = H._replay_hudi(root)
    assert len(slices) == 8
    for s in slices:
        st = s["stat"]
        assert st["minRecordKey"] <= st["maxRecordKey"]
        kb = st["keyBloom"]
        assert kb["k"] == 7 and kb["m"] >= 64
    # keys 10..19 live in ONE range-clustered file: candidates must
    # shrink to a small subset of the 8 slices
    inc = (
        spark.range(10, 20)
        .select(F.col("id").cast("string").alias("__key"))
        .withColumn("__pp", F.lit(""))
    )
    cand = H._tagging_candidate_slices(spark, inc, slices)
    assert 1 <= len(cand) < 8
    # bloom self-consistency: kept slices are exactly those whose bloom
    # may-contain at least one incoming key (string compare keeps the
    # range layer honest too)
    keys = [str(i) for i in range(10, 20)]
    for s in slices:
        expect_keep = any(
            H._bloom_may_contain(s["stat"]["keyBloom"], k) for k in keys
        ) and any(
            s["stat"]["minRecordKey"] <= k <= s["stat"]["maxRecordKey"]
            for k in keys
        )
        kept = any(
            c["fileId"] == s["fileId"] and c["partition"] == s["partition"]
            for c in cand
        )
        assert kept == expect_keep, (s["fileId"], kept, expect_keep)
    # exactness end-to-end: updates + an insert through the pruned path
    batch = spark.createDataFrame(
        [(i, -1.0) for i in range(10, 20)] + [(9001, 5.0)],
        "id bigint, v double",
    )
    upsert_hudi(batch, root)
    rows = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert len(rows) == 801 and rows[15] == -1.0 and rows[9001] == 5.0
    assert rows[5] == 5.0 * 1.0 or rows[5] == 5.0  # untouched key intact


def test_bloom_index_partitioned_and_compaction_carries_blooms(spark):
    """Partitioned BLOOM table: tagging prunes by partition bounds too,
    and MOR compaction's new bases re-carry key ranges + blooms so the
    prune keeps working across rewrites."""
    root = _fresh("t_hudi_bloom_mor")
    df = spark.range(0, 400).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_hudi(
        df.repartitionByRange(4, "id"),
        root,
        record_key="id",
        partition_by=["p"],
        table_type="MERGE_ON_READ",
        bloom_index=True,
    )
    upsert_hudi(
        spark.createDataFrame(
            [(2, "0", -2.0), (3, "1", -3.0)], "id bigint, p string, v double"
        ),
        root,
    )
    H.compact_hudi(root)
    _, _, slices = H._replay_hudi(root)
    assert all(
        s["stat"].get("keyBloom") and s["stat"].get("minRecordKey")
        for s in slices
    )
    rows = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
    assert len(rows) == 400 and rows[2] == -2.0 and rows[3] == -3.0


def test_bloom_index_prunes_delete_tagging(spark):
    """The delete path shares the BLOOM tagging prune: a narrow-band
    delete on an unpartitioned bloom table, and a partition-scoped
    delete on a partitioned one, both stay exact through the pruned
    read."""
    root = _fresh("t_hudi_bloom_delete")
    df = (
        spark.range(0, 400)
        .select(F.col("id"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "id")
    )
    write_hudi(df, root, record_key="id", bloom_index=True)
    delete_hudi(spark.range(100, 110).select("id"), root)
    rows = {r["id"] for r in read_hudi(spark, root).collect()}
    assert rows == set(range(400)) - set(range(100, 110))
    # partitioned + scoped batch
    root2 = _fresh("t_hudi_bloom_delete_p")
    df2 = spark.createDataFrame(
        [(i, str(i % 2), float(i)) for i in range(100)],
        "id bigint, p string, v double",
    )
    write_hudi(
        df2.repartitionByRange(4, "id"),
        root2,
        record_key="id",
        partition_by=["p"],
        bloom_index=True,
    )
    delete_hudi(
        spark.createDataFrame([(4, "0"), (6, "0")], "id bigint, p string"),
        root2,
    )
    got = {r["id"] for r in read_hudi(spark, root2).collect()}
    assert got == set(range(100)) - {4, 6}


# ---------------------------------------------------------------------------
# metadata table (.hoodie/metadata files partition)
# ---------------------------------------------------------------------------
def test_metadata_table_bootstrap_sync_and_compaction(spark):
    """Enable bootstraps the files partition from ONE listing; every
    later instant syncs as a deltacommit named by the data instant it
    covers; the files view matches a physical walk file-for-file; the
    metadata-planned read equals the timeline read; compaction folds
    everything into a fresh base with identical views."""
    root = _fresh("t_hudi_md_lifecycle")
    df = spark.createDataFrame(
        [(i, str(i % 3), float(i)) for i in range(120)],
        "id bigint, p string, v double",
    )
    write_hudi(df, root, record_key="id", partition_by=["p"])
    n = H.enable_metadata_hudi(root)
    assert n == 1  # bootstrap covered the one commit
    md = H._md_root(root)
    assert os.path.isdir(os.path.join(md, "files"))
    base_names = [
        x for x in os.listdir(os.path.join(md, "files"))
        if x.startswith("base_")
    ]
    assert len(base_names) == 1
    assert H.metadata_partitions_hudi(root) == ["p=0", "p=1", "p=2"]

    # two more instants: upsert + delete; sync writes one deltacommit each
    upsert_hudi(
        df.where(F.col("id") % 2 == 0).select(
            "id", "p", (F.col("v") * 10).alias("v")
        ),
        root,
    )
    delete_hudi(
        spark.createDataFrame([(3, "0"), (9, "0")], "id bigint, p string"),
        root,
    )
    assert H.sync_metadata_hudi(root) == 2
    synced = H._md_synced_instants(root)
    data_instants = [i for i, _a in completed_instants(root)]
    assert synced == set(data_instants[1:])

    assert H.metadata_files_hudi(root) == H._md_listing_walk(root)
    got_md = {
        (r["id"], r["v"])
        for r in read_hudi(spark, root, listing="metadata").collect()
    }
    got_tl = {(r["id"], r["v"]) for r in read_hudi(spark, root).collect()}
    assert got_md == got_tl and len(got_md) == 118

    # compaction folds into a new base; views unchanged
    covers = H.compact_metadata_hudi(root)
    assert covers == data_instants[-1]
    assert H.metadata_files_hudi(root) == H._md_listing_walk(root)
    lt, sj, sl_md = H._slices_from_metadata(root)
    lt2, sj2, sl_tl = H._replay_hudi(root)
    assert (lt, sj, sl_md) == (lt2, sj2, sl_tl)


def test_metadata_table_mor_logs_and_clean(spark):
    """MOR log appends land in the files view (log files are physical
    files a lister must see); clean's removals drop the superseded
    slices from the view; the metadata-planned MOR snapshot merges logs
    identically to timeline planning."""
    root = _mor_table(spark, "t_hudi_md_mor", n=100)
    H.enable_metadata_hudi(root)
    upsert_hudi(
        spark.range(0, 10).select(F.col("id"), F.lit(-1.0).alias("v")), root
    )
    H.sync_metadata_hudi(root)
    files = H.metadata_files_hudi(root)
    assert files == H._md_listing_walk(root)
    assert any(
        H._LOG_NAME_RE.match(os.path.basename(rel))
        for m in files.values()
        for rel in m
    )
    got_md = {
        (r["id"], r["v"])
        for r in read_hudi(spark, root, listing="metadata").collect()
    }
    assert got_md == {(i, -1.0 if i < 10 else float(i)) for i in range(100)}
    # compact the MOR logs, then clean old versions; view tracks the walk
    H.compact_hudi(root)
    H.clean_hudi(root, retain_versions=1)
    H.sync_metadata_hudi(root)
    assert H.metadata_files_hudi(root) == H._md_listing_walk(root)


def test_metadata_table_restore_rebootstraps(spark):
    """RESTORE rewinds the data timeline below what the metadata base
    may cover — sync responds by wiping and re-bootstrapping (the spec's
    restore behavior), after which views and planning are exact again."""
    root = _fresh("t_hudi_md_restore")
    df = spark.range(0, 90).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    for k in range(3):
        write_hudi(df.where(F.col("id") % 3 == k), root, record_key="id")
    H.enable_metadata_hudi(root)
    instants = [i for i, _a in completed_instants(root)]
    H.savepoint_hudi(root, instants[1])
    H.restore_hudi(root, instants[1])
    H.sync_metadata_hudi(root)
    assert H.metadata_files_hudi(root) == H._md_listing_walk(root)
    got = {r["id"] for r in read_hudi(spark, root, listing="metadata").collect()}
    assert got == {i for i in range(90) if i % 3 < 2}


def test_metadata_read_guards(spark):
    """Planning from metadata refuses tables without it and refuses time
    travel (the metadata table serves the CURRENT snapshot only)."""
    root = _fresh("t_hudi_md_guards")
    df = spark.range(0, 10).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    write_hudi(df, root, record_key="id")
    with pytest.raises(ValueError, match="metadata table not enabled"):
        read_hudi(spark, root, listing="metadata")
    H.enable_metadata_hudi(root)
    (i0, _), = completed_instants(root)
    with pytest.raises(ValueError, match="latest snapshot"):
        read_hudi(spark, root, as_of=i0, listing="metadata")


def test_column_range_read_never_collects_envelope_relation(spark, monkeypatch):
    """VERDICT r8 "next" #4: the column-range read must plan its
    keep/prune as a Spark filter over the column_stats RELATION and
    collect only surviving file names — never fold every file's envelope
    into a driver dict. Pinned by making the driver-side fold
    (metadata_column_stats_hudi) explode if the read path touches it,
    then checking the read is still exact: in-range rows survive, MOR
    log slices are kept (their update must be visible), and the
    relational fold honors newest-wins (the stale doubled value from the
    superseded base version must NOT leak through)."""
    root = scratch_path(SF_DIR, "ut_hudi_colstats_nodriver")
    shutil.rmtree(root, ignore_errors=True)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double"
    ).repartitionByRange(4, "k")
    H.write_hudi(df, root, record_key="k")
    H.enable_column_stats_hudi(root, ["k", "v"])
    # rewrite the low file group twice (×2 then back) so the index holds
    # superseded envelopes that only the newest-wins fold discards
    low = df.where(F.col("k") < 25)
    H.upsert_hudi(low.select("k", (F.col("v") * 2).alias("v")), root)
    H.upsert_hudi(low, root)
    H.sync_metadata_hudi(root)

    def _boom(path):
        raise AssertionError(
            "read_hudi_column_range collected the full envelope relation"
        )

    monkeypatch.setattr(H, "metadata_column_stats_hudi", _boom)
    got = {
        r["k"]: r["v"]
        for r in H.read_hudi_column_range(spark, root, "k", 10, 30).collect()
    }
    assert got == {k: float(k) for k in range(10, 31)}, got
    # string-typed ranges go through the mn_str/mx_str representation
    empty = H.read_hudi_column_range(spark, root, "v", 200.0, 300.0)
    assert empty.count() == 0


def test_column_range_int64_exact_beyond_2p53_and_relation_guard(spark):
    """ADVICE r9 #3: an integral column queried with FLOAT bounds must
    compare exactly — prune AND survivor predicate — not through Spark's
    long→double widening, under which int64 values beyond 2^53 collapse
    onto the same double (2^53 and 2^53+1 both "equal" 2^53.0). With
    exact semantics only the mathematically in-range row survives.
    ADVICE r9 #2: metadata_column_stats_relation must raise the same
    loud guard as the driver-side fold when the column_stats index is
    not enabled, instead of returning an empty relation that degrades
    skipping into keep-everything."""
    root = scratch_path(SF_DIR, "ut_hudi_colstats_2p53")
    shutil.rmtree(root, ignore_errors=True)
    p = 1 << 53
    # double spacing at 2^53 is 2: p-2 and p are exact doubles, p+1 is
    # NOT representable and widens to p — the collapse the fix targets
    df = spark.createDataFrame(
        [(p - 2, 1.0), (p, 2.0), (p + 1, 3.0)], "k bigint, v double"
    ).repartition(1)
    H.write_hudi(df, root, record_key="k")
    H.enable_metadata_hudi(root)
    with pytest.raises(ValueError, match="column_stats index not enabled"):
        H.metadata_column_stats_relation(spark, root, "k")
    H.enable_column_stats_hudi(root, ["k"])
    H.sync_metadata_hudi(root)
    got = {
        r["k"]
        for r in H.read_hudi_column_range(
            spark, root, "k", float(p), float(p)
        ).collect()
    }
    # widened long→double compare would ALSO admit p+1 (it collapses
    # onto 2^53.0); the exact integer-bounds predicate must not
    assert got == {p}, got


def test_column_stats_mor_logs_never_pruned_and_clean_drops_stats(spark):
    """column_stats envelope rules that keep skipping SOUND: (1) a MOR
    file group with log files is never pruned — log rows carry no footer
    stats, so an out-of-envelope update hiding in a log must still be
    read; (2) a cleaned (physically removed) base file's stats drop out
    of the folded column_stats view, so the index never references dead
    files."""
    root = scratch_path(SF_DIR, "ut_hudi_colstats_mor")
    shutil.rmtree(root, ignore_errors=True)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double"
    ).repartitionByRange(4, "k")
    H.write_hudi(df, root, record_key="k", table_type="MERGE_ON_READ")
    H.enable_column_stats_hudi(root, ["k", "v"])
    # log an update whose NEW value (v=9999) sits far outside every base
    # envelope for v; the row's key (k=5) lives in the first file group
    H.upsert_hudi(spark.createDataFrame([(5, 9999.0)], "k bigint, v double"), root)
    got = {
        r["k"]: r["v"]
        for r in H.read_hudi_column_range(spark, root, "v", 9000.0, 10000.0).collect()
    }
    assert got == {5: 9999.0}, got
    # clean: compact MOR (rewrites the group), then clean the old version
    H.compact_hudi(root)
    H.clean_hudi(root, retain_versions=1)
    H.sync_metadata_hudi(root)
    stats_after = H.metadata_column_stats_hudi(root)
    live = {
        rel for m in H.metadata_files_hudi(root).values() for rel in m
    }
    assert set(stats_after) <= live, "stats reference cleaned files"
    # every live parquet file still carries stats for both columns
    for rel, st in stats_after.items():
        assert "k" in st and "v" in st, (rel, st)


def test_model_check_archival_restore_savepoint(spark):
    """Fuzz the ARCHIVAL boundary (VERDICT r7 "next" #7): a seeded random
    interleaving of insert/upsert/delete writes with checkpoint, archive,
    savepoint, and restore-to-savepoint service actions against a dict
    model. After every step the current snapshot must equal the model,
    and every SURVIVING recorded instant must still time-travel to
    exactly its recorded state — including instants whose timeline
    metadata has moved to .hoodie/archived (the round-7 archival-fold
    read path, previously unit-cased only). Spec-mandated refusals
    (archive without a covering checkpoint, restore to a non-savepointed
    instant) count as legal no-ops; coverage counters prove each action
    class actually executed."""
    import random

    rng = random.Random(17)
    root = _fresh("ut_hudi_model_arch")
    rows = [(i, float(i)) for i in range(120)]
    write_hudi(_model_rows(spark, rows).coalesce(2), root, record_key="id")
    model = dict(rows)
    by_instant = {completed_instants(root)[-1][0]: dict(model)}
    savepoints: set[str] = set()
    ran = {k: 0 for k in ("write", "checkpoint", "archive", "savepoint", "restore")}
    next_key = 1000
    # deterministic prologue: land enough writes to create an archival
    # boundary BEFORE any savepoint exists (savepoints cap archival at
    # the oldest one), so the archive-fold read path is guaranteed to be
    # under every later probe
    for _ in range(3):
        new = [(next_key + i, float(i)) for i in range(5)]
        next_key += 100
        write_hudi(_model_rows(spark, new).coalesce(1), root, record_key="id")
        model.update(dict(new))
        by_instant[completed_instants(root)[-1][0]] = dict(model)
        ran["write"] += 1
    H.checkpoint_timeline_hudi(root)
    ran["checkpoint"] += 1
    out = H.archive_timeline_hudi(root, keep_recent=2)
    assert out["archived"], "prologue archive moved nothing"
    ran["archive"] += 1
    for step in range(16):
        op = rng.choice(
            ["insert", "upsert", "delete", "checkpoint", "archive",
             "savepoint", "savepoint", "restore"]
        )
        if op == "insert":
            new = [
                (next_key + i, float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 20))
            ]
            next_key += 100
            write_hudi(_model_rows(spark, new).coalesce(1), root, record_key="id")
            model.update(dict(new))
            ran["write"] += 1
        elif op == "upsert":
            keys = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 15)))
                if model
                else []
            )
            src = [(k, model[k] + 0.5) for k in keys] + [
                (next_key + i, float(i)) for i in range(rng.randint(1, 5))
            ]
            next_key += 100
            H.upsert_hudi(_model_rows(spark, src), root)
            model.update(dict(src))
            ran["write"] += 1
        elif op == "delete":
            if not model:
                continue
            keys = rng.sample(sorted(model), min(len(model), rng.randint(1, 20)))
            H.delete_hudi(
                spark.createDataFrame([(k,) for k in keys], "id bigint"), root
            )
            for k in keys:
                model.pop(k)
            ran["write"] += 1
        elif op == "checkpoint":
            H.checkpoint_timeline_hudi(root)
            ran["checkpoint"] += 1
        elif op == "archive":
            try:
                out = H.archive_timeline_hudi(root, keep_recent=2)
            except ValueError:
                continue  # no covering checkpoint yet — legal refusal
            if out["archived"]:
                ran["archive"] += 1
        elif op == "savepoint":
            writes = [
                i
                for i, a in completed_instants(root)
                if a in ("commit", "deltacommit", "replacecommit")
            ]
            if not writes:
                continue
            target = writes[-1]
            H.savepoint_hudi(root, target, comment=f"step {step}")
            savepoints.add(target)
            ran["savepoint"] += 1
        else:  # restore
            live = sorted(s for s in savepoints)
            if not live:
                continue
            target = rng.choice(live)
            H.restore_hudi(root, target)
            model = dict(by_instant[target])
            by_instant = {i: st for i, st in by_instant.items() if i <= target}
            savepoints = {s for s in savepoints if s <= target}
            ran["restore"] += 1
        by_instant[completed_instants(root)[-1][0]] = dict(model)
        got = {r["id"]: r["v"] for r in read_hudi(spark, root).collect()}
        assert got == model, f"step {step} ({op}): snapshot diverged"
        probes = rng.sample(
            sorted(by_instant), min(3, len(by_instant))
        )
        for instant in probes:
            tt = {
                r["id"]: r["v"]
                for r in read_hudi(spark, root, as_of=instant).collect()
            }
            assert tt == by_instant[instant], (
                f"step {step} ({op}): time travel to {instant} diverged"
            )
    # final sweep: EVERY surviving recorded instant, including the ones
    # whose metadata now lives only in .hoodie/archived
    for instant, want in by_instant.items():
        tt = {
            r["id"]: r["v"]
            for r in read_hudi(spark, root, as_of=instant).collect()
        }
        assert tt == want, f"final sweep: {instant} diverged"
    assert all(ran.values()), f"action class never ran: {ran}"


def test_stream_added_lists_inserts_and_refuses_rewrites(spark):
    """stream_hudi's callbacks, called without a stream: on insert-only
    history `_stream_added(root, lo, hi)` lists exactly the base files
    the commits in (lo, hi] wrote; an update commit (a rewritten file
    group) and a replacecommit (clustering) each fail it."""
    root = _fresh("ut_hudi_stream_added")
    schema = "k bigint, v double"
    instants = [
        write_hudi(
            spark.createDataFrame([(i, float(i)) for i in range(lo, lo + 50)], schema),
            root,
            record_key="k",
        )
        for lo in (0, 50, 100)
    ]

    def live(instant):
        return {
            os.path.join(root, s["stat"]["path"])
            for s in H._replay_hudi(root, instant)[2]
        }

    assert H._stream_latest(root) == instants[2]
    got = [p for p, c in H._stream_added(root, instants[0], instants[2])]
    assert sorted(got) == sorted(live(instants[2]) - live(instants[0]))
    assert {p for p, _ in H._stream_added(root, None, instants[0])} == live(instants[0])

    upd = upsert_hudi(spark.createDataFrame([(1, -1.0)], schema), root)
    with pytest.raises(RuntimeError, match=f"instant {upd} rewrites or amends"):
        H._stream_added(root, instants[2], upd)
    rc = cluster_hudi(root)
    with pytest.raises(RuntimeError, match=f"instant {rc} is a replacecommit"):
        H._stream_added(root, upd, rc)
