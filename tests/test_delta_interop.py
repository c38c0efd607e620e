"""Protocol-fidelity tests for the Delta Lake interop layer
(sources/delta_interop.py) — behaviors the oracle-parity gate can't see:
checkpoint replay, tombstone reconciliation, log-over-layout trust,
URL-encoded paths, null partition values, conversion guards."""

from __future__ import annotations

import json
import os
import shutil
import urllib.parse

import pytest
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import load
from atlas_migration_repo_spark.sources.delta_interop import (
    checkpoint_delta,
    convert_tablelog_to_delta,
    delta_live_files,
    read_delta,
    write_delta,
)
from atlas_migration_repo_spark.sources.files import scratch_path
from atlas_migration_repo_spark.sources.table_log import TableLog

from conftest import SF_DIR


def _fresh(key: str) -> str:
    root = scratch_path(SF_DIR, key)
    shutil.rmtree(root, ignore_errors=True)
    return root


def test_checkpoint_carries_state_without_json_history(spark):
    """After checkpoint_delta, the pre-checkpoint JSON commits are
    REDUNDANT: deleting them must not change the read (the V1 parquet
    checkpoint + later commits reconstruct the state) — the property that
    makes log replay O(commits-since-checkpoint) at scale."""
    root = _fresh("t_delta_cp_prop")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 10), root)
    write_delta(
        nat.where((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        root,
        mode="append",
    )
    cp_v = checkpoint_delta(root)
    assert cp_v == 1
    write_delta(nat.where(F.col("n_nationkey") >= 20), root, mode="append")
    log = os.path.join(root, "_delta_log")
    for v in (0, 1):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    got = sorted(r["n_nationkey"] for r in read_delta(spark, root).collect())
    assert got == list(range(25))


def test_overwrite_tombstones_and_time_travel(spark):
    """Overwrite emits remove actions for every previously-live file: the
    latest read sees only the new data, while a version-pinned read still
    resolves the tombstoned files."""
    root = _fresh("t_delta_tomb")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 5), root)
    write_delta(nat.where(F.col("n_nationkey") >= 20), root, mode="overwrite")
    latest = sorted(r["n_nationkey"] for r in read_delta(spark, root).collect())
    assert latest == [20, 21, 22, 23, 24]
    v0 = sorted(r["n_nationkey"] for r in read_delta(spark, root, version=0).collect())
    assert v0 == [0, 1, 2, 3, 4]
    # the log records the removes explicitly
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json")) as fh:
        acts = [json.loads(l) for l in fh if l.strip()]
    assert any("remove" in a for a in acts)


def test_partition_values_come_from_log_not_layout(spark):
    """A Delta table need not use hive-style dirs: move the data files to
    bare names at the table root, rewrite the log's add paths, and the
    reader must still reconstruct the partition column from
    partitionValues — proving the log, not the directory layout, is the
    source of truth."""
    root = _fresh("t_delta_flat")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name", "n_regionkey")
    write_delta(nat, root, partition_by=["n_regionkey"])
    log = os.path.join(root, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        acts = [json.loads(l) for l in fh if l.strip()]
    for i, a in enumerate(acts):
        if "add" not in a:
            continue
        old_rel = urllib.parse.unquote(a["add"]["path"])
        flat = f"flat-{i}.parquet"
        os.rename(os.path.join(root, old_rel), os.path.join(root, flat))
        a["add"]["path"] = flat
    for d in list(os.listdir(root)):
        if d.startswith("n_regionkey="):
            shutil.rmtree(os.path.join(root, d))
    with open(log, "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    got = read_delta(spark, root)
    assert got.schema["n_regionkey"].dataType.typeName() in ("integer", "long")
    back = {(r["n_nationkey"], r["n_regionkey"]) for r in got.collect()}
    want = {(r["n_nationkey"], r["n_regionkey"]) for r in nat.collect()}
    assert back == want


def test_partition_pruning_prunes_in_the_log(spark):
    """delta_live_files with partition_eq must shrink the file list before
    any scan (metadata pruning), and the pruned read returns exactly the
    matching rows."""
    root = _fresh("t_delta_prune")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_regionkey")
    write_delta(nat, root, partition_by=["n_regionkey"])
    all_files = delta_live_files(root)
    one = delta_live_files(root, partition_eq={"n_regionkey": 2})
    assert 0 < len(one) < len(all_files)
    rows = read_delta(spark, root, partition_eq={"n_regionkey": 2}).collect()
    assert {r["n_regionkey"] for r in rows} == {2}
    assert len(rows) == 5


def test_url_encoded_paths_round_trip(spark):
    """Log paths are URL-encoded per the protocol: a data file whose name
    contains a space must be written quoted and resolved unquoted."""
    root = _fresh("t_delta_urlenc")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat, root)
    log = os.path.join(root, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        acts = [json.loads(l) for l in fh if l.strip()]
    renamed = False
    for a in acts:
        if "add" in a and not renamed:
            old_rel = urllib.parse.unquote(a["add"]["path"])
            new_rel = "with space " + os.path.basename(old_rel)
            os.rename(os.path.join(root, old_rel), os.path.join(root, new_rel))
            a["add"]["path"] = urllib.parse.quote(new_rel)
            assert "%20" in a["add"]["path"]
            renamed = True
    assert renamed
    with open(log, "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    assert read_delta(spark, root).count() == 25


def test_null_partition_value(spark):
    """A null partition key lands in __HIVE_DEFAULT_PARTITION__ on disk
    but must be recorded as null in partitionValues and read back as
    null."""
    root = _fresh("t_delta_nullpart")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], ["id", "k"]
    )
    write_delta(df, root, partition_by=["k"])
    adds = delta_live_files(root)
    assert any((a["partitionValues"] or {}).get("k") is None for a in adds)
    got = {r["id"]: r["k"] for r in read_delta(spark, root).collect()}
    assert got == {1: "a", 2: None, 3: "b"}


def test_add_stats_are_delta_json_strings(spark):
    """add.stats must be a JSON STRING (protocol shape) carrying
    numRecords and the min/max envelope."""
    root = _fresh("t_delta_stats")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat, root)
    adds = delta_live_files(root)
    total = 0
    for a in adds:
        st = json.loads(a["stats"])
        total += st["numRecords"]
        assert "minValues" in st and "maxValues" in st
    assert total == 25


def test_convert_preserves_history_and_constraints(spark):
    """convert_tablelog_to_delta maps every TableLog version to a Delta
    commit over the same files (zero copy — no new parquet files appear)
    and lands CHECK constraints in metaData.configuration the way Delta
    stores them."""
    root = _fresh("t_delta_convert")
    t = TableLog(root)
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    t.set_constraints("n_nationkey >= 0")
    t.append(nat.where(F.col("n_nationkey") < 10))
    t.append(nat.where(F.col("n_nationkey") >= 10))
    files_before = {
        os.path.join(dp, n)
        for dp, _, ns in os.walk(os.path.join(root, "data"))
        for n in ns
    }
    convert_tablelog_to_delta(spark, t)
    files_after = {
        os.path.join(dp, n)
        for dp, _, ns in os.walk(os.path.join(root, "data"))
        for n in ns
    }
    assert files_before == files_after  # zero copy
    from atlas_migration_repo_spark.sources.delta_interop import _replay

    for v, expect in ((1, 10), (2, 25)):
        assert read_delta(spark, root, version=v).count() == expect
    _, meta, _ = _replay(root)
    assert any(
        k.startswith("delta.constraints.") and "n_nationkey" in v
        for k, v in (meta.get("configuration") or {}).items()
    )


def test_schema_evolution_refuses_non_additive(spark):
    """Dropping or retyping an existing column on append must refuse —
    only new columns may appear (Delta mergeSchema semantics)."""
    root = _fresh("t_delta_evol_guard")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat, root)
    with pytest.raises(ValueError, match="not additive"):
        write_delta(
            nat.select("n_nationkey"), root, mode="append"
        )  # dropped n_name
    with pytest.raises(ValueError, match="not additive"):
        write_delta(
            nat.select(
                F.col("n_nationkey").cast("string").alias("n_nationkey"),
                "n_name",
            ),
            root,
            mode="append",
        )  # retyped


def test_vacuum_default_keeps_all_history(spark):
    """Default vacuum removes only crashed-writer orphans; every file
    referenced by ANY committed version survives, so time travel across
    an overwrite still works afterwards."""
    from atlas_migration_repo_spark.sources.delta_interop import vacuum_delta

    root = _fresh("t_delta_vac0")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 5), root)
    write_delta(nat.where(F.col("n_nationkey") >= 20), root, mode="overwrite")
    orphan = os.path.join(root, "part-orphan.snappy.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    deleted = vacuum_delta(root)
    assert deleted == ["part-orphan.snappy.parquet"]
    assert read_delta(spark, root, version=0).count() == 5
    assert read_delta(spark, root).count() == 5


def test_vacuum_retention_reclaims_and_fails_loudly(spark):
    """vacuum(retain_versions=1) after an overwrite reclaims the
    superseded files, keeps the latest version readable (checkpoint
    base), and makes reads of trimmed versions fail loudly."""
    from atlas_migration_repo_spark.sources.delta_interop import vacuum_delta

    root = _fresh("t_delta_vac1")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 5), root)
    write_delta(nat.where(F.col("n_nationkey") >= 20), root, mode="overwrite")
    deleted = vacuum_delta(root, retain_versions=1)
    assert deleted  # v0-only files reclaimed
    assert sorted(
        r["n_nationkey"] for r in read_delta(spark, root).collect()
    ) == [20, 21, 22, 23, 24]
    with pytest.raises((FileNotFoundError, ValueError)):
        read_delta(spark, root, version=0).count()


def test_delete_range_three_way_file_split(spark):
    """delete_delta_range must tombstone fully-covered files WITHOUT
    rewriting them (no replacement adds for them), rewrite only
    boundary-overlap files, and leave disjoint files verbatim."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
    )

    root = _fresh("t_delta_del3")
    # 32 range files so the deleted year fully covers interior files
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(32, "o_orderdate")
    )
    write_delta(orders, root)
    before = {a["path"] for a in delta_live_files(root)}
    lo, hi = "1996-01-01 00:00:00", "1996-12-31 23:59:59"
    delete_delta_range(spark, root, "o_orderdate", lo, hi)
    after = {a["path"] for a in delta_live_files(root)}
    untouched = before & after
    removed = before - after
    new = after - before
    assert untouched and removed  # disjoint files stayed; covered files left
    # interior files tombstoned without replacement: more files removed
    # than new files added (boundary rewrites only)
    assert len(new) < len(removed)
    got = read_delta(spark, root)
    assert got.where(F.col("o_orderdate").between(lo, hi)).count() == 0
    want = (
        load(spark, SF_DIR, "orders")
        .where(~F.col("o_orderdate").between(lo, hi))
        .count()
    )
    assert got.count() == want
    # v0 unchanged (snapshot isolation)
    assert read_delta(spark, root, version=0).count() == orders.count()


def test_merge_rewrites_only_touched_files(spark):
    """merge_delta must rewrite ONLY the files containing matched keys:
    with orders range-clustered across 8 files and a source touching a
    narrow key range, the untouched files' add-actions must survive the
    merge commit verbatim (same path — zero rewrite), and the merged
    state must equal update+insert semantics."""
    from atlas_migration_repo_spark.sources.delta_interop import merge_delta

    root = _fresh("t_delta_merge_sel")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    write_delta(orders, root)
    before = {a["path"] for a in delta_live_files(root)}
    lo_keys = [
        r["o_orderkey"]
        for r in orders.orderBy("o_orderkey").limit(20).collect()
    ]
    src = (
        orders.where(F.col("o_orderkey").isin(lo_keys[:10]))
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
        .unionByName(
            spark.createDataFrame(
                [(99999999, "N", 2.0)],
                "o_orderkey bigint, o_orderstatus string, o_totalprice double",
            )
        )
    )
    merge_delta(spark, root, src, key="o_orderkey")
    after = {a["path"] for a in delta_live_files(root)}
    survivors = before & after
    assert len(survivors) >= 6  # only the low-range file(s) rewritten
    assert len(before - after) >= 1
    got = read_delta(spark, root)
    assert got.where(F.col("o_orderstatus") == "X").count() == 10
    assert got.where(F.col("o_orderkey") == 99999999).count() == 1
    assert got.count() == orders.count() + 1


def test_concurrent_append_race_dense_versions(spark):
    """Four writer threads appending concurrently must land on DENSE
    distinct versions with no commit lost (the put-if-absent retry), and
    the final table holds every writer's rows exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    root = _fresh("t_delta_race")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.lit(False)), root)  # v0 establishes metaData
    slices = [nat.where(F.col("n_nationkey") % 4 == m) for m in range(4)]

    def _go(df):
        return write_delta(df, root, mode="append")

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = sorted(ex.map(_go, slices))
    assert versions == [1, 2, 3, 4]
    got = sorted(r["n_nationkey"] for r in read_delta(spark, root).collect())
    assert got == list(range(25))


def test_concurrent_overwrite_race_fails_loudly(spark):
    """A remove-carrying commit that loses the race to another remove of
    the same files must raise rather than double-tombstone (Delta's
    conflict rule). Simulated deterministically: stage two overwrites
    from the same snapshot, publish one, then publish the second at a
    colliding version."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        ConcurrentDeltaWriteError,
        _log_dir,
        _publish_commit,
        delta_live_files,
    )

    root = _fresh("t_delta_race_rm")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 5), root)
    doomed = [a["path"] for a in delta_live_files(root)]
    removes = [
        {"remove": {"path": p, "deletionTimestamp": 1, "dataChange": True}}
        for p in doomed
    ]
    # writer A wins version 1 with the removes
    _publish_commit(_log_dir(root), removes, 1)
    # writer B staged the same removes against the v0 snapshot and now
    # tries to publish at the (already-taken) version 1 → conflict
    with pytest.raises(ConcurrentDeltaWriteError, match="re-read"):
        _publish_commit(_log_dir(root), removes, 1)


def test_lakehouse_cli_all_formats(spark):
    """The operational CLI must auto-detect delta/iceberg/tablelog and
    answer describe/history/files from metadata alone."""
    from atlas_migration_repo_spark.lakehouse import detect_format, run
    from atlas_migration_repo_spark.sources.iceberg_interop import write_iceberg
    from atlas_migration_repo_spark.sources.table_log import TableLog

    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    d = _fresh("t_cli_delta")
    write_delta(nat, d)
    write_delta(nat.limit(5), d, mode="append")
    i = _fresh("t_cli_ice")
    write_iceberg(nat, i)
    t = _fresh("t_cli_tlog")
    TableLog(t).append(nat)
    assert detect_format(d) == "delta"
    assert detect_format(i) == "iceberg"
    assert detect_format(t) == "tablelog"
    desc = run("describe", d)
    assert desc["version"] == 1 and desc["num_records"] == 30
    assert [h["version"] for h in run("history", d)] == [0, 1]
    assert run("describe", i)["num_records"] == 25
    assert len(run("history", i)) == 1
    assert run("describe", t)["num_files"] == len(run("files", t)) > 0
    with pytest.raises(ValueError, match="unknown command"):
        run("drop", d)


def test_adopt_then_append_mixes_layouts(spark):
    """An adopted Delta table keeps living as a TableLog: a post-adopt
    TableLog.append commits v-next under data/ while the adopted files
    stay at the Delta root, and one read unions both layouts. Adoption
    refuses to clobber an existing TableLog log."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        adopt_delta_as_tablelog,
    )

    root = _fresh("t_delta_adopt_mix")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 10), root)
    t = adopt_delta_as_tablelog(root)
    assert t.versions() == [0]
    t.append(nat.where(F.col("n_nationkey") >= 10))
    got = sorted(r["n_nationkey"] for r in t.read(spark).collect())
    assert got == list(range(25))
    v0 = sorted(r["n_nationkey"] for r in t.read(spark, version=0).collect())
    assert v0 == list(range(10))
    with pytest.raises(FileExistsError):
        adopt_delta_as_tablelog(root)


def test_adopt_trimmed_delta_keeps_checkpointed_files(spark):
    """Adopting a Delta table whose history was retention-trimmed
    (oldest JSONs gone, state carried by the checkpoint) must seed the
    first TableLog version from the RESOLVED state — not the oldest
    surviving JSON, which would silently drop trimmed-history files."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        adopt_delta_as_tablelog,
        vacuum_delta,
    )

    root = _fresh("t_delta_adopt_trim")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 5), root)
    write_delta(
        nat.where(F.col("n_nationkey").between(5, 14)), root, mode="append"
    )
    write_delta(nat.where(F.col("n_nationkey") >= 15), root, mode="append")
    vacuum_delta(root, retain_versions=2)  # v0 JSON trimmed
    t = adopt_delta_as_tablelog(root)
    assert t.versions() == [0, 1]
    got = sorted(r["n_nationkey"] for r in t.read(spark).collect())
    assert got == list(range(25))  # v0's 5 rows survived the adoption
    assert sorted(
        r["n_nationkey"] for r in t.read(spark, version=0).collect()
    ) == list(range(15))


def test_adopt_partitioned_delta_recovers_partition_column(spark):
    """Adopting a hive-laid-out partitioned Delta table must surface the
    partition column through TableLog.read (per-segment basePath)."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        adopt_delta_as_tablelog,
    )

    root = _fresh("t_delta_adopt_part")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name", "n_regionkey")
    write_delta(nat, root, partition_by=["n_regionkey"])
    t = adopt_delta_as_tablelog(root)
    got = {(r["n_nationkey"], r["n_regionkey"]) for r in t.read(spark).collect()}
    want = {(r["n_nationkey"], r["n_regionkey"]) for r in nat.collect()}
    assert got == want
    # log-level partition pruning works on the adopted partitionValues
    pruned = t.read(
        spark, partition_filter=lambda pv: pv.get("n_regionkey") == "2"
    )
    assert {r["n_regionkey"] for r in pruned.collect()} == {2}


def test_stats_skipping_prunes_strict_subset(spark):
    """delta_files_in_range must prune to a strict subset of live files
    for a narrow range over range-clustered data, keep files without
    stats, and never drop a file whose envelope intersects."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delta_files_in_range,
        read_delta_range,
    )

    root = _fresh("t_delta_skip")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_delta(orders, root)
    all_files = delta_live_files(root)
    lo, hi = "1996-01-01 00:00:00", "1996-12-31 23:59:59"
    pruned = delta_files_in_range(root, "o_orderdate", lo, hi)
    assert 0 < len(pruned) < len(all_files)
    got = read_delta_range(spark, root, "o_orderdate", lo, hi)
    want = read_delta(spark, root).where(
        F.col("o_orderdate").between(lo, hi)
    )
    assert got.count() == want.count() > 0
    # a statless file must be KEPT (skipping is never a filter)
    log = os.path.join(root, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        acts = [json.loads(l) for l in fh if l.strip()]
    for a in acts:
        if "add" in a:
            a["add"].pop("stats", None)
            break
    with open(log, "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    assert len(delta_files_in_range(root, "o_orderdate", lo, hi)) >= len(pruned)


def test_delta_log_model_random_commit_sequences(spark):
    """Model-based check of the log reconciliation: replay random
    sequences of overwrite/append commits (disjoint key slices of
    nation) against an in-memory model; EVERY version's read must equal
    the model's state at that version — the property the protocol's
    add/remove rules exist to guarantee."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    all_keys = list(range(25))

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ops=st.lists(
            st.tuples(
                st.sampled_from(["overwrite", "append"]),
                st.integers(min_value=0, max_value=4),  # slice id (mod 5)
            ),
            min_size=1,
            max_size=5,
        ),
        seed=st.integers(min_value=0, max_value=7),
    )
    def run(ops, seed):
        root = _fresh(f"t_delta_model_{seed}")
        model: list[set] = []  # expected key set per version
        state: set = set()
        for mode, sl in ops:
            keys = {k for k in all_keys if k % 5 == sl}
            if mode == "append":
                keys = keys - state  # appends stay disjoint (no dup rows)
            df = nat.where(
                F.col("n_nationkey").isin(*keys) if keys else F.lit(False)
            )
            state = set(keys) if mode == "overwrite" else state | keys
            write_delta(df, root, mode=mode)
            model.append(set(state))
        for v, expect in enumerate(model):
            got = {
                r["n_nationkey"]
                for r in read_delta(spark, root, version=v).collect()
            }
            assert got == expect, (v, got, expect)

    run()


def test_convert_trimmed_tablelog_gets_checkpoint_base(spark):
    """Converting a retention-trimmed TableLog (history starts above 0)
    must write a Delta checkpoint at the first surviving version — a
    log that neither starts at 0 nor has a checkpoint is unreadable by
    real Delta readers."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        convert_tablelog_to_delta,
    )

    root = _fresh("t_delta_convert_trim")
    t = TableLog(root)
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    t.append(nat.where(F.col("n_nationkey") < 5))
    t.append(nat.where(F.col("n_nationkey").between(5, 14)))
    t.append(nat.where(F.col("n_nationkey") >= 15))
    t.vacuum(retain_versions=2)  # v0 trimmed: history now starts at 1
    assert t.versions()[0] == 1
    convert_tablelog_to_delta(spark, t)
    log = os.path.join(root, "_delta_log")
    assert any(n.endswith(".checkpoint.parquet") for n in os.listdir(log))
    # the converted table reads without a v0 commit file, INCLUDING the
    # files added by trimmed history (live via the first snapshot seed)
    assert read_delta(spark, root).count() == 25
    assert read_delta(spark, root, version=1).count() == 15
    assert read_delta(spark, root).count() == t.read(spark).count()


def test_convert_maps_renames_and_widens(spark):
    """Schema-evolution histories convert totally: a RENAME goes through
    columnMapping (roundtrip test covers it end-to-end) and a WIDEN
    through the typeWidening table feature — protocol 3/7 with feature
    lists, `delta.typeChanges` field metadata, widened schemaString, and
    pre-widen files promoting at scan (values exact, no rewrite)."""
    root = _fresh("t_delta_convert_cmap")
    t = TableLog(root)
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    t.append(nat.withColumn("n_nationkey", F.col("n_nationkey").cast("int")))
    t.rename_column("n_name", "nation_name")
    convert_tablelog_to_delta(spark, t)  # renames convert fine
    assert read_delta(spark, root).columns == ["n_nationkey", "nation_name"]

    root2 = _fresh("t_delta_convert_widen")
    t2 = TableLog(root2)
    t2.append(
        load(spark, SF_DIR, "nation")
        .select("n_nationkey")
        .withColumn("n_nationkey", F.col("n_nationkey").cast("int"))
    )
    t2.widen_column("n_nationkey", "bigint", from_type="int")
    t2.append(
        load(spark, SF_DIR, "nation")
        .select("n_nationkey")
        .withColumn("n_nationkey", (F.col("n_nationkey") + 100).cast("bigint"))
    )
    convert_tablelog_to_delta(spark, t2)
    log_dir = os.path.join(root2, "_delta_log")
    first = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))[0]
    acts = [json.loads(l) for l in open(os.path.join(log_dir, first)) if l.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minReaderVersion"] == 3 and "typeWidening" in proto["readerFeatures"]
    df = read_delta(spark, root2)
    assert dict(df.dtypes)["n_nationkey"] == "bigint"
    got = sorted(r["n_nationkey"] for r in df.collect())
    want = sorted(
        [r["n_nationkey"] for r in nat.collect()]
        + [r["n_nationkey"] + 100 for r in nat.collect()]
    )
    assert got == want, "pre-widen int files must promote exactly"


def test_cdf_appends_write_no_change_files(spark):
    """Appends on a CDF-enabled table must NOT write change files —
    inserts derive from the add actions at read time, so the common
    write path stays exactly as cheap as without CDF."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        read_delta_cdf,
        write_delta,
    )

    root = _fresh("t_delta_cdf_append")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    a = orders.where(F.col("o_orderkey") % 2 == 0)
    b = orders.where(F.col("o_orderkey") % 2 == 1)
    write_delta(a, root, configuration={"delta.enableChangeDataFeed": "true"})
    write_delta(b, root, mode="append")
    assert not os.path.isdir(os.path.join(root, "_change_data")) or not os.listdir(
        os.path.join(root, "_change_data")
    )
    cdf = read_delta_cdf(spark, root, 0)
    assert cdf.where(F.col("_change_type") != "insert").count() == 0
    assert cdf.count() == orders.count()
    per_v = {
        r["_commit_version"]: r["n"]
        for r in cdf.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()
    }
    assert per_v == {0: a.count(), 1: b.count()}


def test_cdf_merge_images_and_volume(spark):
    """MERGE change data must contain exactly the touched rows (pre+post
    per matched key, one insert per new key) — CDC volume scales with
    the delta, not the table — and cdc actions are dataChange=false."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        _log_dir,
        merge_delta,
        read_delta_cdf,
        write_delta,
    )

    root = _fresh("t_delta_cdf_merge")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_delta(
        orders, root, configuration={"delta.enableChangeDataFeed": "true"}
    )
    upd = orders.where(F.col("o_orderkey") % 10 == 1).withColumn(
        "o_orderstatus", F.lit("X")
    )
    new = orders.where(F.col("o_orderkey") % 500 == 3).select(
        (F.col("o_orderkey") + 90000000).alias("o_orderkey"),
        F.lit("O").alias("o_orderstatus"),
        "o_totalprice",
    )
    v = merge_delta(spark, root, upd.unionByName(new), key="o_orderkey")
    cdf = read_delta_cdf(spark, root, v, v)
    counts = {
        r["_change_type"]: r["n"]
        for r in cdf.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    n_upd, n_new = upd.count(), new.count()
    assert counts == {
        "update_preimage": n_upd,
        "update_postimage": n_upd,
        "insert": n_new,
    }
    # post images carry the new value; pre images the old
    assert (
        cdf.where(
            (F.col("_change_type") == "update_postimage")
            & (F.col("o_orderstatus") != "X")
        ).count()
        == 0
    )
    assert (
        cdf.where(
            (F.col("_change_type") == "update_preimage")
            & (F.col("o_orderstatus") == "X")
        ).count()
        == 0
    )
    with open(os.path.join(_log_dir(root), f"{v:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc and all(c["dataChange"] is False for c in cdc)
    assert all(c["path"].startswith("_change_data") for c in cdc)
    # add-action stats cover table columns only, never the feed's
    # _change_type column
    table_cols = {"o_orderkey", "o_orderstatus", "o_totalprice"}
    merge_adds = [a["add"] for a in acts if "add" in a]
    assert merge_adds
    for add in merge_adds:
        st = json.loads(add["stats"])
        assert st["numRecords"] > 0
        for part in ("minValues", "maxValues", "nullCount"):
            assert set(st.get(part) or {}) <= table_cols, (part, st)


def test_cdf_disabled_delete_refuses(spark):
    """Without CDF enabled, a data-changing remove has no change data:
    read_delta_cdf must refuse that commit loudly, never fabricate."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        read_delta_cdf,
        write_delta,
    )

    root = _fresh("t_delta_cdf_off")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_delta(orders, root)  # CDF not enabled
    delete_delta_range(spark, root, "o_orderkey", 1, 500)
    with _pytest.raises(ValueError, match="no change data"):
        read_delta_cdf(spark, root, 0).count()


def test_cdf_vacuum_keeps_retained_change_data(spark):
    """vacuum(retain_versions=N) must keep change files of retained
    commits readable and reclaim those of dropped commits."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        merge_delta,
        read_delta_cdf,
        vacuum_delta,
        write_delta,
    )

    root = _fresh("t_delta_cdf_vac")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_delta(
        orders, root, configuration={"delta.enableChangeDataFeed": "true"}
    )
    for m in (3, 4):  # two merge commits, each with change data
        merge_delta(
            spark,
            root,
            orders.where(F.col("o_orderkey") % 10 == m).withColumn(
                "o_orderstatus", F.lit(f"M{m}")
            ),
            key="o_orderkey",
        )
    cdc_before = set(os.listdir(os.path.join(root, "_change_data")))
    assert len(cdc_before) >= 2
    n_v2 = read_delta_cdf(spark, root, 2, 2).count()
    vacuum_delta(root, retain_versions=1)  # keep only the last merge
    cdc_after = set(os.listdir(os.path.join(root, "_change_data")))
    assert cdc_after < cdc_before, "dropped commits' change data reclaimed"
    assert read_delta_cdf(spark, root, 2, 2).count() == n_v2


def test_optimize_compacts_and_feeds_skip_it(spark):
    """OPTIMIZE must reduce the live file count without changing data,
    and both the change feed and the append stream must SKIP its
    dataChange=false commit (no duplicate rows downstream)."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delta_live_files,
        optimize_delta,
        read_delta,
        read_delta_cdf,
        write_delta,
    )

    root = _fresh("t_delta_opt_skip")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    half = F.col("o_orderkey") % 2
    write_delta(
        orders.where(half == 0).repartition(4),
        root,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    write_delta(orders.where(half == 1).repartition(4), root, mode="append")
    n_before = len(delta_live_files(root, 1))
    assert n_before == 8
    v_opt = optimize_delta(spark, root)
    assert len(delta_live_files(root, v_opt)) < n_before
    assert read_delta(spark, root).count() == orders.count()
    # CDF: the optimize commit contributes NOTHING
    cdf = read_delta_cdf(spark, root, 0)
    assert cdf.count() == orders.count()
    assert cdf.where(F.col("_commit_version") == v_opt).count() == 0


def test_restore_is_metadata_only(spark):
    """RESTORE must not create any new data file — the rollback commit
    re-references the target version's files."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        read_delta,
        restore_delta,
        write_delta,
    )

    root = _fresh("t_delta_restore_meta")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(4, "o_orderdate")
    )
    write_delta(orders, root)
    delete_delta_range(
        spark, root, "o_orderdate", "1996-01-01 00:00:00", "1996-12-31 23:59:59"
    )

    def _parquets():
        out = set()
        for dirpath, _dirs, names in os.walk(root):
            if "_delta_log" in dirpath:
                continue
            out.update(n for n in names if n.endswith(".parquet"))
        return out

    before = _parquets()
    restore_delta(spark, root, 0)
    assert _parquets() == before, "restore must write no data file"
    assert read_delta(spark, root).count() == orders.count()


def test_shallow_clone_copies_no_data(spark):
    """clone_delta must write ZERO data files under the clone, reference
    the source's files absolutely, and stay isolated: writes to the
    clone never appear in the source and vice versa."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        clone_delta,
        read_delta,
        write_delta,
    )

    src = _fresh("t_delta_clone_src")
    dst = _fresh("t_delta_clone_dst")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    a = orders.where(F.col("o_orderkey") % 2 == 0)
    b = orders.where(F.col("o_orderkey") % 2 == 1)
    write_delta(a, src)
    clone_delta(spark, src, dst)
    n_parquet = sum(
        1
        for dirpath, _d, names in os.walk(dst)
        if "_delta_log" not in dirpath
        for n in names
        if n.endswith(".parquet")
    )
    assert n_parquet == 0, "shallow clone must copy no data files"
    assert read_delta(spark, dst).count() == a.count()
    write_delta(b, dst, mode="append")
    assert read_delta(spark, dst).count() == orders.count()
    assert read_delta(spark, src).count() == a.count(), "source untouched"


def test_model_check_delta_commit_sequences(spark):
    """Model-check the Delta protocol machinery: a seeded random sequence
    of append / range-delete / merge / optimize / restore commits against
    a plain Python dict model — EVERY recorded version must read back
    exactly its model state (time travel + dataChange semantics, checked
    across 12 commits; restore rewinds the model to the target version's
    recorded state)."""
    import random

    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        merge_delta,
        optimize_delta,
        read_delta,
        restore_delta,
        write_delta,
    )

    rng = random.Random(7)
    root = _fresh("ut_delta_model")
    schema = "k bigint, val double"

    def df_of(rows):
        return spark.createDataFrame(rows, schema)

    rows = [(i, float(i)) for i in range(200)]
    v = write_delta(df_of(rows), root, mode="append")
    model = dict(rows)
    by_version = {v: dict(model)}
    next_key = 1000
    for _step in range(11):
        op = rng.choice(["append", "delete", "merge", "optimize", "restore"])
        if op == "append":
            new = [
                (next_key + i, float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 40))
            ]
            next_key += 100
            v = write_delta(df_of(new), root, mode="append")
            model.update(dict(new))
        elif op == "delete":
            lo = rng.randint(0, 1200)
            hi = lo + rng.randint(0, 300)
            v = delete_delta_range(spark, root, "k", lo, hi)
            model = {k: x for k, x in model.items() if not (lo <= k <= hi)}
        elif op == "merge":
            keys = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 30)))
                if model
                else []
            )
            src = [(k, model[k] + 0.5) for k in keys] + [
                (next_key + i, float(i)) for i in range(rng.randint(1, 10))
            ]
            next_key += 100
            v = merge_delta(spark, root, df_of(src), key="k")
            model.update(dict(src))
        elif op == "optimize":
            v = optimize_delta(spark, root)
            # dataChange=false: state identical
        else:
            tgt = rng.choice(sorted(by_version))
            v = restore_delta(spark, root, tgt)
            model = dict(by_version[tgt])
        by_version[v] = dict(model)
    for ver in sorted(by_version):
        got = {
            r["k"]: r["val"]
            for r in read_delta(spark, root, version=ver).collect()
        }
        assert got == by_version[ver], f"version {ver} diverged from model"


def test_merge_delta_partitioned_scopes_rewrite_and_moves_rows(spark):
    """Partitioned MERGE: updates and inserts land in the right hive
    partitions, a row whose partition column changes MOVES partitions,
    files in partitions that contain no matched key survive verbatim,
    and merging ON a partition column is refused."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import merge_delta

    root = _fresh("t_delta_merge_part")
    rows = [(i, f"p{i % 3}", float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "k bigint, part string, val double")
    write_delta(df, root, partition_by=["part"])
    before = {
        a["path"]: a["partitionValues"]
        for a in __import__(
            "atlas_migration_repo_spark.sources.delta_interop",
            fromlist=["delta_live_files"],
        ).delta_live_files(root)
    }
    # update k=0 (stays in p0), move k=1 from p1 to p0, insert k=1000 in p2
    src = spark.createDataFrame(
        [(0, "p0", 111.0), (1, "p0", 222.0), (1000, "p2", 333.0)],
        "k bigint, part string, val double",
    )
    merge_delta(spark, root, src, key="k")
    model = {k: (p, v) for k, p, v in rows}
    model.update({0: ("p0", 111.0), 1: ("p0", 222.0), 1000: ("p2", 333.0)})
    got = {
        r["k"]: (r["part"], r["val"]) for r in read_delta(spark, root).collect()
    }
    assert got == model
    # partition pruning still serves the moved row from its NEW partition
    p0 = read_delta(spark, root, partition_eq={"part": "p0"})
    assert {r["k"] for r in p0.collect()} == {
        k for k, (p, _v) in model.items() if p == "p0"
    }
    # every live file carries real partitionValues (nothing flat-written)
    after = {
        a["path"]: a["partitionValues"]
        for a in __import__(
            "atlas_migration_repo_spark.sources.delta_interop",
            fromlist=["delta_live_files"],
        ).delta_live_files(root)
    }
    assert all(pv.get("part") for pv in after.values())
    # untouched files survive byte-identical (same path, never rewritten):
    # all keys hit every partition here, so check instead on a second
    # merge touching ONE partition's keys only
    src2 = spark.createDataFrame([(3, "p0", 999.0)], "k bigint, part string, val double")
    live_before = set(after)
    merge_delta(spark, root, src2, key="k")
    live_after = {
        a["path"]
        for a in __import__(
            "atlas_migration_repo_spark.sources.delta_interop",
            fromlist=["delta_live_files"],
        ).delta_live_files(root)
    }
    survivors = live_before & live_after
    assert survivors, "merge must not rewrite files without matched keys"
    with _pytest.raises(ValueError, match="partition column"):
        merge_delta(spark, root, src2, key="part")


def test_partitioned_delete_and_optimize(spark):
    """Partitioned DELETE on the partition column is fully metadata-only
    (files tombstoned unread, nothing rewritten); data-column range
    delete rewrites survivors back into hive layout; partitioned
    OPTIMIZE compacts each partition's files into one with
    dataChange=false, preserving state and partitionValues."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        delta_live_files,
        optimize_delta,
    )

    root = _fresh("t_delta_part_maint")
    rows = [(i, f"p{i % 3}", float(i)) for i in range(300)]
    schema = "k bigint, part string, val double"
    # two appends -> 2 files per partition
    write_delta(
        spark.createDataFrame(rows[:150], schema), root, partition_by=["part"]
    )
    write_delta(
        spark.createDataFrame(rows[150:], schema),
        root,
        partition_by=["part"],
        mode="append",
    )
    model = {k: (p, v) for k, p, v in rows}

    # 1. partition-column delete: metadata-only — no new files added
    files_before = {a["path"] for a in delta_live_files(root)}
    v = delete_delta_range(spark, root, "part", "p1", "p1")
    files_after = {a["path"] for a in delta_live_files(root, v)}
    assert files_after < files_before, "p1 files must be tombstoned"
    assert not (files_after - files_before), "partition delete must add no files"
    model = {k: pv for k, pv in model.items() if pv[0] != "p1"}
    got = {r["k"]: (r["part"], r["val"]) for r in read_delta(spark, root).collect()}
    assert got == model

    # 2. data-column delete: survivors rewritten, hive layout kept
    delete_delta_range(spark, root, "k", 0, 99)
    model = {k: pv for k, pv in model.items() if not (0 <= k <= 99)}
    got = {r["k"]: (r["part"], r["val"]) for r in read_delta(spark, root).collect()}
    assert got == model
    assert all(
        a["partitionValues"].get("part") for a in delta_live_files(root)
    ), "rewritten survivors must carry partitionValues"

    # 3. optimize: one file per partition, dataChange=false, state equal
    v_opt = optimize_delta(spark, root)
    live = delta_live_files(root, v_opt)
    per_part = {}
    for a in live:
        per_part.setdefault(a["partitionValues"]["part"], []).append(a)
    assert set(per_part) == {"p0", "p2"}
    assert all(len(v) == 1 for v in per_part.values()), per_part
    got = {r["k"]: (r["part"], r["val"]) for r in read_delta(spark, root).collect()}
    assert got == model
    # partition pruning still works on the compacted layout
    assert {
        r["k"] for r in read_delta(spark, root, partition_eq={"part": "p2"}).collect()
    } == {k for k, (p, _v) in model.items() if p == "p2"}


def test_model_check_partitioned_delta_sequences(spark):
    """Partitioned twin of the Delta model check: random append /
    partition-delete / data-delete / merge (sometimes moving rows across
    partitions) / optimize / restore sequences — every recorded version
    must time-travel back to exactly its model state including each
    row's partition."""
    import random

    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        merge_delta,
        optimize_delta,
        read_delta,
        restore_delta,
        write_delta,
    )

    rng = random.Random(23)
    root = _fresh("ut_delta_model_part")
    schema = "k bigint, part string, val double"

    def df_of(rows):
        return spark.createDataFrame(rows, schema)

    def part_of(k):
        return f"p{k % 3}"

    rows = [(i, part_of(i), float(i)) for i in range(200)]
    v = write_delta(df_of(rows), root, partition_by=["part"], mode="append")
    model = {k: (p, x) for k, p, x in rows}
    by_version = {v: dict(model)}
    next_key = 1000
    for _step in range(10):
        op = rng.choice(
            ["append", "pdelete", "kdelete", "merge", "optimize", "restore"]
        )
        if op == "append":
            new = [
                (next_key + i, part_of(next_key + i), float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 40))
            ]
            next_key += 100
            v = write_delta(df_of(new), root, partition_by=["part"], mode="append")
            model.update({k: (p, x) for k, p, x in new})
        elif op == "pdelete":
            p = f"p{rng.randint(0, 2)}"
            v = delete_delta_range(spark, root, "part", p, p)
            model = {k: pv for k, pv in model.items() if pv[0] != p}
        elif op == "kdelete":
            lo = rng.randint(0, 1200)
            hi = lo + rng.randint(0, 300)
            v = delete_delta_range(spark, root, "k", lo, hi)
            model = {k: pv for k, pv in model.items() if not (lo <= k <= hi)}
        elif op == "merge":
            keys = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 30)))
                if model
                else []
            )
            # half the updates move the row to a DIFFERENT partition
            src = [
                (
                    k,
                    part_of(k + 1) if idx % 2 else model[k][0],
                    model[k][1] + 0.5,
                )
                for idx, k in enumerate(keys)
            ] + [
                (next_key + i, part_of(next_key + i), float(i))
                for i in range(rng.randint(1, 10))
            ]
            next_key += 100
            v = merge_delta(spark, root, df_of(src), key="k")
            model.update({k: (p, x) for k, p, x in src})
        elif op == "optimize":
            v = optimize_delta(spark, root)
        else:
            tgt = rng.choice(sorted(by_version))
            v = restore_delta(spark, root, tgt)
            model = dict(by_version[tgt])
        by_version[v] = dict(model)
    for ver in sorted(by_version):
        got = {
            r["k"]: (r["part"], r["val"])
            for r in read_delta(spark, root, version=ver).collect()
        }
        assert got == by_version[ver], f"version {ver} diverged from model"


def test_convert_column_mapped_tablelog_roundtrip(spark, tmp_path):
    """A TableLog with a RENAME history converts through Delta column
    mapping: the converted metaData carries mode=name + physicalName
    per field (protocol 2/5), read_delta surfaces logical names at
    every version — including versions committed BEFORE the rename —
    and values match the TableLog's own reads. Writes to the mapped
    Delta table refuse loudly; adopting a mapped Delta table back
    translates the mapping into TableLog columnMapping."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        adopt_delta_as_tablelog,
        convert_tablelog_to_delta,
        merge_delta,
        write_delta,
    )

    t = TableLog(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, i * 10) for i in range(50)], "k bigint, v bigint"))
    t.rename_column("v", "val")
    t.append(
        spark.createDataFrame([(i, i * 10) for i in range(50, 80)], "k bigint, val bigint")
    )
    last = convert_tablelog_to_delta(spark, t)
    log_dir = os.path.join(str(tmp_path / "t"), "_delta_log")
    first = sorted(os.listdir(log_dir))[0]
    acts = [json.loads(l) for l in open(os.path.join(log_dir, first)) if l.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    md = next(a["metaData"] for a in acts if "metaData" in a)
    assert md["configuration"]["delta.columnMapping.mode"] == "name"
    fields = json.loads(md["schemaString"])["fields"]
    phys = {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in fields
    }
    assert phys == {"k": "k", "val": "v"}

    for v in range(last + 1):
        got = {
            r["k"]: r["val"]
            for r in read_delta(spark, str(tmp_path / "t"), version=v).collect()
        }
        want = {r["k"]: r[t.read(spark, version=v).columns[1]]
                for r in t.read(spark, version=v).collect()}
        assert got == want, f"version {v} diverged"
        assert read_delta(spark, str(tmp_path / "t"), version=v).columns == ["k", "val"]

    # round 6: writes support mapped tables natively — MERGE updates by
    # the logical key and appends stage under the frozen physical names
    src = spark.createDataFrame([(0, 999)], "k bigint, val bigint")
    merge_delta(spark, str(tmp_path / "t"), src, key="k")
    write_delta(
        spark.createDataFrame([(1000, 999)], "k bigint, val bigint"),
        str(tmp_path / "t"),
        mode="append",
    )
    got = {
        r["k"]: r["val"]
        for r in read_delta(spark, str(tmp_path / "t")).collect()
    }
    assert got[0] == 999 and got[1000] == 999

    # reverse adoption of a (freshly copied) mapped Delta table
    import shutil as _sh

    clone = str(tmp_path / "t2")
    _sh.copytree(str(tmp_path / "t"), clone)
    _sh.rmtree(os.path.join(clone, "_log"))
    t2 = adopt_delta_as_tablelog(clone)
    got = {r["k"]: r["val"] for r in t2.read(spark).collect()}
    assert got == {**{i: i * 10 for i in range(80)}, 0: 999, 1000: 999}
    assert t2.read(spark).columns == ["k", "val"]


def test_cdf_on_partitioned_merge_and_delete(spark):
    """The change data feed composes with partitioned maintenance:
    a partition-moving MERGE emits pre/post update images carrying the
    OLD and NEW partition values, a partition-column DELETE emits a
    delete image for every tombstoned row (the documented CDF price of
    the otherwise metadata-only path), and the final state replays from
    the feed."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        merge_delta,
        read_delta_cdf,
    )

    root = _fresh("t_delta_cdf_part")
    rows = [(i, f"p{i % 3}", float(i)) for i in range(90)]
    schema = "k bigint, part string, val double"
    write_delta(
        spark.createDataFrame(rows, schema),
        root,
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v_merge = merge_delta(
        spark,
        root,
        spark.createDataFrame([(1, "p0", 999.0), (1000, "p2", 5.0)], schema),
        key="k",
    )
    cdf = read_delta_cdf(spark, root, v_merge).where(
        F.col("_commit_version") == v_merge
    )
    images = {
        (r["k"], r["_change_type"]): (r["part"], r["val"]) for r in cdf.collect()
    }
    assert images[(1, "update_preimage")] == ("p1", 1.0)
    assert images[(1, "update_postimage")] == ("p0", 999.0)
    assert images[(1000, "insert")] == ("p2", 5.0)
    # change files keep the table's hive layout: partition columns live in
    # the cdc actions' partitionValues, files under _change_data/part=<v>/
    cdc_actions = _commit_cdc_actions(root, v_merge)
    assert {c["partitionValues"]["part"] for c in cdc_actions} == {"p0", "p1", "p2"}
    for c in cdc_actions:
        pv = c["partitionValues"]["part"]
        assert urllib.parse.unquote(c["path"]).startswith(f"_change_data/part={pv}/")

    v_del = delete_delta_range(spark, root, "part", "p1", "p1")
    dels = read_delta_cdf(spark, root, v_del).where(
        (F.col("_commit_version") == v_del)
        & (F.col("_change_type") == "delete")
    )
    deleted_keys = {r["k"] for r in dels.collect()}
    assert deleted_keys == {k for k, p, _v in rows if p == "p1" and k != 1}
    assert {c["partitionValues"]["part"] for c in _commit_cdc_actions(root, v_del)} == {
        "p1"
    }
    got = {r["k"] for r in read_delta(spark, root).collect()}
    assert got == {k for k, p, _v in rows if p != "p1"} | {1, 1000}


def _commit_cdc_actions(root: str, version: int) -> list[dict]:
    with open(os.path.join(root, "_delta_log", f"{version:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    return [a["cdc"] for a in acts if "cdc" in a]


def test_cdf_reads_legacy_flat_change_files_next_to_partitioned_ones(spark):
    """A partitioned table whose history holds a legacy flat `cdc` commit
    (partitionValues {}, partition column stored in the change file)
    followed by a merge that writes hive-layout change files reads back
    through read_delta_cdf with correct partition values for both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from atlas_migration_repo_spark.sources.delta_interop import (
        _log_dir,
        _next_version,
        _publish_commit,
        merge_delta,
        read_delta_cdf,
    )

    root = _fresh("t_delta_cdf_legacy_flat")
    schema = "k bigint, part string, val double"
    write_delta(
        spark.createDataFrame([(i, f"p{i % 3}", float(i)) for i in range(30)], schema),
        root,
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    # legacy commit: insert k=500 into p1, its change file written flat
    data_rel = "part=p1/part-legacy.snappy.parquet"
    cdc_rel = "_change_data/cdc-legacy.snappy.parquet"
    os.makedirs(os.path.join(root, "_change_data"), exist_ok=True)
    pq.write_table(
        pa.table({"k": pa.array([500], pa.int64()), "val": [5.0]}),
        os.path.join(root, data_rel),
    )
    pq.write_table(
        pa.table(
            {
                "k": pa.array([500], pa.int64()),
                "part": ["p1"],
                "val": [5.0],
                "_change_type": ["insert"],
            }
        ),
        os.path.join(root, cdc_rel),
    )
    v_legacy = _publish_commit(
        _log_dir(root),
        [
            {"commitInfo": {"timestamp": 0, "operation": "MERGE"}},
            {
                "cdc": {
                    "path": cdc_rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(root, cdc_rel)),
                    "dataChange": False,
                }
            },
            {
                "add": {
                    "path": data_rel,
                    "partitionValues": {"part": "p1"},
                    "size": os.path.getsize(os.path.join(root, data_rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
        _next_version(_log_dir(root)),
    )
    # new merge: move k=500 from p1 to p2, insert k=600 into p0
    v_merge = merge_delta(
        spark,
        root,
        spark.createDataFrame([(500, "p2", 7.0), (600, "p0", 6.0)], schema),
        key="k",
    )
    assert all(c["partitionValues"] for c in _commit_cdc_actions(root, v_merge))
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["part"], r["val"])
        for r in read_delta_cdf(spark, root, v_legacy).collect()
    )
    assert got == sorted(
        [
            (v_legacy, "insert", 500, "p1", 5.0),
            (v_merge, "update_preimage", 500, "p1", 5.0),
            (v_merge, "update_postimage", 500, "p2", 7.0),
            (v_merge, "insert", 600, "p0", 6.0),
        ]
    )
    latest = read_delta(spark, root).where("k >= 500").collect()
    assert {r["k"]: r["part"] for r in latest} == {500: "p2", 600: "p0"}


def test_convert_combined_rename_and_widen(spark, tmp_path):
    """The interaction case: a TableLog with BOTH a widen and a rename
    converts with columnMapping AND typeWidening composed — protocol
    3/7 lists both features, the field carries physicalName and
    typeChanges together, and the read promotes the narrow physical
    file under the renamed logical column."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        convert_tablelog_to_delta,
    )

    t = TableLog(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i,) for i in range(25)], "n int")
    )
    t.widen_column("n", "bigint", from_type="int")
    t.rename_column("n", "key")
    convert_tablelog_to_delta(spark, t)
    log_dir = os.path.join(str(tmp_path / "t"), "_delta_log")
    first = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))[0]
    acts = [json.loads(l) for l in open(os.path.join(log_dir, first)) if l.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert sorted(proto["readerFeatures"]) == ["columnMapping", "typeWidening"]
    df = read_delta(spark, str(tmp_path / "t"))
    assert df.dtypes == [("key", "bigint")]
    assert sorted(r["key"] for r in df.collect()) == list(range(25))


def test_cdf_initial_load_carries_partition_values(spark):
    """Regression (self-review): the pure-append CDF branch derives
    inserts from add files, which do NOT contain partition columns —
    they must reattach from partitionValues, or the initial load feeds
    NULL partitions to every downstream sync."""
    from atlas_migration_repo_spark.sources.delta_interop import read_delta_cdf

    root = _fresh("t_delta_cdf_part_v0")
    rows = [(i, f"p{i % 3}", float(i)) for i in range(30)]
    write_delta(
        spark.createDataFrame(rows, "k bigint, part string, val double"),
        root,
        partition_by=["part"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    cdf = read_delta_cdf(spark, root, 0)
    got = {r["k"]: r["part"] for r in cdf.collect()}
    assert got == {k: p for k, p, _v in rows}, "v0 inserts lost partitions"
    assert cdf.where(F.col("part").isNull()).count() == 0


def test_partition_delete_string_semantics_match_typed_between(spark):
    """Regression (self-review): a partition-column range delete on a
    STRING column must compare lexicographically — the same semantics
    as the typed BETWEEN — not float-coerce numeric-looking values
    ('10' < '9' as strings, but not as numbers)."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
    )

    root = _fresh("t_delta_pdel_str")
    rows = [(i, p, 1.0) for i, p in enumerate(["9", "10", "11", "8"] * 5)]
    write_delta(
        spark.createDataFrame(rows, "k bigint, part string, val double"),
        root,
        partition_by=["part"],
    )
    delete_delta_range(spark, root, "part", "10", "11")
    survivors = {r["part"] for r in read_delta(spark, root).collect()}
    # string BETWEEN '10' AND '11': keeps '9' and '8' (> '11'
    # lexicographically is false for '8','9'? '8' > '11' and '9' > '11'
    # as strings, so both survive); removes '10' and '11'
    assert survivors == {"8", "9"}
    got = {r["k"] for r in read_delta(spark, root).collect()}
    want = {k for k, p, _v in rows if not ("10" <= p <= "11")}
    assert got == want


def test_adopt_translates_type_widening(spark, tmp_path):
    """Regression (self-review): adopting a Delta table that carries the
    typeWidening feature must translate delta.typeChanges into a
    TableLog columnTypes action — otherwise mixed narrow/wide physical
    files read back with an inconsistent or failing schema."""
    import shutil as _sh

    from atlas_migration_repo_spark.sources.delta_interop import (
        adopt_delta_as_tablelog,
        convert_tablelog_to_delta,
    )

    t = TableLog(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i,) for i in range(20)], "n int"))
    t.widen_column("n", "bigint", from_type="int")
    t.append(
        spark.createDataFrame(
            [(i + 10_000_000_000,) for i in range(20, 30)], "n bigint"
        )
    )
    convert_tablelog_to_delta(spark, t)
    clone = str(tmp_path / "t2")
    _sh.copytree(str(tmp_path / "t"), clone)
    _sh.rmtree(os.path.join(clone, "_log"))
    t2 = adopt_delta_as_tablelog(clone)
    df = t2.read(spark)
    assert dict(df.dtypes)["n"] == "bigint"
    got = sorted(r["n"] for r in df.collect())
    assert got == list(range(20)) + [i + 10_000_000_000 for i in range(20, 30)]


def test_delta_txn_idempotent_writes_survive_checkpoint(spark):
    """Transaction identifiers: a replayed (appId, version) write is a
    NO-OP (no duplicate rows, no new commit); txn marks and the table's
    REAL protocol survive checkpointing + pre-checkpoint log deletion —
    without that, log trimming would re-open the door to duplicates and
    silently downgrade a feature-gated table."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delta_txn_version,
    )

    root = _fresh("t_delta_txn")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 10), root)
    v1 = write_delta(
        nat.where((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        root,
        mode="append",
        txn=("loader", 0),
    )
    # replay of batch 0: must not land twice
    v_replay = write_delta(
        nat.where((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        root,
        mode="append",
        txn=("loader", 0),
    )
    assert v_replay == v1, "replayed txn must be a no-op"
    assert read_delta(spark, root).count() == 20
    assert delta_txn_version(root, "loader") == 0
    assert delta_txn_version(root, "other") is None

    cp_v = checkpoint_delta(root)
    log = os.path.join(root, "_delta_log")
    for v in range(cp_v + 1):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    # marks resolve from the checkpoint alone
    assert delta_txn_version(root, "loader") == 0
    v2 = write_delta(
        nat.where(F.col("n_nationkey") >= 20), root, mode="append",
        txn=("loader", 0),
    )
    assert read_delta(spark, root).count() == 20, "trimmed log re-applied txn"
    v3 = write_delta(
        nat.where(F.col("n_nationkey") >= 20), root, mode="append",
        txn=("loader", 1),
    )
    assert v3 > v2 and read_delta(spark, root).count() == 25


def test_checkpoint_preserves_feature_protocol(spark, tmp_path):
    """Regression: checkpointing a columnMapping table must carry the
    2/5 protocol into the checkpoint, not downgrade to the default —
    a reader replaying from the checkpoint alone would otherwise see a
    feature table at protocol 1/2."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        _checkpoint_actions,
        convert_tablelog_to_delta,
    )

    t = TableLog(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, i) for i in range(10)], "k bigint, v bigint"))
    t.rename_column("v", "val")
    convert_tablelog_to_delta(spark, t)
    cp_v = checkpoint_delta(str(tmp_path / "t"))
    cp = os.path.join(str(tmp_path / "t"), "_delta_log", f"{cp_v:020d}.checkpoint.parquet")
    proto = next(a["protocol"] for a in _checkpoint_actions(cp) if "protocol" in a)
    assert proto["minReaderVersion"] == 2 and proto["minWriterVersion"] == 5


def test_review_fixes_delta_protocol_edges(spark, tmp_path):
    """Second-review regressions, protocol edges:
    1. read_delta_cdf over a retention-trimmed range fails loudly (a
       silent gap would feed an incremental consumer incomplete data);
    2. write_delta refuses partition_by on an existing UNPARTITIONED
       table (appended files would physically lack the column);
    3. a lost version race on a metaData-carrying commit raises instead
       of clobbering a concurrent schema evolution;
    4. restore across a schema evolution restores the TARGET's metaData
       (no spurious all-NULL column).
    """
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        ConcurrentDeltaWriteError,
        _log_dir,
        _publish_commit,
        read_delta_cdf,
        restore_delta,
        vacuum_delta,
    )

    # 1. CDF over a trimmed log
    root = str(tmp_path / "cdf")
    df = spark.createDataFrame([(1, 1.0)], "k bigint, val double")
    write_delta(df, root, configuration={"delta.enableChangeDataFeed": "true"})
    for i in range(2, 5):
        write_delta(
            spark.createDataFrame([(i, float(i))], "k bigint, val double"),
            root,
            mode="append",
        )
    vacuum_delta(root, retain_versions=2)
    with _pytest.raises(ValueError, match="vacuumed"):
        read_delta_cdf(spark, root, 0)
    surviving_lo = min(
        int(n[:20])
        for n in os.listdir(os.path.join(root, "_delta_log"))
        if n.endswith(".json")
    )
    assert read_delta_cdf(spark, root, surviving_lo).count() >= 1

    # 2. partitioning an unpartitioned table
    root2 = str(tmp_path / "части")
    write_delta(spark.createDataFrame([(1, "a")], "k bigint, p string"), root2)
    with _pytest.raises(ValueError, match="partitionColumns"):
        write_delta(
            spark.createDataFrame([(2, "b")], "k bigint, p string"),
            root2,
            partition_by=["p"],
            mode="append",
        )

    # 3. metaData-carrying commit losing the race must raise
    taken = _publish_commit(
        _log_dir(root2), [{"commitInfo": {"operation": "X"}}], 1
    )
    with _pytest.raises(ConcurrentDeltaWriteError, match="metaData"):
        _publish_commit(
            _log_dir(root2),
            [{"metaData": {"id": "x", "schemaString": "{}"}}],
            taken,  # collides -> lost race -> must refuse, not retry
        )

    # 4. restore across schema evolution restores the schema
    root3 = str(tmp_path / "restore_evol")
    write_delta(spark.createDataFrame([(1,)], "k bigint"), root3)
    write_delta(
        spark.createDataFrame([(2, 9.0)], "k bigint, extra double"),
        root3,
        mode="append",
    )
    restore_delta(spark, root3, 0)
    df3 = read_delta(spark, root3)
    assert df3.columns == ["k"], f"restored schema leaked: {df3.columns}"
    assert [r["k"] for r in df3.collect()] == [1]


def test_txn_race_two_workers_one_batch(spark, tmp_path):
    """Regression (second review): two restarted workers replaying the
    SAME (appId, version) micro-batch concurrently must land it ONCE —
    the loser of the version race re-checks the txn mark inside the
    retry loop and becomes a no-op (previously both committed)."""
    import threading

    root = str(tmp_path / "t")
    write_delta(spark.createDataFrame([(0, 0.0)], "k bigint, val double"), root)
    batch = [(i, float(i)) for i in range(100, 120)]
    errs: list[Exception] = []

    def worker():
        try:
            write_delta(
                spark.createDataFrame(batch, "k bigint, val double"),
                root,
                mode="append",
                txn=("feed", 5),
            )
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = sorted(r["k"] for r in read_delta(spark, root).collect())
    assert got == [0] + [k for k, _v in batch], "batch landed twice"


def test_zorder_clusters_both_columns(spark):
    """OPTIMIZE ZORDER BY must (a) leave the data bit-identical, (b)
    make log-stats skipping STRICTLY prune on EVERY z column — including
    one the insertion order scattered, where pre-optimize skipping was
    powerless — and (c) stamp the commit dataChange=false with the
    zOrderBy parameter so feeds/streams skip it."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delta_files_in_range,
        optimize_delta,
    )

    root = _fresh("t_delta_zorder_both")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    write_delta(orders.repartition(8), root)  # scattered on both z cols
    n_live = len(delta_live_files(root, 0))
    assert n_live == 8
    # round-robin layout: a narrow o_custkey range prunes NOTHING
    assert len(delta_files_in_range(root, "o_custkey", 100, 200, 0)) == n_live
    before = {
        tuple(r)
        for r in read_delta(spark, root)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
        )
        .collect()
    }
    v = optimize_delta(
        spark, root, target_files=8, zorder_by=["o_custkey", "o_orderdate"]
    )
    live = delta_live_files(root, v)
    assert len(live) == 8
    after = {
        tuple(r)
        for r in read_delta(spark, root)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
        )
        .collect()
    }
    assert after == before, "zorder rewrote values"
    # strict pruning on BOTH columns from the SAME layout
    surv_cust = delta_files_in_range(root, "o_custkey", 100, 200, v)
    surv_date = delta_files_in_range(
        root, "o_orderdate", "1996-01-01 00:00:00", "1996-03-31 23:59:59", v
    )
    assert 0 < len(surv_cust) < len(live), (len(surv_cust), len(live))
    assert 0 < len(surv_date) < len(live), (len(surv_date), len(live))
    # the commit is layout-only and self-describing
    with open(os.path.join(root, "_delta_log", f"{v:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    ci = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert json.loads(ci["operationParameters"]["zOrderBy"]) == [
        "o_custkey",
        "o_orderdate",
    ]
    assert all(
        a["add"].get("dataChange") is False for a in acts if "add" in a
    )


def test_zorder_nulls_and_guards(spark):
    """NULLs in a z column sort into bucket 0 (no crash, no row loss);
    string z columns and partition-column z columns refuse loudly."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        optimize_delta,
    )

    root = _fresh("t_delta_zorder_nulls")
    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else float(i % 17), f"s{i}") for i in range(200)],
        "k bigint, x double, s string",
    )
    write_delta(df.repartition(4), root)
    v = optimize_delta(spark, root, target_files=2, zorder_by=["x", "k"])
    assert read_delta(spark, root, version=v).count() == 200
    with pytest.raises(ValueError, match="numeric/date/timestamp"):
        optimize_delta(spark, root, zorder_by=["s"])
    root2 = _fresh("t_delta_zorder_pcol")
    write_delta(
        df.withColumn("p", F.col("k") % 2), root2, partition_by=["p"]
    )
    with pytest.raises(ValueError, match="partition columns"):
        optimize_delta(spark, root2, zorder_by=["p"])


def test_dv_delete_merge_on_read_and_restore(spark):
    """A deletion-vector DELETE must leave every data file byte-identical
    (same paths, same sizes, same stats), serve the masked read and v0
    time travel exactly, bump the protocol to 3/7+deletionVectors, and
    RESTORE across the delete must resurrect the rows by re-adding the
    target's DV state."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        delta_live_files,
        restore_delta,
    )

    root = _fresh("t_dv_mor")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n = orders.count()
    write_delta(orders.repartition(4), root)
    before = {
        a["path"]: (a["size"], a.get("stats"))
        for a in delta_live_files(root, 0)
    }
    ndel = orders.where("o_totalprice > 100000").count()
    v = delete_delta_dv(spark, root, "o_totalprice > 100000")
    after = {
        a["path"]: (a["size"], a.get("stats"))
        for a in delta_live_files(root, v)
    }
    assert after == before, "DV delete touched data files"
    assert all(
        a.get("deletionVector", {}).get("cardinality", 0) > 0
        for a in delta_live_files(root, v)
    )
    assert read_delta(spark, root).count() == n - ndel
    assert read_delta(spark, root, version=0).count() == n
    with open(os.path.join(root, "_delta_log", f"{v:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    restore_delta(spark, root, 0)
    assert read_delta(spark, root).count() == n, "restore kept DV deletes"


def test_dv_supersede_union_and_cdf(spark):
    """A second DV delete on the same files must write ONE superseding
    vector per file holding the UNION of positions, and the change feed
    must emit each deleted row exactly once, in its own commit."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        delta_live_files,
        read_delta_cdf,
    )

    root = _fresh("t_dv_union_cdf")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_delta(
        orders.repartition(4),
        root,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    v1 = delete_delta_dv(spark, root, "o_totalprice > 100000")
    v2 = delete_delta_dv(spark, root, "o_custkey % 7 = 0")
    exp1 = orders.where("o_totalprice > 100000").count()
    exp2 = orders.where(
        "NOT (o_totalprice > 100000) AND o_custkey % 7 = 0"
    ).count()
    keep = orders.where(
        "NOT (o_totalprice > 100000) AND NOT (o_custkey % 7 = 0)"
    ).count()
    assert read_delta(spark, root).count() == keep
    live = delta_live_files(root, v2)
    assert all(a.get("deletionVector") for a in live)
    card = sum(a["deletionVector"]["cardinality"] for a in live)
    assert card == exp1 + exp2, "union-supersede lost or doubled positions"
    cdf = read_delta_cdf(spark, root, v1)
    assert cdf.where(f"_commit_version = {v1}").count() == exp1
    assert cdf.where(f"_commit_version = {v2}").count() == exp2
    assert cdf.where("_change_type <> 'delete'").count() == 0
    # already-deleted rows never re-match: ids are disjoint across commits
    assert (
        cdf.select("o_orderkey").distinct().count() == exp1 + exp2
    ), "a deleted row re-emitted in a later delete's CDF"


def test_dv_purge_checkpoint_vacuum(spark):
    """REORG PURGE materializes DVs as a dataChange=false rewrite with
    identical logical content; a checkpoint carries DV descriptors (read
    survives trimming the JSON history); vacuum keeps referenced DV bins
    and reclaims them once retention drops the DV versions."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        checkpoint_delta,
        delete_delta_dv,
        delta_live_files,
        purge_delta_dv,
        vacuum_delta,
    )

    root = _fresh("t_dv_purge_cp_vac")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_delta(orders.repartition(4), root)
    delete_delta_dv(spark, root, "o_totalprice > 100000")
    keep = orders.where("NOT (o_totalprice > 100000)").count()
    # checkpoint fidelity: drop the JSON history, DV still applies
    cp_v = checkpoint_delta(root)
    for v in range(cp_v):  # pre-checkpoint commits are redundant now
        os.unlink(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    assert read_delta(spark, root).count() == keep
    bins = [n for n in os.listdir(root) if n.startswith("deletion_vector_")]
    assert bins, "no DV sidecar written"
    assert vacuum_delta(root) == [], "vacuum reclaimed a referenced DV"
    vp = purge_delta_dv(spark, root)
    assert read_delta(spark, root).count() == keep
    assert not any(
        a.get("deletionVector") for a in delta_live_files(root, vp)
    )
    with open(os.path.join(root, "_delta_log", f"{vp:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    assert all(
        not a["add"].get("dataChange") for a in acts if "add" in a
    ), "purge must be dataChange=false"
    # retention past the DV versions reclaims the bins
    vacuum_delta(root, retain_versions=1)
    assert not [
        n for n in os.listdir(root) if n.startswith("deletion_vector_")
    ], "orphaned DV bins survived retention vacuum"


def test_dv_concurrent_delete_conflicts(spark):
    """Two DV deletes computed from the same snapshot: the loser must
    raise ConcurrentDeltaWriteError, never blindly re-add the file with
    its own (stale) vector — that would resurrect the winner's deletes."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        ConcurrentDeltaWriteError,
        _publish_commit,
        delete_delta_dv,
        delta_live_files,
    )

    root = _fresh("t_dv_conflict")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_delta(orders.coalesce(1), root)
    snap = {a["path"]: a for a in delta_live_files(root, 0)}
    winner_v = delete_delta_dv(spark, root, "o_totalprice > 100000")
    # a stale writer publishes a rewrite-in-place computed from v0
    rel = next(iter(snap))
    stale = [
        {"commitInfo": {"timestamp": 0, "operation": "DELETE"}},
        {"remove": {"path": rel, "deletionTimestamp": 0, "dataChange": True}},
        {
            "add": {
                **{
                    k: snap[rel][k]
                    for k in ("path", "partitionValues", "size", "stats")
                    if k in snap[rel]
                },
                "modificationTime": 0,
                "dataChange": True,
                "deletionVector": {
                    "storageType": "u",
                    "pathOrInlineDv": "deadbeef",
                    "offset": 1,
                    "sizeInBytes": 5,
                    "cardinality": 1,
                },
            }
        },
    ]
    with pytest.raises(ConcurrentDeltaWriteError, match="deletion vector"):
        _publish_commit(
            os.path.join(root, "_delta_log"),
            stale,
            winner_v,  # stale writer computed the same target version
            expected_adds=snap,
        )


def test_dv_optimize_and_merge_respect_mask(spark):
    """OPTIMIZE on a DV table compacts the LOGICAL rows (deleted rows do
    not reappear, new files carry no DVs); MERGE treats deleted keys as
    absent — the source row lands as an INSERT, and untouched deleted
    rows stay deleted after the file rewrite."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        delta_live_files,
        merge_delta,
        optimize_delta,
    )

    root = _fresh("t_dv_opt_merge")
    df = spark.createDataFrame(
        [(i, float(i), "old") for i in range(1000)], "k bigint, x double, s string"
    )
    write_delta(df.repartition(4), root)
    delete_delta_dv(spark, root, "k % 10 = 0")  # 100 rows out
    assert read_delta(spark, root).count() == 900
    # merge: k=0 was deleted (re-insert), k=1 is live (update)
    src = spark.createDataFrame(
        [(0, -1.0, "ins"), (1, -2.0, "upd")], "k bigint, x double, s string"
    )
    merge_delta(spark, root, src, key="k")
    got = {r["k"]: r["s"] for r in read_delta(spark, root).collect()}
    assert got[0] == "ins" and got[1] == "upd"
    assert len(got) == 901  # 900 live + k=0 back; other deleted keys stay out
    assert 10 not in got and 20 not in got
    v = optimize_delta(spark, root)
    assert read_delta(spark, root).count() == 901
    assert not any(a.get("deletionVector") for a in delta_live_files(root, v))


def test_dv_uniform_publish_bridges_positional_deletes(spark):
    """UniForm dual publish over a DV table: the deletion vectors ride
    along as an Iceberg POSITIONAL-DELETE manifest over the same
    snapshot (real UniForm's DV bridge) — an Iceberg manifest over the
    raw files alone would resurrect the masked rows. Both readers must
    see exactly the masked row SET, row for row, without any PURGE."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        publish_iceberg_metadata_from_delta,
        read_iceberg,
    )

    root = _fresh("t_dv_uniform")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_delta(orders.repartition(2), root)
    delete_delta_dv(spark, root, "o_totalprice > 100000")
    survivors = {
        r["o_orderkey"]
        for r in orders.where("NOT (o_totalprice > 100000)").collect()
    }
    publish_iceberg_metadata_from_delta(spark, root)
    ice = {r["o_orderkey"] for r in read_iceberg(spark, root).collect()}
    dl = {r["o_orderkey"] for r in read_delta(spark, root).collect()}
    assert ice == survivors == dl


@pytest.mark.parametrize("store_name", ["posix_link", "coordinated_put"])
def test_delta_concurrent_append_race(spark, store_name):
    """VERDICT r5 #1: the Delta bridge commits through the same LogStore
    seam as TableLog. 4 threads each append 4 batches against one Delta
    table; every commit must win a unique dense version and no append
    may be lost or duplicated — under BOTH the POSIX hard-link store and
    the coordinated-put store (the rename-less object-store protocol the
    declared S3 deployment target requires)."""
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
    root = _fresh(f"t_race_{store_name}")
    set_default_log_store(mk())
    try:
        # seed commit OUTSIDE the race: concurrent version-0 writers
        # would race the metaData action, which correctly refuses retry
        write_delta(
            spark.range(10_000, 10_010).select("id").coalesce(1),
            root,
            mode="append",
        )
        errors: list[Exception] = []

        def writer(tid: int) -> None:
            try:
                for j in range(4):
                    lo = (tid * 4 + j) * 100
                    write_delta(
                        spark.range(lo, lo + 100).select("id").coalesce(1),
                        root,
                        mode="append",
                    )
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        from atlas_migration_repo_spark.sources.delta_interop import (
            _committed_versions,
            _log_dir,
        )

        vs = _committed_versions(_log_dir(root))
        assert vs == list(range(17)), vs  # seed + 16 appends, dense
        got = sorted(r["id"] for r in read_delta(spark, root).collect())
        assert got == list(range(1600)) + list(range(10_000, 10_010))
    finally:
        set_default_log_store(None)


def test_dv_payload_is_spec_roaring():
    """VERDICT r5 #2: DV payloads are the protocol's RoaringBitmapArray
    portable format, byte-checkable against the published spec — magic
    1681511377 (i32 LE), u64 LE bucket count, u32 LE high-bits key, then
    a standard 32-bit roaring bitmap per bucket (RoaringFormatSpec)."""
    import struct

    from atlas_migration_repo_spark.sources.delta_interop import (
        _dv_decode,
        _dv_encode,
        _roar32_decode,
        _roar32_encode,
    )

    # canonical published vector: the serialized bitmap {0} is exactly
    # cookie 12346, 1 container, header (key 0, card-1 0), offset 16,
    # one u16 value — 18 bytes
    assert _roar32_encode([0]) == (
        struct.pack("<II", 12346, 1)
        + struct.pack("<HH", 0, 0)
        + struct.pack("<I", 16)
        + struct.pack("<H", 0)
    )
    # full payload: magic + bucket count + key + bitmap
    enc = _dv_encode([0])
    assert enc[:4] == struct.pack("<i", 1681511377)
    assert struct.unpack_from("<Q", enc, 4)[0] == 1
    assert struct.unpack_from("<I", enc, 12)[0] == 0

    # round-trips across container types and 64-bit buckets:
    # array (<=4096), bitmap (>4096), multi-key, high-32-bit buckets
    for vals in (
        [0],
        [65536, 65538],
        list(range(4097)),
        list(range(0, 200_000, 3)),
        [1, 5, 7, 100_000, 2**32 + 5, 2**33],
        [],
    ):
        assert _dv_decode(_dv_encode(vals)) == sorted(set(vals))

    # run-container decode (real Delta writers runOptimize): {10..20}
    # hand-encoded per spec — run cookie 12347 with n-1 in the high 16
    # bits, run-flag bitset, descriptive header, no offset header under
    # 4 containers, then (start, length-1) pairs
    payload = (
        struct.pack("<I", 12347)
        + bytes([1])
        + struct.pack("<HH", 0, 10)
        + struct.pack("<H", 1)
        + struct.pack("<HH", 10, 10)
    )
    vals, end = _roar32_decode(payload, 0)
    assert vals == list(range(10, 21)) and end == len(payload)


def test_dv_legacy_payload_still_readable():
    """Tables written before the roaring payload landed used the
    documented local codec (AMDV magic + delta-varints); the reader
    must keep decoding them."""
    from atlas_migration_repo_spark.sources.delta_interop import _dv_decode

    def varint(n: int) -> bytes:
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    positions = [3, 9, 10, 500_000]
    blob = bytearray(b"AMDV") + varint(len(positions))
    prev = 0
    for p in positions:
        blob += varint(p - prev)
        prev = p
    assert _dv_decode(bytes(blob)) == positions


def test_column_mapped_write_partition_and_evolution(spark):
    """Native writes to columnMapping tables (round 6): after
    rename_delta_column upgrades a PARTITIONED table, appends stage
    files, partition dirs, partitionValues and stats under PHYSICAL
    names; reads surface logical names, partition_eq prunes through the
    mapping, stats-range skipping translates the column, and additive
    evolution assigns the new column an id + physical name."""
    import json as _json

    from atlas_migration_repo_spark.sources.delta_interop import (
        _log_dir,
        _raw_actions,
        _replay,
        delta_files_in_range,
        delta_live_files,
        rename_delta_column,
        write_delta,
    )

    root = _fresh("t_cmap_write")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    a = orders.where("o_orderkey % 2 = 0")
    b = orders.where("o_orderkey % 2 = 1")
    write_delta(a, root, partition_by=["o_orderstatus"])
    rename_delta_column(root, "o_totalprice", "price_usd")
    write_delta(
        b.withColumnRenamed("o_totalprice", "price_usd"),
        root,
        partition_by=["o_orderstatus"],
        mode="append",
    )
    got = read_delta(spark, root)
    assert set(got.columns) == {"o_orderkey", "price_usd", "o_orderstatus"}
    assert got.count() == orders.count()
    # physical keys in the NEW adds (the pre-rename physical name ==
    # the old logical name, so both generations share the same keys)
    _, meta, adds = _replay(root)
    assert all("o_orderstatus" in (x.get("partitionValues") or {}) for x in adds)
    # log-level pruning through the mapping
    n_f = orders.where("o_orderstatus = 'F'").count()
    pruned = read_delta(spark, root, partition_eq={"o_orderstatus": "F"})
    assert pruned.count() == n_f
    live = delta_live_files(root)
    kept = delta_live_files(root, partition_eq={"o_orderstatus": "F"})
    assert 0 < len(kept) < len(live)
    # stats skipping translates logical -> physical stats keys
    lo, hi = 1000, 2000
    in_range = delta_files_in_range(root, "price_usd", lo, hi)
    assert 0 < len(in_range) <= len(live)
    # additive evolution on the mapped table: new column gets id + phys
    write_delta(
        b.limit(5)
        .withColumnRenamed("o_totalprice", "price_usd")
        .withColumn("channel", F.lit("web")),
        root,
        partition_by=["o_orderstatus"],
        mode="append",
    )
    _, meta2, _ = _replay(root)
    fields = _json.loads(meta2["schemaString"])["fields"]
    ch = next(f for f in fields if f["name"] == "channel")
    assert ch["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
    assert int(meta2["configuration"]["delta.columnMapping.maxColumnId"]) == 4
    got2 = read_delta(spark, root)
    assert got2.where(F.col("channel").isNotNull()).count() == 5
    # version 0 still reads under the pre-rename schema
    v0 = read_delta(spark, root, version=0)
    assert set(v0.columns) == {"o_orderkey", "o_totalprice", "o_orderstatus"}


def test_column_mapped_rewrite_ops(spark):
    """The file-REWRITING maintenance ops work on mapped tables: MERGE
    by the logical key, stats-split range DELETE on a renamed column,
    DV delete with the logical predicate (protocol upgrade carries
    columnMapping into the 3/7 feature lists), PURGE, and OPTIMIZE —
    every rewrite staged under the frozen physical names, every read
    surfacing logical ones."""
    import json as _json

    from atlas_migration_repo_spark.sources.delta_interop import (
        _current_protocol,
        _replay,
        delete_delta_dv,
        delete_delta_range,
        delta_live_files,
        merge_delta,
        optimize_delta,
        purge_delta_dv,
        rename_delta_column,
        write_delta,
    )

    root = _fresh("t_cmap_rewrite")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_delta(orders.repartition(3), root)
    rename_delta_column(root, "o_totalprice", "price_usd")

    # MERGE on the logical key against renamed data
    src = orders.limit(20).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("price_usd"),
        "o_orderstatus",
    )
    merge_delta(spark, root, src, key="o_orderkey")
    doubled = {r["o_orderkey"]: r["price_usd"] for r in src.collect()}
    got = {
        r["o_orderkey"]: r["price_usd"]
        for r in read_delta(spark, root)
        .where(F.col("o_orderkey").isin(*doubled))
        .collect()
    }
    assert got == {k: float(v) for k, v in doubled.items()}

    # range DELETE on the renamed column (stats keys are physical)
    before = read_delta(spark, root).count()
    hits = read_delta(spark, root).where(
        F.col("price_usd").between(50_000, 100_000)
    ).count()
    delete_delta_range(spark, root, "price_usd", 50_000, 100_000)
    assert read_delta(spark, root).count() == before - hits

    # DV delete with a logical predicate; protocol keeps columnMapping
    left = read_delta(spark, root)
    dv_hits = left.where("price_usd > 300000").count()
    delete_delta_dv(spark, root, "price_usd > 300000")
    assert read_delta(spark, root).count() == before - hits - dv_hits
    proto = _current_protocol(root)
    assert "columnMapping" in (proto.get("readerFeatures") or []), proto
    assert "deletionVectors" in (proto.get("writerFeatures") or [])

    # PURGE then OPTIMIZE keep content and logical names
    purge_delta_dv(spark, root)
    optimize_delta(spark, root, target_files=1)
    final = read_delta(spark, root)
    assert final.count() == before - hits - dv_hits
    assert set(final.columns) == {"o_orderkey", "price_usd", "o_orderstatus"}
    assert not any(
        a.get("deletionVector") for a in delta_live_files(root)
    )


def test_dv_descriptor_naming_and_inline(spark):
    """DV descriptors follow the protocol's derivations: pathOrInlineDv
    for storageType "u" is the Base85 (RFC 1924 alphabet) uuid whose
    canonical form names the sidecar file; inline ("i") descriptors
    carry the Base85 payload directly; legacy hex descriptors written
    by earlier engine versions still resolve."""
    import base64
    import uuid as _uuid

    from atlas_migration_repo_spark.sources.delta_interop import (
        _dv_encode,
        _dv_read_positions,
        _dv_relpath,
        _dv_write_file,
        delete_delta_dv,
    )

    root = _fresh("t_dv_naming")
    os.makedirs(root, exist_ok=True)
    desc = _dv_write_file(root, [1, 5, 9])
    assert desc["storageType"] == "u" and len(desc["pathOrInlineDv"]) == 20
    u = _uuid.UUID(bytes=base64.b85decode(desc["pathOrInlineDv"]))
    rel = _dv_relpath(desc)
    assert rel == f"deletion_vector_{u}.bin"
    assert os.path.exists(os.path.join(root, rel))
    assert _dv_read_positions(root, desc) == [1, 5, 9]

    # inline descriptor: payload rides in the descriptor itself
    inline = {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(_dv_encode([7, 8, 42])).decode(),
        "sizeInBytes": 0,
        "cardinality": 3,
    }
    assert _dv_read_positions(root, inline) == [7, 8, 42]

    # legacy hex descriptor → legacy filename
    legacy = {"storageType": "u", "pathOrInlineDv": "ab" * 16, "offset": 1}
    assert _dv_relpath(legacy) == f"deletion_vector_{'ab' * 16}.bin"

    # end-to-end: a DV delete on a real table round-trips the new naming
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_delta(orders.repartition(2), root)
    keep = orders.where("NOT (o_totalprice > 200000)").count()
    delete_delta_dv(spark, root, "o_totalprice > 200000")
    assert read_delta(spark, root).count() == keep


def test_cdf_across_rename_boundary(spark):
    """CDF composes with column mapping: change files of EVERY
    generation carry the frozen physical names, so one feed read spans
    a rename — pre-rename appends and post-rename merge/delete images
    all surface under the END-version logical names."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        merge_delta,
        read_delta_cdf,
        rename_delta_column,
        write_delta,
    )

    root = _fresh("t_cdf_rename")
    base = spark.createDataFrame(
        [(i, i * 10.0) for i in range(20)], "k bigint, price double"
    )
    write_delta(
        base, root, configuration={"delta.enableChangeDataFeed": "true"}
    )  # v0: inserts
    rename_delta_column(root, "price", "price_usd")  # v1: metadata only
    merge_delta(
        spark,
        root,
        spark.createDataFrame([(3, 999.0)], "k bigint, price_usd double"),
        key="k",
    )  # v2: update images
    delete_delta_range(spark, root, "k", 10, 12)  # v3: delete images
    feed = read_delta_cdf(spark, root, from_version=0).collect()
    assert {r["_change_type"] for r in feed} >= {
        "insert",
        "update_preimage",
        "update_postimage",
        "delete",
    }
    # every row of the feed surfaces the END-version logical column
    assert all("price_usd" in r.asDict() for r in feed)
    ins = [r for r in feed if r["_change_type"] == "insert"]
    assert len(ins) == 20 and {r["price_usd"] for r in ins} == {
        i * 10.0 for i in range(20)
    }
    post = [r for r in feed if r["_change_type"] == "update_postimage"]
    assert [(r["k"], r["price_usd"]) for r in post] == [(3, 999.0)]
    dels = {r["k"] for r in feed if r["_change_type"] == "delete"}
    assert dels == {10, 11, 12}
    got = {r["k"]: r["price_usd"] for r in read_delta(spark, root).collect()}
    assert got[3] == 999.0 and all(k not in got for k in (10, 11, 12))


def test_widen_delta_column_guards_and_mapping(spark):
    """widen_delta_column: refuses lossy changes, stacks with column
    mapping (widen a renamed column), carries columnMapping into the
    3/7 feature lists, and pre-widen files read exactly."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        _current_protocol,
        rename_delta_column,
        widen_delta_column,
        write_delta,
    )

    root = _fresh("t_widen_guard")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k int, v float"
    )
    write_delta(base, root)
    with _pytest.raises(ValueError, match="lossless"):
        widen_delta_column(root, "v", "int")
    with _pytest.raises(ValueError, match="not in schema"):
        widen_delta_column(root, "missing", "bigint")
    rename_delta_column(root, "k", "key")
    widen_delta_column(root, "key", "bigint")
    proto = _current_protocol(root)
    assert "typeWidening" in proto["writerFeatures"]
    assert "columnMapping" in proto["readerFeatures"]
    write_delta(
        spark.createDataFrame([(10**12, 1.0)], "key bigint, v float"),
        root,
        mode="append",
    )
    got = read_delta(spark, root)
    assert dict(got.dtypes)["key"] == "bigint"
    assert got.count() == 11
    assert got.agg(F.sum("key")).collect()[0][0] == sum(range(10)) + 10**12


def test_delta_bridge_coordinated_crash_recovery(spark):
    """A writer that died after staging but before the commit PUT left a
    claimed Delta version whose content is durably staged; the NEXT
    write's publish must finish it (recover-before-read), keep versions
    dense, and lose nothing — the TableLog crash-window contract, now on
    the foreign-format bridge."""
    import json as _json

    from atlas_migration_repo_spark.sources.delta_interop import (
        _committed_versions,
        _log_dir,
        write_delta,
    )
    from atlas_migration_repo_spark.sources.table_log import (
        CoordinatedPutLogStore,
        set_default_log_store,
    )

    root = _fresh("t_delta_crash")
    set_default_log_store(CoordinatedPutLogStore())
    try:
        write_delta(
            spark.range(10).select("id").coalesce(1), root, mode="append"
        )
        log_dir = _log_dir(root)
        claims = os.path.join(log_dir, "_claims")
        os.makedirs(claims, exist_ok=True)
        # simulate the crash window: version 1 claimed + staged, commit
        # object missing (content: a valid single-action commit)
        name = f"{1:020d}.json"
        staged_actions = [
            {"commitInfo": {"timestamp": 0, "operation": "WRITE"}}
        ]
        with open(os.path.join(claims, name + ".staged"), "w") as fh:
            for a in staged_actions:
                fh.write(_json.dumps(a) + "\n")
        with open(os.path.join(claims, name + ".claim"), "w") as fh:
            _json.dump(
                {"staged": name + ".staged", "complete": False, "ts_ms": 0}, fh
            )
        # next write recovers v1 and lands at v2 — dense, nothing lost
        write_delta(
            spark.range(10, 20).select("id").coalesce(1), root, mode="append"
        )
        assert _committed_versions(log_dir) == [0, 1, 2]
        got = sorted(r["id"] for r in read_delta(spark, root).collect())
        assert got == list(range(20))
    finally:
        set_default_log_store(None)


def test_delta_check_constraints_enforced(spark):
    """ADD CONSTRAINT validates existing rows, raises the protocol to
    writer 3, and every subsequent write path refuses violating rows
    (nulls pass, per SQL CHECK); converted-TableLog constraint configs
    are enforced the same way; DROP lifts the gate."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        DeltaConstraintViolation,
        _current_protocol,
        add_delta_constraint,
        drop_delta_constraint,
        merge_delta,
        write_delta,
    )

    root = _fresh("t_constraints")
    write_delta(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double"),
        root,
    )
    with _pytest.raises(DeltaConstraintViolation, match="existing rows"):
        add_delta_constraint(spark, root, "v_big", "v > 15")
    add_delta_constraint(spark, root, "v_pos", "v > 0")
    assert _current_protocol(root)["minWriterVersion"] == 3
    with _pytest.raises(ValueError, match="already exists"):
        add_delta_constraint(spark, root, "v_pos", "v > 0")
    with _pytest.raises(DeltaConstraintViolation, match="v_pos"):
        write_delta(
            spark.createDataFrame([(3, -1.0)], "k bigint, v double"),
            root,
            mode="append",
        )
    with _pytest.raises(DeltaConstraintViolation, match="v_pos"):
        merge_delta(
            spark,
            root,
            spark.createDataFrame([(1, -5.0)], "k bigint, v double"),
            key="k",
        )
    # nulls pass (SQL CHECK), valid rows land
    write_delta(
        spark.createDataFrame([(4, None)], "k bigint, v double"),
        root,
        mode="append",
    )
    assert read_delta(spark, root).count() == 3
    drop_delta_constraint(root, "v_pos")
    write_delta(
        spark.createDataFrame([(5, -1.0)], "k bigint, v double"),
        root,
        mode="append",
    )
    assert read_delta(spark, root).count() == 4


def test_lakehouse_fsck(spark, tmp_path):
    """fsck: clean Delta/Iceberg/TableLog tables report ok with every
    referenced file checked; a deleted data file and a corrupted DV
    payload surface as named errors instead of silent read failures."""
    from atlas_migration_repo_spark.lakehouse import fsck
    from atlas_migration_repo_spark.sources.delta_interop import (
        _dv_relpath,
        delete_delta_dv,
        delta_live_files,
        write_delta,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        write_iceberg,
    )
    from atlas_migration_repo_spark.sources.table_log import TableLog

    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")

    droot = str(tmp_path / "d")
    write_delta(orders.repartition(2), droot)
    delete_delta_dv(spark, droot, "o_totalprice > 200000")
    rep = fsck(droot)
    assert rep["ok"] and rep["format"] == "delta" and rep["checked_files"] >= 3

    iroot = str(tmp_path / "i")
    write_iceberg(orders.repartition(2), iroot)
    rep = fsck(iroot)
    assert rep["ok"] and rep["format"] == "iceberg"

    troot = str(tmp_path / "t")
    TableLog(troot).append(orders.coalesce(1))
    assert fsck(troot)["ok"]

    # corruption: delete one delta data file + truncate a DV payload
    victim = delta_live_files(droot)[0]
    os.unlink(os.path.join(droot, urllib.parse.unquote(victim["path"])))
    dv_add = next(a for a in delta_live_files(droot) if a.get("deletionVector"))
    dv_file = os.path.join(droot, _dv_relpath(dv_add["deletionVector"]))
    with open(dv_file, "r+b") as fh:
        fh.truncate(6)
    rep = fsck(droot)
    assert not rep["ok"]
    assert any("missing data file" in e for e in rep["errors"])
    assert any("DV unreadable" in e for e in rep["errors"])


def test_delta_append_refuses_non_additive_schema(spark):
    """The round-6 evolution-branch restructure must keep the refusal
    semantics: appending with a MISSING column or a RETYPED column
    raises; a reordered but identical schema appends with no metaData
    churn."""
    import json as _json

    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        write_delta,
    )

    root = _fresh("t_evol_guard")
    write_delta(
        spark.createDataFrame([(1, 1.0, "a")], "k bigint, v double, s string"),
        root,
    )
    with _pytest.raises(ValueError, match="not additive"):
        write_delta(
            spark.createDataFrame([(2, 2.0)], "k bigint, v double"),
            root,
            mode="append",
        )
    with _pytest.raises(ValueError, match="not additive"):
        write_delta(
            spark.createDataFrame([(2, 2, "b")], "k bigint, v bigint, s string"),
            root,
            mode="append",
        )
    # reorder-only append: no metaData action in the commit
    write_delta(
        spark.createDataFrame([("b", 2.0, 2)], "s string, v double, k bigint"),
        root,
        mode="append",
    )
    from atlas_migration_repo_spark.sources.delta_interop import (
        _committed_versions,
        _log_dir,
    )

    last_v = _committed_versions(_log_dir(root))[-1]
    with open(os.path.join(_log_dir(root), f"{last_v:020d}.json")) as fh:
        acts = [_json.loads(line) for line in fh if line.strip()]
    assert not any("metaData" in a for a in acts), "reorder emitted metaData"
    got = read_delta(spark, root)
    assert got.count() == 2 and set(got.columns) == {"k", "v", "s"}


def test_v2_checkpoint_sidecars_carry_state(spark):
    """V2 spec checkpoint: the protocol upgrades to 3/7 + v2Checkpoint,
    the adds land in parquet sidecars under _delta_log/_sidecars/, the
    top-level file carries checkpointMetadata + sidecar actions, and
    deleting every pre-checkpoint JSON leaves the read exact — the
    sidecar indirection, not the JSON history, carries the state."""
    import re as _re

    from atlas_migration_repo_spark.sources.delta_interop import (
        _current_protocol,
        checkpoint_delta_v2,
    )

    root = _fresh("t_delta_cp_v2")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_delta(nat.where(F.col("n_nationkey") < 10), root)
    write_delta(
        nat.where((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)),
        root,
        mode="append",
    )
    cp_v = checkpoint_delta_v2(root, n_sidecars=2)
    assert cp_v == 2  # v0, v1 appends + v2 protocol-upgrade commit
    proto = _current_protocol(root)
    assert proto["minReaderVersion"] == 3
    assert "v2Checkpoint" in proto["readerFeatures"]
    log = os.path.join(root, "_delta_log")
    tops = [
        n
        for n in os.listdir(log)
        if _re.match(r"^\d{20}\.checkpoint\.[0-9a-f]{8,}\.parquet$", n)
    ]
    assert len(tops) == 1
    sidecars = [
        n
        for n in os.listdir(os.path.join(log, "_sidecars"))
        if n.endswith(".parquet")
    ]
    assert len(sidecars) == 2
    last = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert last["v2Checkpoint"]["path"] == tops[0]
    # top-level holds NO add actions — the sidecars do
    import pyarrow.parquet as pq

    top_rows = pq.read_table(os.path.join(log, tops[0])).to_pylist()
    assert "add" not in {
        k for r in top_rows for k, v in r.items() if v is not None
    }
    n_side_adds = sum(
        sum(1 for r in pq.read_table(
            os.path.join(log, "_sidecars", s)).to_pylist() if r.get("add"))
        for s in sidecars
    )
    assert n_side_adds > 0
    write_delta(nat.where(F.col("n_nationkey") >= 20), root, mode="append")
    for v in (0, 1, 2):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    got = sorted(r["n_nationkey"] for r in read_delta(spark, root).collect())
    assert got == list(range(25))
    # a SECOND v2 checkpoint does not re-upgrade the protocol
    v2 = checkpoint_delta_v2(root)
    assert v2 == 3
