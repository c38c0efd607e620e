"""Protocol-fidelity tests for the Iceberg interop layer
(sources/iceberg_interop.py) and the nested-avro codec extension that
powers its manifests."""

from __future__ import annotations

import io
import json
import os
import shutil

from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import load
from atlas_migration_repo_spark.sources.avro import (
    _container_bytes,
    parse_container,
)
from atlas_migration_repo_spark.sources.files import scratch_path
from atlas_migration_repo_spark.sources.iceberg_interop import (
    _meta_dir,
    iceberg_live_files,
    read_iceberg,
    write_iceberg,
)

from conftest import SF_DIR


def _fresh(key: str) -> str:
    root = scratch_path(SF_DIR, key)
    shutil.rmtree(root, ignore_errors=True)
    return root


def test_nested_avro_round_trip():
    """The codec extension must round-trip records containing nested
    records, arrays, maps, null-unions and fixed — the exact shapes
    Iceberg manifest files use."""
    avsc = {
        "type": "record",
        "name": "outer",
        "fields": [
            {
                "name": "rec",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "a", "type": "long"},
                        {"name": "b", "type": ["null", "string"]},
                    ],
                },
            },
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {
                "name": "fx",
                "type": {"type": "fixed", "name": "f8", "size": 8},
            },
            {
                "name": "maybe_arr",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "s",
                            "fields": [
                                {"name": "x", "type": ["null", "bytes"]}
                            ],
                        },
                    },
                ],
            },
        ],
    }
    rows = [
        (
            {"a": 7, "b": "hi"},
            [1, 2, 3],
            {"k1": 10, "k2": -5},
            b"12345678",
            [{"x": b"\x00\x01"}, {"x": None}],
        ),
        ({"a": -1, "b": None}, [], {}, b"abcdefgh", None),
    ]
    back_schema, back_rows = parse_container(_container_bytes(avsc, rows))
    assert back_schema == avsc
    assert back_rows[0][0] == {"a": 7, "b": "hi"}
    assert back_rows[0][1] == [1, 2, 3]
    assert back_rows[0][2] == {"k1": 10, "k2": -5}
    assert back_rows[0][3] == b"12345678"
    assert back_rows[0][4] == [{"x": b"\x00\x01"}, {"x": None}]
    assert back_rows[1] == ({"a": -1, "b": None}, [], {}, b"abcdefgh", None)


def test_manifest_avro_carries_field_ids(spark):
    """Iceberg requires field-id annotations in manifest avro schemas —
    the ids are how readers map columns across schema evolution."""
    root = _fresh("t_ice_fieldids")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_iceberg(nat, root)
    avros = [
        os.path.join(_meta_dir(root), n)
        for n in os.listdir(_meta_dir(root))
        if n.endswith(".avro")
    ]
    assert len(avros) == 2  # one manifest + one manifest list
    for p in avros:
        schema, _rows = parse_container(open(p, "rb").read())
        assert all("field-id" in f for f in schema["fields"]), p
    mlist = [p for p in avros if os.path.basename(p).startswith("snap-")][0]
    schema, _ = parse_container(open(mlist, "rb").read())
    ids = {f["name"]: f["field-id"] for f in schema["fields"]}
    assert ids["manifest_path"] == 500 and ids["added_snapshot_id"] == 503


def test_manifest_list_pruning_skips_unopened_manifests(spark):
    """Partition pruning must act at the MANIFEST LIST level: with two
    commits covering disjoint partition ranges, a partition_eq inside
    one range must never open the other commit's manifest — proven by
    deleting that manifest from disk and still reading correctly."""
    root = _fresh("t_ice_mprune")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name", "n_regionkey")
    write_iceberg(
        nat.where(F.col("n_regionkey") < 2), root, partition_by=["n_regionkey"]
    )
    write_iceberg(
        nat.where(F.col("n_regionkey") >= 2),
        root,
        partition_by=["n_regionkey"],
        mode="append",
    )
    manifests = sorted(
        os.path.join(_meta_dir(root), n)
        for n in os.listdir(_meta_dir(root))
        if n.endswith("-m0.avro")
    )
    assert len(manifests) == 2
    # find which manifest holds the >=2 range and delete the other
    for p in manifests:
        _, entries = parse_container(open(p, "rb").read())
        regions = {e[4]["partition"]["n_regionkey"] for e in entries}
        if regions <= {0, 1}:
            os.unlink(p)
            break
    else:
        raise AssertionError("no low-range manifest found")
    _, files = iceberg_live_files(root, partition_eq={"n_regionkey": 3})
    assert files  # resolved without touching the deleted manifest
    rows = read_iceberg(
        spark, root, partition_eq={"n_regionkey": 3}
    ).collect()
    assert {r["n_regionkey"] for r in rows} == {3}
    assert len(rows) == 5


def test_overwrite_snapshot_isolation(spark):
    """Overwrite's manifest list replaces prior manifests; the previous
    snapshot id still resolves the old state (time travel)."""
    root = _fresh("t_ice_overwrite")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    s0 = write_iceberg(nat.where(F.col("n_nationkey") < 5), root)
    s1 = write_iceberg(
        nat.where(F.col("n_nationkey") >= 20), root, mode="overwrite"
    )
    latest = sorted(
        r["n_nationkey"] for r in read_iceberg(spark, root).collect()
    )
    assert latest == [20, 21, 22, 23, 24]
    old = sorted(
        r["n_nationkey"]
        for r in read_iceberg(spark, root, snapshot_id=s0).collect()
    )
    assert old == [0, 1, 2, 3, 4]
    assert s1 != s0


def test_metadata_versions_and_hint(spark):
    """Each commit writes a new vN.metadata.json, bumps version-hint,
    and logs the prior metadata file in metadata-log."""
    root = _fresh("t_ice_vhint")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_iceberg(nat.where(F.col("n_nationkey") < 10), root)
    write_iceberg(
        nat.where(F.col("n_nationkey") >= 10), root, mode="append"
    )
    with open(os.path.join(_meta_dir(root), "version-hint.text")) as fh:
        assert fh.read().strip() == "2"
    with open(os.path.join(_meta_dir(root), "v2.metadata.json")) as fh:
        meta = json.load(fh)
    assert meta["format-version"] == 2
    assert len(meta["snapshots"]) == 2
    assert len(meta["metadata-log"]) == 1
    assert meta["metadata-log"][0]["metadata-file"].endswith("v1.metadata.json")
    # both metadata versions remain on disk (older readers keep working)
    assert os.path.exists(os.path.join(_meta_dir(root), "v1.metadata.json"))


def test_expire_snapshots_reclaims_unshared_files_only(spark):
    """expire_snapshots(retain=1) after append+overwrite drops the two
    old snapshots, deletes manifests/data files reachable ONLY from
    them, keeps everything the retained snapshot needs, and makes
    expired-snapshot reads fail loudly."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        expire_snapshots,
    )

    root = _fresh("t_ice_expire")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    s0 = write_iceberg(nat.where(F.col("n_nationkey") < 5), root)
    write_iceberg(
        nat.where(F.col("n_nationkey").between(5, 19)), root, mode="append"
    )
    write_iceberg(
        nat.where(F.col("n_nationkey") >= 20), root, mode="overwrite"
    )
    res = expire_snapshots(root, retain=1)
    assert res["snapshots"] == 2
    assert res["data_files"] > 0  # v0/v1 files were unshared with v2
    assert sorted(
        r["n_nationkey"] for r in read_iceberg(spark, root).collect()
    ) == [20, 21, 22, 23, 24]
    with _pytest.raises(ValueError, match="expired or unknown"):
        read_iceberg(spark, root, snapshot_id=s0)


def test_manifest_bounds_prune_strict_subset(spark):
    """iceberg_files_in_range must prune to a strict subset for a
    narrow range over range-clustered data, keep files without bounds,
    and decode the spec's single-value binary encoding round-trip."""
    import datetime as _dt

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _ice_decode_bound,
        _ice_encode_bound,
        iceberg_files_in_range,
        iceberg_live_files,
        read_iceberg_range,
    )

    # single-value serialization round-trips per type
    for t, v in (
        ("int", -42),
        ("long", 2**40),
        ("double", 3.5),
        ("string", "naïve"),
        ("timestamp", _dt.datetime(1996, 6, 1, 12, 30, 0, 250)),
        ("date", _dt.date(1996, 6, 1)),
    ):
        assert _ice_decode_bound(t, _ice_encode_bound(t, v)) == v

    root = _fresh("t_ice_skip")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(8, "o_orderdate")
    )
    write_iceberg(orders, root)
    _, all_files = iceberg_live_files(root)
    lo, hi = _dt.datetime(1996, 1, 1), _dt.datetime(1996, 12, 31, 23, 59, 59)
    _, pruned = iceberg_files_in_range(root, "o_orderdate", lo, hi)
    assert 0 < len(pruned) < len(all_files)
    got = read_iceberg_range(spark, root, "o_orderdate", lo, hi)
    want = read_iceberg(spark, root).where(
        F.col("o_orderdate").between(F.lit(lo), F.lit(hi))
    )
    assert got.count() == want.count() > 0


def test_schema_evolution_field_ids_and_snapshot_schema(spark):
    """Evolution must allocate fresh field-ids above last-column-id,
    append a new schema entry (keeping the old), stamp the new snapshot
    with the new schema-id, and keep time travel reading NARROW for
    pre-evolution snapshots. Non-additive changes refuse."""
    import pytest as _pytest

    root = _fresh("t_ice_evol")
    nat = load(spark, SF_DIR, "nation")
    s0 = write_iceberg(nat.select("n_nationkey", "n_name"), root)
    write_iceberg(
        nat.select("n_nationkey", "n_name", "n_regionkey"),
        root,
        mode="append",
    )
    _, meta = __import__(
        "atlas_migration_repo_spark.sources.iceberg_interop",
        fromlist=["_current_metadata"],
    )._current_metadata(root)
    assert len(meta["schemas"]) == 2
    assert meta["current-schema-id"] == 1
    new_field = [
        f for f in meta["schemas"][1]["fields"] if f["name"] == "n_regionkey"
    ][0]
    assert new_field["id"] == meta["last-column-id"] == 3
    assert meta["snapshots"][0]["schema-id"] == 0
    assert meta["snapshots"][1]["schema-id"] == 1
    # time travel to s0 reads the narrow schema
    old = read_iceberg(spark, root, snapshot_id=s0)
    assert old.columns == ["n_nationkey", "n_name"]
    # current read widens; nulls rows double (append duplicated keys)
    cur = read_iceberg(spark, root)
    assert cur.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert cur.where(F.col("n_regionkey").isNull()).count() == 25
    with _pytest.raises(ValueError, match="not additive"):
        write_iceberg(nat.select("n_nationkey"), root, mode="append")


def test_bucket_transform_spec_exact(spark):
    """The bucket transform must use murmur3 seed 0 over the spec's
    single-value serialization (published vectors asserted), place every
    row in its computed bucket, and prune point lookups to a strict
    file subset."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _bucket_of,
        iceberg_live_files,
        murmur3_32,
        transform_value,
    )

    # spec test vectors (iceberg.apache.org/spec appendix B)
    assert murmur3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert murmur3_32(b"iceberg") == 1210000089

    root = _fresh("t_ice_bucket")
    nat = load(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    write_iceberg(nat, root, partition_by=["bucket(4, n_nationkey)"])
    _, all_files = iceberg_live_files(root)
    # every row sits in the bucket its key hashes to
    for b in range(4):
        rows = read_iceberg(
            spark, root, partition_eq={"n_nationkey_bucket": b}
        ).collect()
        assert all(_bucket_of(r["n_nationkey"], 4) == b for r in rows)
    # point lookup prunes files
    pv = transform_value("bucket[4]", 17)
    _, pruned = iceberg_live_files(root, partition_eq={"n_nationkey_bucket": pv})
    assert 0 < len(pruned) < len(all_files)
    got = read_iceberg(
        spark, root, partition_eq={"n_nationkey_bucket": pv}
    ).where(F.col("n_nationkey") == 17)
    assert got.count() == 1
    # hidden: no bucket column in the read schema
    assert read_iceberg(spark, root).columns == ["n_nationkey", "n_name"]


def test_hidden_partitioning_is_hidden(spark):
    """year(col) partitioning must NOT surface a partition column in the
    table schema or reads; the transform + ordinal live only in the
    spec/manifests, prune file lists in metadata, and the source column
    reads back intact from the data files."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _current_metadata,
        iceberg_live_files,
        transform_value,
    )

    root = _fresh("t_ice_hidden")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    write_iceberg(orders, root, partition_by=["year(o_orderdate)"])
    _, meta = _current_metadata(root)
    spec = meta["partition-specs"][0]["fields"]
    assert spec[0]["transform"] == "year"
    assert spec[0]["name"] == "o_orderdate_year"
    assert all(
        f["name"] != "o_orderdate_year"
        for f in meta["schemas"][0]["fields"]
    )  # hidden: not a table column
    got = read_iceberg(spark, root)
    assert got.columns == ["o_orderkey", "o_totalprice", "o_orderdate"]
    assert got.count() == orders.count()
    # metadata pruning in transform space
    _, all_files = iceberg_live_files(root)
    pv = transform_value("year", "1996-06-15")
    _, pruned = iceberg_live_files(root, partition_eq={"o_orderdate_year": pv})
    assert 0 < len(pruned) < len(all_files)
    rows = read_iceberg(
        spark, root, partition_eq={"o_orderdate_year": pv}
    )
    years = {r[0] for r in rows.select(F.year("o_orderdate")).distinct().collect()}
    assert years == {1996}
    assert transform_value("year", "1996-01-01") == 26
    assert transform_value("month", "1970-02-01") == 1


def test_null_partition_value_round_trip(spark):
    """A null partition key must be typed-null in the manifest partition
    struct and read back as null."""
    root = _fresh("t_ice_nullpart")
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "b")], ["id", "k"])
    write_iceberg(df, root, partition_by=["k"])
    _, files = iceberg_live_files(root)
    assert any((f["partition"] or {}).get("k") is None for f in files)
    got = {r["id"]: r["k"] for r in read_iceberg(spark, root).collect()}
    assert got == {1: "a", 2: None, 3: "b"}
    nulls = read_iceberg(spark, root, partition_eq={"k": None}).collect()
    assert [r["id"] for r in nulls] == [2]


def test_mor_delete_rewrites_no_data_files(spark):
    """A positional (merge-on-read) delete must leave every data file in
    place — only tombstone files are added (content=1, in a content=1
    manifest) — and the read subtracts exactly the deleted rows."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        iceberg_live_state,
    )

    root = _fresh("ut_ice_mor_nodata")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(4, "o_orderdate")
    )
    write_iceberg(orders, root)
    _, datas0, dels0 = iceberg_live_state(root)
    assert dels0 == []
    before = {d["data_file"]["file_path"] for d in datas0}
    delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        __import__("datetime").datetime(1996, 1, 1),
        __import__("datetime").datetime(1996, 12, 31, 23, 59, 59),
    )
    _, datas1, dels1 = iceberg_live_state(root)
    after = {d["data_file"]["file_path"] for d in datas1}
    assert after == before, "MOR delete must not rewrite any data file"
    assert dels1 and all(
        d["data_file"]["content"] == 1 for d in dels1
    ), "delete files must be positional (content=1)"
    got = read_iceberg(spark, root).where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    assert got.count() == 0


def test_positional_delete_files_sorted(spark):
    """Rows inside each positional delete file must be sorted by
    (file_path, pos) — the spec's requirement for delete files."""
    import pyarrow.parquet as pq

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        iceberg_live_state,
    )

    root = _fresh("ut_ice_mor_sorted")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartition(4)  # NOT clustered: every file is a candidate
    )
    write_iceberg(orders, root)
    delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        __import__("datetime").datetime(1996, 1, 1),
        __import__("datetime").datetime(1996, 12, 31, 23, 59, 59),
    )
    _, _, dels = iceberg_live_state(root)
    assert dels
    for d in dels:
        t = pq.read_table(d["data_file"]["file_path"])
        rows = list(zip(t.column("file_path").to_pylist(), t.column("pos").to_pylist()))
        assert rows == sorted(rows), "delete file rows must be sorted"


def test_positional_delete_sequence_visibility(spark):
    """Spec rule: a positional delete applies only to data files with
    data_seq <= delete_seq. Rows appended AFTER the delete — even inside
    the deleted range — must survive."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
    )

    root = _fresh("ut_ice_mor_seqvis")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    in_96 = orders.where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    n_96 = in_96.count()
    assert n_96 > 0
    write_iceberg(orders, root)
    delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        __import__("datetime").datetime(1996, 1, 1),
        __import__("datetime").datetime(1996, 12, 31, 23, 59, 59),
    )
    # re-append the 1996 rows AFTER the delete: higher data_seq
    write_iceberg(in_96, root, mode="append")
    got = (
        read_iceberg(spark, root)
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .count()
    )
    assert got == n_96, "rows appended after the delete must survive it"


def test_equality_delete_strict_sequence(spark):
    """Spec rule: an equality delete applies only to data files with
    data_seq STRICTLY LESS than the delete's. Same-key rows appended
    after the delete survive; the original rows are gone."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_eq,
    )

    root = _fresh("ut_ice_eq_strict")
    cust = load(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    bld = cust.where(F.col("c_mktsegment") == "BUILDING")
    n_bld = bld.count()
    assert n_bld > 0
    write_iceberg(cust, root)
    keys = spark.createDataFrame([("BUILDING",)], "c_mktsegment string")
    delete_iceberg_eq(spark, root, keys, ["c_mktsegment"])
    assert (
        read_iceberg(spark, root)
        .where(F.col("c_mktsegment") == "BUILDING")
        .count()
        == 0
    )
    write_iceberg(bld, root, mode="append")
    got = (
        read_iceberg(spark, root)
        .where(F.col("c_mktsegment") == "BUILDING")
        .count()
    )
    assert got == n_bld, "same-key rows appended after the eq delete survive"


def test_rewrite_materializes_deletes(spark):
    """rewrite_iceberg compacts tombstones away: the new live state has
    ZERO delete files and identical content; the pre-rewrite snapshot
    still reads THROUGH its delete files (history intact); expiry then
    reclaims the orphaned tombstones."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        expire_snapshots,
        iceberg_live_state,
        rewrite_iceberg,
    )

    root = _fresh("ut_ice_rewrite")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(4, "o_orderdate")
    )
    write_iceberg(orders, root)
    sid_del = delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        __import__("datetime").datetime(1996, 1, 1),
        __import__("datetime").datetime(1996, 12, 31, 23, 59, 59),
    )
    n_after_del = read_iceberg(spark, root).count()
    del_files = [
        d["data_file"]["file_path"]
        for d in iceberg_live_state(root)[2]
    ]
    assert del_files
    rewrite_iceberg(spark, root)
    meta, datas, dels = iceberg_live_state(root)
    assert dels == [], "rewrite must leave no live delete files"
    assert read_iceberg(spark, root).count() == n_after_del
    # pre-rewrite snapshot still applies its tombstones
    assert read_iceberg(spark, root, snapshot_id=sid_del).count() == n_after_del
    # expiry down to the rewritten snapshot reclaims the delete files
    expire_snapshots(root, retain=1)
    assert all(not os.path.exists(p) for p in del_files)


def test_merge_is_one_snapshot_and_rewrites_nothing(spark):
    """merge_iceberg must commit exactly ONE new snapshot (atomic MERGE),
    leave every pre-merge data file live and byte-identical (O(source)
    cost), and express the update purely as an equality-delete +
    new data files in that snapshot's manifests."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        iceberg_live_state,
        merge_iceberg,
    )

    root = _fresh("ut_ice_merge_atomic")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(4, "o_orderkey")
    )
    write_iceberg(orders, root)
    meta0, datas0, _ = iceberg_live_state(root)
    sizes0 = {
        d["data_file"]["file_path"]: os.path.getsize(d["data_file"]["file_path"])
        for d in datas0
    }
    n_snap0 = len(meta0["snapshots"])
    src = orders.where(F.col("o_orderkey") % 7 == 3).withColumn(
        "o_orderstatus", F.lit("X")
    )
    n_src = src.count()
    merge_iceberg(spark, root, src, on=["o_orderkey"])
    meta1, datas1, dels1 = iceberg_live_state(root)
    assert len(meta1["snapshots"]) == n_snap0 + 1, "merge must be one snapshot"
    live1 = {d["data_file"]["file_path"] for d in datas1}
    assert set(sizes0) <= live1, "pre-merge data files must stay live"
    for p, sz in sizes0.items():
        assert os.path.getsize(p) == sz, "pre-merge files must be untouched"
    assert dels1 and all(d["data_file"]["content"] == 2 for d in dels1)
    got = read_iceberg(spark, root)
    assert got.where(F.col("o_orderstatus") == "X").count() == n_src
    assert got.count() == orders.count()
    # keys are unique post-merge (upsert, not append)
    assert (
        got.groupBy("o_orderkey").count().where(F.col("count") > 1).count() == 0
    )


def test_timestamp_as_of_both_formats(spark):
    """TIMESTAMP AS OF must resolve to the newest commit at-or-before
    the target in BOTH formats, match the version/snapshot-pinned read
    exactly, and refuse a pre-table timestamp loudly."""
    import time as _time

    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        delta_version_as_of,
        read_delta,
        write_delta,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        iceberg_snapshot_as_of,
    )

    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    a = orders.where(F.col("o_orderkey") % 2 == 0)
    b = orders.where(F.col("o_orderkey") % 2 == 1)

    # Iceberg
    root = _fresh("ut_ice_ts_travel")
    s0 = write_iceberg(a, root)
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    write_iceberg(b, root, mode="append")
    sid = iceberg_snapshot_as_of(root, t_mid)
    assert sid == s0
    got = read_iceberg(spark, root, timestamp_ms=t_mid)
    assert got.count() == a.count()
    assert read_iceberg(spark, root).count() == orders.count()
    with _pytest.raises(ValueError, match="at or before"):
        iceberg_snapshot_as_of(root, 1)

    # Delta
    droot = _fresh("ut_delta_ts_travel")
    write_delta(a, droot)
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    write_delta(b, droot, mode="append")
    assert delta_version_as_of(droot, t_mid) == 0
    assert read_delta(spark, droot, timestamp_ms=t_mid).count() == a.count()
    with _pytest.raises(ValueError, match="at or before"):
        delta_version_as_of(droot, 1)


def test_meta_tables_manifest_contents(spark):
    """`.manifests` must list the current snapshot's manifest-list rows
    with correct content flags (data vs deletes) and counts."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        iceberg_meta_table,
    )

    root = _fresh("ut_ice_meta_man")
    orders = (
        load(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .repartitionByRange(4, "o_orderdate")
    )
    write_iceberg(orders, root)
    delete_iceberg_where(
        spark,
        root,
        "o_orderdate",
        __import__("datetime").datetime(1996, 1, 1),
        __import__("datetime").datetime(1996, 12, 31, 23, 59, 59),
    )
    man = iceberg_meta_table(spark, root, "manifests")
    rows = {r["content"]: r for r in man.collect()}
    assert set(rows) == {0, 1}, "one data + one delete manifest"
    assert rows[0]["added_files_count"] == 4
    assert rows[1]["added_rows_count"] > 0


def test_refs_protect_snapshots_from_expiry(spark):
    """expire_snapshots must keep a TAGGED snapshot (and everything it
    references) alive even when retention would drop it; dropping the
    ref releases it."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        expire_snapshots,
        iceberg_create_ref,
        iceberg_drop_ref,
    )

    root = _fresh("ut_ice_refs_expire")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    third = F.col("o_orderkey") % 3
    s0 = write_iceberg(orders.where(third == 0), root, mode="append")
    iceberg_create_ref(root, "keep_me", "tag", snapshot_id=s0)
    write_iceberg(orders.where(third == 1), root, mode="append")
    write_iceberg(orders.where(third == 2), root, mode="append")
    stats = expire_snapshots(root, retain=1)
    assert stats["snapshots"] == 1  # only the untagged middle snapshot
    got = read_iceberg(spark, root, ref="keep_me")
    assert got.count() == orders.where(third == 0).count()
    iceberg_drop_ref(root, "keep_me")
    stats = expire_snapshots(root, retain=1)
    assert stats["snapshots"] == 1  # now the tagged one goes too


def test_model_check_mor_commit_sequences(spark):
    """Model-check the merge-on-read machinery: a seeded random sequence
    of append / positional-delete / MOR-merge / rewrite commits against
    a plain Python dict model — EVERY recorded snapshot must read back
    exactly its model state (snapshot isolation + sequence-number
    visibility, checked across 11 commits)."""
    import random

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        merge_iceberg,
        read_iceberg,
        rewrite_iceberg,
    )

    rng = random.Random(42)
    root = _fresh("ut_ice_model_mor")
    schema = "k bigint, val double"

    def df_of(rows):
        return spark.createDataFrame(rows, schema)

    rows = [(i, float(i)) for i in range(200)]
    sid = write_iceberg(df_of(rows), root, mode="append")
    model = dict(rows)
    snaps = [(sid, dict(model))]
    next_key = 1000
    for _step in range(10):
        op = rng.choice(["append", "delete", "merge", "rewrite"])
        if op == "append":
            new = [
                (next_key + i, float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 40))
            ]
            next_key += 100
            sid = write_iceberg(df_of(new), root, mode="append")
            model.update(dict(new))
        elif op == "delete":
            lo = rng.randint(0, 1200)
            hi = lo + rng.randint(0, 300)
            sid = delete_iceberg_where(spark, root, "k", lo, hi)
            model = {k: v for k, v in model.items() if not (lo <= k <= hi)}
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
            sid = merge_iceberg(spark, root, df_of(src), on=["k"])
            model.update(dict(src))
        else:
            sid = rewrite_iceberg(spark, root)
        snaps.append((sid, dict(model)))
    for i, (sid, expect) in enumerate(snaps):
        got = {
            r["k"]: r["val"]
            for r in read_iceberg(spark, root, snapshot_id=sid).collect()
        }
        assert got == expect, f"snapshot {i} (id {sid}) diverged from model"


def test_incremental_scan_composes_and_rejects_non_appends(spark):
    """Incremental append scans must compose — appends(s1,s2) ∪
    appends(s2,s3) == appends(s1,s3) — include the first snapshot when
    from=None, and raise on a delete snapshot in range (its effect is
    not expressible as added rows)."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        read_iceberg_incremental,
    )

    root = _fresh("ut_ice_incr")
    schema = "k bigint, val double"
    sids = []
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 100)], schema
        )
        sids.append(write_iceberg(df, root, mode="append"))

    def keys(df):
        return {r["k"] for r in df.collect()}

    a = keys(read_iceberg_incremental(spark, root, sids[0], sids[1]))
    b = keys(read_iceberg_incremental(spark, root, sids[1], sids[2]))
    full = keys(read_iceberg_incremental(spark, root, sids[0], sids[2]))
    assert a == set(range(100, 200)) and b == set(range(200, 300))
    assert a | b == full
    assert keys(read_iceberg_incremental(spark, root)) == set(range(300))

    d = delete_iceberg_where(spark, root, "k", 0, 50)
    with _pytest.raises(RuntimeError, match="not append-only"):
        read_iceberg_incremental(spark, root, sids[0], d)
    # a range entirely past the delete is still consumable
    assert keys(read_iceberg_incremental(spark, root, d, d)) == set()


def test_stream_added_lists_exactly_the_appended_files(spark):
    """iceberg_stream's callbacks, called without a stream: on an
    append-only history `_stream_added(root, lo, hi)` lists exactly the
    data files the snapshots with sequence number in (lo, hi] added."""
    from atlas_migration_repo_spark.sources import iceberg_interop as I

    root = _fresh("ut_ice_stream_added")
    schema = "k bigint, val double"
    sids = [
        write_iceberg(
            spark.createDataFrame([(i, float(i)) for i in range(lo, lo + 50)], schema),
            root,
            mode="append",
        )
        for lo in (0, 50, 100)
    ]

    def live(sid):
        return {
            os.path.abspath(d["data_file"]["file_path"])
            for d in I.iceberg_live_state(root, sid)[1]
        }

    assert I._stream_latest(root) == 3
    got = [os.path.abspath(p) for p, c in I._stream_added(root, 1, 3)]
    assert sorted(got) == sorted(live(sids[2]) - live(sids[0]))
    assert {os.path.abspath(p) for p, _ in I._stream_added(root, None, 1)} == live(sids[0])


def test_remove_orphan_files_keeps_all_history(spark):
    """remove_orphan_files must delete exactly the crashed-writer debris
    (uncommitted parquet in data/, abandoned .stage-* dirs) and nothing
    referenced by ANY snapshot — including files whose manifest entry is
    DELETED in the current snapshot but live in an older one. Every
    snapshot must read back unchanged; a second call returns []."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        read_iceberg,
        remove_orphan_files,
    )

    root = _fresh("ut_ice_orphans")
    schema = "k bigint, val double"
    s1 = write_iceberg(
        spark.createDataFrame([(i, float(i)) for i in range(100)], schema),
        root,
        mode="append",
    )
    s2 = write_iceberg(
        spark.createDataFrame([(i, float(i)) for i in range(100, 200)], schema),
        root,
        mode="append",
    )
    d = delete_iceberg_where(spark, root, "k", 0, 49)
    orphan = os.path.join(root, "data", "deadbeef-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    os.makedirs(os.path.join(root, ".stage-dead", "x"), exist_ok=True)

    # a FRESH orphan must survive the default 3-day grace window
    # (in-flight-writer protection), then fall to an immediate pass
    assert remove_orphan_files(root) == []
    deleted = remove_orphan_files(root, older_than_ms=0)
    assert any("deadbeef-orphan" in p for p in deleted)
    assert any(".stage-dead" in p for p in deleted)
    assert len(deleted) == 2, f"over-deleted: {deleted}"
    assert not os.path.exists(orphan)

    for sid, expect in ((s1, set(range(100))), (s2, set(range(200))),
                        (d, set(range(50, 200)))):
        got = {r["k"] for r in read_iceberg(spark, root, snapshot_id=sid).collect()}
        assert got == expect, f"snapshot {sid} changed after orphan cleanup"
    assert remove_orphan_files(root, older_than_ms=0) == []


def test_concurrent_iceberg_appends_lose_nothing(spark):
    """Optimistic concurrency: racing appenders must produce ONE winner
    per metadata version and zero lost updates — the loser gets
    ConcurrentIcebergCommitError and retries against the fresh state.
    4 writers x 2 appends each: all 8 snapshots commit, every row is
    present exactly once, and the metadata versions are dense."""
    import threading

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        ConcurrentIcebergCommitError,
        _current_metadata,
        read_iceberg,
    )

    root = _fresh("ut_ice_race")
    write_iceberg(
        spark.createDataFrame([(0, 0.0)], "k bigint, val double"),
        root,
        mode="append",
    )
    errs = []

    def writer(wid):
        try:
            for j in range(2):
                base = 1000 * (wid + 1) + 100 * j
                df = spark.createDataFrame(
                    [(base + i, float(i)) for i in range(5)],
                    "k bigint, val double",
                )
                for _attempt in range(30):
                    try:
                        write_iceberg(df, root, mode="append")
                        break
                    except ConcurrentIcebergCommitError:
                        continue
                else:
                    raise RuntimeError(f"writer {wid} starved")
        except Exception as e:  # surfaced in the main thread
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    want = sorted(
        [0]
        + [
            1000 * (w + 1) + 100 * j + i
            for w in range(4)
            for j in range(2)
            for i in range(5)
        ]
    )
    assert got == want, "lost or duplicated rows under concurrent appends"
    v, meta = _current_metadata(root)
    assert len(meta["snapshots"]) == 9
    assert v == 9, f"metadata versions not dense: v{v} for 9 snapshots"


def test_stale_version_hint_never_rolls_back(spark):
    """version-hint.text is advisory: a writer that published its
    metadata file but crashed before the hint write (or a hint rolled
    back by a laggy copy) must not hide the newest committed version —
    readers probe forward from the hint."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _current_metadata,
        read_iceberg,
    )

    root = _fresh("ut_ice_hint")
    schema = "k bigint, val double"
    write_iceberg(spark.createDataFrame([(1, 1.0)], schema), root, mode="append")
    write_iceberg(spark.createDataFrame([(2, 2.0)], schema), root, mode="append")
    hint = os.path.join(root, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("1")  # simulate the crash-before-hint-update window
    v, _meta = _current_metadata(root)
    assert v == 2, "reader must probe past a stale hint"
    assert {r["k"] for r in read_iceberg(spark, root).collect()} == {1, 2}
    os.unlink(hint)  # crashed before the FIRST hint write
    v, _meta = _current_metadata(root)
    assert v == 2


def test_partitioned_mor_deletes(spark):
    """MOR row-level deletes on an identity-PARTITIONED table: positional
    tombstones and equality deletes subtract rows without rewriting any
    data file, partition columns still reattach from metadata after the
    anti-joins, partition-pruned reads honor the deletes, earlier
    snapshots stay intact, and metadata-only partition columns are
    refused as predicates/keys."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_eq,
        delete_iceberg_where,
        iceberg_live_state,
        read_iceberg,
    )

    root = _fresh("ut_ice_part_mor")
    rows = [(i, f"p{i % 3}", float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "k bigint, part string, val double")
    s1 = write_iceberg(df, root, partition_by=["part"], mode="append")
    model = {k: (p, v) for k, p, v in rows}

    files_before = {
        d["data_file"]["file_path"] for d in iceberg_live_state(root)[1]
    }
    d1 = delete_iceberg_where(spark, root, "k", 50, 149)
    model1 = {k: pv for k, pv in model.items() if not (50 <= k <= 149)}
    got = {r["k"]: (r["part"], r["val"]) for r in read_iceberg(spark, root).collect()}
    assert got == model1
    files_after = {
        d["data_file"]["file_path"] for d in iceberg_live_state(root)[1]
    }
    assert files_after == files_before, "MOR delete must rewrite no data file"

    keys = spark.createDataFrame([(200,), (201,), (250,)], "k bigint")
    delete_iceberg_eq(spark, root, keys, on=["k"])
    model2 = {k: pv for k, pv in model1.items() if k not in (200, 201, 250)}
    got = {r["k"]: (r["part"], r["val"]) for r in read_iceberg(spark, root).collect()}
    assert got == model2

    # partition-pruned read still subtracts the tombstones
    p0 = {
        r["k"]
        for r in read_iceberg(spark, root, partition_eq={"part": "p0"}).collect()
    }
    assert p0 == {k for k, (p, _v) in model2.items() if p == "p0"}
    # snapshot isolation: s1 and the post-positional-delete snapshot
    assert {
        r["k"] for r in read_iceberg(spark, root, snapshot_id=s1).collect()
    } == set(model)
    assert {
        r["k"] for r in read_iceberg(spark, root, snapshot_id=d1).collect()
    } == set(model1)

    with _pytest.raises(ValueError, match="identity partition column"):
        delete_iceberg_where(spark, root, "part", "p0", "p0")
    with _pytest.raises(ValueError, match="identity partition columns"):
        delete_iceberg_eq(spark, root, spark.createDataFrame([("p0",)], "part string"), on=["part"])


def test_partitioned_iceberg_merge_mor(spark):
    """MOR MERGE on an identity-partitioned table: one atomic snapshot
    of equality-delete keys + partitioned source files. Updates replace
    matched rows (even moving them across partitions), inserts land in
    their partitions, no pre-existing data file is rewritten, and
    manifest partition summaries cover the new files (pruned reads stay
    correct). Merging ON an identity partition column is refused."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        iceberg_live_state,
        merge_iceberg,
        read_iceberg,
    )

    root = _fresh("ut_ice_part_merge")
    rows = [(i, f"p{i % 3}", float(i)) for i in range(300)]
    schema = "k bigint, part string, val double"
    s1 = write_iceberg(
        spark.createDataFrame(rows, schema), root, partition_by=["part"],
        mode="append",
    )
    model = {k: (p, v) for k, p, v in rows}
    files_before = {
        d["data_file"]["file_path"] for d in iceberg_live_state(root)[1]
    }
    src = [(0, "p0", 111.0), (1, "p0", 222.0), (1000, "p2", 333.0)]
    merge_iceberg(spark, root, spark.createDataFrame(src, schema), on=["k"])
    model.update({k: (p, v) for k, p, v in src})
    got = {
        r["k"]: (r["part"], r["val"]) for r in read_iceberg(spark, root).collect()
    }
    assert got == model
    files_after = {
        d["data_file"]["file_path"] for d in iceberg_live_state(root)[1]
    }
    assert files_before < files_after, "old data files must survive untouched"
    # pruned read of the partition the k=1 row MOVED INTO
    p0 = {
        r["k"]
        for r in read_iceberg(spark, root, partition_eq={"part": "p0"}).collect()
    }
    assert p0 == {k for k, (p, _v) in model.items() if p == "p0"}
    # ...and the one it left
    p1 = {
        r["k"]
        for r in read_iceberg(spark, root, partition_eq={"part": "p1"}).collect()
    }
    assert p1 == {k for k, (p, _v) in model.items() if p == "p1"}
    # snapshot isolation
    assert {
        r["k"] for r in read_iceberg(spark, root, snapshot_id=s1).collect()
    } == set(range(300))
    with _pytest.raises(ValueError, match="identity partition columns"):
        merge_iceberg(
            spark, root, spark.createDataFrame(src, schema), on=["part"]
        )


def test_partitioned_iceberg_merge_dv(spark):
    """DV MERGE on an identity-partitioned table: matched rows tombstone
    via Puffin DVs (partition-agnostic, keyed by (file, pos)), source
    rows land partitioned, updates move rows across partitions, no data
    file is rewritten, no v2 delete file ever lands, and partition-
    pruned reads stay correct. Merging ON an identity partition column
    is refused (key values live only in metadata)."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        iceberg_live_state,
        merge_iceberg_dv,
        read_iceberg,
    )

    root = _fresh("ut_ice_part_merge_dv")
    rows = [(i, f"p{i % 3}", float(i)) for i in range(300)]
    schema = "k bigint, part string, val double"
    s1 = write_iceberg(
        spark.createDataFrame(rows, schema), root, partition_by=["part"],
        mode="append",
    )
    model = {k: (p, v) for k, p, v in rows}
    files_before = {
        d["data_file"]["file_path"] for d in iceberg_live_state(root)[1]
    }
    src = [(0, "p0", 111.0), (1, "p0", 222.0), (1000, "p2", 333.0)]
    merge_iceberg_dv(spark, root, spark.createDataFrame(src, schema), on=["k"])
    model.update({k: (p, v) for k, p, v in src})
    got = {
        r["k"]: (r["part"], r["val"]) for r in read_iceberg(spark, root).collect()
    }
    assert got == model
    _, datas, deletes = iceberg_live_state(root)
    files_after = {d["data_file"]["file_path"] for d in datas}
    assert files_before < files_after, "old data files must survive untouched"
    assert deletes and all(
        d["data_file"].get("file_format") == "PUFFIN" for d in deletes
    ), "DV merge must land only Puffin deletion vectors"
    p0 = {
        r["k"]
        for r in read_iceberg(spark, root, partition_eq={"part": "p0"}).collect()
    }
    assert p0 == {k for k, (p, _v) in model.items() if p == "p0"}
    p1 = {
        r["k"]
        for r in read_iceberg(spark, root, partition_eq={"part": "p1"}).collect()
    }
    assert p1 == {k for k, (p, _v) in model.items() if p == "p1"}
    assert {
        r["k"] for r in read_iceberg(spark, root, snapshot_id=s1).collect()
    } == set(range(300))
    with _pytest.raises(ValueError, match="identity partition columns"):
        merge_iceberg_dv(
            spark, root, spark.createDataFrame(src, schema), on=["part"]
        )


def test_model_check_partitioned_mor_sequences(spark):
    """Partitioned twin of the MOR model check: seeded random append /
    positional-delete / equality-merge (sometimes partition-moving) /
    rewrite commits on an identity-partitioned table — every recorded
    snapshot must read back exactly its model state including each
    row's partition."""
    import random

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        merge_iceberg,
        read_iceberg,
        rewrite_iceberg,
    )

    rng = random.Random(31)
    root = _fresh("ut_ice_model_part_mor")
    schema = "k bigint, part string, val double"

    def df_of(rows):
        return spark.createDataFrame(rows, schema)

    def part_of(k):
        return f"p{k % 3}"

    rows = [(i, part_of(i), float(i)) for i in range(200)]
    sid = write_iceberg(df_of(rows), root, partition_by=["part"], mode="append")
    model = {k: (p, v) for k, p, v in rows}
    snaps = [(sid, dict(model))]
    next_key = 1000
    for _step in range(10):
        op = rng.choice(["append", "delete", "merge", "rewrite"])
        if op == "append":
            new = [
                (next_key + i, part_of(next_key + i), float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 40))
            ]
            next_key += 100
            sid = write_iceberg(
                df_of(new), root, partition_by=["part"], mode="append"
            )
            model.update({k: (p, v) for k, p, v in new})
        elif op == "delete":
            lo = rng.randint(0, 1200)
            hi = lo + rng.randint(0, 300)
            sid = delete_iceberg_where(spark, root, "k", lo, hi)
            model = {k: pv for k, pv in model.items() if not (lo <= k <= hi)}
        elif op == "merge":
            keys = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 30)))
                if model
                else []
            )
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
            sid = merge_iceberg(spark, root, df_of(src), on=["k"])
            model.update({k: (p, v) for k, p, v in src})
        else:
            sid = rewrite_iceberg(spark, root)
        snaps.append((sid, dict(model)))
    for i, (sv, expect) in enumerate(snaps):
        got = {
            r["k"]: (r["part"], r["val"])
            for r in read_iceberg(spark, root, snapshot_id=sv).collect()
        }
        assert got == expect, f"snapshot {i} (id {sv}) diverged from model"


def test_rewrite_preserves_hidden_partitioning(spark):
    """rewrite_iceberg on a hidden-partitioned (month transform) table:
    the compaction re-declares the table's own spec, so post-rewrite
    files still carry transform-space partition values (pruning
    survives compaction) and a MOR delete materializes away."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        iceberg_live_state,
        read_iceberg,
        rewrite_iceberg,
    )

    root = _fresh("ut_ice_rewrite_hidden")
    df = spark.createDataFrame(
        [(i, f"2024-{1 + i % 3:02d}-15", float(i)) for i in range(120)],
        "k bigint, d string, val double",
    ).withColumn("d", F.col("d").cast("date"))
    write_iceberg(df, root, partition_by=["month(d)"], mode="append")
    delete_iceberg_where(spark, root, "k", 0, 29)
    expect = {k for k in range(30, 120)}
    rewrite_iceberg(spark, root)
    meta, datas, dels = iceberg_live_state(root)
    assert not dels, "rewrite must materialize deletes away"
    assert all(
        d["data_file"]["partition"].get("d_month") is not None for d in datas
    ), "post-rewrite files must keep transform-space partition values"
    assert {r["k"] for r in read_iceberg(spark, root).collect()} == expect


def test_iceberg_type_promotion_evolution(spark):
    """Spec-safe type promotion (int→long) by appending with the wider
    type: the field keeps its id in a new schema entry, the current
    snapshot reads BOTH generations exactly (old 4-byte files promote
    at scan), the pre-promotion snapshot keeps its narrow schema, MOR
    range deletes decode the old manifests' 4-byte bounds correctly,
    and narrowing refuses."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        read_iceberg,
    )

    root = _fresh("ut_ice_promote")
    a = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k bigint, metric int"
    )
    s1 = write_iceberg(a, root, mode="append")
    b = spark.createDataFrame(
        [(i, i * 10_000_000_000) for i in range(50, 80)], "k bigint, metric bigint"
    )
    write_iceberg(b, root, mode="append")
    df = read_iceberg(spark, root)
    assert dict(df.dtypes)["metric"] == "bigint"
    got = {r["k"]: r["metric"] for r in df.collect()}
    want = {i: i * 10 for i in range(50)}
    want.update({i: i * 10_000_000_000 for i in range(50, 80)})
    assert got == want
    old = read_iceberg(spark, root, snapshot_id=s1)
    assert dict(old.dtypes)["metric"] == "int"
    assert {r["k"] for r in old.collect()} == set(range(50))

    # MOR delete across the promotion boundary: candidates pruned from
    # bounds that mix 4-byte (old) and 8-byte (new) encodings
    delete_iceberg_where(spark, root, "metric", 100, 510_000_000_000)
    survivors = {r["k"] for r in read_iceberg(spark, root).collect()}
    gone = {k for k, m in want.items() if 100 <= m <= 510_000_000_000}
    assert survivors == set(want) - gone

    with _pytest.raises(ValueError, match="not additive"):
        write_iceberg(
            spark.createDataFrame([(99, 1)], "k bigint, metric int"),
            root,
            mode="append",
        )


def test_iceberg_native_rename_by_field_id(spark):
    """True Iceberg RENAME: a metadata-only commit renames a column by
    keeping its field id; pre-rename files (written under the old name)
    read correctly under the new name via parquet field-id resolution —
    zero files rewritten. Pinned pre-rename snapshots keep the old
    name; appends after the rename use the new name; MOR equality
    deletes written before the rename still subtract (positional key
    resolution); identity partition columns and foreign tables refuse."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_eq,
        read_iceberg,
        rename_iceberg_column,
    )

    root = _fresh("ut_ice_rename")
    schema = "k bigint, val double"
    s1 = write_iceberg(
        spark.createDataFrame([(i, float(i)) for i in range(100)], schema),
        root,
        mode="append",
    )
    delete_iceberg_eq(
        spark, root, spark.createDataFrame([(7,), (8,)], "k bigint"), on=["k"]
    )
    rename_iceberg_column(root, "val", "score")
    df = read_iceberg(spark, root)
    assert df.columns == ["k", "score"]
    got = {r["k"]: r["score"] for r in df.collect()}
    assert got == {i: float(i) for i in range(100) if i not in (7, 8)}
    # pinned pre-rename snapshot keeps the old name
    old = read_iceberg(spark, root, snapshot_id=s1)
    assert old.columns == ["k", "val"]
    assert len(old.collect()) == 100
    # appends under the NEW name; old-name appends refuse
    write_iceberg(
        spark.createDataFrame([(1000, 5.5)], "k bigint, score double"),
        root,
        mode="append",
    )
    got = {r["k"]: r["score"] for r in read_iceberg(spark, root).collect()}
    assert got[1000] == 5.5 and got[3] == 3.0
    with _pytest.raises(ValueError, match="not additive"):
        write_iceberg(
            spark.createDataFrame([(2000, 9.9)], "k bigint, val double"),
            root,
            mode="append",
        )
    # identity partition column refuses
    proot = _fresh("ut_ice_rename_part")
    write_iceberg(
        spark.createDataFrame([(1, "p0", 1.0)], "k bigint, part string, v double"),
        proot,
        partition_by=["part"],
        mode="append",
    )
    with _pytest.raises(ValueError, match="identity partition"):
        rename_iceberg_column(proot, "part", "bucket")
    # ...but a data column on a partitioned table renames fine
    rename_iceberg_column(proot, "v", "value")
    assert read_iceberg(spark, proot).columns == ["k", "part", "value"]


import pytest


@pytest.mark.parametrize("store_name", ["posix_link", "coordinated_put"])
def test_iceberg_concurrent_append_race(spark, store_name):
    """VERDICT r5 #1: the Iceberg bridge publishes vN.metadata.json
    through the same LogStore seam as TableLog. 4 threads each append 4
    batches; Iceberg's optimistic protocol RAISES on a lost race (the
    caller re-reads and redoes), so writers retry at the application
    level. Every metadata version must be dense and unique, no append
    lost or duplicated — under both stores."""
    import threading

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        ConcurrentIcebergCommitError,
        _current_metadata,
    )
    from atlas_migration_repo_spark.sources.table_log import (
        CoordinatedPutLogStore,
        PosixLinkLogStore,
        set_default_log_store,
    )

    mk = {
        "posix_link": PosixLinkLogStore,
        "coordinated_put": CoordinatedPutLogStore,
    }[store_name]
    root = _fresh(f"t_ice_race_{store_name}")
    set_default_log_store(mk())
    try:
        # seed OUTSIDE the race (v1 carries the schema; racing table
        # creation is not an append race)
        write_iceberg(
            spark.range(10_000, 10_010).select("id").coalesce(1),
            root,
            mode="append",
        )
        errors: list[Exception] = []

        def writer(tid: int) -> None:
            try:
                for j in range(4):
                    lo = (tid * 4 + j) * 100
                    batch = spark.range(lo, lo + 100).select("id").coalesce(1)
                    for _attempt in range(200):
                        try:
                            write_iceberg(batch, root, mode="append")
                            break
                        except ConcurrentIcebergCommitError:
                            continue  # re-read current metadata and redo
                    else:  # pragma: no cover
                        raise AssertionError("append starved after 200 tries")
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        v, _meta = _current_metadata(root)
        assert v == 17, v  # seed + 16 appends, dense versions v1..v17
        for k in range(1, 18):
            assert os.path.exists(
                os.path.join(_meta_dir(root), f"v{k}.metadata.json")
            )
        got = sorted(r["id"] for r in read_iceberg(spark, root).collect())
        assert got == list(range(1600)) + list(range(10_000, 10_010))
    finally:
        set_default_log_store(None)


def test_reverse_uniform_refusals_and_parity(spark):
    """publish_delta_log_from_iceberg must refuse exactly the states
    that would lie to a Delta reader — live MOR delete files (rows
    would resurrect) and renamed columns (files carry old names Delta
    reader 1 cannot resolve) — and after the documented bridges
    (rewrite_iceberg / no rename) both readers must see identical rows.
    Re-publishing over an existing _delta_log must also refuse."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        publish_delta_log_from_iceberg,
        read_delta,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_where,
        rewrite_iceberg,
    )

    root = _fresh("t_rev_uniform")
    orders = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_iceberg(orders.repartition(2), root)
    delete_iceberg_where(spark, root, "o_totalprice", 100000, 10**9)
    keep = orders.where("NOT (o_totalprice BETWEEN 100000 AND 1000000000)").count()
    with _pytest.raises(ValueError, match="delete files"):
        publish_delta_log_from_iceberg(spark, root)
    rewrite_iceberg(spark, root)
    publish_delta_log_from_iceberg(spark, root)
    assert read_delta(spark, root).count() == keep
    assert read_iceberg(spark, root).count() == keep
    with _pytest.raises(FileExistsError):
        publish_delta_log_from_iceberg(spark, root)


def test_reverse_uniform_refuses_renamed_column(spark):
    from atlas_migration_repo_spark.sources.delta_interop import (
        publish_delta_log_from_iceberg,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        rename_iceberg_column,
    )
    import pytest as _pytest

    root = _fresh("t_rev_uniform_rename")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_iceberg(orders, root)
    rename_iceberg_column(root, "o_totalprice", "price")
    with _pytest.raises(ValueError, match="renamed"):
        publish_delta_log_from_iceberg(spark, root)


def test_uniform_sync_semantics(spark):
    """sync_iceberg_metadata_from_delta: a repeat sync is a NO-OP (same
    snapshot id, no new snapshot), the pre-sync snapshot still time
    travels to the stale half, additive Delta evolution lands as a new
    Iceberg schema, and live DVs refuse."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        purge_delta_dv,
        read_delta,
        write_delta,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _current_metadata,
        publish_iceberg_metadata_from_delta,
        sync_iceberg_metadata_from_delta,
    )

    root = _fresh("t_uniform_sync")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    half_a = orders.where("o_orderkey % 2 = 0")
    half_b = orders.where("o_orderkey % 2 = 1")
    write_delta(half_a, root)
    s1 = publish_iceberg_metadata_from_delta(spark, root)
    # no new delta commits -> sync is a no-op returning the current snap
    assert sync_iceberg_metadata_from_delta(spark, root) == s1
    assert len(_current_metadata(root)[1]["snapshots"]) == 1

    write_delta(half_b, root, mode="append")
    s2 = sync_iceberg_metadata_from_delta(spark, root)
    assert s2 != s1
    assert read_iceberg(spark, root).count() == orders.count()
    # append-only histories sync O(delta): the new snapshot is an
    # APPEND carrying the prior manifests forward plus one manifest
    # over only the new files
    from atlas_migration_repo_spark.sources.avro import parse_container

    meta2 = _current_metadata(root)[1]
    snap2 = next(
        s_ for s_ in meta2["snapshots"] if s_["snapshot-id"] == s2
    )
    assert snap2["summary"]["operation"] == "append"
    _, rows = parse_container(open(snap2["manifest-list"], "rb").read())
    assert len(rows) >= 2, "prior manifests not carried forward"
    # the pre-sync snapshot still serves the stale half (time travel)
    assert read_iceberg(spark, root, snapshot_id=s1).count() == half_a.count()
    # repeat sync: no-op again
    assert sync_iceberg_metadata_from_delta(spark, root) == s2
    assert len(_current_metadata(root)[1]["snapshots"]) == 2

    # additive evolution: new column becomes a new Iceberg schema
    write_delta(
        half_b.limit(3).withColumn("channel", F.lit("web")),
        root,
        mode="append",
    )
    s3 = sync_iceberg_metadata_from_delta(spark, root)
    meta = _current_metadata(root)[1]
    cur_fields = meta["schemas"][meta["current-schema-id"]]["fields"]
    assert any(f["name"] == "channel" for f in cur_fields)
    got = read_iceberg(spark, root)
    assert got.where(F.col("channel").isNotNull()).count() == 3

    # live DVs bridge to positional deletes: both readers agree with
    # no PURGE required
    delete_delta_dv(spark, root, "o_totalprice > 100000")
    s4 = sync_iceberg_metadata_from_delta(spark, root)
    assert s4 not in (s1, s2, s3)
    assert read_iceberg(spark, root).count() == read_delta(spark, root).count()
    # and PURGE afterwards still converges (DVs materialized away)
    purge_delta_dv(spark, root)
    s5 = sync_iceberg_metadata_from_delta(spark, root)
    assert read_iceberg(spark, root).count() == read_delta(spark, root).count()


def test_reverse_uniform_sync(spark):
    """sync_delta_log_from_iceberg keeps the grafted _delta_log current
    across later Iceberg commits: appends surface as add-only commits,
    an overwrite surfaces as remove+add, repeats no-op, and additive
    Iceberg evolution lands as a Delta metaData action."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        _committed_versions,
        _log_dir,
        publish_delta_log_from_iceberg,
        read_delta,
        sync_delta_log_from_iceberg,
    )

    root = _fresh("t_rev_uniform_sync")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    half_a = orders.where("o_orderkey % 2 = 0")
    half_b = orders.where("o_orderkey % 2 = 1")
    write_iceberg(half_a, root)
    publish_delta_log_from_iceberg(spark, root)
    v0_commits = len(_committed_versions(_log_dir(root)))
    # nothing new -> no-op, no commit
    sync_delta_log_from_iceberg(spark, root)
    assert len(_committed_versions(_log_dir(root))) == v0_commits

    write_iceberg(half_b, root, mode="append")
    sync_delta_log_from_iceberg(spark, root)
    assert read_delta(spark, root).count() == orders.count()
    assert read_iceberg(spark, root).count() == orders.count()

    # overwrite: delta side must drop the old files and hold the new set
    small = orders.limit(100)
    write_iceberg(small, root, mode="overwrite")
    sync_delta_log_from_iceberg(spark, root)
    assert read_delta(spark, root).count() == 100

    # additive evolution lands as a Delta metaData action
    write_iceberg(
        small.withColumn("channel", F.lit("web")), root, mode="overwrite"
    )
    sync_delta_log_from_iceberg(spark, root)
    got = read_delta(spark, root)
    assert "channel" in got.columns and got.count() == 100


def test_lakehouse_cli_uniform_status(spark):
    """The operator CLI's `uniform` verb reports both protocol trees and
    whether the Iceberg side is synced with the Delta side — stale
    after a Delta append, in_sync again after the metadata-only sync."""
    from atlas_migration_repo_spark.lakehouse import uniform_status
    from atlas_migration_repo_spark.sources.delta_interop import write_delta
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        publish_iceberg_metadata_from_delta,
        sync_iceberg_metadata_from_delta,
    )

    root = _fresh("t_cli_uniform")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_delta(orders.where("o_orderkey % 2 = 0"), root)
    st = uniform_status(root)
    assert st["delta"] and st["iceberg"] is None and st["in_sync"] is None
    publish_iceberg_metadata_from_delta(spark, root)
    st = uniform_status(root)
    assert st["in_sync"] is True
    write_delta(orders.where("o_orderkey % 2 = 1"), root, mode="append")
    assert uniform_status(root)["in_sync"] is False
    sync_iceberg_metadata_from_delta(spark, root)
    st = uniform_status(root)
    assert st["in_sync"] is True and st["iceberg"]["num_snapshots"] == 2


def test_iceberg_bridge_coordinated_crash_recovery(spark):
    """Crash window on the Iceberg publisher: v2.metadata.json claimed +
    staged but never PUT; the next commit's publish must finish it (the
    recover-before-read step) and land at v3 — dense versions, no lost
    metadata."""
    import json as _json

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _current_metadata,
        _meta_dir,
    )
    from atlas_migration_repo_spark.sources.table_log import (
        CoordinatedPutLogStore,
        set_default_log_store,
    )

    root = _fresh("t_ice_crash")
    set_default_log_store(CoordinatedPutLogStore())
    try:
        write_iceberg(spark.range(10).select("id").coalesce(1), root)
        v1, meta1 = _current_metadata(root)
        assert v1 == 1
        claims = os.path.join(_meta_dir(root), "_claims")
        os.makedirs(claims, exist_ok=True)
        # a crashed writer's v2: same table, one no-op snapshot appended
        meta2 = _json.loads(_json.dumps(meta1))
        meta2["last-updated-ms"] = meta1["last-updated-ms"] + 1
        name = "v2.metadata.json"
        with open(os.path.join(claims, name + ".staged"), "w") as fh:
            _json.dump(meta2, fh)
        with open(os.path.join(claims, name + ".claim"), "w") as fh:
            _json.dump(
                {"staged": name + ".staged", "complete": False, "ts_ms": 0}, fh
            )
        # the next append's publish RECOVERS v2, then loses the v2 race
        # to the recovered commit and raises — the caller re-reads and
        # retries, landing at v3 (Iceberg's CommitFailedException loop)
        from atlas_migration_repo_spark.sources.iceberg_interop import (
            ConcurrentIcebergCommitError,
        )

        batch = spark.range(10, 20).select("id").coalesce(1)
        for _attempt in range(5):
            try:
                write_iceberg(batch, root, mode="append")
                break
            except ConcurrentIcebergCommitError:
                continue
        else:  # pragma: no cover
            raise AssertionError("append starved after recovery")
        v, _ = _current_metadata(root)
        assert v == 3
        for k in (1, 2, 3):
            assert os.path.exists(
                os.path.join(_meta_dir(root), f"v{k}.metadata.json")
            )
        assert read_iceberg(spark, root).count() == 20
    finally:
        set_default_log_store(None)


def test_uniform_status_reverse_direction(spark):
    """uniform_status reads the reverse marker too: an Iceberg-owned
    table reports in_sync through the Delta commits' icebergSnapshot
    parameter — stale after an Iceberg append, true again after the
    reverse sync."""
    from atlas_migration_repo_spark.lakehouse import uniform_status
    from atlas_migration_repo_spark.sources.delta_interop import (
        publish_delta_log_from_iceberg,
        sync_delta_log_from_iceberg,
    )

    root = _fresh("t_status_rev")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_iceberg(orders.where("o_orderkey % 2 = 0"), root)
    publish_delta_log_from_iceberg(spark, root)
    assert uniform_status(root)["in_sync"] is True
    write_iceberg(orders.where("o_orderkey % 2 = 1"), root, mode="append")
    assert uniform_status(root)["in_sync"] is False
    sync_delta_log_from_iceberg(spark, root)
    assert uniform_status(root)["in_sync"] is True


# ---------------------------------------------------------------------------
# Iceberg v3 deletion vectors (Puffin) — VERDICT r6 "next" #8
# ---------------------------------------------------------------------------
def test_puffin_dv_round_trip_and_delta_byte_compat():
    """The Puffin writer frames per the published spec (magic PFA1 at
    head and around the footer, JSON blob metadata, LE payload size),
    _read_puffin_dv decodes every blob back to its exact position set,
    and the blob body is BYTE-COMPATIBLE with a Delta DV record:
    BE length + portable RoaringBitmapArray (magic D1 D3 39 64) +
    BE CRC-32."""
    import binascii
    import struct

    import atlas_migration_repo_spark.sources.iceberg_interop as I
    from atlas_migration_repo_spark.sources.delta_interop import _dv_encode

    root = _fresh("t_puffin_rt")
    os.makedirs(root, exist_ok=True)
    sets = [
        ("/data/a.parquet", [0, 1, 5, 70000, (1 << 33) + 7]),
        ("/data/b.parquet", list(range(0, 9000, 3))),
    ]
    fp, metas = I._write_puffin_dvs(root, sets, snap_id=42, seq=1)
    raw = open(fp, "rb").read()
    assert raw[:4] == I._PUFFIN_MAGIC and raw[-4:] == I._PUFFIN_MAGIC
    footer = I.read_puffin_footer(fp)
    assert [b["properties"]["referenced-data-file"] for b in footer["blobs"]] == [
        r for r, _ in sets
    ]
    for (ref, positions), bm in zip(sets, footer["blobs"]):
        assert bm["type"] == "deletion-vector-v1"
        assert int(bm["properties"]["cardinality"]) == len(set(positions))
        got = I._read_puffin_dv(fp, bm["offset"], bm["length"])
        assert got == sorted(set(positions))
        # byte-compat with the Delta framing: length + payload + crc
        blob = raw[bm["offset"] : bm["offset"] + bm["length"]]
        payload = _dv_encode(positions)
        assert blob[:4] == struct.pack(">i", len(payload))
        assert blob[4 : 4 + len(payload)] == payload
        assert payload[:4] == bytes([0xD1, 0xD3, 0x39, 0x64])
        assert blob[4 + len(payload) :] == struct.pack(
            ">I", binascii.crc32(payload) & 0xFFFFFFFF
        )


def test_uniform_puffin_dv_publish_and_seq_semantics(spark):
    """Delta DV state bridges into a v3 table: format-version is 3, the
    delete manifest entry is PUFFIN-shaped (referenced_data_file +
    content offsets), the Iceberg read equals the Delta read row-for-row,
    and rows appended AFTER the DV snapshot survive it (data_seq >
    delete_seq — the spec's sequence-number visibility rule)."""
    import atlas_migration_repo_spark.sources.iceberg_interop as I
    from atlas_migration_repo_spark.sources.avro import parse_container
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        read_delta,
        write_delta,
    )

    root = _fresh("t_uniform_dv3")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 2.0).alias("v")
    )
    write_delta(df.repartition(3), root)
    delete_delta_dv(spark, root, "grp = 3")
    I.publish_iceberg_metadata_from_delta(spark, root, dv_format="puffin")
    _v, meta = I._current_metadata(root)
    assert meta["format-version"] == 3
    # the delete manifest entry carries the v3 DV fields
    _, datas, dels = I.iceberg_live_state(root)
    assert dels and all(
        d["data_file"]["file_format"] == "PUFFIN"
        and d["data_file"]["referenced_data_file"]
        and d["data_file"]["content_offset"] is not None
        and d["data_file"]["content_size_in_bytes"] > 0
        for d in dels
    )
    d_rows = sorted(
        (r["id"], r["grp"], r["v"]) for r in read_delta(spark, root).collect()
    )
    i_rows = sorted(
        (r["id"], r["grp"], r["v"])
        for r in read_iceberg(spark, root).collect()
    )
    assert i_rows == d_rows
    assert all(g != 3 for _i, g, _vv in i_rows)
    # append rows MATCHING the deleted predicate after the DV snapshot:
    # their data_seq is newer than the delete_seq, so they must survive
    late = spark.createDataFrame([(5003, 3, -1.0)], "id bigint, grp bigint, v double")
    write_iceberg(late, root, mode="append")
    got = {
        r["id"]: r["grp"]
        for r in read_iceberg(spark, root).where(F.col("grp") == 3).collect()
    }
    assert got == {5003: 3}
    # fsck sees a consistent table (puffin file present, sizes match)
    from atlas_migration_repo_spark.lakehouse import fsck

    chk = fsck(root)
    assert chk["ok"], chk["errors"]


# ---------------------------------------------------------------------------
# v3 row lineage
# ---------------------------------------------------------------------------
def test_row_lineage_assignment_and_inheritance(spark):
    """A lineage table stamps format-version 3, tracks next-row-id,
    records each snapshot's first-row-id, assigns every added file a
    manifest first_row_id, and readers inherit row id = first_row_id +
    position and last-updated = the file's sequence number."""
    import atlas_migration_repo_spark.sources.iceberg_interop as I
    import pytest

    root = _fresh("t_ice_lineage")
    a = spark.range(0, 50).select(F.col("id"))
    b = spark.range(100, 130).select(F.col("id"))
    write_iceberg(
        a.repartition(1).sortWithinPartitions("id"), root, row_lineage=True
    )
    write_iceberg(
        b.repartition(1).sortWithinPartitions("id"), root, mode="append"
    )
    _, meta = I._current_metadata(root)
    assert meta["format-version"] == 3
    assert meta["next-row-id"] == 80
    firsts = sorted(s["first-row-id"] for s in meta["snapshots"])
    assert firsts == [0, 50]
    _, files = iceberg_live_files(root)
    assert sorted(f["first_row_id"] for f in files) == [0, 50]
    got = {
        (r["id"], r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    want = {(i, i, 1) for i in range(50)} | {
        (100 + k, 50 + k, 2) for k in range(30)
    }
    assert got == want
    # guards: lineage read off a v2 table; materialized cols into v2
    root2 = _fresh("t_ice_lineage_v2")
    write_iceberg(a, root2)
    with pytest.raises(ValueError, match="row-lineage table"):
        read_iceberg(spark, root2, with_lineage=True)
    with pytest.raises(ValueError, match="row-lineage table"):
        write_iceberg(
            a.withColumn("_row_id", F.col("id")), root2, mode="append"
        )


def test_row_lineage_survives_deletes_and_compaction(spark):
    """Positional MOR deletes leave survivors' identities untouched, and
    compaction (rewrite_iceberg) MATERIALIZES _row_id /
    _last_updated_sequence_number so identities are bit-stable across
    the rewrite — including for rows whose pre-compaction position
    differs from their post-compaction one."""
    import atlas_migration_repo_spark.sources.iceberg_interop as I

    root = _fresh("t_ice_lineage_compact")
    a = spark.range(0, 40).select(F.col("id"))
    b = spark.range(200, 220).select(F.col("id"))
    write_iceberg(
        a.repartition(1).sortWithinPartitions("id"), root, row_lineage=True
    )
    write_iceberg(
        b.repartition(1).sortWithinPartitions("id"), root, mode="append"
    )
    I.delete_iceberg_where(spark, root, "id", 10, 19)
    before = {
        (r["id"], r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert len(before) == 50
    I.rewrite_iceberg(spark, root)
    after = {
        (r["id"], r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    assert after == before
    # the rewritten files physically carry the reserved columns
    _, files = iceberg_live_files(root)
    import pyarrow.parquet as pq

    names = set()
    for f in files:
        names.update(pq.read_schema(f["file_path"]).names)
    assert {"_row_id", "_last_updated_sequence_number"} <= names
    # and the plain read does NOT leak them
    assert set(read_iceberg(spark, root).columns) == {"id"}


def test_row_lineage_dv_merge_assigns_row_ids(spark):
    """ADVICE r9 #1: merge_iceberg_dv on a row-lineage table must assign
    first_row_id to its new data files, stamp the snapshot's
    first-row-id, and bump next-row-id — previously DV-merged files
    landed with null lineage ids. Survivors keep their identities; the
    merge's rows (updates re-inserted + brand-new) take fresh ids from
    the pre-merge next-row-id in manifest-entry/position order. A
    follow-up DV delete adds no rows: next-row-id holds, but its
    snapshot still records first-row-id."""
    import atlas_migration_repo_spark.sources.iceberg_interop as I

    root = _fresh("t_ice_lineage_dv_merge")
    a = spark.range(0, 40).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_iceberg(
        a.repartition(1).sortWithinPartitions("id"), root, row_lineage=True
    )
    src = spark.range(0, 10).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    ).unionAll(
        spark.range(100, 105).select(
            F.col("id"), (F.col("id") - 100).alias("v")
        )
    )
    sid = I.merge_iceberg_dv(
        spark, root, src.repartition(1).sortWithinPartitions("id"), on=["id"]
    )
    _, meta = I._current_metadata(root)
    assert meta["next-row-id"] == 55  # 40 pre-merge + 15 merged
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    assert snap["first-row-id"] == 40
    _, files = iceberg_live_files(root)
    assert sorted(f["first_row_id"] for f in files) == [0, 40]
    got = {
        (r["id"], r["v"], r["_row_id"], r["_last_updated_sequence_number"])
        for r in read_iceberg(spark, root, with_lineage=True).collect()
    }
    want = (
        {(i, 2 * i, i, 1) for i in range(10, 40)}  # survivors untouched
        | {(i, -1, 40 + i, 2) for i in range(10)}  # updates, fresh ids
        | {(100 + k, k, 50 + k, 2) for k in range(5)}  # inserts
    )
    assert got == want
    # DV delete on the lineage table: no rows added → next-row-id holds,
    # snapshot still stamps its first-row-id
    sid2 = I.delete_iceberg_dv(spark, root, "id", 15, 19)
    _, meta2 = I._current_metadata(root)
    assert meta2["next-row-id"] == 55
    snap2 = next(s for s in meta2["snapshots"] if s["snapshot-id"] == sid2)
    assert snap2["first-row-id"] == 55
    assert read_iceberg(spark, root, with_lineage=True).count() == 40


def test_model_check_dv_commit_sequences(spark):
    """Model-check NATIVE v3 deletion-vector commits: a seeded random
    sequence of append / DV-range-delete / DV-merge / DV-eq-delete /
    rewrite commits (VERDICT r8 "next" #2: merge in the action alphabet)
    against a plain dict model. Every recorded snapshot must read back
    exactly its model state, after EVERY commit the spec invariant holds
    (at most one live deletion vector per referenced data file), and no
    v2 delete technology ever lands (pure-DV table)."""
    import random

    from atlas_migration_repo_spark.sources.iceberg_interop import (
        delete_iceberg_dv,
        delete_iceberg_eq_dv,
        iceberg_live_state,
        merge_iceberg_dv,
        read_iceberg,
        rewrite_iceberg,
    )

    rng = random.Random(7)
    root = _fresh("ut_ice_model_dv")
    schema = "k bigint, val double"

    def df_of(rows):
        return spark.createDataFrame(rows, schema)

    rows = [(i, float(i)) for i in range(200)]
    sid = write_iceberg(df_of(rows), root, mode="append")
    model = dict(rows)
    snaps = [(sid, dict(model))]
    next_key = 1000
    for _step in range(12):
        op = rng.choice(
            ["append", "dv_delete", "dv_delete", "merge", "merge",
             "eq_delete", "rewrite"]
        )
        if op == "append":
            new = [
                (next_key + i, float(rng.randint(0, 999)))
                for i in range(rng.randint(1, 40))
            ]
            next_key += 100
            sid = write_iceberg(df_of(new), root, mode="append")
            model.update(dict(new))
        elif op == "dv_delete":
            lo = rng.randint(0, 1200)
            hi = lo + rng.randint(0, 300)
            sid = delete_iceberg_dv(spark, root, "k", lo, hi)
            model = {k: v for k, v in model.items() if not (lo <= k <= hi)}
        elif op == "merge":
            # updates to sampled live keys + brand-new keys: the DV merge
            # must tombstone exactly the matched positions and append all
            upd = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 30)))
                if model
                else []
            )
            src = [(k, model[k] + 0.5) for k in upd] + [
                (next_key + i, float(rng.randint(0, 999)))
                for i in range(rng.randint(0, 10))
            ]
            next_key += 100
            if not src:
                continue
            sid = merge_iceberg_dv(spark, root, df_of(src), on=["k"])
            model.update(dict(src))
        elif op == "eq_delete":
            if not model:
                continue
            doomed = rng.sample(
                sorted(model), min(len(model), rng.randint(1, 20))
            )
            sid = delete_iceberg_eq_dv(
                spark,
                root,
                spark.createDataFrame([(k,) for k in doomed], "k bigint"),
                ["k"],
            )
            model = {k: v for k, v in model.items() if k not in doomed}
        else:
            sid = rewrite_iceberg(spark, root)
        snaps.append((sid, dict(model)))
        _, _, deletes = iceberg_live_state(root)
        refs = [
            d["data_file"]["referenced_data_file"]
            for d in deletes
            if d["data_file"].get("file_format") == "PUFFIN"
        ]
        assert len(refs) == len(set(refs)), (
            f"step {_step}: multiple live DVs for one data file: {refs}"
        )
        non_dv = [
            d["data_file"]["file_path"]
            for d in deletes
            if d["data_file"].get("file_format") != "PUFFIN"
        ]
        assert non_dv == [], (
            f"step {_step}: v2 delete technology on a pure-DV table: {non_dv}"
        )
    for i, (sid, expect) in enumerate(snaps):
        got = {
            r["k"]: r["val"]
            for r in read_iceberg(spark, root, snapshot_id=sid).collect()
        }
        assert got == expect, f"snapshot {i} (id {sid}) diverged from model"


def test_dv_supersede_union_guard_and_visibility(spark):
    """The native DV writer's spec obligations, asserted structurally:
    (1) a second overlapping DV delete SUPERSEDES by union — the live DV
    for a twice-hit data file contains the first commit's positions;
    (2) no data file is rewritten by either DV commit; (3) the table is
    stamped format-version 3; (4) rows appended AFTER a DV survive reads
    (sequence-number visibility); (5) writing a DV over a file that
    still has live v2 position-delete rows refuses loudly."""
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        _current_metadata,
        _read_puffin_dv,
        delete_iceberg_dv,
        delete_iceberg_where,
        iceberg_live_state,
        read_iceberg,
    )

    root = _fresh("ut_ice_dv_union")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(300)], "k bigint, val double"
    ).repartitionByRange(4, "k")
    write_iceberg(df, root)
    _, datas0, _ = iceberg_live_state(root)
    files0 = sorted(d["data_file"]["file_path"] for d in datas0)

    def live_dvs():
        _, _, dels = iceberg_live_state(root)
        out = {}
        for d in dels:
            f = d["data_file"]
            if f.get("file_format") == "PUFFIN":
                out[f["referenced_data_file"]] = set(
                    _read_puffin_dv(
                        f["file_path"],
                        int(f["content_offset"]),
                        int(f["content_size_in_bytes"]),
                    )
                )
        return out

    delete_iceberg_dv(spark, root, "k", 10, 40)
    first = live_dvs()
    assert first, "first DV commit produced no deletion vectors"
    delete_iceberg_dv(spark, root, "k", 30, 90)
    second = live_dvs()
    for ref, pos in first.items():
        assert ref in second and pos <= second[ref], (
            "supersede-by-union lost positions from the first DV"
        )
    _, datas2, _ = iceberg_live_state(root)
    assert sorted(d["data_file"]["file_path"] for d in datas2) == files0, (
        "DV delete rewrote data files"
    )
    _, meta = _current_metadata(root)
    assert meta["format-version"] == 3
    # sequence visibility: re-append deleted keys AFTER the DVs
    revived = spark.createDataFrame(
        [(20, 20.5), (35, 35.5)], "k bigint, val double"
    )
    write_iceberg(revived, root, mode="append")
    got = {
        r["k"]: r["val"] for r in read_iceberg(spark, root).collect() if r["k"] in (20, 35)
    }
    assert got == {20: 20.5, 35: 35.5}, "post-DV appends were wrongly masked"
    # v2 coexistence guard
    import pytest as _pytest

    delete_iceberg_where(spark, root, "k", 100, 120)
    with _pytest.raises(ValueError, match="position-delete"):
        delete_iceberg_dv(spark, root, "k", 110, 130)


# ---------------------------------------------------------------------------
# UniForm sync: deletion vectors in the table's own format
# ---------------------------------------------------------------------------
def _dv_frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 2.0).alias("v")
    )


def _delta_deleted_rows(root):
    from atlas_migration_repo_spark.sources.delta_interop import delta_live_files

    return sum(
        int(a["deletionVector"]["cardinality"])
        for a in delta_live_files(root)
        if a.get("deletionVector")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_uniform_append_syncs_hold_exactly_the_live_dvs(spark):
    """An append-only sync carries the prior data manifests and bridges
    the live DVs once: after two append syncs the live delete files
    count exactly the rows Delta's DVs delete, not one copy per sync."""
    import atlas_migration_repo_spark.sources.iceberg_interop as I
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        read_delta,
        write_delta,
    )

    root = _fresh("ut_uniform_sync_dv")
    write_delta(_dv_frame(spark, 0, 1000).repartition(3), root)
    delete_delta_dv(spark, root, "grp = 3")
    I.publish_iceberg_metadata_from_delta(spark, root)
    for lo in (1000, 1100):
        write_delta(_dv_frame(spark, lo, lo + 100), root, mode="append")
        snap = I.sync_iceberg_metadata_from_delta(spark, root)
        _, meta = I._current_metadata(root)
        assert meta["snapshots"][-1]["snapshot-id"] == snap
        assert meta["snapshots"][-1]["summary"]["operation"] == "append"
    _, _, dels = I.iceberg_live_state(root)
    assert _delta_deleted_rows(root) == 143
    assert sum(d["data_file"]["record_count"] for d in dels) == 143
    assert _rows(read_iceberg(spark, root)) == _rows(read_delta(spark, root))


def test_uniform_sync_of_a_puffin_table_bridges_puffin_dvs(spark):
    """A table published with Puffin DVs (format-version 3) keeps them
    through every sync: a DV on an already-bridged file supersedes its
    Puffin DV by union, no v2 position-delete parquet lands, and a
    native delete_iceberg_dv afterwards succeeds."""
    import atlas_migration_repo_spark.sources.iceberg_interop as I
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        delta_live_files,
        read_delta,
        write_delta,
    )

    root = _fresh("ut_uniform_sync_dv3")
    write_delta(_dv_frame(spark, 0, 1000).repartition(3), root)
    delete_delta_dv(spark, root, "grp = 3")
    I.publish_iceberg_metadata_from_delta(spark, root, dv_format="puffin")
    write_delta(_dv_frame(spark, 1000, 1100), root, mode="append")
    delete_delta_dv(spark, root, "grp = 5")
    I.sync_iceberg_metadata_from_delta(spark, root)

    def live_deletes():
        _, _, dels = I.iceberg_live_state(root)
        return [d["data_file"] for d in dels]

    dels = live_deletes()
    assert {f["file_format"] for f in dels} == {"PUFFIN"}
    refs = [f["referenced_data_file"] for f in dels]
    dv_files = [a for a in delta_live_files(root) if a.get("deletionVector")]
    assert len(refs) == len(set(refs)) == len(dv_files)  # one live DV per file
    assert sum(f["record_count"] for f in dels) == _delta_deleted_rows(root)
    delta_rows = _rows(read_delta(spark, root))
    assert _rows(read_iceberg(spark, root)) == delta_rows

    I.delete_iceberg_dv(spark, root, "id", 0, 50)
    assert {f["file_format"] for f in live_deletes()} == {"PUFFIN"}
    assert _rows(read_iceberg(spark, root)) == [r for r in delta_rows if r[0] > 50]


# ---------------------------------------------------------------------------
# manifest-list invariants of every committing verb
# ---------------------------------------------------------------------------
def _ice_base(spark, root):
    return write_iceberg(_dv_frame(spark, 0, 300).repartitionByRange(3, "id"), root)


def _uniform_base(spark, root, dv_format):
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        write_delta,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        publish_iceberg_metadata_from_delta,
    )

    write_delta(_dv_frame(spark, 0, 300).repartitionByRange(3, "id"), root)
    delete_delta_dv(spark, root, "grp = 3")
    return publish_iceberg_metadata_from_delta(spark, root, dv_format=dv_format)


def _uniform_sync(spark, root, dv_format):
    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_dv,
        write_delta,
    )
    from atlas_migration_repo_spark.sources.iceberg_interop import (
        sync_iceberg_metadata_from_delta,
    )

    _uniform_base(spark, root, dv_format)
    write_delta(_dv_frame(spark, 300, 400), root, mode="append")
    delete_delta_dv(spark, root, "grp = 5")
    return sync_iceberg_metadata_from_delta(spark, root)


def _commit_verbs():
    import atlas_migration_repo_spark.sources.iceberg_interop as I

    def then(setup, verb):
        def run(spark, root):
            setup(spark, root)
            return verb(spark, root)

        return run

    keys = lambda spark: _dv_frame(spark, 0, 300).where("id % 10 = 0")
    upsert = lambda spark: _dv_frame(spark, 250, 350).withColumn("v", F.lit(-1.0))
    dv_twice = lambda spark, root: (
        I.delete_iceberg_dv(spark, root, "id", 10, 120),
        I.delete_iceberg_dv(spark, root, "id", 100, 200),
    )[-1]
    return {
        "write_create": _ice_base,
        "write_append": then(
            _ice_base,
            lambda s, r: write_iceberg(_dv_frame(s, 300, 360), r, mode="append"),
        ),
        "write_overwrite": then(
            _ice_base, lambda s, r: write_iceberg(_dv_frame(s, 0, 50), r)
        ),
        "delete_where": then(
            _ice_base, lambda s, r: I.delete_iceberg_where(s, r, "id", 10, 120)
        ),
        "delete_eq": then(
            _ice_base, lambda s, r: I.delete_iceberg_eq(s, r, keys(s), ["id"])
        ),
        "delete_dv": then(_ice_base, dv_twice),
        "delete_eq_dv": then(
            then(_ice_base, lambda s, r: I.delete_iceberg_dv(s, r, "id", 0, 30)),
            lambda s, r: I.delete_iceberg_eq_dv(s, r, keys(s), ["id"]),
        ),
        "merge": then(_ice_base, lambda s, r: I.merge_iceberg(s, r, upsert(s), ["id"])),
        "merge_dv": then(
            then(_ice_base, lambda s, r: I.delete_iceberg_dv(s, r, "id", 260, 280)),
            lambda s, r: I.merge_iceberg_dv(s, r, upsert(s), ["id"]),
        ),
        "rewrite": then(
            then(_ice_base, lambda s, r: I.delete_iceberg_where(s, r, "id", 0, 99)),
            I.rewrite_iceberg,
        ),
        "uniform_publish": lambda s, r: _uniform_base(s, r, "parquet"),
        "uniform_publish_puffin": lambda s, r: _uniform_base(s, r, "puffin"),
        "uniform_sync": lambda s, r: _uniform_sync(s, r, "parquet"),
        "uniform_sync_puffin": lambda s, r: _uniform_sync(s, r, "puffin"),
    }


import pytest as _pytest  # noqa: E402


@_pytest.mark.parametrize("verb", sorted(_commit_verbs()))
def test_manifest_list_rows_match_their_manifests(spark, verb):
    """Every manifest-list row of the committed snapshot agrees with its
    manifest: added/existing/deleted file and row counts are its
    entries' by status, its content is its entries' (0 data, 1 deletes),
    its status-1 entries carry its added_snapshot_id, and a row this
    commit wrote carries the committing snapshot's id."""
    from atlas_migration_repo_spark.sources.iceberg_interop import _current_metadata

    root = _fresh(f"ut_ice_invariant_{verb}")
    snap_id = _commit_verbs()[verb](spark, root)
    _, meta = _current_metadata(root)
    assert meta["current-snapshot-id"] == snap_id
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    manifest_list = lambda s: parse_container(open(s["manifest-list"], "rb").read())[1]
    parent_rows = {m[0] for m in manifest_list(snaps[-2])} if len(snaps) > 1 else set()
    new_rows = 0
    for m in manifest_list(snaps[-1]):
        _, entries = parse_container(open(m[0], "rb").read())
        by_status = [[e[4]["record_count"] for e in entries if e[0] == s] for s in (1, 0, 2)]
        assert list(m[7:10]) == [len(x) for x in by_status], verb
        assert list(m[10:13]) == [sum(x) for x in by_status], verb
        assert {int(e[4]["content"] != 0) for e in entries} <= {m[3]}, verb
        assert all(e[1] == m[6] for e in entries if e[0] == 1), verb
        if m[0] not in parent_rows:
            new_rows += 1
            assert m[6] == snap_id, verb
    assert new_rows >= 1, verb
