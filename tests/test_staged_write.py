"""The shared staged write and footer reader of the table formats
(sources/files.py `stage_write` / `file_footer`): decoded partition
values, null counts summed over every row group, and one footer open per
committed data file for Delta, Iceberg, Hudi and TableLog. And the read
side: each format's range read is its full read over log-pruned files,
and a Delta read replays the log once."""

from __future__ import annotations

import collections
import json
import os
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from atlas_migration_repo_spark.sources.delta_interop import (
    convert_tablelog_to_delta,
    delete_delta_dv,
    delta_live_files,
    merge_delta,
    read_delta,
    read_delta_cdf,
    read_delta_range,
    rename_delta_column,
    write_delta,
)
from atlas_migration_repo_spark.sources.files import ColumnFooter, file_footer
from atlas_migration_repo_spark.sources.hudi_interop import (
    delete_hudi,
    read_hudi,
    read_hudi_event_range,
    write_hudi,
)
from atlas_migration_repo_spark.sources.iceberg_interop import (
    delete_iceberg_where,
    iceberg_live_state,
    read_iceberg,
    read_iceberg_range,
    rename_iceberg_column,
    write_iceberg,
)
from atlas_migration_repo_spark.sources.table_log import TableLog, log_stats


def test_tablelog_partition_values_decode_like_delta(spark, tmp_path):
    """TableLog records the same decoded partitionValues Delta does: a
    '/' and a space come back literal and a null key is None, not the
    hive dir strings, so a predicate on None finds the null partition
    and a converted Delta table reads the same values."""
    rows = {(1, "a/b"), (2, None), (3, "x y")}
    df = spark.createDataFrame(list(rows), "id int, region string")
    t = TableLog(str(tmp_path / "tlog"))
    t.append(df, partition_by=["region"])
    write_delta(df, str(tmp_path / "delta"), partition_by=["region"])
    want = {"a/b", None, "x y"}
    assert {f["partitionValues"]["region"] for f in t.snapshot().files} == want
    assert {
        a["partitionValues"]["region"] for a in delta_live_files(str(tmp_path / "delta"))
    } == want
    convert_tablelog_to_delta(spark, t)
    got = {(r["id"], r["region"]) for r in read_delta(spark, t.root).collect()}
    assert got == rows
    t.delete_where(lambda pv: pv["region"] is None)
    got = {(r["id"], r["region"]) for r in t.read(spark).collect()}
    assert got == rows - {(2, None)}


def test_file_footer_sums_null_counts_over_every_row_group(tmp_path):
    """A row group without min/max (all null) still reports its nulls:
    two row groups [1, None] and [None, None] hold 3 nulls in `v`, and
    its bounds come from the one group that has them."""
    fp = str(tmp_path / "two_groups.parquet")
    pq.write_table(
        pa.table({"id": [1, 2, 3, 4], "v": pa.array([1, None, None, None], pa.int64())}),
        fp,
        row_group_size=2,
    )
    footer = file_footer(fp)
    assert footer.num_rows == 4
    assert footer.columns["v"] == ColumnFooter(1, 1, 3, False)
    assert footer.columns["id"] == ColumnFooter(1, 4, 0, True)
    st = log_stats(footer)
    assert st["nullCount"] == {"id": 0, "v": 3}
    assert st["minValues"] == {"id": 1, "v": 1}


def test_tablelog_stats_count_nulls_of_an_all_null_column(spark, tmp_path):
    """A column that is null in every row of a one-row-group file has no
    bounds, yet its nullCount is recorded."""
    t = TableLog(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, None), (2, None)], "id int, v int").coalesce(1))
    (f,) = t.snapshot().files
    assert f["stats"]["nullCount"] == {"id": 0, "v": 2}
    assert "v" not in f["stats"]["minValues"]


def _data_files(root: str) -> set[str]:
    """Parquet data files under a table root, metadata dirs left out."""
    out = set()
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out |= {os.path.join(dirpath, n) for n in names if n.endswith(".parquet")}
    return out


def _rows(spark):
    # 4 partition keys in each of 3 input partitions: 12 files when
    # partitioned by k
    return (
        spark.range(120)
        .select(
            "id",
            (F.col("id") % 4).alias("k"),
            (F.col("id") * 1.5).alias("v"),
            F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        )
        .repartition(3)
    )


@pytest.mark.parametrize(
    "op", ["write_delta", "merge_delta", "write_iceberg", "write_hudi", "tablelog_append"]
)
def test_each_committed_file_footer_is_opened_once(spark, tmp_path, monkeypatch, op):
    """A format's commit reads each new data file's footer exactly once:
    row count and every stat it records come from that one open."""
    root = str(tmp_path / op)
    df = _rows(spark)
    if op == "merge_delta":
        write_delta(df, root, partition_by=["k"])
        df = df.where(F.col("id") % 10 == 0).withColumn("v", F.lit(0.0))
    run = {
        "write_delta": lambda: write_delta(df, root, partition_by=["k"]),
        "merge_delta": lambda: merge_delta(spark, root, df, "id"),
        "write_iceberg": lambda: write_iceberg(df, root, partition_by=["k"]),
        "write_hudi": lambda: write_hudi(
            df, root, record_key="id", partition_by=["k"], event_time_field="ts"
        ),
        "tablelog_append": lambda: TableLog(root).append(df, partition_by=["k"]),
    }[op]
    before = _data_files(root)
    opened = []
    real = pq.ParquetFile

    def counting(source, *args, **kwargs):
        opened.append(str(source))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    run()
    landed = _data_files(root) - before
    assert landed
    assert max(collections.Counter(opened).values()) == 1
    assert len(opened) == len(landed)


def test_hudi_write_stat_ranges_from_the_shared_footer(spark, tmp_path):
    """The Hudi write stat's event-time and record-key ranges come from
    the one footer read: the event column's bounds and the file's key
    band as strings."""
    root = str(tmp_path / "h")
    df = spark.createDataFrame(
        [(1, 1_700_000_000_000), (2, 1_700_086_400_000)], "id long, ts long"
    ).coalesce(1)
    instant = write_hudi(df, root, record_key="id", event_time_field="ts")
    with open(os.path.join(root, ".hoodie", f"{instant}.commit")) as fh:
        (st,) = json.load(fh)["partitionToWriteStats"][""]
    assert (st["minEventTime"], st["maxEventTime"]) == (
        1_700_000_000_000,
        1_700_086_400_000,
    )
    assert (st["minRecordKey"], st["maxRecordKey"]) == ("1", "2")


# -- reads: a range read is the full read over log-pruned files ------------

_LO, _HI = 5, 14  # ids 5..14 of 0..29: 10 rows at the latest version
_EPOCH = datetime(1970, 1, 1)


def _matrix_frame(spark, ids):
    """Rows `id`, `p = id % 3`, `v = id * 10` and an event time `ts` of
    `id` seconds, written as one file per id band so stats can prune."""
    return (
        spark.range(ids.start, ids.stop, numPartitions=2)
        .select(
            "id",
            (F.col("id") % 3).alias("p"),
            (F.col("id") * 10).alias("v"),
            F.timestamp_seconds("id").alias("ts"),
        )
        .repartitionByRange(2, "id")
    )


# per format: write(df, root, pcols, append) -> version token, rename,
# delete (rows 6..9 or, for TableLog, the p = 1 files), read(at), range(at)
_FORMATS = {
    "delta": dict(
        write=lambda spark, df, root, pcols, append: write_delta(
            df, root, partition_by=pcols, mode="append" if append else "overwrite"
        ),
        rename=lambda spark, root: rename_delta_column(root, "v", "w"),
        delete=lambda spark, root: delete_delta_dv(spark, root, "id BETWEEN 6 AND 9"),
        read=lambda spark, root, at: read_delta(spark, root, version=at),
        range=lambda spark, root, c, lo, hi, at: read_delta_range(
            spark, root, c, lo, hi, version=at
        ),
    ),
    "iceberg": dict(
        write=lambda spark, df, root, pcols, append: write_iceberg(
            df, root, partition_by=pcols, mode="append" if append else "overwrite"
        ),
        rename=lambda spark, root: rename_iceberg_column(root, "v", "w"),
        delete=lambda spark, root: delete_iceberg_where(spark, root, "v", 60, 90),
        read=lambda spark, root, at: read_iceberg(spark, root, snapshot_id=at),
        range=lambda spark, root, c, lo, hi, at: read_iceberg_range(
            spark, root, c, lo, hi, snapshot_id=at
        ),
    ),
    "tablelog": dict(
        write=lambda spark, df, root, pcols, append: TableLog(root).append(
            df, partition_by=pcols
        ),
        rename=lambda spark, root: TableLog(root).rename_column("v", "w"),
        delete=lambda spark, root: TableLog(root).delete_where(
            lambda pv: pv.get("p") == "1"
        ),
        read=lambda spark, root, at: TableLog(root).read(spark, version=at),
        range=lambda spark, root, c, lo, hi, at: TableLog(root).read_range(
            spark, c, lo, hi, version=at
        ),
    ),
    "hudi": dict(
        write=lambda spark, df, root, pcols, append: write_hudi(
            df, root, record_key="id", partition_by=pcols, event_time_field="ts"
        ),
        delete=lambda spark, root: delete_hudi(
            spark.range(6, 10).select("id"), root
        ),
        read=lambda spark, root, at: read_hudi(spark, root),
        # Hudi's range reader takes event-time bounds: `id` seconds
        range=lambda spark, root, c, lo, hi, at: read_hudi_event_range(
            spark, root, _EPOCH + timedelta(seconds=lo), _EPOCH + timedelta(seconds=hi)
        ),
    ),
}
_SHAPES = ["plain", "partitioned", "renamed", "deletes", "empty"]
_UNSUPPORTED = {("hudi", "renamed"), ("hudi", "travel")}  # no such Hudi reader


@pytest.fixture(scope="module")
def matrix_table(spark, tmp_path_factory):
    """(fmt, shape) -> (root, version after the first write) of a table
    built once per module: ids 0..19, then 20..29 appended, then the
    shape's change (partitioned by `p` for `partitioned`, and for
    TableLog's `deletes`, whose deletes are by partition)."""
    base = tmp_path_factory.mktemp("range_matrix")
    built: dict = {}

    def get(fmt, shape):
        if (fmt, shape) not in built:
            f = _FORMATS[fmt]
            root = str(base / f"{fmt}_{shape}")
            by_p = shape == "partitioned" or (fmt, shape) == ("tablelog", "deletes")
            pcols = ["p"] if by_p else []
            first = f["write"](spark, _matrix_frame(spark, range(0, 20)), root, pcols, False)
            if fmt == "iceberg":
                first = iceberg_live_state(root)[0]["current-snapshot-id"]
            elif fmt == "tablelog":
                first = TableLog(root).versions()[-1]
            f["write"](spark, _matrix_frame(spark, range(20, 30)), root, pcols, True)
            if shape == "renamed":
                f["rename"](spark, root)
            elif shape == "deletes":
                f["delete"](spark, root)
            built[fmt, shape] = (root, first)
        return built[fmt, shape]

    return get


_CELLS = [
    (fmt, shape, mode)
    for fmt in _FORMATS
    for shape in _SHAPES
    for mode in ("full", "range", "travel")
    if (fmt, shape) not in _UNSUPPORTED and (fmt, mode) not in _UNSUPPORTED
]


@pytest.mark.parametrize("fmt,shape,mode", _CELLS)
def test_range_read_is_the_full_read_filtered(spark, matrix_table, fmt, shape, mode):
    """Every format's range read returns exactly its full read at the
    same version with the BETWEEN filter applied — same rows, same
    column names in the same order — on a plain, a partitioned, a
    renamed, a deleted-from and an empty-range table; and the full read
    itself holds the rows written."""
    root, first = matrix_table(fmt, shape)
    f = _FORMATS[fmt]
    at = first if mode == "travel" else None
    renamed = shape == "renamed" and mode != "travel"
    vcol = "w" if renamed else "v"
    ids = set(range(20 if mode == "travel" else 30))
    if shape == "deletes" and mode != "travel":
        ids -= {i for i in ids if i % 3 == 1} if fmt == "tablelog" else set(range(6, 10))
    full = f["read"](spark, root, at)
    if mode == "full":
        got = {(r["id"], r["p"], r[vcol]) for r in full.collect()}
        assert got == {(i, i % 3, i * 10) for i in ids}
        return
    # the range column: `id` (Hudi: its event time), the renamed column
    # on a renamed table, an id range past every file when empty
    col, lo, hi = ("id", _LO, _HI)
    if shape == "renamed":
        col, lo, hi = (vcol, _LO * 10, _HI * 10)
    elif shape == "empty":
        lo, hi = 100, 200
    ranged = f["range"](spark, root, col, lo, hi, at)
    if fmt == "hudi":
        want = full.where(
            F.col("ts").between(
                F.timestamp_seconds(F.lit(lo)), F.timestamp_seconds(F.lit(hi))
            )
        )
    else:
        want = full.where(F.col(col).between(F.lit(lo), F.lit(hi)))
    assert ranged.columns == want.columns
    got_rows = sorted(map(tuple, ranged.collect()))
    assert got_rows == sorted(map(tuple, want.collect()))
    expect_ids = {i for i in ids if _LO <= i <= _HI} if shape != "empty" else set()
    assert {r[0] for r in got_rows} == expect_ids
    assert all(None not in r for r in got_rows)


def test_delta_reads_replay_the_log_once(spark, tmp_path, monkeypatch):
    """read_delta, read_delta_range, merge_delta and read_delta_cdf each
    resolve the log once: one checkpoint-plus-commits walk per call."""
    from atlas_migration_repo_spark.sources import delta_interop as D

    root = str(tmp_path / "cdf")
    df = _matrix_frame(spark, range(0, 30))
    write_delta(
        df, root, partition_by=["p"], configuration={"delta.enableChangeDataFeed": "true"}
    )
    calls = []
    real = D._raw_actions

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(D, "_raw_actions", counting)
    ops = {
        "read_delta": lambda: read_delta(spark, root),
        "read_delta_range": lambda: read_delta_range(spark, root, "id", _LO, _HI),
        "merge_delta": lambda: merge_delta(
            spark, root, df.where("id < 3").withColumn("v", F.lit(0).cast("long")), "id"
        ),
        "read_delta_cdf": lambda: read_delta_cdf(spark, root, 0),
    }
    counts = {}
    for name, op in ops.items():
        calls.clear()
        op()
        counts[name] = len(calls)
    assert counts == dict.fromkeys(ops, 1)


def test_delta_append_resolves_the_log_once(spark, tmp_path, monkeypatch):
    """An append to an existing table resolves the log once for its
    metaData, prior files and txn marks; a txn= append adds only the
    commit's own mark re-check before it publishes."""
    from atlas_migration_repo_spark.sources import delta_interop as D

    root = str(tmp_path / "append")
    write_delta(spark.range(0, 10), root)
    calls = []
    real = D._raw_actions

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(D, "_raw_actions", counting)
    write_delta(spark.range(10, 20), root, mode="append")
    assert len(calls) == 1
    calls.clear()
    write_delta(spark.range(20, 30), root, mode="append", txn=("app", 1))
    assert len(calls) == 2
    calls.clear()
    # a replayed mark is a no-op answered from the same single resolve
    assert write_delta(spark.range(20, 30), root, mode="append", txn=("app", 1)) == 2
    assert len(calls) == 1
    assert read_delta(spark, root).count() == 30


def test_old_tablelog_logs_decode_raw_partition_dirs(spark, tmp_path):
    """A TableLog log written before partition values were decoded holds
    the raw hive dir strings (`a%2Fb`, `__HIVE_DEFAULT_PARTITION__`).
    Opening such a root imports them as the values they stand for, so
    a predicate on None finds the null partition and the Delta table
    reads 'a/b' and NULL."""
    rows = {(1, "a/b"), (2, None), (3, "x y")}
    root = str(tmp_path / "old")
    data = os.path.join(root, "data")
    for v, part in enumerate([[(1, "a/b"), (2, None)], [(3, "x y")]]):
        # the commit an old writer logged: `_log/<v>.json`, data-relative
        # add paths, each partition value the raw hive dir string
        seg = os.path.join(data, f"s-{v}")
        spark.createDataFrame(part, "id int, region string").write.partitionBy(
            "region"
        ).parquet(seg)
        acts = []
        for dirpath, _dirs, names in os.walk(seg):
            for n in sorted(names):
                if n.endswith(".parquet"):
                    path = os.path.relpath(os.path.join(dirpath, n), data)
                    (dseg,) = [s for s in path.split(os.sep) if s.startswith("region=")]
                    pv = {"region": dseg.split("=", 1)[1]}
                    acts.append({"add": {"path": path, "partitionValues": pv, "size": 1}})
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)
        with open(os.path.join(root, "_log", f"{v:020d}.json"), "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in acts)
    raw = {"a%2Fb", "__HIVE_DEFAULT_PARTITION__", "x y"}
    with open(os.path.join(root, "_log", f"{0:020d}.json")) as fh:
        logged = {
            json.loads(line)["add"]["partitionValues"]["region"]
            for line in fh
            if '"add"' in line
        }
    assert logged <= raw and len(logged) == 2
    t = TableLog(root)
    assert {f["partitionValues"]["region"] for f in t.snapshot().files} == {
        "a/b",
        None,
        "x y",
    }
    convert_tablelog_to_delta(spark, t)
    got = {(r["id"], r["region"]) for r in read_delta(spark, t.root).collect()}
    assert got == rows
    t.delete_where(lambda pv: pv["region"] is None)
    got = {(r["id"], r["region"]) for r in t.read(spark).collect()}
    assert got == rows - {(2, None)}
