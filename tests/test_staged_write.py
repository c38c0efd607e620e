"""The shared staged write and footer reader of the table formats
(sources/files.py `stage_write` / `file_footer`): decoded partition
values, null counts summed over every row group, and one footer open per
committed data file for Delta, Iceberg, Hudi and TableLog."""

from __future__ import annotations

import collections
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from atlas_migration_repo_spark.sources.delta_interop import (
    convert_tablelog_to_delta,
    delta_live_files,
    merge_delta,
    read_delta,
    write_delta,
)
from atlas_migration_repo_spark.sources.files import ColumnFooter, file_footer
from atlas_migration_repo_spark.sources.hudi_interop import write_hudi
from atlas_migration_repo_spark.sources.iceberg_interop import write_iceberg
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
