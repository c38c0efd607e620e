"""TableLog as a facade over the Delta log: its reads resolve the log
once per call, its MERGE rewrites only the files it touches, and a root
of the older `_log/` format is imported with its marks."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from atlas_migration_repo_spark.sources import delta_interop as D
from atlas_migration_repo_spark.sources.table_log import TableLog


def test_table_log_reads_replay_the_log_once(spark, tmp_path, monkeypatch):
    """read, read_range, files_in_range and changes each resolve the
    table's log once: one checkpoint-plus-commits walk per call, on a
    partitioned table with a rename in its history."""
    t = TableLog(str(tmp_path / "t"))
    df = spark.range(30).select(
        "id", (F.col("id") % 3).alias("p"), (F.col("id") * 10).alias("v")
    )
    t.append(df.where("id < 20"), partition_by=["p"])
    t.rename_column("v", "w")
    t.append(df.where("id >= 20").withColumnRenamed("v", "w"), partition_by=["p"])
    calls = []
    real = D._raw_actions

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(D, "_raw_actions", counting)
    ops = {
        "read": lambda: t.read(spark),
        "read_range": lambda: t.read_range(spark, "id", 5, 14),
        "files_in_range": lambda: t.files_in_range("id", 5, 14),
        "changes": lambda: t.changes(spark, from_version=0),
    }
    counts = {}
    for name, op in ops.items():
        calls.clear()
        op()
        counts[name] = len(calls)
    assert counts == dict.fromkeys(ops, 1)


def test_table_log_merge_rewrites_only_touched_files(spark, tmp_path):
    """A MERGE whose source keys fall in one file's key range removes
    that one file and keeps the other three; updates and inserts land."""
    t = TableLog(str(tmp_path / "t"))
    for lo in range(0, 400, 100):  # 4 files, disjoint id ranges
        t.append(
            spark.range(lo, lo + 100).select("id", F.lit(0).alias("v")).coalesce(1)
        )
    assert len(t.snapshot().files) == 4
    source = spark.range(150, 160).union(spark.range(1000, 1001))
    v = t.merge(spark, source.select("id", F.lit(1).alias("v")), key="id")
    with open(os.path.join(t.log_dir, f"{v:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    assert sum("remove" in a for a in actions) == 1
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    want = {i: 0 for i in range(400)} | {i: 1 for i in (*range(150, 160), 1000)}
    assert got == want


def test_old_tablelog_root_imports_with_its_watermark(spark, tmp_path):
    """A root of the old `_log/` format (here written by pyarrow, with
    the ANN index's metaData watermark and a txn action) is imported as
    a Delta log the first time it is opened — also by the lakehouse
    CLI's format detection — and both marks become Delta txn marks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from atlas_migration_repo_spark.lakehouse import detect_format
    from atlas_migration_repo_spark.llm.ann_index import indexed_version

    root = str(tmp_path / "codes")
    os.makedirs(os.path.join(root, "data", "s-0"))
    pq.write_table(
        pa.table({"vec_id": pa.array([1, 2], pa.int64()), "cell": pa.array([0, 1], pa.int32())}),
        os.path.join(root, "data", "s-0", "part-0.parquet"),
    )
    commits = [
        [{"add": {"path": "s-0/part-0.parquet", "partitionValues": {}, "size": 1}}],
        [{"metaData": {"ann_indexed_version": 3}}, {"txn": {"appId": "sink", "version": 7}}],
    ]
    os.makedirs(os.path.join(root, "_log"))
    for v, acts in enumerate(commits):
        with open(os.path.join(root, "_log", f"{v:020d}.json"), "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in acts)
    assert detect_format(root) == "delta"
    t = TableLog(root)
    assert t.versions() == [0, 1]
    assert D.delta_txn_version(root, "ann_indexed_version") == 3
    assert indexed_version(t) == 3 and t.txn_version("sink") == 7
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, 0), (2, 1)]

    # partition columns keep the types Spark's partition discovery gave
    # the old reads: a date, and an integer too wide for a long
    import datetime
    import decimal

    from pyspark.sql import types as T

    dated = str(tmp_path / "dated")
    days = ["1995-01-01", "1996-02-29"]
    big = "99999999999999999999"
    _old_log(
        dated,
        [[(f"d={d}/big={big}", {"x": [i]}, {"d": d, "big": big})] for i, d in enumerate(days)],
    )
    t = TableLog(dated)
    schema = t.read(spark).schema
    assert schema["d"].dataType == T.DateType()
    assert schema["big"].dataType == T.DecimalType(20, 0)
    assert sorted(map(tuple, t.read(spark).select("x", "d", "big").collect())) == [
        (i, datetime.date.fromisoformat(d), decimal.Decimal(big))
        for i, d in enumerate(days)
    ]


def _old_log(root: str, commits: list) -> None:
    """Lay down a root of the old `_log/` format: commit v adds one
    pyarrow-written file per (dir, columns, partitionValues) entry,
    under `data/s-<v>/<dir>/`, and removes each path in its "remove"
    entries (given relative to data/)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "_log"))
    for v, entries in enumerate(commits):
        acts = []
        for e in entries:
            if isinstance(e, str):
                acts.append({"remove": {"path": e}})
                continue
            rel = os.path.join(f"s-{v}", e[0], "part-0.parquet")
            os.makedirs(os.path.dirname(os.path.join(root, "data", rel)), exist_ok=True)
            pq.write_table(
                pa.table({k: pa.array(c, pa.int64()) for k, c in e[1].items()}),
                os.path.join(root, "data", rel),
            )
            acts.append({"add": {"path": rel, "partitionValues": e[2], "size": 1}})
        with open(os.path.join(root, "_log", f"{v:020d}.json"), "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in acts)


def test_old_tablelog_root_opened_at_once_imports_one_history(spark, tmp_path):
    """Two openers importing one old root at the same time, or an opener
    finishing an import another stopped part-way, leave old version v at
    Delta version v: no history doubled, no removed file brought back."""
    import shutil
    import threading

    root = str(tmp_path / "old")
    _old_log(
        root,
        [
            [("", {"id": [0, 1]}, {})],
            [("", {"id": [2, 3]}, {})],
            ["s-0/part-0.parquet"],
            [("", {"id": [4]}, {})],
        ],
    )
    partial = str(tmp_path / "partial")
    shutil.copytree(root, partial)
    barrier = threading.Barrier(2)
    errors = []

    def open_root():
        barrier.wait()
        try:
            TableLog(root)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=open_root) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    t = TableLog(root)
    assert t.versions() == [0, 1, 2, 3]
    for v in t.versions():
        assert D._import_source(D._commit_actions(t.log_dir, v)) == v
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3, 4]
    assert sorted(r.id for r in t.read(spark, version=1).collect()) == [0, 1, 2, 3]

    os.makedirs(os.path.join(partial, "_delta_log"))
    for v in (0, 1):
        shutil.copy(os.path.join(t.log_dir, f"{v:020d}.json"), os.path.join(partial, "_delta_log"))
    p = TableLog(partial)
    assert p.versions() == [0, 1, 2, 3]
    assert sorted(r.id for r in p.read(spark).collect()) == [2, 3, 4]


def test_old_tablelog_root_written_after_adoption_is_refused(spark, tmp_path):
    """A Delta table adopted as a TableLog by the older tools kept both
    logs. If `_log/` holds nothing but the adoption, the root opens as
    its Delta table; if commits were made through `_log/` afterwards,
    opening it (or detecting its format) raises instead of reading the
    Delta log without them."""
    import shutil

    import pytest

    from atlas_migration_repo_spark.lakehouse import detect_format

    root = str(tmp_path / "adopted")
    D.write_delta(spark.range(3), root)
    adopted = [
        {"add": {"path": os.path.join("..", a["path"]), "partitionValues": {}, "size": 1}}
        for a in D.delta_live_files(root)
    ]
    os.makedirs(os.path.join(root, "_log"))
    with open(os.path.join(root, "_log", f"{0:020d}.json"), "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in adopted)
    appended = str(tmp_path / "appended")
    shutil.copytree(root, appended)

    t = TableLog(root)
    assert t.versions() == [0]
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2]

    _old_log(str(tmp_path / "more"), [[("", {"id": [7]}, {})]])
    shutil.copytree(str(tmp_path / "more" / "data"), os.path.join(appended, "data"))
    shutil.copy(
        os.path.join(str(tmp_path / "more"), "_log", f"{0:020d}.json"),
        os.path.join(appended, "_log", f"{1:020d}.json"),
    )
    with pytest.raises(ValueError, match="not the import of"):
        TableLog(appended)
    with pytest.raises(ValueError, match="not the import of"):
        detect_format(appended)


def test_constraints_before_the_first_partitioned_append(spark, tmp_path):
    """CHECK constraints set on a table with no commits hold for its
    first append, which sets the columns and partitioning."""
    import pytest

    t = TableLog(str(tmp_path / "t"))
    t.set_constraints("id >= 0")
    df = spark.range(6).select("id", (F.col("id") % 2).alias("p"))
    t.append(df, partition_by=["p"])
    assert {f["partitionValues"]["p"] for f in t.snapshot().files} == {"0", "1"}
    assert sorted(map(tuple, t.read(spark).collect())) == sorted(
        map(tuple, df.collect())
    )
    with pytest.raises(D.DeltaConstraintViolation):
        t.append(df.select((F.col("id") - 9).alias("id"), "p"), partition_by=["p"])
