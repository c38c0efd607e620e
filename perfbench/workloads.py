"""The benchmark's two workloads: their seeded inputs, their ops, and the
checks that prove each op's output right.

A workload is a list of ops. One pass runs every op once, in order, each
op starting after the previous one completes (one client, closed loop).
An op's timed call either returns a DataFrame, which the runner executes,
or does its work inside the call and returns None (the lakehouse writes).
The cold pass collects each DataFrame and hands the rows to the op's
check; the timed passes write it to a noop sink.

Every op a run makes costs its share of the time budget of the whole
benchmark (48 runs within an hour, each starting a JVM), so the workloads
keep the ops that carry their layers and leave out the ones that repeat
them.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# SQL-shaped headline keys: JVM scan, join and aggregate work, no Python
# workers and no Arrow transfer. An aggregate (Q1), a 3-way and a 6-way
# join (Q3, Q9) and an as-of join; the other headline keys repeat these
# shapes.
OLAP_KEYS = (
    "agg_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "join_asof",
)

# The LLM-data family: driver-side jobs while the DataFrame is built and
# near-duplicate pair shuffles (pipeline_corpus_clean), and the
# mapInPandas/Arrow boundary (multimodal_resize_ppm).
LLM_KEYS = (
    "pipeline_corpus_clean",
    "multimodal_resize_ppm",
)

# The lakehouse workload's table format: Delta, the format of the Databricks
# stack the migration targets. Iceberg, Hudi and TableLog are left out: each
# adds 5-20 s to every run, and the time limit of the whole benchmark does
# not hold them.
FORMAT = "delta"
STEPS = ("land", "upsert", "snapshot_read", "change_read")

# Share of `orders` rows in the CDC batch that update an existing key, and
# that insert a new key.
CDC_UPDATE_FRAC = 0.04
CDC_INSERT_FRAC = 0.01


@dataclass(frozen=True)
class Collected:
    """A DataFrame's collected output, with the part of the DataFrame API
    the checks read (`columns`, `schema`, `collect()`)."""

    columns: list
    schema: object
    rows: list

    def collect(self) -> list:
        return self.rows


@dataclass(frozen=True)
class Op:
    name: str
    # The timed call: returns the DataFrame to execute, or None when the
    # call itself did the work.
    build: Callable[[], object]
    # The untimed output check, given the cold pass's collected output; None
    # when a later op's check covers this op's effect (a write is proven by
    # the reads after it). It raises AssertionError on a wrong output.
    check: Callable[[Collected], None] | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    # Wall time of one steady pass at local[4] on a 4-core x86 box. A run
    # makes round(seconds / nominal_pass_s) timed passes, so that every run
    # of a workload times the same number of ops.
    nominal_pass_s: float
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_llm",
            sf=0.01,
            nominal_pass_s=7.0,
            why="registry keys: SQL scan/join/aggregate work (operators, catalog, planning) and "
            "LLM-data keys (jobs while building, pair shuffles, Arrow UDFs); no writes",
        ),
        Workload(
            "lakehouse_land",
            sf=0.01,
            nominal_pass_s=7.0,
            why="migration write path: land, upsert, snapshot and change reads "
            "of a Delta table; the only workload that writes, and no Python UDFs",
        ),
    )
}


def generate_inputs(workload: Workload, data_dir: str, seed: int) -> dict:
    """Write the workload's seeded inputs under `data_dir` and return their
    row counts. The generator's progress lines go to stderr so that the
    benchmark's stdout stays machine-readable."""
    from gen_fixtures import generate

    shutil.rmtree(data_dir, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        generate(workload.sf, data_dir, seed)
    if workload.name == "lakehouse_land":
        _write_cdc(data_dir, seed)
    return {
        n[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, n)).metadata.num_rows
        for n in sorted(os.listdir(data_dir))
        if n.endswith(".parquet")
    }


def _write_cdc(data_dir: str, seed: int) -> None:
    """A seeded CDC batch over `orders`: CDC_UPDATE_FRAC of the keys get a
    new price and status (same order date, so the same partition), and
    CDC_INSERT_FRAC new keys are appended. Carries the `o_year` partition
    column the tables are landed with."""
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    rng = np.random.default_rng([seed, 1])
    n = orders.num_rows

    def replace(t: pa.Table, col: str, values) -> pa.Table:
        return t.set_column(t.schema.get_field_index(col), col, pa.array(values))

    upd = orders.take(np.sort(rng.choice(n, max(1, int(n * CDC_UPDATE_FRAC)), replace=False)))
    upd = replace(upd, "o_totalprice", np.round(rng.uniform(1000, 500000, upd.num_rows), 2))
    upd = replace(upd, "o_orderstatus", np.full(upd.num_rows, "U"))
    ins = orders.take(rng.choice(n, max(1, int(n * CDC_INSERT_FRAC)), replace=False))
    first = pc.max(orders.column("o_orderkey")).as_py() + 1
    ins = replace(ins, "o_orderkey", np.arange(first, first + ins.num_rows, dtype=np.int64))
    cdc = pa.concat_tables([upd, ins])
    cdc = cdc.append_column("o_year", pc.year(cdc.column("o_orderdate")).cast(pa.int32()))
    pq.write_table(cdc, os.path.join(data_dir, "orders_cdc.parquet"))


def _cents(col: pa.ChunkedArray) -> int:
    return int(pc.sum(pc.round(pc.multiply(col, 100.0)).cast(pa.int64())).as_py() or 0)


def expected_after_upsert(data_dir: str) -> dict:
    """Row count and money sum (in cents) of `orders` after the CDC upsert,
    from a plain parquet read of the source and the CDC batch."""
    cols = ["o_orderkey", "o_totalprice"]
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=cols)
    cdc = pq.read_table(os.path.join(data_dir, "orders_cdc.parquet"), columns=cols)
    kept = orders.filter(pc.invert(pc.is_in(orders.column("o_orderkey"), value_set=cdc.column("o_orderkey"))))
    updated = orders.num_rows - kept.num_rows
    return {
        "source_rows": orders.num_rows,
        "rows": kept.num_rows + cdc.num_rows,
        "cents": _cents(kept.column("o_totalprice")) + _cents(cdc.column("o_totalprice")),
        "updated": updated,
        "inserted": cdc.num_rows - updated,
    }


def table_footprint(data_dir: str, table_root: str) -> dict:
    """Space and file count of the table after land and upsert: bytes on
    disk (data and log) per byte of source parquet, and the data files its
    log holds live."""
    from atlas_migration_repo_spark.sources import delta_interop as D

    user = sum(os.path.getsize(os.path.join(data_dir, f)) for f in ("orders.parquet", "orders_cdc.parquet"))
    written = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(table_root) for f in fs)
    live = len(D.delta_live_files(os.path.join(table_root, FORMAT)))
    return {"bytes_written_per_user_byte": written / user, "files_live": live}


# ---------------------------------------------------------------------------
# Ops


def make_ops(workload: Workload, spark, data_dir: str, table_root: str, oracle_con) -> list[Op]:
    """The ops of one pass. Lakehouse ops write under `table_root`, which
    must be fresh for every pass."""
    if workload.name == "olap_llm":
        return registry_ops(spark, data_dir, OLAP_KEYS + LLM_KEYS, oracle_con)
    return lakehouse_ops(spark, data_dir, table_root)


def registry_ops(spark, data_dir: str, keys, oracle_con) -> list[Op]:
    """One op per registry key: `QUERIES[key].fn(spark, data_dir)`, checked
    against its DuckDB oracle on the same files. Every key the workloads
    run has an oracle."""
    import dataclasses

    import conftest

    from atlas_migration_repo_spark.registry import QUERIES

    def make(key: str) -> Op:
        qd = QUERIES[key]

        def build():
            return qd.fn(spark, data_dir)

        def check(out: Collected) -> None:
            conftest.assert_matches_oracle(spark, oracle_con, dataclasses.replace(qd, fn=lambda *_: out), data_dir)

        return Op(key, build, check)

    return [make(k) for k in keys]


def lakehouse_ops(spark, data_dir: str, table_root: str) -> list[Op]:
    """Land, upsert, snapshot-read and change-read `orders` through a Delta
    table under `table_root`. The reads' checks prove the writes: after the
    upsert, the table must hold the row count and money sum a plain parquet
    read of the source and the CDC batch gives, and its change feed must
    carry a pre- and a post-image per updated row plus the inserts."""
    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.sources import delta_interop as D

    expect = expected_after_upsert(data_dir)
    path = os.path.join(table_root, FORMAT)
    landed: list[int] = []  # version of the landing commit

    def land():
        orders = spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
        orders = orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        landed.append(
            D.write_delta(orders, path, partition_by=["o_year"], configuration={"delta.enableChangeDataFeed": "true"})
        )

    def upsert():
        D.merge_delta(spark, path, spark.read.parquet(os.path.join(data_dir, "orders_cdc.parquet")), "o_orderkey")

    def snapshot():
        return D.read_delta(spark, path).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )

    def check_snapshot(out: Collected) -> None:
        got = (out.rows[0]["rows"], out.rows[0]["cents"])
        want = (expect["rows"], expect["cents"])
        assert got == want, f"snapshot_read after upsert: (rows, cents) {got} != {want}"

    def change():
        return D.read_delta_cdf(spark, path, from_version=landed[0] + 1)

    def check_change(out: Collected) -> None:
        want = 2 * expect["updated"] + expect["inserted"]
        assert len(out.rows) == want, f"change_read: {len(out.rows)} rows != {want}"

    return [
        Op(f"{FORMAT}.land", land),
        Op(f"{FORMAT}.upsert", upsert),
        Op(f"{FORMAT}.snapshot_read", snapshot, check_snapshot),
        Op(f"{FORMAT}.change_read", change, check_change),
    ]
