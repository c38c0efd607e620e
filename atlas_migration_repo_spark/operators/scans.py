"""Scan operators (SURVEY.md §2.1).

The migration contract's read side ("extract objects, land columnar on S3",
/root/reference/README.md:3,7): plain declarative parquet scans so Catalyst
plants predicate pushdown + column pruning at the source. `scan_pruned`'s
plan is asserted in tests to actually push its filter into the parquet
reader (PushedFilters) — at 100 TB that's the difference between reading
one column's row groups and reading everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import load, msum
from atlas_migration_repo_spark.registry import query


@query("scan_parquet", oracle="SELECT r_regionkey, r_name FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of a parquet table."""
    return load(spark, sf_dir, "region")


@query(
    "scan_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-06-01'
    """,
)
def scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned, predicate-pushed scan: reads 4 of 12 lineitem columns
    and only row groups that can contain late ship dates."""
    li = load(spark, sf_dir, "lineitem")
    return li.where(F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "scan_cached",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def scan_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory tier: cache() materializes the scan into compressed
    columnar batches on first action; every later query reads
    InMemoryTableScan instead of parquet (verified by plan test) — the
    right treatment for a dimension read by dozens of queries per job.
    At cluster scale the same call distributes the cache across executor
    storage memory with partition-level eviction."""
    c = load(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal").cache()
    c.count()  # materialize
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        msum("c_acctbal", out="double").alias("bal"),
    )


@query(
    "scan_file_metadata",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    """,
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance scan via Spark's hidden `_metadata` struct (file
    sources expose path/name/size/mod-time without extra I/O) — the
    lineage audit a migration runs to prove which physical files produced
    which rows. Selecting `_metadata.file_name` costs nothing at the
    reader (constant per split, no shuffle); the per-file row counts +
    key ranges reduce map-side. The fixture is one file per table, so the
    portable oracle pins n_files=1 plus the exact row/key envelope; the
    file-NAME itself is environment-bound and asserted in a unit test
    (tests/test_operators.py::test_scan_file_metadata_names) instead."""
    from atlas_migration_repo_spark.catalog import table_path

    o = spark.read.parquet(table_path(sf_dir, "orders"))
    return o.agg(
        F.countDistinct(F.col("_metadata.file_name")).alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
