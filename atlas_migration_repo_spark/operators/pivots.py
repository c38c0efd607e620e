"""Pivot / unpivot operators — wide↔long reshaping.

Pivot with an EXPLICIT value list: at scale, letting Spark infer pivot
values costs an extra distinct-scan of the fact table; the fixed in-list
keeps it one pass (and keeps the schema deterministic for the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import as_date, load
from atlas_migration_repo_spark.registry import query


@query(
    "pivot_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(NULLIF(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS "F",
           CAST(NULLIF(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS "O",
           CAST(NULLIF(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: priorities × status columns (explicit value
    list; Spark emits NULL — not 0 — for empty cells, mirrored with
    NULLIF in the oracle)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )


@query(
    "unpivot_balances",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value
    FROM customer
    """,
)
def unpivot_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide customer columns into (metric, value) long form."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return c.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "value")


@query(
    "pivot_transpose",
    oracle="""
    SELECT 'n' AS key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F') AS F,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'O') AS O,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'P') AS P
    """,
)
def pivot_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4): flip a tall per-status metric table
    into one wide row — the report-layout twin of pivot() that needs no
    aggregate because rows are already unique. Transpose materializes the
    (small) frame on the driver side of the plan, so it belongs strictly
    AFTER aggregation has collapsed 100 TB to a handful of rows."""
    o = load(spark, sf_dir, "orders")
    tall = (
        o.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )
    return tall.transpose()


_DOW_COLS = ",\n           ".join(
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday..6.
    f'CAST(COUNT(CASE WHEN DAYOFWEEK(CAST(ts AS TIMESTAMP)) = {k - 1} THEN 1 END) AS BIGINT) AS "{k}"'
    for k in range(1, 8)
)


@query(
    "stat_crosstab",
    oracle=f"""
    SELECT event_type AS event_type_dow,
           {_DOW_COLS}
    FROM events GROUP BY event_type
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.stat.crosstab: event-type × day-of-week contingency table
    — the profiling primitive behind categorical drift checks on a landed
    corpus. crosstab is a single hash aggregation on the pair key followed
    by a driver-side reshape of the (tiny) distinct-pair grid, so it is
    safe exactly when both cardinalities are small — which a contingency
    table presumes anyway. Day-of-week numbering differs between engines
    (Spark 1=Sunday, DuckDB 0=Sunday); the oracle shifts by one."""
    ev = load(spark, sf_dir, "events")
    return ev.withColumn("dow", F.dayofweek("ts")).stat.crosstab("event_type", "dow")


def _cell(status: str) -> str:
    from atlas_migration_repo_spark.oracle import sql_msum

    n = (
        f"CAST(NULLIF(COUNT(CASE WHEN o_orderstatus = '{status}' THEN 1 END), 0)"
        f' AS BIGINT) AS "{status}_n"'
    )
    total = sql_msum(f"CASE WHEN o_orderstatus = '{status}' THEN o_totalprice END")
    return f'{n}, {total} AS "{status}_total"'


@query(
    "pivot_multi_agg",
    oracle=f"""
    SELECT o_orderpriority,
           {_cell('F')}, {_cell('O')}, {_cell('P')}
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with TWO aggregates per cell (count + exact money sum):
    Spark suffixes each pivot value with each aggregate alias, giving the
    {status}_{metric} wide grid in ONE hash aggregation — the report
    shape that otherwise takes two pivots and a join. Explicit value list
    as in pivot_status (no extra distinct-scan, deterministic schema);
    empty cells are NULL for both metrics, mirrored with NULLIF in the
    oracle."""
    from atlas_migration_repo_spark.catalog import msum

    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            msum("o_totalprice").alias("total"),
        )
    )


@query(
    "pivot_dynamic",
    oracle="""
    SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS order_year,
           NULLIF(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS F,
           NULLIF(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS O,
           NULLIF(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS P
    FROM orders GROUP BY 1
    """,
)
def pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with INFERRED values — the no-value-list spelling for when
    the category domain isn't known at write time. Spark runs a distinct
    pass over the pivot column first (bounded by
    spark.sql.pivotMaxValues, 10k default — the guard that keeps an
    unexpectedly-wide domain from minting 10⁶ columns), sorts the values,
    and plans the same single-shuffle pivot aggregate pivot_status runs
    with its explicit list. At 100 TB the inference pass is one
    map-side-combined distinct over the scan; pin the list explicitly
    (pivot_status) when the domain is contractual. Inferred values sort
    ascending → columns F, O, P — deterministic given a fixed domain;
    empty cells are NULL (not 0), mirrored with NULLIF in the oracle."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year(as_date(F.col("o_orderdate"))).cast("int").alias("order_year"))
        .pivot("o_orderstatus")
        .agg(F.count(F.lit(1)))
    )
