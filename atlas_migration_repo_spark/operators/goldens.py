"""End-to-end golden queries (SURVEY.md §5.4): TPC-H-shaped multi-operator
pipelines that exercise scan→filter→join→agg→sort→limit in one plan. These
are the bench headliners alongside the Q1-shaped flagship.

Plan shape at scale: dims broadcast, the single fact⋈fact join (orders⋈
lineitem) shuffles on orderkey once, aggregates combine map-side, and the
top-k is TakeOrderedAndProject — no full sorts, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import as_date, load, msum
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query

_Q3_DATE = "1998-06-30"


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_msum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           ANY_VALUE(o_orderpriority) AS priority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '{_Q3_DATE}'
      AND CAST(l_shipdate  AS DATE) > DATE '{_Q3_DATE}'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("bench",),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: top-10 unshipped-revenue orders for one segment."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(as_date(F.col("o_orderdate")) < _Q3_DATE)
    li = load(spark, sf_dir, "lineitem").where(as_date(F.col("l_shipdate")) > _Q3_DATE)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", as_date(F.col("o_orderdate")).alias("order_date"))
        .agg(
            msum("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.any_value(F.col("o_orderpriority")).alias("priority"),
        )
        .select("l_orderkey", "revenue", "order_date", "priority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier",
    oracle=f"""
    SELECT n_name,
           {sql_msum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1998-01-01'
    GROUP BY n_name
    """,
    tags=("bench",),
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: revenue through same-nation suppliers per Asian
    nation. 6-table join; only orders⋈lineitem shuffles — every dim
    (region, nation, customer, supplier) broadcasts."""
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").where(
        as_date(F.col("o_orderdate")).between("1996-01-01", "1997-12-31")
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(msum("l_extendedprice * (1 - l_discount)").alias("revenue"))
    )


@query(
    "q7_nation_trade",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INT) AS ship_year,
           {sql_msum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY n1.n_name, n2.n_name, CAST(YEAR(l_shipdate) AS INT)
    """,
    tags=("bench",),
)
def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: bilateral trade volume between two nations per
    ship year (supplier nation ↔ customer nation, both directions)."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k1"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k2"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("k1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("k2"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(msum("l_extendedprice * (1 - l_discount)").alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, ANY_VALUE(c_name) AS c_name, ANY_VALUE(n_name) AS n_name,
           {sql_msum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1997-07-01'
    GROUP BY c_custkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("bench",),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: top-20 customers by returned-item revenue in a
    half-year window."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        as_date(F.col("o_orderdate")).between("1997-01-01", "1997-06-30")
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey")
        .agg(
            F.any_value(F.col("c_name")).alias("c_name"),
            F.any_value(F.col("n_name")).alias("n_name"),
            msum("l_extendedprice * (1 - l_discount)").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_msum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analog: forecast-revenue-change — pure filter + global sum,
    the canonical pushdown/scan-bound query. All four predicates reach the
    parquet reader; the plan is scan → partial agg → single-row exchange."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            as_date(F.col("l_shipdate")).between("1997-01-01", "1997-12-31")
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(msum("l_extendedprice * l_discount").alias("revenue"))
    )
