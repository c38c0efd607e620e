"""Golden queries, part 2: the remaining TPC-H query *shapes* (Q2, Q4,
Q8, Q9, Q11-Q22), adapted to the fixture schema (SURVEY.md §5.4; no
partsupp table, no commit/receipt dates, no comment/phone columns — each
analog keeps the plan shape that makes the original hard, substituting
available columns).

Together with goldens.py (Q1/Q3/Q5/Q6/Q7/Q10 shapes) this gives full
22-query TPC-H shape coverage: correlated min (Q2), EXISTS semi (Q4),
market-share ratio (Q8), multi-dim profit (Q9), HAVING-vs-scalar-subquery
(Q11), conditional counts (Q12), outer-join histogram (Q13), ratio agg
(Q14), argmax-by-scalar-subquery (Q15), anti-join distinct-count (Q16),
correlated-avg filter (Q17), having-join-back (Q18), disjunctive DNF
pushdown (Q19), nested semi-join (Q20), exists+not-exists self-joins
(Q21), anti-join + global-avg threshold (Q22).

Scale notes: every dim (part, supplier, customer, nation) broadcasts; the
only shuffles are on lineitem group keys or the orders⋈lineitem orderkey
join — identical to the goldens.py plan shape. Correlated subqueries are
rewritten as aggregate-then-join (never per-row), so they scale as one
extra shuffle, not N queries. Scalar subqueries (Q11/Q15/Q22 thresholds)
are single-row broadcasts.

Float policy (memory: decimal msum twins): money sums via catalog.msum /
oracle.sql_msum; ratios divide two identically-computed doubles then
round(4); quantity sums/avgs are exact in double (fixture quantities are
integral); per-row IEEE arithmetic is bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import as_date, load, msum
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query

_REV = "l_extendedprice * (1 - l_discount)"


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    mn AS (SELECT l_partkey AS mpk, MIN(unit_cost) AS min_cost
           FROM ps GROUP BY l_partkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
    FROM part
    JOIN ps ON l_partkey = p_partkey
    JOIN mn ON mpk = p_partkey AND unit_cost = min_cost
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_type = 'LARGE' AND p_size <= 10
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (correlated MIN +
    join-back). partsupp is absent, so unit cost is derived from lineitem
    as MIN(extendedprice/quantity) per (part, supplier) — per-row IEEE
    division and MIN are bit-exact, so the equality join-back on the
    double is deterministic. Two shuffles on l_partkey; part/supplier/
    nation broadcast."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    p = load(spark, sf_dir, "part").where(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    # per-part MIN as a window over the aggregate's own partitioning —
    # one pass, no second aggregate + self-join back (2 shuffles, not 3)
    min_cost = F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    return (
        ps.withColumn("min_cost", min_cost)
        .where(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(100)
    )


@query(
    "q4_priority_check",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE)
            BETWEEN DATE '1997-07-01' AND DATE '1997-09-30'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND CAST(l_shipdate AS DATE)
                          > CAST(o_orderdate AS DATE) + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority having at least one late line
    (no commitdate in fixture → "late" = shipped >30 days after order).
    EXISTS compiles to a left-semi join — one shuffle, no row blowup."""
    o = load(spark, sf_dir, "orders").where(
        as_date(F.col("o_orderdate")).between("1997-07-01", "1997-09-30")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        as_date(F.col("l_shipdate")) > F.date_add(as_date(F.col("o_orderdate")), 30)
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year, ROUND(num / den, 4) AS mkt_share FROM (
      SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
             {sql_msum(f"CASE WHEN n2.n_name = 'NATION_3' THEN {_REV} ELSE 0 END")} AS num,
             {sql_msum(_REV)} AS den
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND CAST(o_orderdate AS DATE)
              BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      GROUP BY CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT)
    ) t
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of ECONOMY-part revenue
    sold into AMERICA, per year. Numerator and denominator are decimal
    msums in the same aggregate (identical doubles → the ratio and its
    4dp round are deterministic). Single lineitem⋈orders shuffle."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").where(
        as_date(F.col("o_orderdate")).between("1996-01-01", "1997-12-31")
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ck"), F.col("n_regionkey").alias("crk")
    )
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("ck"))
        .join(F.broadcast(r), F.col("crk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sk"))
        .groupBy(F.year(as_date(F.col("o_orderdate"))).alias("o_year"))
        .agg(
            msum(f"CASE WHEN supp_nation = 'NATION_3' THEN {_REV} ELSE 0 END").alias(
                "num"
            ),
            msum(_REV).alias("den"),
        )
        .select("o_year", F.round(F.col("num") / F.col("den"), 4).alias("mkt_share"))
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
           {sql_msum(f"{_REV} - p_retailprice * l_quantity * 0.05")} AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_type = 'STANDARD'
    GROUP BY n_name, CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT)
    """,
    tags=("bench",),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year. partsupp's
    supplycost is absent → cost modeled as 5% of retailprice×quantity
    (per-row doubles, left-associated identically in both engines).
    One orders⋈lineitem shuffle, then a 25×7-group aggregate."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(as_date(F.col("o_orderdate"))).alias("o_year"),
        )
        .agg(msum(f"{_REV} - p_retailprice * l_quantity * 0.05D").alias("sum_profit"))
    )


_Q11_FROM = """
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_15'
"""


@query(
    "q11_important_stock",
    oracle=f"""
    SELECT l_partkey, {sql_msum('l_extendedprice * l_quantity')} AS stock_value
    {_Q11_FROM}
    GROUP BY l_partkey
    HAVING {sql_msum('l_extendedprice * l_quantity')} >
           (SELECT {sql_msum('l_extendedprice * l_quantity')} {_Q11_FROM}) * 0.001
    ORDER BY stock_value DESC, l_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose NATION_15-supplied value exceeds a
    fraction of the nation's total (HAVING vs scalar subquery). Both the
    group sums and the global threshold are decimal msums over the same
    rows → the strict comparison is deterministic. The scalar total is a
    1-row broadcast; the only shuffle is the l_partkey aggregate."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_15")
    val = "l_extendedprice * l_quantity"
    base = li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    grouped = base.groupBy("l_partkey").agg(msum(val).alias("stock_value"))
    total = base.agg(msum(val).alias("total_value"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .where(F.col("stock_value") > F.col("total_value") * F.lit(0.001))
        .select("l_partkey", "stock_value")
        .orderBy(F.col("stock_value").desc(), "l_partkey")
    )


@query(
    "q12_priority_lines",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE YEAR(CAST(l_shipdate AS DATE)) = 1997
    GROUP BY l_returnflag
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority line counts per category
    (shipmode is absent → returnflag is the category). Conditional
    integer counts — exact in both engines."""
    li = load(spark, sf_dir, "lineitem").where(
        F.year(as_date(F.col("l_shipdate"))) == 1997
    )
    o = load(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_cust_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) co
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of customers by (filtered) order count.
    Left join keeps zero-order customers (COUNT of a null column = 0);
    two cascaded aggregates, the second over ≤ a few dozen groups."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(100.0 * num / den, 4) AS promo_revenue FROM (
      SELECT {sql_msum(f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0 END")} AS num,
             {sql_msum(_REV)} AS den
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1997-10-01'
    ) t
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO parts' share of one month's revenue, as a
    percentage. Same two-msum-then-divide determinism as q8."""
    li = load(spark, sf_dir, "lineitem").where(
        as_date(F.col("l_shipdate")).between("1997-09-01", "1997-09-30")
    )
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            msum(f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0 END").alias("num"),
            msum(_REV).alias("den"),
        )
        .select(
            F.round(F.lit(100.0) * F.col("num") / F.col("den"), 4).alias(
                "promo_revenue"
            )
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {sql_msum(_REV)} AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max quarterly revenue (view +
    scalar-MAX equality). Revenues are msums → MAX and the equality are
    over identical doubles. The max is a 1-row broadcast."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").where(
        as_date(F.col("l_shipdate")).between("1997-01-01", "1997-03-31")
    )
    rev = li.groupBy("l_suppkey").agg(msum(_REV).alias("total_revenue"))
    s = load(spark, sf_dir, "supplier")
    # global MAX as an empty-frame window: computes `rev` once instead of
    # twice (agg + crossJoin re-derivation). The single-partition window
    # input is one row per supplier — trivially small at any scale.
    return (
        rev.withColumn("mx", F.max("total_revenue").over(Window.partitionBy()))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 15, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per excluded-brand part
    group, minus blacklisted suppliers (NOT IN → left-anti join; the
    complaint-comment filter is absent → negative balance instead)."""
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 23, 36, 45, 49)
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_qty_revenue",
    oracle=f"""
    SELECT ROUND({sql_msum('l_extendedprice')} / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_size <= 15
      AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost by dropping small-quantity orders
    (correlated per-part AVG threshold). Quantities are integral doubles,
    so AVG is exact and order-independent in both engines; the correlated
    subquery is rewritten as aggregate-then-broadcast-join (the per-part
    avg table is tiny: one row per part)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 15)
    )
    # semi-filter lineitem to the selected parts BEFORE the per-part avg:
    # the avg table is then |selected parts| rows (broadcastable at any
    # scale), not one row per part in the catalog
    pk = p.select("p_partkey")
    avgq = (
        li.join(F.broadcast(pk), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("apk"))
        .agg(F.avg("l_quantity").alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avgq), F.col("l_partkey") == F.col("apk"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(msum("l_extendedprice").alias("s"))
        .select(F.round(F.col("s") / F.lit(7.0), 4).alias("avg_yearly"))
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("bench",),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with >300-unit orders (HAVING then
    join back to orders/customer). Quantity sums are exact doubles.
    At scale: the HAVING prunes before the join, so the join input is
    the small filtered side — orderkey shuffle once."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            as_date(F.col("o_orderdate")).alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_disjunctive_filter",
    oracle=f"""
    SELECT {sql_msum(_REV)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of three conjunctive brand/size/quantity
    clauses across the join (DNF predicate — Catalyst extracts the
    common l_quantity bounds as a pushed-down scan filter)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")

    def clause(brand: str, max_size: int, qlo: int, qhi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )

    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(
            clause("Brand#12", 5, 1, 11)
            | clause("Brand#23", 10, 10, 20)
            | clause("Brand#3", 15, 20, 30)
        )
        .agg(msum(_REV).alias("revenue"))
    )


@query(
    "q20_excess_shipments",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'SMALL' AND YEAR(CAST(l_shipdate AS DATE)) = 1997
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 300
    )
    ORDER BY s_suppkey
    """,
)
def q20_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped a large volume of one part
    class in a year (nested IN → aggregate then left-semi join).
    Quantity sums exact; the qualifying-supplier set is tiny and the
    semi join broadcasts it."""
    li = load(spark, sf_dir, "lineitem").where(
        F.year(as_date(F.col("l_shipdate"))) == 1997
    )
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "SMALL")
    s = load(spark, sf_dir, "supplier")
    heavy = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 300)
        .select("l_suppkey")
    )
    return (
        s.join(
            F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_12'
      AND CAST(l1.l_shipdate AS DATE)
            > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND CAST(l3.l_shipdate AS DATE)
                              > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier finished orders ("late" = shipped >90 days after
    order date; fixture lacks commit/receipt dates). EXISTS → left-semi
    on (same order, other supplier); NOT EXISTS → left-anti against the
    late subset. All three legs shuffle on l_orderkey — co-partitioned,
    so AQE can reuse the exchange."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_12")
    late = li.join(o, li.l_orderkey == o.o_orderkey).where(
        as_date(F.col("l_shipdate")) > F.date_add(as_date(F.col("o_orderdate")), 90)
    )
    l1 = late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    others = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2"))
    late_others = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    return (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("ok2")) & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("ok3")) & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


_Q22_NATIONS = "(3, 8, 12, 13, 15)"


@query(
    "q22_dormant_customers",
    oracle=f"""
    SELECT c_nationkey AS cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_msum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_nationkey IN {_Q22_NATIONS}
      AND c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE)
        FROM customer
        WHERE c_acctbal > 0 AND c_nationkey IN {_Q22_NATIONS})
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01')
    GROUP BY c_nationkey
    ORDER BY cntrycode
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no recent orders, per
    country (nationkey stands in for the phone prefix). The global-avg
    threshold is computed as exact decimal sum ÷ count (identical double
    in both engines → deterministic strict >). NOT EXISTS → left-anti
    against recent orders; the threshold is a 1-row broadcast."""
    nations = [3, 8, 12, 13, 15]
    c = load(spark, sf_dir, "customer").where(F.col("c_nationkey").isin(nations))
    thr = c.where(F.col("c_acctbal") > 0).agg(
        (msum("c_acctbal", out="double") / F.count(F.lit(1)).cast("double")).alias("thr")
    )
    recent = (
        load(spark, sf_dir, "orders")
        .where(as_date(F.col("o_orderdate")) >= F.lit("2001-01-01").cast("date"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("thr"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            msum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
