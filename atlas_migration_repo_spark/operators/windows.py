"""Window-function operators (SURVEY.md §2.5).

Every window partitions on a real key (custkey / user_id / nation) — never a
global ORDER BY without PARTITION BY, which would serialize onto one task at
scale. Determinism: every orderBy carries a unique-key suffix (§5.4), so
frames and ranks are reproducible across engines and shuffle orders.
topk_per_group uses the row_number()<=k shape Spark ≥3.5 rewrites into
WindowGroupLimit (per-partition heap, no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import (
    epoch_us,
    load,
    msum,
    msum_finish_sql,
    msum_parts_sql,
    r4,
)
from atlas_migration_repo_spark.oracle import sql_r4
from atlas_migration_repo_spark.registry import query


@query(
    "win_row_number",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey) AS BIGINT) AS rn
    FROM orders
    """,
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-customer order numbering (newest first)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), "o_orderkey")
    return o.select("o_orderkey", "o_custkey", F.row_number().over(w).alias("rn"))


@query(
    "win_rank",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST(RANK()       OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           {sql_r4('PERCENT_RANK() OVER w')} AS prnk
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_quantity)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank with genuine ties (integer qty)."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        r4(F.percent_rank().over(w)).alias("prnk"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           CAST(epoch_us(CAST(ts AS TIMESTAMP))
                - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER w) AS BIGINT) AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event values + inter-event gap per user."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (epoch_us("ts") - epoch_us(F.lag("ts").over(w))).alias("us_since_prev"),
    )


@query(
    "win_running_sum",
    tags=("bench",),
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
                      OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative customer spend (exact prefix sums, §5.4 policy): the
    windowed catalog.msum, two long mantissa sums in one frame pass."""
    o = load(spark, sf_dir, "orders")
    running = msum(
        "o_totalprice",
        over="PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    )
    return o.select("o_orderkey", running.alias("running_spend"))


@query(
    "win_moving_avg",
    oracle=f"""
    SELECT o_orderkey,
           {sql_r4('''AVG(o_totalprice) OVER (PARTITION BY o_custkey
                      ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)''')} AS avg3
    FROM orders
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 3-row average of order value per customer."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select("o_orderkey", r4(F.avg("o_totalprice").over(w)).alias("avg3"))


@query(
    "win_range_frame",
    oracle="""
    SELECT s_suppkey,
           CAST(COUNT(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal
                               RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS peers_within_500
    FROM supplier
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame on a numeric key: suppliers within 500 acctbal below."""
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal").rangeBetween(-500, 0)
    return s.select("s_suppkey", F.count(F.lit(1)).over(w).alias("peers_within_500"))


@query(
    "win_ntile",
    oracle="""
    SELECT c_custkey,
           CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS wealth_quartile
    FROM customer
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing by account balance (unique-key tiebreak).

    NB: deliberately a single global window — the one §2.5 operator whose
    semantics (equal-depth global buckets) force it; at 100 TB use a
    2-pass percentile-cutoff instead."""
    c = load(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select("c_custkey", F.ntile(4).over(w).alias("wealth_quartile"))


@query(
    "win_first_last",
    oracle="""
    SELECT c_custkey,
           FIRST_VALUE(c_custkey) OVER w AS richest_in_nation,
           LAST_VALUE(c_custkey)  OVER w AS poorest_in_nation
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over an explicit full-partition frame (the
    default frame stops at CURRENT ROW — a classic silent-wrong-answer)."""
    c = load(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        F.first("c_custkey").over(w).alias("richest_in_nation"),
        F.last("c_custkey").over(w).alias("poorest_in_nation"),
    )


@query(
    "topk_per_group",
    tags=("bench",),
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM (SELECT c_nationkey, c_custkey, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer)
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation — the row_number()<=k shape Catalyst
    rewrites to WindowGroupLimit (per-group heap; no full partition sort
    materialization at scale)."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        c.select("c_nationkey", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "win_cume_dist",
    oracle=f"""
    SELECT o_orderpriority, o_orderkey,
           {sql_r4("CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)")} AS cd
    FROM orders WHERE o_custkey < 50
    """,
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist: fraction of partition rows with value ≤ current —
    value-based, so ties share a result and no key tiebreak is needed
    (the ORDER BY only shapes the frame, not the output order)."""
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        r4(F.cume_dist().over(w)).alias("cd"),
    )


@query(
    "win_percent_rank_nth",
    oracle=f"""
    SELECT o_orderpriority, o_orderkey,
           {sql_r4("PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)")} AS pr,
           NTH_VALUE(o_totalprice, 2) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_highest
    FROM orders WHERE o_custkey < 50
    """,
)
def win_percent_rank_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank ((rank-1)/(n-1): value-based, tie-stable like
    cume_dist) paired with nth_value over an explicit full-partition
    frame — the 2nd-highest price per priority on every row. The frame
    must be UNBOUNDED..UNBOUNDED in both engines: the default frame stops
    at CURRENT ROW, where nth_value(…, 2) would be NULL for the first
    row of each partition."""
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w_pr = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    w_nth = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        r4(F.percent_rank().over(w_pr)).alias("pr"),
        F.nth_value("o_totalprice", 2).over(w_nth).alias("second_highest"),
    )


@query(
    "win_moving_median",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id,
             LIST_SORT(LIST(value) OVER (PARTITION BY user_id
                                         ORDER BY CAST(ts AS TIMESTAMP), event_id
                                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS fr
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN LEN(fr) % 2 = 1 THEN fr[(LEN(fr) + 1) // 2]
                ELSE (fr[LEN(fr) // 2] + fr[LEN(fr) // 2 + 1]) / 2.0 END AS moving_median
    FROM s
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median (5-row trailing frame per user): the robust-trend
    twin of win_moving_avg — order statistics over a window frame, which
    neither engine exposes directly as an exact windowed aggregate, so
    both state the identical sorted-frame midpoint formula (1-based
    element_at ≡ DuckDB list subscripts; the even-count midpoint is one
    IEEE add+divide, bit-exact). Frames are O(k) arrays, so cost is
    k·rows after one shuffle on user — the same shape at any scale."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_id", "user_id", F.array_sort(F.collect_list("value").over(w)).alias("fr")
    )
    n = F.size("fr")
    med = F.when(
        n % 2 == 1, F.element_at("fr", ((n + 1) / 2).cast("int"))
    ).otherwise(
        (F.element_at("fr", (n / 2).cast("int")) + F.element_at("fr", (n / 2 + 1).cast("int")))
        / 2.0
    )
    return s.select("event_id", "user_id", med.alias("moving_median"))


@query(
    "win_distinct_running",
    oracle="""
    SELECT event_id, event_type,
           CAST(COUNT(DISTINCT user_id) OVER (PARTITION BY event_type
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_users_seen
    FROM events
    """,
)
def win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — an operator Spark's SQL
    surface lacks (COUNT(DISTINCT) OVER is unsupported), re-expressed as
    size(collect_set(...)) over the same frame. The set lives in window
    state, so memory is O(distinct-per-partition), fine for bounded keys
    like users-per-event-type; for unbounded keys the HLL-sketch variant
    (agg_hll_mergeable) is the scale path. Frame is ROWS on the unique
    (ts, event_id) order, so both engines see identical prefixes."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.size(F.collect_set("user_id").over(w)).cast("long").alias("n_users_seen"),
    )


@query(
    "win_exclude_current",
    oracle="""
    SELECT event_id, event_type,
           FLOOR((CAST(SUM(CAST(value AS DECIMAL(30,8))) OVER w
                       - CAST(value AS DECIMAL(30,8)) AS DOUBLE)
                  / (COUNT(*) OVER w - 1)) * 10000 + 0.5) / 10000.0
             AS loo_mean
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def win_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean per group — the EXCLUDE CURRENT ROW frame Spark's
    window surface lacks, composed as (group_sum − value) / (group_n − 1).
    The group sum is an exact msum mantissa sum, so the numerator is exact
    and order-independent in both engines (a raw double window sum drifts
    ~1e-12 with partition order — fatal on the 4dp rounding grid); the
    single double division is then the identical IEEE op on identical
    operands. LOO statistics are the building block of ablation scoring
    and outlier-robust baselines. The group aggregates come from a
    map-side-combined groupBy broadcast back onto the scan — NOT an
    unbounded window partitioned by the ~5-value event_type, which would
    put n/5 rows on one task each (round-8 scale sweep). The re-attach
    join is NULL-SAFE (ADVICE r8): PARTITION BY keeps NULL keys as their
    own group, and groupBy emits that group's row, so eqNullSafe makes
    the rewrite exact for nullable event_type too (a plain equi-join
    would silently drop those rows)."""
    ev = load(spark, sf_dir, "events")
    # the group's two mantissa sums ride the broadcast; the row takes its
    # own mantissa off Σm, the exact rational __gsum − value
    hi, lo = msum_parts_sql("value")
    g = ev.groupBy("event_type").agg(
        F.expr(f"SUM({hi})").alias("__gh"),
        F.expr(f"SUM({lo})").alias("__gl"),
        F.count(F.lit(1)).alias("__gn"),
    )
    g = g.withColumnRenamed("event_type", "__g_et")
    ev = ev.join(
        F.broadcast(g), ev["event_type"].eqNullSafe(g["__g_et"])
    ).drop("__g_et")
    loo = F.expr(msum_finish_sql("__gh", "__gl", out="double", minus="value")) / (
        F.col("__gn") - 1
    )
    return ev.select(
        "event_id",
        "event_type",
        (F.floor(loo * 10000 + 0.5).cast("double") / F.lit(10000.0)).alias("loo_mean"),
    )


RANGE_HOURS = 6


@query(
    "win_time_range_frame",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))) OVER w, 4) AS DOUBLE)
             AS sum_in_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                 RANGE BETWEEN INTERVAL {RANGE_HOURS} HOURS PRECEDING
                           AND CURRENT ROW)
    """,
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: each event aggregated with everything the
    same user did in the trailing RANGE_HOURS hours of EVENT TIME — the
    rolling-window-by-clock semantics that a ROWS frame cannot express on
    irregular streams. Spark has no interval RANGE literal, so the frame
    is the equivalent integer range over unix microseconds; peer rows
    (identical µs) land in the frame identically in both engines. Sum
    accumulates in decimal so frame-order drift can't move the 4dp grid.
    One shuffle on user_id; state is bounded by events-per-window, the
    batch twin of stream_sliding's watermarked state."""
    ev = load(spark, sf_dir, "events").withColumn("__us", epoch_us("ts"))
    w = (
        f"PARTITION BY user_id ORDER BY __us RANGE BETWEEN"
        f" {RANGE_HOURS * 3600 * 1_000_000} PRECEDING AND CURRENT ROW"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.expr(f"COUNT(1) OVER ({w})").alias("n_in_window"),
        msum("value", over=w).alias("sum_in_window"),
    )


@query(
    "win_time_range",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))) OVER w, 4) AS DOUBLE)
             AS value_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-interval window frame: per user, the count and exact decimal
    sum of events in the trailing hour of EVENT TIME (range frame over
    the zone-pure epoch-micros ordering key, 3.6e9 µs back) — the rolling
    rate-limit / trailing-exposure primitive that row frames cannot
    express when events are irregularly spaced. One shuffle on user_id
    shared with every other per-user window; the range frame evaluates
    with a sliding two-pointer over each partition's sort, O(n) per key.
    Decimal accumulation makes the windowed sum order-exact, so both
    engines agree without an epsilon."""
    e = load(spark, sf_dir, "events").withColumn("__us", epoch_us("ts"))
    w = "PARTITION BY user_id ORDER BY __us RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW"
    return e.select(
        "event_id",
        "user_id",
        F.expr(f"COUNT(1) OVER ({w})").alias("n_last_hour"),
        msum("value", over=w).alias("value_last_hour"),
    )
