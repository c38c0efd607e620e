"""Second analytics batch (SURVEY.md §2 extensions): robust statistics,
BI share-of-total, Pareto skyline, event-transition matrices, and
time-weighted averages.

Like everything in operators/, these are declarative DataFrame plans —
Catalyst owns the physical strategy; docstrings call out the one place
each operator concentrates data and why it holds at 100 TB.
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
from atlas_migration_repo_spark.oracle import sql_msum, sql_r4
from atlas_migration_repo_spark.registry import query


@query(
    "skyline_pareto",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline: parts not dominated on (min retail price, max
    size). The oracle is the O(n²) NOT EXISTS definition; the Spark plan is
    the O(n log n) sweep — pre-aggregate max(size) per distinct price
    (map-side combine shrinks n to |distinct prices|), then one ordered
    prefix-max window over that small relation. A row is dominated iff a
    strictly cheaper price achieved >= its size, or its own price bucket
    achieved > its size. At 100 TB the per-price pre-aggregate is the
    scale valve: the global window runs on distinct prices only; range
    partitioning the price axis and chaining per-range prefix maxima
    removes even that single-reducer step if price cardinality explodes."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    per_price = p.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    best_lt = per_price.withColumn("best_cheaper", F.max("gmax").over(w))
    return (
        p.join(F.broadcast(best_lt), "p_retailprice")
        .where(
            (F.col("best_cheaper").isNull() | (F.col("best_cheaper") < F.col("p_size")))
            & (F.col("gmax") <= F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


@query(
    "event_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           {sql_r4('n * 1.0 / SUM(n) OVER (PARTITION BY from_type)')} AS p
    FROM pairs
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    timeline: count + row-normalized probability of each (from → to) step.
    One shuffle partitions by user for the lead(); the 5×5 transition
    matrix aggregates map-side. The per-from normalization window runs on
    25 rows — free at any corpus size (the heavy lifting stays keyed by
    user, the classic sequence-mining partitioning)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        r4(F.col("n") * 1.0 / F.sum("n").over(wn)).alias("p"),
    )


@query(
    "agg_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           {sql_r4('ANY_VALUE(m.med)')} AS median_value,
           {sql_r4('QUANTILE_CONT(ABS(e.value - m.med), 0.5)')} AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust dispersion
    twin of agg_stats' stddev (outlier-immune, the detector of choice when
    ts_anomaly_zscore's mean/σ get dragged by heavy tails). Two exact
    medians: group medians first (5 rows, broadcast back), then the median
    of absolute deviations. Exact percentile is a per-group sort at scale;
    swap F.percentile for percentile_approx to trade exactness for a
    mergeable sketch when groups stop fitting a partition."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            r4(F.first("med")).alias("median_value"),
            r4(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5)).alias("mad"),
        )
    )


@query(
    "share_of_total",
    oracle=f"""
    WITH rev AS (
      SELECT l_returnflag, l_linestatus,
             CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                                 AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, revenue,
           {sql_r4('revenue / SUM(revenue) OVER ()')} AS share,
           CAST(RANK() OVER (ORDER BY revenue DESC) AS INT) AS rev_rank
    FROM rev
    """,
)
def share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total with ranking — the BI staple: revenue by
    (returnflag, linestatus), each group's share of the grand total, and
    its rank. Aggregates first (map-side partials → 6 rows), so the
    unpartitioned share/rank windows run on group cardinality, not row
    count — the aggregate-then-window order is exactly what keeps this
    shape scale-free. Shares divide the already-rounded decimal sums, so
    both engines divide bit-identical doubles."""
    li = load(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(msum("l_extendedprice * (1.0D - l_discount)").alias("revenue"))
    )
    w_all = Window.partitionBy()
    return rev.select(
        "l_returnflag",
        "l_linestatus",
        "revenue",
        r4(F.col("revenue") / F.sum("revenue").over(w_all)).alias("share"),
        F.rank().over(Window.orderBy(F.col("revenue").desc())).cast("int").alias("rev_rank"),
    )


@query(
    "ts_time_weighted_avg",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, value,
             (LEAD(EPOCH_US(CAST(ts AS TIMESTAMP))) OVER w
              - EPOCH_US(CAST(ts AS TIMESTAMP))) // 1000000 AS dt_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    SELECT user_id,
           CAST(SUM(dt_s) AS BIGINT) AS obs_seconds,
           {sql_r4('CAST(SUM(CAST(value * dt_s AS DECIMAL(30,8))) AS DOUBLE) / SUM(dt_s)')} AS twap
    FROM seq
    WHERE dt_s IS NOT NULL
    GROUP BY user_id
    HAVING SUM(dt_s) > 0
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation holds until the next
    one, so it weighs by its holding duration — the honest mean for
    irregular series where a plain AVG over-counts bursts. Whole-second
    durations (integer floor) keep value·dt exactly representable:
    value is ≤4dp and dt ≤ 2.6e6 s, so the product is a ≤4dp number under
    2^53 — the decimal accumulation is then exact and order-independent in
    both engines. One user-partitioned window + one aggregate, the same
    single-shuffle profile as sessionize."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt_us = epoch_us(F.lead("ts").over(w)) - epoch_us("ts")
    seq = (
        ev.select("user_id", "value", dt_us.alias("_dt_us"))
        .where(F.col("_dt_us").isNotNull())
        .select("user_id", "value", F.expr("_dt_us div 1000000").alias("dt_s"))
    )
    return (
        seq.groupBy("user_id")
        .agg(
            F.sum("dt_s").alias("obs_seconds"),
            # the 4dp grid: value·dt_s is 4dp-exact but too large for dp=8
            (msum("value * dt_s", out="double", dp=4) / F.sum("dt_s")).alias(
                "_twap_raw"
            ),
        )
        .where(F.col("obs_seconds") > 0)
        .select(
            "user_id",
            "obs_seconds",
            r4(F.col("_twap_raw")).alias("twap"),
        )
    )


@query(
    "ts_autocorr",
    oracle=f"""
    WITH s AS (
      SELECT user_id, value,
             LAG(value, 1) OVER w AS v1,
             LAG(value, 2) OVER w AS v2,
             LAG(value, 3) OVER w AS v3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    SELECT user_id,
           {sql_r4('CORR(value, v1)')} AS acf_1,
           {sql_r4('CORR(value, v2)')} AS acf_2,
           {sql_r4('CORR(value, v3)')} AS acf_3
    FROM s GROUP BY user_id
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1/2/3 autocorrelation of the event value series — the
    seasonality/persistence probe that picks the model order before
    ts_ewma/ts_holt_linear smoothing. One user-partitioned window builds
    the lags, then sample CORR per user (both engines drop null pairs).
    Same single-shuffle profile as every per-user sequence op here; lags
    never cross users, so partitions stream independently at any scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 3).over(w).alias("v3"),
    )
    return s.groupBy("user_id").agg(
        r4(F.corr("value", "v1")).alias("acf_1"),
        r4(F.corr("value", "v2")).alias("acf_2"),
        r4(F.corr("value", "v3")).alias("acf_3"),
    )


@query(
    "orders_rfm",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
    base AS (
      SELECT o_custkey AS c_custkey,
             DATEDIFF('day', MAX(CAST(o_orderdate AS DATE)), ANY_VALUE(anchor.mx)) AS recency_days,
             COUNT(*) AS frequency,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS monetary
      FROM orders, anchor GROUP BY o_custkey
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY recency_days, c_custkey) AS INT) AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, c_custkey) AS INT) AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, c_custkey) AS INT) AS m_quartile
    FROM base
    """,
)
def orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order, anchored
    at the corpus max date so the result is reproducible), frequency, and
    decimal-exact monetary total, each cut into quartiles (customer-key
    tie-break makes NTILE deterministic). The aggregate runs keyed by
    customer; the three exact NTILE cuts then run on the *aggregated*
    relation through distributed.global_ntile (range partition +
    offset-rank + closed-form bucket inverse) — bit-identical to the
    single-window NTILE with no task ever sorting all |customers| rows,
    one ranged pass per RFM axis."""
    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("mx"))
    base = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(
                F.first("mx"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            msum("o_totalprice").alias("monetary"),
        )
    )
    from atlas_migration_repo_spark.operators.distributed import global_ntile

    cut = global_ntile(
        base, [F.col("recency_days").asc(), F.col("c_custkey").asc()], 4, out="r_q"
    )
    cut = global_ntile(
        cut, [F.col("frequency").desc(), F.col("c_custkey").asc()], 4, out="f_q"
    )
    cut = global_ntile(
        cut, [F.col("monetary").desc(), F.col("c_custkey").asc()], 4, out="m_q"
    )
    return cut.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.col("r_q").cast("int").alias("r_quartile"),
        F.col("f_q").cast("int").alias("f_quartile"),
        F.col("m_q").cast("int").alias("m_quartile"),
    )


@query(
    "abc_classification",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS rev_dec
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev_dec,
             SUM(rev_dec) OVER (ORDER BY rev_dec DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec,
             SUM(rev_dec) OVER () AS total_dec
      FROM rev
    )
    SELECT l_partkey,
           CAST(ROUND(rev_dec, 4) AS DOUBLE) AS revenue,
           {sql_r4('CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)')} AS cum_share,
           CASE WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) <= 0.7 THEN 'A'
                WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    cumulative share cut at 70% / 95%. All accumulation stays decimal
    (exact, order-independent) until the final share division, so the
    class boundaries are bit-identical in both engines. Revenue aggregates
    by part first (map-side combine); the cumulative sum over |parts|
    rows is the DISTRIBUTED two-tier prefix sum
    (distributed.global_running_sum — exact for decimal, so regrouping
    the additions cannot move a boundary), and the grand total is a
    1-row broadcast scalar — no task ever sorts or sums all parts
    alone."""
    from atlas_migration_repo_spark.operators.distributed import (
        global_running_sum,
    )

    li = load(spark, sf_dir, "lineitem")
    # the sum stays DECIMAL(38,8) for the prefix sum and share division
    rev = li.groupBy("l_partkey").agg(
        msum("l_extendedprice * (1.0D - l_discount)", out="decimal").alias("rev_dec")
    )
    cum = global_running_sum(
        rev,
        [F.col("rev_dec").desc(), F.col("l_partkey").asc()],
        F.col("rev_dec"),
        out="cum_dec",
    )
    total = rev.agg(F.sum("rev_dec").alias("total_dec"))
    ranked = cum.crossJoin(F.broadcast(total))
    share = F.col("cum_dec").cast("double") / F.col("total_dec").cast("double")
    return ranked.select(
        "l_partkey",
        F.col("rev_dec").cast("decimal(38,4)").cast("double").alias("revenue"),
        r4(share).alias("cum_share"),
        F.when(share <= 0.7, "A").when(share <= 0.95, "B").otherwise("C").alias("abc_class"),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                      THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST((EPOCH_US(t_purchase) - EPOCH_US(t_signup)) // 1000000 AS BIGINT)
             AS secs_to_convert
    FROM f
    WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
      AND t_purchase >= t_signup
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency per user: whole seconds from first signup to
    first purchase (users whose first purchase predates signup are
    excluded — they converted through another door). Conditional MINs
    aggregate map-side in one pass over events; no window, no self-join —
    the cheapest formulation of funnel timing and the one that scales as a
    single keyed aggregate."""
    ev = load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return (
        f.where(
            F.col("t_signup").isNotNull()
            & F.col("t_purchase").isNotNull()
            & (F.col("t_purchase") >= F.col("t_signup"))
        )
        .select(
            "user_id",
            (epoch_us("t_purchase") - epoch_us("t_signup")).alias("_us"),
        )
        .select("user_id", F.expr("_us div 1000000").alias("secs_to_convert"))
    )


@query(
    "ts_cusum",
    oracle=f"""
    WITH q AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
             CAST(ROUND(value * 10000) AS BIGINT) AS qv
      FROM events
    ),
    g AS (
      SELECT user_id,
             CAST((2 * SUM(qv) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mu_u
      FROM q GROUP BY user_id
    ),
    s AS (
      SELECT q.user_id,
             SUM(q.qv) OVER w - ROW_NUMBER() OVER w * g.mu_u AS cusum_units
      FROM q JOIN g USING (user_id)
      WINDOW w AS (PARTITION BY q.user_id ORDER BY q.tsx, q.event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(MAX(cusum_units) AS DOUBLE) / 10000.0 AS max_excursion,
           CAST(MIN(cusum_units) AS DOUBLE) / 10000.0 AS min_excursion
    FROM s GROUP BY user_id
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart per user: running sum of deviations from the
    (4dp-quantized) per-user mean; max/min excursions are the changepoint
    evidence a drifting series leaves behind.

    Exactness is the whole game and floats cannot deliver it: Spark
    evaluates running-frame SUMs incrementally while DuckDB uses a segment
    tree, so double CUSUMs round in different orders and the row-count-
    amplified drift breaks the 4dp hash at sf0.1; even an exact integer
    numerator divided by n hits round-half ties that the engines break
    differently (both observed). So the mean itself is quantized to the
    value grid — mu_u = round_half_up(Σq / n) in exact 1e-4 integer units
    ((2Σq+n) div 2n, fixture values are positive) — and every cusum is
    pure 64-bit integer arithmetic; /1e4 at the end is exact in double.
    One user-keyed shuffle; the per-user means broadcast (15 rows)."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 10000).cast("bigint").alias("qv"),
    )
    g = q.groupBy("user_id").agg(
        F.expr("CAST((2 * SUM(qv) + COUNT(*)) div (2 * COUNT(*)) AS BIGINT)").alias(
            "mu_u"
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = q.join(F.broadcast(g), "user_id").select(
        "user_id",
        (F.sum("qv").over(w) - F.row_number().over(wr) * F.col("mu_u")).alias(
            "cusum_units"
        ),
    )
    return s.groupBy("user_id").agg(
        (F.max("cusum_units").cast("double") / 10000.0).alias("max_excursion"),
        (F.min("cusum_units").cast("double") / 10000.0).alias("min_excursion"),
    )


@query(
    "join_interval_overlap",
    oracle="""
    SELECT a.o_custkey AS c,
           a.o_orderkey AS k1, b.o_orderkey AS k2,
           CAST(DATEDIFF('day',
                GREATEST(CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE)),
                LEAST(CAST(a.o_orderdate AS DATE) + INTERVAL 30 DAY,
                      CAST(b.o_orderdate AS DATE) + INTERVAL 30 DAY)) AS INT)
             AS overlap_days
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE CAST(a.o_orderdate AS DATE) < CAST(b.o_orderdate AS DATE) + INTERVAL 30 DAY
      AND CAST(b.o_orderdate AS DATE) < CAST(a.o_orderdate AS DATE) + INTERVAL 30 DAY
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of 30-day order windows of the
    same customer that intersect, with the overlap length. The equi-key
    (customer) carries the join — Spark hash-partitions on it and the
    interval predicate is a cheap residual filter, so unlike a pure
    interval join no binning is needed; per-customer order counts bound
    the quadratic term. The orderkey inequality canonicalizes pairs."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    a = o.select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("k1"),
        F.col("d").alias("d1"),
    )
    b = o.select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("k2"),
        F.col("d").alias("d2"),
    )
    pairs = a.join(b, "c").where(
        (F.col("k1") < F.col("k2"))
        & (F.col("d1") < F.date_add(F.col("d2"), 30))
        & (F.col("d2") < F.date_add(F.col("d1"), 30))
    )
    return pairs.select(
        "c",
        "k1",
        "k2",
        F.datediff(
            F.least(F.date_add("d1", 30), F.date_add("d2", 30)),
            F.greatest("d1", "d2"),
        )
        .cast("int")
        .alias("overlap_days"),
    )


@query(
    "rel_division",
    oracle="""
    WITH divisor AS (SELECT COUNT(DISTINCT p_brand) AS n_brands FROM part),
    cand AS (
      SELECT DISTINCT o_custkey, p_brand
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                  JOIN part ON l_partkey = p_partkey
    )
    SELECT o_custkey AS c_custkey,
           CAST(COUNT(*) AS INT) AS n_brands
    FROM cand, divisor
    GROUP BY o_custkey, divisor.n_brands
    HAVING COUNT(*) = divisor.n_brands
    """,
)
def rel_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — the 'for all' query: customers whose orders
    span EVERY part brand in the catalog. Division reduces to counting:
    distinct (customer, brand) pairs, then keep customers whose brand
    count equals the divisor cardinality. The distinct pre-aggregate is
    the scale lever (collapses the fact table to |customers|x|brands|
    before any comparison); the divisor is one broadcast scalar. No
    correlated subquery survives to the physical plan — this is the
    decorrelated form by construction."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    n_brands = p.agg(F.countDistinct("p_brand").alias("n_brands"))
    cand = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
    )
    return (
        cand.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n_brands))
        .where(F.col("cnt") == F.col("n_brands"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("cnt").cast("int").alias("n_brands"),
        )
    )


@query(
    "ts_longest_streak",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_all,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type = 'error'
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_flag
      FROM events
    ),
    islands AS (
      SELECT user_id, COUNT(*) AS streak
      FROM seq WHERE event_type = 'error'
      GROUP BY user_id, rn_all - rn_flag
    )
    SELECT user_id, CAST(MAX(streak) AS INT) AS longest_error_streak
    FROM islands GROUP BY user_id
    """,
)
def ts_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive run of 'error' events per user — gaps-and-
    islands: within a user's timeline, consecutive errors share the same
    (row_number_all − row_number_among_errors) island key, so the longest
    streak is a count-max over islands. Three window passes but ONE
    physical sort: all windows share the (user_id | ts, event_id)
    ordering, so Catalyst pipelines them over a single user-keyed
    shuffle — the alerting primitive ('N failures in a row') at any
    scale."""
    ev = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_flag = Window.partitionBy(
        "user_id", F.col("event_type") == "error"
    ).orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_flag)).alias("island"),
    ).where(F.col("event_type") == "error")
    islands = seq.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("streak"))
    return islands.groupBy("user_id").agg(
        F.max("streak").cast("int").alias("longest_error_streak")
    )


@query(
    "agg_percentile_disc",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN l_quantity END) AS q25,
           MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN l_quantity END) AS q50,
           MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN l_quantity END) AS q90
    FROM ranked GROUP BY l_returnflag
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (type-1 quantiles): the value at sorted rank
    ceil(q·n) — an actual observed element, never an interpolation (the
    right definition for quantities and budgets that must be realizable).
    Both twins spell out the same rank-selection rule rather than leaning
    on engine-specific QUANTILE_DISC tie conventions, so parity is by
    construction. The per-group rank is distributed.grouped_rank — the
    3 groups are each a third of the table, so a per-group window sort
    would put n/3 rows on one task; the two-tier rank keeps the EXACT
    order statistic (no percentile_approx compromise) at any scale."""
    from atlas_migration_repo_spark.operators.distributed import grouped_rank

    li = load(spark, sf_dir, "lineitem")
    ranked, sizes = grouped_rank(
        li.select("l_returnflag", "l_quantity"),
        ["l_returnflag"],
        [F.col("l_quantity").asc()],
        out="rn",
    )
    n_map = F.create_map(
        *[x for (g,), n in sorted(sizes.items()) for x in (F.lit(g), F.lit(n))]
    )
    ranked = ranked.withColumn("n", F.element_at(n_map, F.col("l_returnflag")))

    def at(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("l_quantity"),
            )
        )

    return ranked.groupBy("l_returnflag").agg(
        at(0.25).alias("q25"), at(0.50).alias("q50"), at(0.90).alias("q90")
    )


@query(
    "join_mark_exists",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 300000) AS has_big_order
    FROM customer c
    """,
)
def join_mark_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-flag join (the 'mark join'): every customer row survives,
    annotated with whether a qualifying order EXISTS — the pattern behind
    CASE WHEN EXISTS projections. Spark has no mark-join operator, so the
    flag is built as a distinct-keys left join + null test: the distinct
    pre-aggregate keeps the join build side to |matching customers| and
    the left join preserves cardinality exactly (no fan-out) — semantics
    a left_semi (drops rows) or raw left join (duplicates rows) would
    both get wrong. The filter pushes into the orders scan."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    big = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .withColumn("m", F.lit(True))
    )
    return c.join(F.broadcast(big), c.c_custkey == big.k, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("m"), F.lit(False)).alias("has_big_order"),
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(
             SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,8)))
             / SUM(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE)
             AS qty_weighted_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price per return flag: Σ(price·qty)/Σ(qty),
    both sums accumulated in exact decimal so the quotient divides
    bit-identical operands in both engines (price·qty is ≤4dp — inside
    the decimal(30,8) exactness margin). The division result is decimal
    in both engines (DuckDB decimal/decimal stays decimal), rounded to
    4dp while still decimal, then cast — same discipline as msum. Plain
    two-sum aggregate: partial map-side combine, one shuffle of 3 rows."""
    li = load(spark, sf_dir, "lineitem")
    # DECIMAL(38,8) operands keep the decimal division's result scale
    num = msum("l_extendedprice * l_quantity", out="decimal")
    den = msum("l_quantity", out="decimal")
    return li.groupBy("l_returnflag").agg(
        F.round(num / den, 4).cast("double").alias("qty_weighted_price")
    )


@query(
    "date_spine_fill",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS lo, MAX(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT UNNEST(GENERATE_SERIES(CAST(DATE_TRUNC('month', bounds.lo) AS DATE),
                                    bounds.hi, INTERVAL 1 MONTH)) AS m
      FROM bounds
    ),
    actual AS (
      SELECT DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS m, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT CAST(DATE_TRUNC('month', spine.m) AS DATE) AS month,
           CAST(COALESCE(actual.n, 0) AS BIGINT) AS n_orders
    FROM spine LEFT JOIN actual ON DATE_TRUNC('month', spine.m) = actual.m
    """,
)
def date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine densification: generate every month between the
    first and last order date and left-join the actual monthly counts, so
    empty months surface as explicit zeros — the gap-free axis every
    report and forecasting model needs (a GROUP BY alone silently drops
    empty periods). The spine generates from one broadcast (min,max) row
    via sequence+explode — rows scale with the calendar, not the data."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(
                F.trunc("lo", "month"), F.trunc("hi", "month"), F.expr("INTERVAL 1 MONTH")
            )
        ).alias("month")
    )
    actual = o.groupBy(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("m")
    ).agg(F.count(F.lit(1)).alias("n"))
    return spine.join(F.broadcast(actual), spine.month == actual.m, "left").select(
        "month", F.coalesce(F.col("n"), F.lit(0)).alias("n_orders")
    )


@query(
    "win_nth_value",
    oracle="""
    SELECT DISTINCT o_custkey AS c_custkey,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_orderkey,
           NTH_VALUE(o_orderkey, 3) OVER w AS third_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full-partition frame: each customer's 2nd and
    3rd order (by date, orderkey tiebreak), NULL when fewer exist — the
    'what did they do next' primitive. The explicit unbounded frame
    matters: the default frame stops at the current row and would yield
    row-dependent answers; pinned to the full partition, every row agrees
    and DISTINCT collapses to one row per customer. One keyed shuffle."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_orderkey"),
            F.nth_value("o_orderkey", 3).over(w).alias("third_orderkey"),
        )
        .distinct()
    )


@query(
    "agg_bool_and_or",
    oracle="""
    SELECT l_returnflag,
           BOOL_AND(l_discount <= 0.05) AS all_low_discount,
           BOOL_OR(l_quantity >= 49) AS any_bulk,
           CAST(COUNT(*) FILTER (WHERE l_tax = 0) AS BIGINT) AS n_tax_free
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bool_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregation (every/any/count-if): universally- and
    existentially-quantified predicates per group, the building block of
    data-quality assertions (dq_checks composes these). Booleans fold
    map-side to a single bit per partition — the cheapest aggregate
    there is."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") <= 0.05).alias("all_low_discount"),
        F.bool_or(F.col("l_quantity") >= 49).alias("any_bulk"),
        F.count_if(F.col("l_tax") == 0).alias("n_tax_free"),
    )


@query(
    "agg_regr_family",
    oracle=f"""
    SELECT l_returnflag,
           CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n,
           {sql_r4('REGR_SLOPE(l_extendedprice, l_quantity)')} AS slope,
           {sql_r4('REGR_INTERCEPT(l_extendedprice, l_quantity)')} AS intercept,
           {sql_r4('REGR_R2(l_extendedprice, l_quantity)')} AS r2,
           {sql_r4('REGR_AVGX(l_extendedprice, l_quantity)')} AS avg_qty,
           {sql_r4('REGR_AVGY(l_extendedprice, l_quantity)')} AS avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard REGR_* linear-regression family as built-ins
    (slope/intercept/R²/avgs/count of price on quantity per return flag)
    — agg_linreg derives the same fit from raw moments to prove the
    algebra; this registers the native aggregates, which partial-merge
    (sum/count/co-moment state) and therefore scale as one map-side
    combine + 3-row shuffle like any other aggregate."""
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        r4(F.regr_slope(y, x)).alias("slope"),
        r4(F.regr_intercept(y, x)).alias("intercept"),
        r4(F.regr_r2(y, x)).alias("r2"),
        r4(F.regr_avgx(y, x)).alias("avg_qty"),
        r4(F.regr_avgy(y, x)).alias("avg_price"),
    )


@query(
    "pct_change_mom",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           {sql_r4('(revenue - LAG(revenue) OVER (ORDER BY month)) * 100.0 / LAG(revenue) OVER (ORDER BY month)')} AS pct_change
    FROM monthly
    """,
)
def pct_change_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue percent change — the reporting staple.
    Aggregate to months first (decimal-exact, map-side combine), then one
    lag over the ~80-row monthly series; the first month is NULL by
    definition. The pct divides two already-rounded doubles, so both
    engines divide identical bits. Global window on the aggregated series
    only — never on raw rows."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month")
    ).agg(
        msum("o_totalprice").alias("revenue")
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        r4((F.col("revenue") - prev) * 100.0 / prev).alias("pct_change"),
    )


@query(
    "agg_count_distinct_multi",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS d_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS d_supps,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d_orders,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT) over different columns in one aggregate —
    the shape that forces Spark's Expand operator (one row replicated per
    distinct-column with a grouping id, then two-phase dedup+count).
    Expand multiplies shuffle rows by the distinct-aggregate count, which
    is why agg_approx_count_distinct exists as the sketch-based escape
    hatch at 100 TB; here the exact form is the point, and the plain
    COUNT(*) rides along without an expand branch of its own."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("d_parts"),
        F.countDistinct("l_suppkey").alias("d_supps"),
        F.countDistinct("l_orderkey").alias("d_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "win_lag_default",
    oracle="""
    SELECT event_id, user_id,
           LAG(value, 2, -1.0) OVER w AS lag2_or_neg1,
           LEAD(value, 3, 0.0) OVER w AS lead3_or_zero
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def win_lag_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead at offsets beyond 1 with explicit defaults instead of
    NULLs at the partition edges — the form feature pipelines use so a
    downstream model never sees missing lags. Same one-sort-per-partition
    profile as every sequence window."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value", 2, -1.0).over(w).alias("lag2_or_neg1"),
        F.lead("value", 3, 0.0).over(w).alias("lead3_or_zero"),
    )


@query(
    "basket_affinity",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    item AS (SELECT l_partkey, COUNT(*) AS cnt FROM op GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS both_cnt
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b, both_cnt,
           {sql_r4('both_cnt * 1.0 / n.n_orders')} AS support,
           {sql_r4('both_cnt * 1.0 / ia.cnt')} AS confidence_a_b,
           {sql_r4('(both_cnt * 1.0 / n.n_orders) / ((ia.cnt * 1.0 / n.n_orders) * (ib.cnt * 1.0 / n.n_orders))')} AS lift
    FROM pair
    JOIN item ia ON pair.part_a = ia.l_partkey
    JOIN item ib ON pair.part_b = ib.l_partkey
    CROSS JOIN n
    """,
)
def basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over co-purchased part pairs: support,
    confidence(A→B) and lift — the step after basket_pairs' candidate
    generation that turns co-occurrence counts into rankable rules (lift
    > 1 ⇒ genuinely associated, not just popular). The pair join stays
    keyed on the order (never corpus-quadratic); item counts are
    vocab-sized and broadcast; every ratio divides exact integer counts,
    so r4 parity is trivial."""
    op = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = op.select(F.countDistinct("l_orderkey").alias("n_orders"))
    item = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("both_cnt"))
        .where(F.col("both_cnt") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "both_cnt",
            r4(F.col("both_cnt") * 1.0 / F.col("n_orders")).alias("support"),
            r4(F.col("both_cnt") * 1.0 / F.col("cnt_a")).alias("confidence_a_b"),
            r4(
                (F.col("both_cnt") * 1.0 / F.col("n_orders"))
                / (
                    (F.col("cnt_a") * 1.0 / F.col("n_orders"))
                    * (F.col("cnt_b") * 1.0 / F.col("n_orders"))
                )
            ).alias("lift"),
        )
    )


@query(
    "scd2_asof_lookup",
    oracle="""
    WITH dim AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS valid_from,
             COALESCE(LEAD(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ), TIMESTAMP '9999-12-31') AS valid_to,
             value AS dim_value
      FROM events WHERE user_id < 10 AND event_type = 'signup'
    )
    SELECT f.event_id, f.user_id, d.dim_value
    FROM events f JOIN dim d
      ON f.user_id = d.user_id
     AND CAST(f.ts AS TIMESTAMP) >= d.valid_from
     AND CAST(f.ts AS TIMESTAMP) < d.valid_to
    WHERE f.event_type = 'purchase' AND f.user_id < 10
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact⋈dimension lookup against an SCD2 history: each
    purchase joins the dimension version whose [valid_from, valid_to)
    interval covers the event time — the query every warehouse runs
    against the table scd2_history builds. The validity intervals are
    half-open and partition each user's timeline, so exactly one version
    matches per fact row (no fan-out). Equi-key on user carries the
    shuffle; the interval test is a residual predicate — at 100 TB the
    dim side is the small one and broadcasts."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.where((F.col("user_id") < 10) & (F.col("event_type") == "signup"))
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(w),
                F.lit("9999-12-31 00:00:00").cast("timestamp_ntz"),
            ).alias("valid_to"),
            F.col("value").alias("dim_value"),
        )
    )
    fact = ev.where((F.col("event_type") == "purchase") & (F.col("user_id") < 10))
    return (
        fact.alias("f")
        .join(
            F.broadcast(dim).alias("d"),
            (F.col("f.user_id") == F.col("d.user_id"))
            & (F.col("f.ts") >= F.col("d.valid_from"))
            & (F.col("f.ts") < F.col("d.valid_to")),
        )
        .select("f.event_id", "f.user_id", "d.dim_value")
    )


@query(
    "ts_bollinger_bands",
    oracle=f"""
    WITH q AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsx,
             CAST(ROUND(value * 10000) AS BIGINT) AS qv
      FROM events
    ),
    fr AS (
      SELECT event_id, user_id,
             SUM(qv) OVER w AS s,
             SUM(qv * qv) OVER w AS s2,
             COUNT(*) OVER w AS n
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY tsx, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CAST((2 * s + n) // (2 * n) AS DOUBLE) / 10000.0 AS sma,
           {sql_r4('CAST((2 * s + n) // (2 * n) AS DOUBLE) / 10000.0 + CASE WHEN n > 1 THEN 2 * SQRT(CAST(n * s2 - s * s AS DOUBLE) / (n * (n - 1))) / 10000.0 END')} AS upper_band,
           {sql_r4('CAST((2 * s + n) // (2 * n) AS DOUBLE) / 10000.0 - CASE WHEN n > 1 THEN 2 * SQRT(CAST(n * s2 - s * s AS DOUBLE) / (n * (n - 1))) / 10000.0 END')} AS lower_band
    FROM fr
    """,
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands: 20-observation moving average ± 2 moving standard
    deviations per user series — the volatility envelope on top of the
    same framed-window machinery as win_moving_avg.

    Float framed aggregates cannot hash-match across engines (sliding
    accumulation vs segment tree evaluate in different orders, and a
    20-element mean of 4dp values lands exactly on round-half ties), so
    the frame carries exact integer units: values quantize to 1e-4
    (exact — fixture values are ≤4dp and positive), the frame sums S and
    S² are 64-bit-exact in any evaluation order, the SMA rounds half-up
    in pure integer arithmetic ((2S+n) div 2n), and the sample stddev
    √((nS₂−S²)/(n(n−1))) takes the square root of bit-identical doubles
    — irrational, so the final r4 never hits a tie. One sort per user
    partition, both aggregates share the frame."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 10000).cast("bigint").alias("qv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    fr = q.select(
        "event_id",
        "user_id",
        F.sum("qv").over(w).alias("s"),
        F.sum(F.col("qv") * F.col("qv")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    sma = F.expr("CAST((2 * s + n) div (2 * n) AS DOUBLE)") / 10000.0
    sd = (
        F.when(
            F.col("n") > 1,
            F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s") * F.col("s")).cast("double")
                / (F.col("n") * (F.col("n") - 1))
            )
            / 10000.0,
        )
    )
    return fr.select(
        "event_id",
        "user_id",
        sma.alias("sma"),
        r4(sma + 2 * sd).alias("upper_band"),
        r4(sma - 2 * sd).alias("lower_band"),
    )


@query(
    "events_path_signature",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             STRING_AGG(event_type, '>' ORDER BY rn) AS path5
      FROM ranked WHERE rn <= 5
      GROUP BY user_id
    )
    SELECT path5, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path5
    """,
)
def events_path_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: each user's first five event types joined into an
    ordered '>'-separated signature, counted across users — the
    onboarding-funnel fingerprint ('view>view>signup>purchase…'). The
    sequence materializes array-side: sort_array over (rank, type)
    structs makes the order explicit data, not collect_list evaluation
    order, so the path string is deterministic on any partitioning —
    the same discipline as agg_collect_sorted. One user-keyed shuffle."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 5)
    paths = ranked.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.getField("event_type"),
            ),
        ).alias("path5")
    )
    return paths.groupBy("path5").agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "outliers_iqr",
    oracle=f"""
    WITH q AS (
      SELECT c_mktsegment,
             QUANTILE_CONT(c_acctbal, 0.25) AS q1,
             QUANTILE_CONT(c_acctbal, 0.75) AS q3
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           {sql_r4('c.c_acctbal')} AS acctbal,
           (c.c_acctbal < q.q1 - 1.5 * (q.q3 - q.q1)) AS low_outlier,
           (c.c_acctbal > q.q3 + 1.5 * (q.q3 - q.q1)) AS high_outlier
    FROM customer c JOIN q ON c.c_mktsegment = q.c_mktsegment
    WHERE c.c_acctbal < q.q1 - 1.5 * (q.q3 - q.q1)
       OR c.c_acctbal > q.q3 + 1.5 * (q.q3 - q.q1)
    """,
)
def outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection: account balances beyond
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] of their market segment — the
    quartile-based sibling of agg_mad and ts_anomaly_zscore (each robust
    to a different failure of normality). Per-segment quartiles are 5
    rows and broadcast back; the fence comparison is a map-side filter.
    Exact percentile parity (Spark F.percentile == DuckDB QUANTILE_CONT)
    is already established by agg_percentile."""
    c = load(spark, sf_dir, "customer")
    q = c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", 0.25).alias("q1"),
        F.percentile("c_acctbal", 0.75).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr
    return (
        c.join(F.broadcast(q), "c_mktsegment")
        .where((F.col("c_acctbal") < lo) | (F.col("c_acctbal") > hi))
        .select(
            "c_custkey",
            "c_mktsegment",
            r4(F.col("c_acctbal")).alias("acctbal"),
            (F.col("c_acctbal") < lo).alias("low_outlier"),
            (F.col("c_acctbal") > hi).alias("high_outlier"),
        )
    )


@query(
    "ts_hour_dow_profile",
    oracle=f"""
    SELECT CAST(DAYOFWEEK(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
           CAST(HOUR(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_r4('AVG(value)')} AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def ts_hour_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heat profile: event density and mean value by (day of
    week × hour of day) — the 7×24 seasonality matrix behind anomaly
    baselines and capacity planning (ts_seasonal_decompose consumes the
    hourly axis of exactly this profile). Field extraction on the naive
    timestamp is zone-pure; 168 groups aggregate map-side. DuckDB's
    DAYOFWEEK is 0=Sunday, Spark's dayofweek is 1=Sunday — the Spark
    side subtracts 1 to land on the oracle's convention."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        r4(F.avg("value")).alias("avg_value"),
    )


@query(
    "agg_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, SUM(n) AS tot FROM c GROUP BY user_id)
    SELECT c.user_id,
           {sql_r4('-SUM((c.n * 1.0 / t.tot) * LN(c.n * 1.0 / t.tot))')} AS type_entropy,
           CAST(COUNT(*) AS INT) AS n_types
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity profile (bots burn low-entropy signatures; the
    same formula scores label balance in training corpora). Probabilities
    divide exact integer counts, so both engines transform identical
    doubles; the ≤5-term entropy sum is order-safe under r4. Two keyed
    aggregates, the totals join back on the same partitioning."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") * 1.0 / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            r4(-F.sum(p * F.log(p))).alias("type_entropy"),
            F.count(F.lit(1)).cast("int").alias("n_types"),
        )
    )


@query(
    "events_interarrival_histogram",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             (EPOCH_US(CAST(ts AS TIMESTAMP))
              - LAG(EPOCH_US(CAST(ts AS TIMESTAMP))) OVER (
                  PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
              )) // 1000000 AS gap_s
      FROM events
    )
    SELECT CAST(FLOOR(LOG10(gap_s + 1)) AS INT) AS log10_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY 1
    """,
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution in log-decade buckets (0-9s,
    10-99s, …): the burstiness fingerprint that chooses session gaps and
    watermark delays empirically instead of by folklore — ts_gap_detect
    flags the outliers, this shows the whole distribution. Gaps are
    exact integer seconds (floored µs arithmetic); log10 of identical
    integers buckets identically in both engines. One user-keyed window
    then a tiny bucket aggregate."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        ((epoch_us("ts") - epoch_us(F.lag("ts").over(w)))).alias("_us")
    ).where(F.col("_us").isNotNull()).select(F.expr("_us div 1000000").alias("gap_s"))
    return gaps.groupBy(
        F.floor(F.log10(F.col("gap_s") + 1)).cast("int").alias("log10_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


@query(
    "feature_zscore_normalize",
    oracle=f"""
    WITH m AS (
      SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS mu_q,
             STDDEV_SAMP(l_quantity) AS sd_q,
             CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS mu_d,
             STDDEV_SAMP(l_discount) AS sd_d
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           {sql_r4('(l_quantity - m.mu_q) / m.sd_q')} AS z_quantity,
           {sql_r4('(l_discount - m.mu_d) / m.sd_d')} AS z_discount
    FROM lineitem, m
    WHERE l_orderkey % 100 = 0
    """,
)
def feature_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature standardization (z-score) against global moments — the ML
    preprocessing step every numeric column passes through before
    distance-based models. Means come from exact decimal sums (the
    ts_cusum lesson: a double AVG drifts with partitioning); the stddev's
    ~1e-12 relative drift divides into values mid-grid, far from the r4
    boundary. The (mu, sd) scalars broadcast; normalization is a pure map
    over the (sampled) output rows."""
    li = load(spark, sf_dir, "lineitem")
    m = li.agg(
        (msum("l_quantity", out="double") / F.count(F.lit(1))).alias("mu_q"),
        F.stddev_samp("l_quantity").alias("sd_q"),
        (msum("l_discount", out="double") / F.count(F.lit(1))).alias("mu_d"),
        F.stddev_samp("l_discount").alias("sd_d"),
    )
    return (
        li.where(F.col("l_orderkey") % 100 == 0)
        .crossJoin(F.broadcast(m))
        .select(
            "l_orderkey",
            "l_linenumber",
            r4((F.col("l_quantity") - F.col("mu_q")) / F.col("sd_q")).alias("z_quantity"),
            r4((F.col("l_discount") - F.col("mu_d")) / F.col("sd_d")).alias("z_discount"),
        )
    )


@query(
    "orders_gini_coefficient",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM spend
    )
    SELECT {sql_r4('2.0 * CAST(SUM(i * x) AS DOUBLE) / (ANY_VALUE(n) * CAST(SUM(x) AS DOUBLE)) - (ANY_VALUE(n) + 1.0) / ANY_VALUE(n)')} AS gini,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_customers
    FROM ranked
    """,
)
def orders_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration — the
    whale-dependence metric (0 = egalitarian, →1 = one customer is the
    business), computed by the rank formula G = 2Σi·xᵢ/(nΣx) − (n+1)/n
    over spend sorted ascending (custkey tiebreak). Both Σi·x and Σx
    accumulate in exact decimal (i is an exact integer rank), so the
    final expression divides bit-identical operands. Spend aggregates
    per customer first; the rank over |customers| rows is the
    DISTRIBUTED global row_number (distributed.global_rank) — no task
    ever sorts the whole customer relation, and n falls out of the
    offset pass for free."""
    from atlas_migration_repo_spark.operators.distributed import global_rank

    o = load(spark, sf_dir, "orders")
    # DECIMAL(38,8) for the rank ordering and the Σi·x / Σx arithmetic
    spend = o.groupBy("o_custkey").agg(msum("o_totalprice", out="decimal").alias("x"))
    ranked, n = global_rank(
        spend, [F.col("x").asc(), F.col("o_custkey").asc()], out="i"
    )
    return ranked.agg(
        r4(
            2.0
            * F.sum(F.col("i") * F.col("x")).cast("double")
            / (F.lit(n) * F.sum("x").cast("double"))
            - (F.lit(n) + 1.0) / F.lit(n)
        ).alias("gini"),
        F.lit(n).cast("bigint").alias("n_customers"),
    )


@query(
    "events_cumulative_unique_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
      FROM events GROUP BY user_id
    ),
    daily AS (SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d)
    SELECT d AS day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User growth curve: first-seen date per user, new users per day,
    and the running cumulative total — the DAU-acquisition chart. The
    expensive step (min date per user) is one keyed aggregate; the
    running sum windows over ~30 daily rows. Counting 'cumulative
    distinct so far' this way (via first-seen) costs one pass instead of
    a distinct-per-prefix blowup — the standard trick."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@query(
    "events_peak_concurrency",
    oracle="""
    WITH endpoints AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t, 1 AS delta FROM events
      UNION ALL
      SELECT user_id, CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTES, -1 FROM events
    ),
    swept AS (
      SELECT t, SUM(delta) OVER (ORDER BY t, delta
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS concurrent
      FROM endpoints
    )
    SELECT CAST(MAX(concurrent) AS INT) AS peak_concurrent,
           MIN(t) FILTER (WHERE concurrent = (SELECT MAX(concurrent) FROM swept))
             AS first_peak_at
    FROM swept
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep line: every event opens a 30-minute
    activity interval; +1/−1 endpoint deltas, sorted, running-summed —
    the max is the answer (capacity planning's favorite query). Ends sort
    before starts at the same instant (delta −1 < +1), so touching
    intervals don't double-count. The endpoint union is 2n narrow rows —
    DATA-scale, so the sweep is the DISTRIBUTED two-tier prefix sum
    (distributed.global_running_sum: range-partition time, chain
    per-range offsets; deltas are integers, so the regrouped addition is
    exact) — no task ever sorts the whole timeline."""
    from atlas_migration_repo_spark.operators.distributed import (
        global_running_sum,
    )

    ev = load(spark, sf_dir, "events")
    starts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = ev.select(
        F.timestamp_add("MINUTE", F.lit(30), F.col("ts")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    endpoints = starts.unionByName(ends)
    swept = global_running_sum(
        endpoints,
        [F.col("t").asc(), F.col("delta").asc()],
        F.col("delta").cast("bigint"),
        out="concurrent",
    ).select("t", "concurrent")
    peak = swept.agg(F.max("concurrent").alias("pk"))
    return (
        swept.crossJoin(F.broadcast(peak))
        .where(F.col("concurrent") == F.col("pk"))
        .agg(
            F.first("pk").cast("int").alias("peak_concurrent"),
            F.min("t").alias("first_peak_at"),
        )
    )


@query(
    "join_array_contains",
    oracle="""
    WITH terms AS (
      SELECT UNNEST(['scan', 'merge', 'index', 'vector', 'join']) AS term
    )
    SELECT t.term, CAST(COUNT(d.doc_id) AS BIGINT) AS n_docs
    FROM terms t LEFT JOIN documents d
      ON LIST_CONTAINS(STRING_SPLIT(d.text, ' '), t.term)
    GROUP BY t.term
    """,
)
def join_array_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership join: a small term list joined to documents on
    array_contains over the token array — the keyword-filter primitive.
    With a 5-row term side this plans as a broadcast nested-loop (cheap:
    the predicate is per-row array containment); the documented scale
    form when BOTH sides grow is explode-to-equi-join — tokens explode
    once and the join becomes hash-partitioned on the word, which is
    exactly text_inverted_index's layout."""
    d = load(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        [("scan",), ("merge",), ("index",), ("vector",), ("join",)], ["term"]
    )
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    joined = F.broadcast(terms).join(
        toks, F.array_contains(F.col("w"), F.col("term")), "left"
    )
    return joined.groupBy("term").agg(F.count("doc_id").alias("n_docs"))


@query(
    "embed_cosine_hist",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
    pairs AS (
      SELECT a.vec_id,
             LIST_COSINE_SIMILARITY(a.embedding, b.embedding) AS cos
      FROM embeddings a
      JOIN n ON TRUE
      JOIN embeddings b ON b.vec_id = ((a.vec_id + 17) % n.cnt)
      WHERE a.vec_id <> b.vec_id
    )
    SELECT CAST(FLOOR(cos * 10) AS INT) AS cos_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def embed_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-distribution profile: cosine histogram over a
    deterministic 1-per-vector pair sample (each vector paired with
    vec_id+17 mod n — fixed-stride sampling, no RNG, linear cost). The
    histogram is the calibration read before choosing a dedup/ANN
    threshold: dedup_embed's τ should sit in this distribution's tail,
    and at corpus scale the same stride sample stays O(n) while an
    all-pairs histogram is O(n²). Cosines are bit-identical across
    engines (unrolled add-chain dot product), so integer decile
    bucketing is exact."""
    em = load(spark, sf_dir, "embeddings")
    n = em.agg(F.count(F.lit(1)).alias("cnt"))
    a = em.crossJoin(F.broadcast(n)).select(
        "vec_id",
        "embedding",
        ((F.col("vec_id") + 17) % F.col("cnt")).alias("mate"),
    )
    b = em.select(F.col("vec_id").alias("mate"), F.col("embedding").alias("eb"))
    from atlas_migration_repo_spark.llm.similarity import dot

    paired = a.join(b, "mate").where(F.col("vec_id") != F.col("mate"))
    na = F.sqrt(dot("embedding", "embedding"))
    nb = F.sqrt(dot("eb", "eb"))
    cos = dot("embedding", "eb") / (na * nb)
    return paired.select(
        F.floor(cos * 10).cast("int").alias("cos_decile")
    ).groupBy("cos_decile").agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "join_strategy_hints",
    oracle="""
    SELECT o.o_orderkey, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 350000
    """,
)
def join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit physical join strategy: the MERGE hint forces a
    sort-merge join where Catalyst would otherwise broadcast — the
    control you reach for when the 'small' side isn't (broadcast OOM) or
    when both sides arrive pre-sorted from bucketed storage. Semantics
    are identical to join_inner (same oracle shape); only the physical
    plan changes — the unit test asserts SortMergeJoin actually appears.
    The hint system (BROADCAST / MERGE / SHUFFLE_HASH / SHUFFLE_NL) is
    the per-query override of the session thresholds."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 350000)
    c = load(spark, sf_dir, "customer").hint("merge")
    return o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_mktsegment")


@query(
    "sample_train_test_split",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN ASCII(SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) % 16 < 13
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM tagged GROUP BY split
    """,
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split by content-addressed hashing: the
    first MD5 hex digit of the key buckets each doc 13/16 ≈ 81% train —
    no RNG, so the split is stable across runs, engines, partitionings,
    and reshuffles (randomSplit is none of those). This is the
    reproducibility contract an ML data pipeline needs: membership is a
    pure function of the key, and the same expression works as a WHERE
    clause on any engine reading the same table."""
    d = load(spark, sf_dir, "documents")
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 16
    tagged = d.select(
        "doc_id",
        F.when(bucket < 13, "train").otherwise("test").alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


@query(
    "funnel_strict_order",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t2
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     ELSE 1 END AS INT) AS funnel_depth
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def funnel_strict_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel (signup → view AFTER it → purchase AFTER
    that): each stage's earliest qualifying time must exceed the previous
    stage's — the semantics funnel_conversion's unordered minimums
    cannot express (a view before signup doesn't count here). Three
    keyed aggregates chained by broadcast joins of the tiny per-user
    stage tables; events never self-join row-to-row, so cost stays
    3 linear passes at any scale."""
    ev = load(spark, sf_dir, "events")
    t = lambda typ: F.col("event_type") == typ
    s1 = ev.where(t("signup")).groupBy("user_id").agg(F.min("ts").alias("t1"))
    s2 = (
        ev.join(F.broadcast(s1), "user_id")
        .where(t("view") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.join(F.broadcast(s2), "user_id")
        .where(t("purchase") & (F.col("ts") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("funnel_depth"),
        )
    )


@query(
    "topk_with_ties",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM (SELECT c_nationkey, c_custkey, c_acctbal,
                 RANK() OVER (PARTITION BY c_nationkey
                              ORDER BY ROUND(c_acctbal, 0) DESC) AS rk
          FROM customer)
    WHERE rk <= 3
    """,
)
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH ties (rank, not row_number): everyone matching the
    k-th value qualifies — 'top 3 balances' where equal balances share
    the podium, the WITH TIES semantics of SQL:2008 FETCH FIRST. Ranking
    on the rounded balance manufactures real ties in the fixture; Spark
    rewrites rank()<=k to the same WindowGroupLimit pruning as
    topk_per_group, so the cost profile is identical — only the tie
    semantics differ."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.round(F.col("c_acctbal"), 0).desc()
    )
    return (
        c.withColumn("rk", F.rank().over(w))
        .where(F.col("rk") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


@query(
    "events_audience_jaccard",
    oracle=f"""
    WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM aud a JOIN aud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    sizes AS (SELECT event_type, COUNT(*) AS n FROM aud GROUP BY event_type)
    SELECT type_a, type_b, CAST(n_both AS BIGINT) AS n_both,
           {sql_r4('n_both * 1.0 / (sa.n + sb.n - n_both)')} AS jaccard
    FROM pairs JOIN sizes sa ON pairs.type_a = sa.event_type
               JOIN sizes sb ON pairs.type_b = sb.event_type
    """,
)
def events_audience_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap Jaccard between event types: the same set-
    similarity arithmetic the dedup family applies to shingles, lifted
    to behavioral segments (|A∩B| / |A∪B| from two exact counts — no
    union materialized). The distinct (type,user) relation is the only
    shuffle; pair intersection joins on user and the 5×5 type space
    keeps outputs tiny at any event volume."""
    ev = load(spark, sf_dir, "events")
    aud = ev.select("event_type", "user_id").distinct()
    a = aud.select(F.col("event_type").alias("type_a"), "user_id")
    b = aud.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sizes = aud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            r4(
                F.col("n_both") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )


@query(
    "orders_seasonality_index",
    oracle=f"""
    WITH monthly AS (
      SELECT MONTH(CAST(o_orderdate AS DATE)) AS m,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(rev) AS trev, COUNT(*) AS nm FROM monthly)
    SELECT CAST(m AS INT) AS month_of_year,
           CAST(n AS BIGINT) AS n_orders,
           {sql_r4('(CAST(rev AS DOUBLE) / CAST(tot.trev AS DOUBLE)) * tot.nm')} AS seasonality_index
    FROM monthly, tot
    """,
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's share of
    revenue scaled by the number of distinct months, so 1.0 = perfectly
    even and 1.3 = a 30%-over-trend month — the multiplicative factor
    demand planning divides out before trending. All ratios divide
    decimal-exact sums; 12 output rows from one aggregate."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month(F.col("o_orderdate").cast("date")).alias("m")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        msum("o_totalprice", out="decimal").alias("rev"),
    )
    tot = monthly.agg(
        F.sum("rev").alias("trev"), F.count(F.lit(1)).alias("nm")
    )
    return monthly.crossJoin(F.broadcast(tot)).select(
        F.col("m").cast("int").alias("month_of_year"),
        F.col("n").alias("n_orders"),
        r4(
            (F.col("rev").cast("double") / F.col("trev").cast("double"))
            * F.col("nm")
        ).alias("seasonality_index"),
    )


@query(
    "orders_fulfillment_lag",
    oracle=f"""
    WITH lag AS (
      SELECT o.o_orderkey, ANY_VALUE(o.o_orderpriority) AS priority,
             DATEDIFF('day', ANY_VALUE(CAST(o.o_orderdate AS DATE)),
                      MAX(CAST(l.l_shipdate AS DATE))) AS days_to_ship
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_r4('QUANTILE_CONT(days_to_ship, 0.5)')} AS p50_days,
           {sql_r4('QUANTILE_CONT(days_to_ship, 0.9)')} AS p90_days,
           CAST(MAX(days_to_ship) AS INT) AS max_days
    FROM lag GROUP BY priority
    """,
)
def orders_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-lag SLA report: days from order placement to the LAST
    line shipping, quantiled per order priority — the operational query
    behind 'are URGENT orders actually faster'. The per-order max is one
    keyed aggregate over the join (orderkey carries both sides); the
    5-group percentile summary is free. Integer day counts make the
    quantile interpolation exact in both engines."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    lag = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(o.o_orderkey)
        .agg(
            F.first("o_orderpriority").alias("priority"),
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.first(F.col("o_orderdate").cast("date")),
            ).alias("days_to_ship"),
        )
    )
    return lag.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r4(F.percentile("days_to_ship", 0.5)).alias("p50_days"),
        r4(F.percentile("days_to_ship", 0.9)).alias("p90_days"),
        F.max("days_to_ship").cast("int").alias("max_days"),
    )


@query(
    "orders_priority_mix_shift",
    oracle=f"""
    WITH q AS (
      SELECT (YEAR(CAST(o_orderdate AS DATE)) * 10
              + QUARTER(CAST(o_orderdate AS DATE))) AS yq,
             o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    shares AS (
      SELECT yq, o_orderpriority, n,
             n * 1.0 / SUM(n) OVER (PARTITION BY yq) AS share
      FROM q
    )
    SELECT CAST(yq AS INT) AS yq, o_orderpriority,
           CAST(n AS BIGINT) AS n,
           {sql_r4('share')} AS share,
           {sql_r4('share - LAG(share) OVER (PARTITION BY o_orderpriority ORDER BY yq)')} AS share_shift
    FROM shares
    """,
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition mix-shift: each priority's share of quarterly order
    volume and its change versus the prior quarter — the report that
    separates 'we grew' from 'our mix moved'. Shares divide exact
    integer counts inside a quarter (≤5-row window); the shift lags over
    the ~27-quarter series per priority. Aggregate-then-window again:
    raw orders never meet a window."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    q = o.groupBy(
        (F.year(d) * 10 + F.quarter(d)).alias("yq"), "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n"))
    share = F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("yq"))
    shares = q.select(
        F.col("yq").cast("int").alias("yq"), "o_orderpriority", "n", share.alias("share")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("yq")
    return shares.select(
        "yq",
        "o_orderpriority",
        "n",
        r4(F.col("share")).alias("share"),
        r4(F.col("share") - F.lag("share").over(w)).alias("share_shift"),
    )


@query(
    "orders_yoy_growth",
    oracle=f"""
    WITH yearly AS (
      SELECT YEAR(CAST(o_orderdate AS DATE)) AS yr,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT CAST(yr AS INT) AS yr, revenue,
           {sql_r4('(revenue - LAG(revenue) OVER (ORDER BY yr)) * 100.0 / LAG(revenue) OVER (ORDER BY yr)')} AS yoy_pct
    FROM yearly
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth — pct_change_mom's annual sibling
    (partial years at the range edges show up as outliers, which is why
    both granularities belong in a report). Decimal-exact yearly sums,
    then one lag over ~7 rows."""
    o = load(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("yr")
    ).agg(
        msum("o_totalprice").alias("revenue")
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr",
        "revenue",
        r4((F.col("revenue") - prev) * 100.0 / prev).alias("yoy_pct"),
    )


@query(
    "customer_order_span",
    oracle="""
    SELECT o_custkey AS c_custkey,
           MIN(CAST(o_orderdate AS DATE)) AS first_order,
           MAX(CAST(o_orderdate AS DATE)) AS last_order,
           CAST(DATEDIFF('day', MIN(CAST(o_orderdate AS DATE)),
                         MAX(CAST(o_orderdate AS DATE))) AS INT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def customer_order_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime span: first/last order dates, active days, and
    order count — the base table LTV and churn models join against (and
    the batch twin of orders_rfm's recency input). One keyed aggregate,
    min/max/count all map-side combining."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.min(d).alias("first_order"),
        F.max(d).alias("last_order"),
        F.datediff(F.max(d), F.min(d)).cast("int").alias("active_days"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH cum AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice
                                   ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag, MIN(v) AS weighted_median
    FROM cum WHERE cw >= tw / 2
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per return flag — the robust center
    a pricing pipeline wants when a row's quantity makes it count that
    many times (the plain median over rows answers a different question).
    Spelled as the textbook cumulative-weight window: sort each group by
    value, running SUM(weight), pick the smallest value whose cumulative
    weight reaches half the group total.

    Scale: the 3 groups are each a third of the table, so the cumulative
    weight runs through distributed.grouped_running_sum (two-tier prefix
    sum — no task owns a group) and the group totals are a 3-row
    broadcast. Determinism: quantities are small integers, so every
    cumulative weight is an exact integer-valued double — exact under the
    offset regrouping too — and tw/2 is exact (.0/.5); peer rows of a
    tied value may accumulate in any order, but the LAST peer always
    carries the full through-value total, so the minimal qualifying VALUE
    is engine-independent even though per-row cumulative numbers are
    not."""
    from atlas_migration_repo_spark.operators.distributed import (
        grouped_running_sum,
    )

    li = load(spark, sf_dir, "lineitem")
    cum = grouped_running_sum(
        li.select("l_returnflag", F.col("l_extendedprice").alias("v"), "l_quantity"),
        ["l_returnflag"],
        [F.col("v").asc()],
        F.col("l_quantity"),
        out="cw",
    )
    tot = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("tw"))
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .where(F.col("cw") >= F.col("tw") / 2)
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_median"))
    )


@query(
    "events_pattern_sequence",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             STRING_AGG(SUBSTR(event_type, 1, 1), ''
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(LENGTH(seq) AS BIGINT) AS seq_len,
           MD5(seq) AS seq_md5,
           CAST(LEN(regexp_extract_all(seq, 'v+p')) AS BIGINT)
             AS n_view_runs_to_purchase,
           CAST(regexp_matches(seq, 's.*p') AS INT) AS signup_converted
    FROM seqs
    """,
)
def events_pattern_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence pattern matching: each user's full
    event history becomes an ordered one-char-per-event string (the five
    fixture event types have distinct initials), then regular expressions
    count behavioural motifs — non-overlapping view-run→purchase matches
    ('v+p', leftmost-greedy in both Java regex and DuckDB's RE2) and a
    signup→eventual-purchase conversion flag ('s.*p').

    The sequence materializes array-side — sort_array over (µs, event_id,
    char) structs, then a transform projection — so the string is
    deterministic data on any partitioning, the same discipline as
    events_path_signature. One user-keyed shuffle; per-user state is the
    user's own history, which is the irreducible cost of sequence pattern
    matching (at corpus scale, sessionize first — sessionize_batch — and
    match per session to bound it). The result ships md5(seq) rather than
    the sequence itself so row width stays O(1) regardless of history
    length."""
    ev = load(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            epoch_us("ts").alias("t"),
                            F.col("event_id").alias("e"),
                            F.substring("event_type", 1, 1).alias("ch"),
                        )
                    )
                ),
                lambda s: s.getField("ch"),
            ),
            "",
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.md5("seq").alias("seq_md5"),
        F.size(F.regexp_extract_all(F.col("seq"), F.lit("v+p"), F.lit(0)))
        .cast("long")
        .alias("n_view_runs_to_purchase"),
        F.regexp_like(F.col("seq"), F.lit("s.*p")).cast("int").alias(
            "signup_converted"
        ),
    )


@query(
    "orders_survival_km",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS t1
      FROM orders GROUP BY 1
    ),
    seconds AS (
      SELECT o.o_custkey, MIN(CAST(o.o_orderdate AS DATE)) AS t2
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      WHERE CAST(o.o_orderdate AS DATE) > f.t1
      GROUP BY 1
    ),
    horizon AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders),
    obs AS (
      SELECT CASE WHEN s.t2 IS NULL
                  THEN DATE_DIFF('day', f.t1, (SELECT h FROM horizon))
                  ELSE DATE_DIFF('day', f.t1, s.t2) END AS dur,
             CASE WHEN s.t2 IS NULL THEN 0 ELSE 1 END AS ev
      FROM firsts f LEFT JOIN seconds s USING (o_custkey)
    ),
    risk AS (
      SELECT dur, SUM(ev) AS d, COUNT(*) AS c FROM obs GROUP BY dur
    ),
    ordered AS (
      SELECT dur, d, SUM(c) OVER (ORDER BY dur DESC) AS n_risk FROM risk
    ),
    km AS (
      SELECT dur, d, n_risk,
             EXP(SUM(CASE WHEN d > 0 AND d < n_risk
                          THEN LN(1 - CAST(d AS DOUBLE) / n_risk)
                          ELSE 0.0 END)
                 OVER (ORDER BY dur)) AS s
      FROM ordered
    )
    SELECT CAST(dur AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           ROUND(s, 4) AS survival
    FROM km WHERE d > 0 AND d < n_risk
    """,
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for repeat purchase: time from a
    customer's first order to their second (right-censored at the data
    horizon for one-time buyers), S(t) = Π over event times ≤ t of
    (1 − dᵢ/nᵢ) — the retention curve with censoring handled correctly,
    which a naive 'median gap' analysis gets wrong.

    The estimator collapses to per-duration (events, at-risk) counts:
    risk sets come from ONE reverse-cumulative window over the
    duration-grouped table (distinct durations, so no ordering ties) and
    the product via exp·Σ·ln over the forward window — two window passes
    over a duration-cardinality relation, after two customer-keyed
    aggregations; nothing scales with order count beyond the first
    groupBy. Terms where d = n (everyone events, S hits exact 0) are
    excluded from output in BOTH engines so no ln(0) NULL/−inf dialect
    divergence exists; survival rounds at 4dp absorbing any last-ulp
    ln/exp libm difference."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("od")
    )
    firsts = o.groupBy("o_custkey").agg(F.min("od").alias("t1"))
    seconds = (
        o.join(firsts, "o_custkey")
        .where(F.col("od") > F.col("t1"))
        .groupBy("o_custkey")
        .agg(F.min("od").alias("t2"))
    )
    horizon = o.agg(F.max("od").alias("h"))
    obs = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("t2").isNull(), F.datediff("h", "t1"))
            .otherwise(F.datediff("t2", "t1"))
            .alias("dur"),
            F.when(F.col("t2").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    risk = obs.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count(F.lit(1)).alias("c")
    )
    w_rev = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_fwd = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ordered = risk.withColumn("n_risk", F.sum("c").over(w_rev))
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    km = ordered.withColumn("s", F.exp(F.sum(term).over(w_fwd)))
    return km.where((F.col("d") > 0) & (F.col("d") < F.col("n_risk"))).select(
        F.col("dur").cast("long").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        r4(F.col("s")).alias("survival"),
    )


@query(
    "events_entropy_rate",
    oracle="""
    WITH steps AS (
      SELECT user_id, event_type AS prev,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS nxt
      FROM events
    ),
    pairs AS (
      SELECT prev, nxt, CAST(COUNT(*) AS DOUBLE) AS n
      FROM steps WHERE nxt IS NOT NULL GROUP BY prev, nxt
    ),
    marg AS (
      SELECT prev, SUM(n) AS n_prev FROM pairs GROUP BY prev
    ),
    tot AS (SELECT SUM(n) AS n_all FROM pairs)
    SELECT p.prev AS state,
           CAST(m.n_prev AS BIGINT) AS n_transitions,
           ROUND(-SUM((p.n / m.n_prev) * LN(p.n / m.n_prev)), 4)
             AS conditional_entropy,
           ROUND((m.n_prev / (SELECT n_all FROM tot))
                 * -SUM((p.n / m.n_prev) * LN(p.n / m.n_prev)), 4)
             AS weighted_contribution
    FROM pairs p JOIN marg m USING (prev)
    GROUP BY p.prev, m.n_prev
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate of the behavioural process, by state: the
    conditional next-event entropy H(next | prev) per state and its
    contribution weighted by the state's empirical frequency — summing
    the last column gives the chain's empirical entropy rate, the
    predictability number behind event_transitions' raw matrix.

    All probabilities are ratios of transition counts (5×5 state space),
    so after the one user-keyed LEAD window and a pair count, everything
    is a 25-row computation; r4 absorbs libm ln ulp differences. The
    LEAD shares the same (ts, event_id) total order as the other
    sequence operators."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    pairs = steps.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    marg = pairs.groupBy("prev").agg(F.sum("n").alias("n_prev"))
    n_all = pairs.agg(F.sum("n").alias("n_all"))
    p = F.col("n") / F.col("n_prev")
    ent = (-F.sum(p * F.log(p))).alias("h")
    per_state = (
        pairs.join(marg, "prev")
        .groupBy("prev", "n_prev")
        .agg(ent)
        .crossJoin(F.broadcast(n_all))
    )
    return per_state.select(
        F.col("prev").alias("state"),
        F.col("n_prev").cast("long").alias("n_transitions"),
        r4(F.col("h")).alias("conditional_entropy"),
        r4((F.col("n_prev") / F.col("n_all")) * F.col("h")).alias(
            "weighted_contribution"
        ),
    )


@query(
    "stat_chi2_independence",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT seg, pri, CAST(COUNT(*) AS DOUBLE) AS obs
      FROM joined GROUP BY seg, pri
    ),
    rows_ AS (SELECT seg, SUM(obs) AS r FROM cells GROUP BY seg),
    cols_ AS (SELECT pri, SUM(obs) AS c FROM cells GROUP BY pri),
    tot AS (SELECT SUM(obs) AS n FROM cells)
    SELECT cells.seg, cells.pri,
           CAST(obs AS BIGINT) AS n_observed,
           ROUND(r * c / (SELECT n FROM tot), 4) AS n_expected,
           ROUND(POW(obs - r * c / (SELECT n FROM tot), 2)
                 / (r * c / (SELECT n FROM tot)), 4) AS chi2_term
    FROM cells JOIN rows_ USING (seg) JOIN cols_ USING (pri)
    """,
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between market segment and order
    priority: per contingency cell the observed count, the
    independence-expected count (row·col/n), and the χ² term — summing
    the last column against a χ²₍(R−1)(C−1)₎ table answers 'does segment
    drive priority?', the categorical drift/association check to pair
    with dq_ks_drift's continuous one.

    After the fact⋈dim join (broadcastable dim at scale) everything is a
    5×5-cell computation: marginals are re-aggregations of the cells,
    not of the data, and expected counts are exact integer-count
    products in double, identical in both engines; r4 on the ratio
    terms."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("obs"))
    )
    rows_ = cells.groupBy("seg").agg(F.sum("obs").alias("r"))
    cols_ = cells.groupBy("pri").agg(F.sum("obs").alias("c"))
    tot = cells.agg(F.sum("obs").alias("n"))
    exp = F.col("r") * F.col("c") / F.col("n")
    return (
        cells.join(F.broadcast(rows_), "seg")
        .join(F.broadcast(cols_), "pri")
        .crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "pri",
            F.col("obs").cast("long").alias("n_observed"),
            r4(exp).alias("n_expected"),
            r4(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2_term"),
        )
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS od
      FROM orders
    ),
    c AS (
      SELECT o_custkey, o_totalprice, od,
             MIN(od) OVER (PARTITION BY o_custkey) AS first_od
      FROM o
    ),
    m AS (
      SELECT CAST(STRFTIME(first_od, '%Y-%m') AS VARCHAR) AS cohort_month,
             CAST(FLOOR(DATE_DIFF('day', first_od, od) / 30.0) AS INT)
               AS offset_30d,
             o_custkey, o_totalprice
      FROM c
    ),
    cohorts AS (
      SELECT cohort_month, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
               AS cohort_size
      FROM m GROUP BY cohort_month
    ),
    rev AS (
      SELECT cohort_month, offset_30d,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS period_dec
      FROM m GROUP BY cohort_month, offset_30d
    ),
    cum AS (
      SELECT cohort_month, offset_30d, period_dec,
             SUM(period_dec) OVER (PARTITION BY cohort_month
                                   ORDER BY offset_30d) AS cum_dec
      FROM rev
    )
    SELECT cum.cohort_month, cum.offset_30d, cohorts.cohort_size,
           ROUND(CAST(cum.period_dec AS DOUBLE), 4) AS period_revenue,
           ((2 * CAST(cum.cum_dec * 10000 AS BIGINT) + cohorts.cohort_size)
            // (2 * cohorts.cohort_size)) / 10000.0 AS ltv_per_customer
    FROM cum JOIN cohorts USING (cohort_month)
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated per 30-day offset since each customer's
    first order, normalized to LTV per cohort member — the growth
    analysis that pairs with retention_cohort's headcount view.

    Float policy (the per-row double-ROUND tie trap, see
    sql_lateral_alias): revenue accumulates in exact DECIMAL through the
    running window, and the per-customer normalization — whose quotient
    DOES land on .00005 ties at sf0.1 — rounds half-away-from-zero in
    INTEGER cents-x-100 arithmetic ((2C + n) div 2n), bit-identical in
    both engines; doubles appear only in the output projection. Shape:
    one customer-keyed window, one (cohort, offset) aggregation, then
    cohort-cardinality windows and joins."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.col("o_orderdate").cast("date").alias("od")
    )
    w_first = Window.partitionBy("o_custkey")
    m = o.select(
        F.date_format(F.min("od").over(w_first), "yyyy-MM").alias("cohort_month"),
        F.floor(
            F.datediff("od", F.min("od").over(w_first)) / 30.0
        ).cast("int").alias("offset_30d"),
        "o_custkey",
        "o_totalprice",
    )
    cohorts = m.groupBy("cohort_month").agg(
        F.countDistinct("o_custkey").alias("cohort_size")
    )
    rev = m.groupBy("cohort_month", "offset_30d").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("period_dec")
    )
    w_cum = (
        Window.partitionBy("cohort_month")
        .orderBy("offset_30d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum_dec", F.sum("period_dec").over(w_cum))
    q = F.expr(
        "(2 * CAST(cum_dec * 10000 AS BIGINT) + cohort_size)"
        " div (2 * cohort_size)"
    )
    return cum.join(cohorts, "cohort_month").select(
        "cohort_month",
        "offset_30d",
        "cohort_size",
        F.round(F.col("period_dec").cast("double"), 4).alias("period_revenue"),
        (q / F.lit(10000.0)).alias("ltv_per_customer"),
    )


@query(
    "stat_mannwhitney",
    oracle=f"""
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('view', 'purchase')
    ),
    g AS (
      SELECT value, COUNT(*) AS cnt,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cnt_v
      FROM s GROUP BY value
    ),
    r AS (
      SELECT value, cnt, cnt_v,
             SUM(cnt) OVER (ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM g
    ),
    k AS (
      SELECT SUM(cnt_v * (cum - cnt + (cnt + 1) / 2.0)) AS r1,
             SUM(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_term,
             CAST(SUM(cnt_v) AS BIGINT) AS n1,
             CAST(SUM(cnt - cnt_v) AS BIGINT) AS n2
      FROM r
    )
    SELECT n1 AS n_view, n2 AS n_purchase,
           CAST(r1 - n1 * (n1 + 1) / 2.0 AS DOUBLE) AS u_stat,
           {sql_r4(
               "(r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) / "
               "SQRT((CAST(n1 AS DOUBLE) * n2 / 12.0) * "
               "((n1 + n2 + 1) - tie_term / "
               "(CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))"
           )} AS z
    FROM k
    """,
)
def stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test with
    tie-corrected normal approximation: do 'view' and 'purchase' event
    values come from the same distribution? The nonparametric partner
    of dq_ks_drift (which compares CDFs) and stat_chi2_independence
    (categorical). Average ranks for ties derive from per-distinct-value
    counts + one cumulative count over the DISTINCT values — which are
    data-scale for a continuous column, so the cumulative runs through
    the DISTRIBUTED two-tier prefix sum (distributed.global_running_sum;
    integer counts → exact under regrouping): avg_rank = cum - cnt +
    (cnt+1)/2; U, the tie term Σ(t³-t), and the z-score are exact
    integer/half-integer arithmetic until the final normalization
    (shared 4dp policy)."""
    from atlas_migration_repo_spark.operators.distributed import (
        global_running_sum,
    )

    s = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "value")
    )
    g = s.groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "cnt_v"
        ),
    )
    r = global_running_sum(g, [F.col("value").asc()], F.col("cnt"), out="cum")
    k = r.agg(
        F.sum(
            F.col("cnt_v")
            * (F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0)
        ).alias("r1"),
        F.sum(
            F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie_term"),
        F.sum("cnt_v").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_v")).cast("bigint").alias("n2"),
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    n = F.col("n1") + F.col("n2")
    var = (F.col("n1").cast("double") * F.col("n2") / 12.0) * (
        (n + 1) - F.col("tie_term") / (n.cast("double") * (n - 1))
    )
    z = (u - F.col("n1") * F.col("n2") / 2.0) / F.sqrt(var)
    return k.select(
        F.col("n1").alias("n_view"),
        F.col("n2").alias("n_purchase"),
        u.cast("double").alias("u_stat"),
        r4(z).alias("z"),
    )


@query(
    "feature_winsorize",
    oracle=f"""
    WITH b AS (
      SELECT l_returnflag,
             {sql_r4('QUANTILE_CONT(l_extendedprice, 0.05)')} AS p05,
             {sql_r4('QUANTILE_CONT(l_extendedprice, 0.95)')} AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l.l_returnflag,
           {sql_r4('l_extendedprice')} AS price,
           {sql_r4('LEAST(GREATEST(l_extendedprice, p05), p95)')} AS price_winsor,
           (l_extendedprice < p05 OR l_extendedprice > p95) AS clipped
    FROM lineitem l JOIN b USING (l_returnflag)
    WHERE l_orderkey % 100 = 0
    """,
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clamp to [p05, p95]) — the outlier-robust
    feature-scaling stage ML pipelines run before z-scoring heavy-tailed
    monetary columns. The 3-row bound table comes from one exact
    interpolated-percentile aggregate (Spark percentile ≡ DuckDB
    quantile_cont) and BROADCASTS back, so the clamp pass is a pure map
    over the scan: at 100 TB this is one aggregate + one broadcast join,
    no row-scale shuffle. Bounds are r4-rounded BEFORE the clamp on both
    sides, so the comparisons and the clipped flag branch on the
    identical rounded grid (the embed_outlier_zscore policy)."""
    li = load(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        r4(F.percentile("l_extendedprice", 0.05)).alias("p05"),
        r4(F.percentile("l_extendedprice", 0.95)).alias("p95"),
    )
    return (
        li.where(F.col("l_orderkey") % 100 == 0)
        .join(F.broadcast(b), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            r4(F.col("l_extendedprice")).alias("price"),
            r4(
                F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95"))
            ).alias("price_winsor"),
            (
                (F.col("l_extendedprice") < F.col("p05"))
                | (F.col("l_extendedprice") > F.col("p95"))
            ).alias("clipped"),
        )
    )


@query(
    "feature_target_encode",
    oracle=f"""
    WITH oc AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment,
             CAST(o.o_totalprice AS DECIMAL(30,8)) AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    s AS (
      SELECT segment, SUM(price) AS seg_sum, COUNT(*) AS seg_cnt
      FROM oc GROUP BY segment
    )
    SELECT oc.o_orderkey, oc.segment,
           {sql_r4(
               'CAST(s.seg_sum - oc.price AS DOUBLE)'
               ' / NULLIF(s.seg_cnt - 1, 0)'
           )} AS loo_enc
    FROM oc JOIN s USING (segment)
    WHERE oc.o_orderkey % 10 = 0
    """,
)
def feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean target encoding — the categorical-feature
    encoder a training pipeline applies before gradient models: each
    order's market segment becomes the mean order value of every OTHER
    order in that segment, (Σ_seg − own) / (n_seg − 1), so the encoding
    never leaks the row's own target (the classic LOO guard against
    target leakage). A one-member category has no "others" and encodes
    NULL (NULLIF on both sides).

    Determinism: the per-segment sums are exact msum mantissa sums (the
    oracle's DECIMAL(30,8) value), the subtraction Σ−own happens while
    still exact, and only the final division is double, r4-rounded on
    both engines.

    Plan: one fact-dim join (customer side broadcast at dim scale), one
    hash aggregate producing |segments| rows (map-side partial combine),
    and the 5-row stats frame broadcast back onto the sampled output —
    no window over the fact table, no second shuffle. At 100 TB the
    encoding pass is a scan + two broadcast joins."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "segment", "o_totalprice"
    )
    # the segment's two mantissa sums ride the broadcast; the row takes
    # its own mantissa off Σm, the exact rational seg_sum − own
    hi, lo = msum_parts_sql("o_totalprice")
    s = oc.groupBy("segment").agg(
        F.expr(f"SUM({hi})").alias("seg_h"),
        F.expr(f"SUM({lo})").alias("seg_l"),
        F.count(F.lit(1)).alias("seg_cnt"),
    )
    return (
        oc.where(F.col("o_orderkey") % 10 == 0)
        .join(F.broadcast(s), "segment")
        .select(
            "o_orderkey",
            "segment",
            r4(
                F.expr(
                    msum_finish_sql("seg_h", "seg_l", out="double", minus="o_totalprice")
                )
                / F.nullif(F.col("seg_cnt") - F.lit(1), F.lit(0))
            ).alias("loo_enc"),
        )
    )
