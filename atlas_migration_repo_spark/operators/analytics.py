"""Event-analytics and migration-audit composites.

The reference's capability contract is a Salesforce→S3 migration pipeline
(`/root/reference/README.md:3-9`); a migrated events/orders corpus is only
useful if the downstream analytics run on it, and the migration itself needs
an audit primitive. This module supplies both families:

- product analytics over the events stream (funnel, cohort retention,
  outage-gap detection, z-score anomaly flags), and
- row-hash reconciliation — the anti-entropy check that proves source and
  landed target agree after a sync.

Everything is declarative DataFrame ops: each query is one or two shuffles
on its natural key (user_id / event_type / primary key), aggregates are
map-side-combined, and the only joins are either broadcast (tiny stats
sides) or PK-to-PK equi-joins that a bucketed 100 TB layout would make
shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import epoch_us, load, ntz_trunc, r4
from atlas_migration_repo_spark.oracle import sql_r4
from atlas_migration_repo_spark.registry import query


@query(
    "funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                      THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
             MIN(CASE WHEN event_type = 'view'
                      THEN CAST(ts AS TIMESTAMP) END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
           CAST(COUNT(CASE WHEN t_signup < t_view THEN 1 END) AS BIGINT)
             AS n_signup_then_view,
           CAST(COUNT(CASE WHEN t_signup < t_view AND t_view < t_purchase
                           THEN 1 END) AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel signup→view→purchase: a user converts a stage
    only if the first occurrence of each step respects the order. One
    shuffle (by user_id) with map-side combine on the conditional MINs,
    then a scalar roll-up — at 100 TB this is the cheapest funnel shape
    (no per-event window, no self-join)."""
    ev = load(spark, sf_dir, "events")

    def first_ts(step: str):
        return F.min(F.when(F.col("event_type") == step, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count_if(F.col("t_signup") < F.col("t_view")).alias("n_signup_then_view"),
        F.count_if(
            (F.col("t_signup") < F.col("t_view"))
            & (F.col("t_view") < F.col("t_purchase"))
        ).alias("n_full_funnel"),
    )


@query(
    "retention_cohort",
    oracle="""
    WITH d AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
    ),
    c AS (
      SELECT user_id, day,
             MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM d
    )
    SELECT cohort_day,
           CAST(FLOOR(DATE_DIFF('day', cohort_day, day) / 7.0) AS INT)
             AS offset_week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM c
    GROUP BY cohort_day, offset_week
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, counted
    distinct in each subsequent week. The cohort day comes from a window
    MIN over the same user_id partitioning the final aggregate shuffles
    on, so AQE coalesces the two exchanges; output is cohort×week sized —
    trivially collectable at any input scale."""
    ev = load(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day"))
    cohort = F.min("day").over(Window.partitionBy("user_id"))
    return (
        d.withColumn("cohort_day", cohort)
        .withColumn(
            "offset_week",
            F.floor(F.datediff(F.col("day"), F.col("cohort_day")) / 7.0).cast("int"),
        )
        .groupBy("cohort_day", "offset_week")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


GAP_HOURS = 6


@query(
    "ts_gap_detect",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             LAG(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS prev_ts
      FROM events
    )
    SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
           (EPOCH_US(ts) - EPOCH_US(prev_ts)) // 1000000 AS gap_seconds
    FROM o
    WHERE EPOCH_US(ts) - EPOCH_US(prev_ts) > {GAP_HOURS * 3600 * 1_000_000}
    """,
)
def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry-gap detection: per-user consecutive-event gaps longer
    than GAP_HOURS — the missing-data / outage primitive of a migration
    cutover check. One window shuffle on user_id; the gap arithmetic is
    exact integer microseconds (µs-truncated ns timestamps, see
    catalog.load), so both engines agree bit-for-bit."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = epoch_us("ts") - epoch_us(prev)
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", prev)
        .withColumn("gap_us", gap_us)
        .where(F.col("gap_us") > GAP_HOURS * 3600 * 1_000_000)
        .select(
            "user_id",
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            F.expr("gap_us div 1000000").alias("gap_seconds"),
        )
    )


@query(
    "ts_anomaly_zscore",
    oracle=f"""
    WITH s AS (
      SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           {sql_r4('(e.value - s.mu) / s.sigma')} AS z
    FROM events e JOIN s USING (event_type)
    WHERE ABS({sql_r4('(e.value - s.mu) / s.sigma')}) > 2.5
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier flags: per-event-type mean/stddev (5 groups →
    broadcast back onto the stream), rows beyond 2.5σ. The filter
    compares the ROUNDED z on both sides so the threshold sits on the
    same 4-decimal grid in both engines (raw double stats drift ~1e-12
    between summation orders — harmless after rounding, fatal at an
    unrounded boundary)."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = r4((F.col("value") - F.col("mu")) / F.col("sigma"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


def _rowhash(custkey: str = "c_custkey", name: str = "c_name", nk: str = "c_nationkey"):
    return F.md5(
        F.concat_ws(
            "|",
            F.col(custkey).cast("string"),
            F.col(name),
            F.col(nk).cast("string"),
        )
    )


_SQL_ROWHASH = (
    "MD5(CONCAT_WS('|', CAST(c_custkey AS VARCHAR), c_name,"
    " CAST(c_nationkey AS VARCHAR)))"
)


@query(
    "reconcile_rowhash",
    oracle=f"""
    WITH src AS (
      SELECT c_custkey, {_SQL_ROWHASH} AS h FROM customer
    ),
    tgt0 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0 THEN c_name || '_X' ELSE c_name END
               AS c_name,
             c_nationkey
      FROM customer WHERE c_custkey % 101 <> 0
    ),
    tgt AS (SELECT c_custkey, {_SQL_ROWHASH} AS h FROM tgt0)
    SELECT src.c_custkey,
           CASE WHEN tgt.c_custkey IS NULL THEN 'missing_target'
                ELSE 'hash_mismatch' END AS status
    FROM src LEFT JOIN tgt USING (c_custkey)
    WHERE tgt.c_custkey IS NULL OR src.h <> tgt.h
    """,
)
def reconcile_rowhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation: MD5 row-hashes of source vs target
    snapshots compared by primary key; emits dropped and silently-mutated
    rows. The target is derived in-query with deterministic faults
    (every 101st key dropped, every 97th name mutated) so the check has
    known positives at every SF. Hashing is per-row codegen; the PK join
    is the only shuffle — on a bucketed-by-PK 100 TB layout it is
    co-located and shuffle-free, which is what makes whole-table
    reconciliation tractable."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    src = c.select("c_custkey", _rowhash().alias("h"))
    tgt = (
        c.where(F.col("c_custkey") % 101 != 0)
        .withColumn(
            "c_name",
            F.when(
                F.col("c_custkey") % 97 == 0, F.concat(F.col("c_name"), F.lit("_X"))
            ).otherwise(F.col("c_name")),
        )
        .select("c_custkey", _rowhash().alias("h_t"))
    )
    return (
        src.join(tgt, "c_custkey", "left")
        .where(F.col("h_t").isNull() | (F.col("h") != F.col("h_t")))
        .select(
            "c_custkey",
            F.when(F.col("h_t").isNull(), "missing_target")
            .otherwise("hash_mismatch")
            .alias("status"),
        )
    )


BASKET_MIN_SUPPORT = 3


@query(
    "basket_pairs",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
    """,
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part pairs co-occurring in ≥
    BASKET_MIN_SUPPORT orders (the candidate-generation step of frequent
    itemsets). The self-join key is the order key, so pair expansion is
    bounded by order size squared (≤ ~50 pairs/order — never corpus-
    quadratic), and the pair-count aggregate map-side combines before its
    shuffle. At 100 TB the distinct() and the self-join share one
    hash-partitioning on l_orderkey, which AQE reuses."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= BASKET_MIN_SUPPORT)
    )


EWMA_ALPHA = 0.3
# NOT `1 - EWMA_ALPHA`: the float subtraction yields 0.7000000000000001,
# a different double than the 0.7 literal the oracle SQL parses — one ulp
# that surfaces as r4 boundary flips at sf0.1. Both engines must parse the
# same decimal literal.
EWMA_BETA = 0.7
EWMA_LOOKBACK = 20


@query(
    "ts_ewma",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_id, value,
             ARRAY_AGG(value) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN {EWMA_LOOKBACK - 1} PRECEDING AND CURRENT ROW
             ) AS vals
      FROM events
    )
    SELECT user_id, event_id,
           FLOOR(LIST_REDUCE(vals, (acc, x) -> 0.3 * x + 0.7 * acc)
                 * 10000 + 0.5) / 10000.0 AS ewma
    FROM v
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over a trailing
    EWMA_LOOKBACK-sample frame per user (acc ← α·x + (1−α)·acc, seeded
    with the oldest frame value). The bounded frame is what makes this
    scale: state per row is ≤20 values regardless of history length
    (an unbounded EWMA window would be O(n²) memory in partition size).
    Both engines fold the identical value sequence left-to-right with
    the identical expression, so raw results are bit-equal — but the
    final rounding must ALSO be the shared FLOOR(x*1e4+0.5)/1e4 form:
    folded 2-decimal inputs land within an ulp of exact .00005 ties,
    where Spark's decimal-repr HALF_UP and DuckDB's scale-in-double
    ROUND disagree (20/100k rows at sf0.1). An identical IEEE expression
    tree can't disagree."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_LOOKBACK - 1), Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.expr("slice(vals, 2, size(vals) - 1)"),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.lit(EWMA_ALPHA) * x + F.lit(EWMA_BETA) * acc,
    )
    return (
        ev.select("user_id", "event_id", "ts", "value")
        .withColumn("vals", vals)
        .select(
            "user_id",
            "event_id",
            (F.floor(ewma * 10000 + 0.5).cast("double") / F.lit(10000.0)).alias(
                "ewma"
            ),
        )
    )


PR_DAMPING = 0.85
PR_ITERS = 10


@query("pagerank_nations")  # iterative float fixpoint — rows-only check
def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (edge src→dst =
    customer-nation buys from supplier-nation, weighted by line count) —
    the iterative-fixpoint pattern on DataFrames. The edge list is built
    once from the fact tables, aggregated to ≤625 weighted edges, and
    localCheckpoint-ed; each of PR_ITERS iterations is a tiny
    edges⋈ranks join + groupBy, with the per-iteration checkpoint
    truncating lineage (same discipline as dedup_clusters/embed_kmeans —
    without it, optimizer time grows superlinearly in iterations). At
    real graph scale the identical loop runs partitioned by dst with the
    rank vector shuffled, not broadcast. Rows-only: an iterated float
    fixpoint has no SQL oracle; invariants are unit-tested."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    edges_n = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("ow")).alias("wn")
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        contrib = (
            edges_n.join(ranks, edges_n.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("wn")).alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit((1 - PR_DAMPING) / n)
                    + F.lit(PR_DAMPING) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ranks.join(F.broadcast(nat), ranks.node == nat.n_nationkey)
        .select("n_name", r4(F.col("rank")).alias("rank"))
        .orderBy("n_name")
    )


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH s AS (
      SELECT HOUR(CAST(ts AS TIMESTAMP)) AS h,
             {sql_r4('AVG(value)')} AS seasonal
      FROM events GROUP BY 1
    )
    SELECT e.event_id,
           s.seasonal,
           e.value - s.seasonal AS residual
    FROM events e JOIN s ON HOUR(CAST(e.ts AS TIMESTAMP)) = s.h
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition: the hour-of-day seasonal profile
    (24-row broadcast) subtracted from each observation — the first
    stage of anomaly pipelines (deseasonalize, then threshold residuals;
    ts_anomaly_zscore is the next stage). The seasonal mean is rounded
    on the shared 4dp policy BEFORE the subtraction, so the residual is
    one exact IEEE subtract in both engines. One aggregation to 24 rows,
    one broadcast join back — scan-dominated at any scale."""
    ev = load(spark, sf_dir, "events")
    prof = ev.groupBy(F.hour("ts").alias("h")).agg(r4(F.avg("value")).alias("seasonal"))
    return (
        ev.join(F.broadcast(prof), F.hour("ts") == F.col("h"))
        .select(
            "event_id",
            "seasonal",
            (F.col("value") - F.col("seasonal")).alias("residual"),
        )
    )


@query(
    "ts_downsample_ohlc",
    oracle="""
    WITH e AS (
      SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             CAST(ts AS TIMESTAMP) AS tsx, event_id, value
      FROM events
    ),
    r AS (
      SELECT bucket, value,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY tsx, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY tsx DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY bucket
    """,
)
def ts_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per-hour open/high/low/close bars over the event
    stream — the canonical lossy time-series compaction (metrics rollup,
    market bars). open/close are min_by/max_by on the composite order key
    struct(ts, event_id), so the whole bar is ONE hash aggregation with
    map-side partial combine — no window sort, no second shuffle; the
    DuckDB oracle needs two ROW_NUMBER windows to say the same thing.
    event_id breaks sub-microsecond ties identically in both engines."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(ntz_trunc("hour", "ts").alias("bucket")).agg(
        F.expr("min_by(value, struct(ts, event_id))").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.expr("max_by(value, struct(ts, event_id))").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


HOLT_ALPHA = 0.5  # level smoothing
HOLT_BETA = 0.3  # trend smoothing
HOLT_LOOKBACK = 20  # bounded frame, same scale rationale as EWMA_LOOKBACK


def _holt_oracle() -> str:
    """Unrolled Holt recurrence, one NESTED SUBQUERY per step. Each step is
    the LITERAL IEEE expression the Spark lambda evaluates, so the fold is
    bit-equal; NULL guards make short frames a no-op past the last value.
    Steps must be subquery layers, not one flat lateral-alias chain:
    lateral aliases substitute TEXTUALLY, so a flat chain re-expands every
    prior step twice per level — a 2^18-node expression tree that hangs
    the binder. A subquery boundary materializes each step as a column
    reference, keeping the tree linear in HOLT_LOOKBACK."""
    a, b = HOLT_ALPHA, HOLT_BETA
    inner = f"""
      SELECT user_id, event_id, vals,
             CASE WHEN LEN(vals) = 1 THEN vals[1] ELSE vals[2] END AS l,
             CASE WHEN LEN(vals) = 1 THEN 0.0 ELSE vals[2] - vals[1] END AS b
      FROM v
    """
    for i in range(3, HOLT_LOOKBACK + 1):
        # one lateral reference per layer (nl inside nb) is safe: it only
        # duplicates this layer's expression once, not the whole prefix
        inner = f"""
      SELECT user_id, event_id, vals,
             CASE WHEN vals[{i}] IS NULL THEN l
                  ELSE {a}*vals[{i}] + {1 - a}*(l+b) END AS nl,
             CASE WHEN vals[{i}] IS NULL THEN b
                  ELSE {b}*(nl-l) + {1 - b}*b END AS nb
      FROM ({inner})
    """
        inner = f"SELECT user_id, event_id, vals, nl AS l, nb AS b FROM ({inner})"
    q = "FLOOR({} * 10000 + 0.5) / 10000.0"
    return f"""
    WITH v AS (
      SELECT user_id, event_id,
             ARRAY_AGG(value) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN {HOLT_LOOKBACK - 1} PRECEDING AND CURRENT ROW
             ) AS vals
      FROM events
    )
    SELECT user_id, event_id,
           {q.format('l')} AS level,
           {q.format('b')} AS trend,
           {q.format('(l + b)')} AS forecast
    FROM ({inner})
    """


@query("ts_holt_linear", oracle=_holt_oracle())
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) per user
    over the trailing HOLT_LOOKBACK frame; `forecast` is the one-step-ahead
    level+trend. Like ts_ewma this is an INHERENTLY SEQUENTIAL recurrence
    made distributable by bounding the frame: per-row state is ≤20 values,
    so a 100 TB history still windows in O(frame) memory with one shuffle
    on user_id. The oracle is exact because both engines fold the same
    value list through the LITERAL same IEEE expression tree (Spark: one
    struct-accumulator `aggregate` HOF; DuckDB: the recurrence unrolled
    into 18 lateral-alias steps) and share the FLOOR(x·1e4+0.5)/1e4
    quantizer — see ts_ewma's docstring for the tie analysis."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(HOLT_LOOKBACK - 1), Window.currentRow)
    )
    a, b = HOLT_ALPHA, HOLT_BETA

    def step(acc, x):
        l_new = F.lit(a) * x + F.lit(1 - a) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (F.lit(b) * (l_new - acc["l"]) + F.lit(1 - b) * acc["b"]).alias("b"),
        )

    seed = F.struct(
        F.element_at("vals", 2).alias("l"),
        (F.element_at("vals", 2) - F.element_at("vals", 1)).alias("b"),
    )
    folded = F.aggregate(F.expr("slice(vals, 3, size(vals) - 2)"), seed, step)
    one = F.struct(F.element_at("vals", 1).alias("l"), F.lit(0.0).alias("b"))
    st = F.when(F.size("vals") == 1, one).otherwise(folded)

    def q4(c):
        return (F.floor(c * 10000 + 0.5).cast("double") / F.lit(10000.0))

    return (
        ev.select("user_id", "event_id", "ts", "value")
        .withColumn("vals", F.collect_list("value").over(w))
        .withColumn("st", st)
        .select(
            "user_id",
            "event_id",
            q4(F.col("st.l")).alias("level"),
            q4(F.col("st.b")).alias("trend"),
            q4(F.col("st.l") + F.col("st.b")).alias("forecast"),
        )
    )


_TOUCH_TYPES = ("view", "click")


@query(
    "attribution_last_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value, ts,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
             LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                             THEN EPOCH_US(ts) END IGNORE NULLS)
               OVER w AS touch_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT COALESCE(touch_type, 'none') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 4) AS DOUBLE)
             AS attributed_value,
           {sql_r4("AVG((EPOCH_US(ts) - touch_us) / 60000000.0)")} AS avg_min_to_convert
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH attribution: every purchase is credited to the user's
    most recent preceding view/click (or 'none'), aggregated to credited
    purchase counts, exact decimal value, and mean minutes-to-convert —
    the marketing-pipeline twin of the funnel operators.

    One window over (user, time) computes the carried-forward last touch
    with LAST_VALUE IGNORE NULLS on a frame ending 1 PRECEDING (a
    purchase can't attribute to itself); the shuffle is a single
    partition-by-user sort shared with every other per-user window op.
    Event times ride as zone-pure epoch micros, deterministic tiebreak
    (ts, event_id), so both engines pick the identical touch row."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*_TOUCH_TYPES)
    seq = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        "ts",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, epoch_us("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_us"),
    )
    from atlas_migration_repo_spark.catalog import msum

    return (
        seq.where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            msum("value").alias("attributed_value"),
            r4(
                F.avg((epoch_us("ts") - F.col("touch_us")) / 60000000.0)
            ).alias("avg_min_to_convert"),
        )
    )


@query(
    "ts_backtest_smape",
    oracle=f"""
    WITH d AS (
      SELECT event_type, DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
             COUNT(*) AS actual
      FROM events GROUP BY event_type, day
    ),
    f AS (
      SELECT event_type, day, actual,
             LAG(actual, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS forecast
      FROM d
    )
    SELECT event_type,
           CAST(COUNT(forecast) AS INT) AS n_days,
           {sql_r4('AVG(2.0 * ABS(actual - forecast) / (actual + forecast))')}
             AS smape,
           CAST(MAX(ABS(actual - forecast)) AS BIGINT) AS worst_abs_err
    FROM f WHERE forecast IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_backtest_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: seasonal-naive (same weekday last week) daily
    event volume per type, scored with SMAPE — the sanity baseline every
    forecasting deployment is graded against before anything fancier
    ships. Per-type daily counts are ONE corpus aggregate (map-side
    partial combine to types×days rows); the 7-step LAG and the SMAPE
    reduction run on that tiny relation, so at 100 TB the cost is the
    single scan. Counts are exact integers, each SMAPE term divides once
    (bit-identical in both engines); the r4'd AVG over ≤365 terms sits in
    the same drift envelope as agg_stats."""
    e = load(spark, sf_dir, "events")
    d = (
        e.groupBy("event_type", ntz_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    f = d.withColumn("forecast", F.lag("actual", 7).over(w)).where(
        F.col("forecast").isNotNull()
    )
    term = 2.0 * F.abs(F.col("actual") - F.col("forecast")) / (
        F.col("actual") + F.col("forecast")
    )
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_days"),
        r4(F.avg(term)).alias("smape"),
        F.max(F.abs(F.col("actual") - F.col("forecast"))).cast("bigint").alias(
            "worst_abs_err"
        ),
    )
