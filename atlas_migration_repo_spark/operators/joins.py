"""Join operators (SURVEY.md §2.3).

Physical strategy is Catalyst/AQE's call (broadcast-hash vs shuffled-hash vs
sort-merge); we pin it only where we know better: dimension tables (region,
nation, supplier at fixture ratios) get explicit broadcast() hints so fact
scans never shuffle. At 100 TB:
- fact⋈fact equi joins shuffle both sides on the key — acceptable, and AQE
  splits skewed partitions;
- fact⋈dim joins must broadcast the dim (a shuffled 100 TB fact is the
  single most expensive mistake available);
- the as-of join is a union + per-key window — one shuffle on the key,
  no range-explosion, state bounded by the window frame.

Reference parity: reference ships no code (/root/reference/README.md:1-9);
surface defined by SURVEY.md §2.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import as_date, epoch_us, load, msum
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query


@query(
    "join_inner",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 400000
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@query(
    "join_left",
    oracle="""
    SELECT c_custkey, o.o_orderkey
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
      ON c_custkey = o.o_custkey
    WHERE c_acctbal > 9000
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: unmatched customers keep NULL order keys."""
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select("c_custkey", "o_orderkey")


@query(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, c_custkey
    FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
    RIGHT JOIN customer ON o.o_custkey = c_custkey
    WHERE c_acctbal > 9000
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of join_left)."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    c = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    return o.join(c, o.o_custkey == c.c_custkey, "right").select("o_orderkey", "c_custkey")


@query(
    "join_full",
    oracle="""
    SELECT COALESCE(b.k, m.k) AS nation_key, b.n_building, m.n_machinery
    FROM (SELECT c_nationkey AS k, COUNT(*) AS n_building FROM customer
          WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9500 GROUP BY c_nationkey) b
    FULL JOIN
         (SELECT c_nationkey AS k, COUNT(*) AS n_machinery FROM customer
          WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 9500 GROUP BY c_nationkey) m
      ON b.k = m.k
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two sparse per-nation aggregates."""

    def side(seg: str, alias: str) -> DataFrame:
        return (
            load(spark, sf_dir, "customer")
            .where((F.col("c_mktsegment") == seg) & (F.col("c_acctbal") > 9500))
            .groupBy(F.col("c_nationkey").alias("k"))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    b = side("BUILDING", "n_building")
    m = side("MACHINERY", "n_machinery")
    return b.join(m, b.k == m.k, "full").select(
        F.coalesce(b.k, m.k).alias("nation_key"), "n_building", "n_machinery"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join ≡ EXISTS (emits each customer at most once, never
    duplicates on multiple matches — the scale-safe EXISTS shape)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join ≡ NOT EXISTS: customers with no urgent order
    (18/203/1986 rows across sf — non-vacuous at every scale)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two smallest dims (5×25)."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {sql_msum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     AND CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
     AND CAST(l_shipdate AS DATE) <  CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join with a range residual: lines shipped within 90 days of
    their order date. The equi conjunct keeps this a hash/sort-merge join
    (the range is a post-join filter), so no nested-loop blowup at scale."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    ship, odate = as_date(li.l_shipdate), as_date(o.o_orderdate)
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (ship >= odate)
        & (ship < F.date_add(odate, 90))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            msum("l_extendedprice * (1 - l_discount)").alias("revenue"),
        )
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join: the 25-row nation dim ships to every
    executor; the customer side never shuffles. This is THE fact⋈dim shape
    for 100 TB — asserted in tests to actually plan a BroadcastHashJoin."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_multiway",
    tags=("bench",),
    oracle=f"""
    SELECT r_name, COUNT(*) AS n_orders, {sql_msum('o_totalprice')} AS total
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way dim chain region⋈nation⋈customer⋈orders. The two tiny dims are
    broadcast; orders⋈customer shuffles on custkey once."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), msum("o_totalprice").alias("total"))
    )


@query(
    "join_self",
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b, a.c_nationkey AS nation_key
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE a.c_acctbal > 9500 AND b.c_acctbal > 9500
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: pairs of high-balance customers sharing a nation, with a
    strict key ordering so each pair appears exactly once."""
    base = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9500)
        .select("c_custkey", "c_nationkey")
    )
    a, b = base.alias("a"), base.alias("b")
    return a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("cust_a"),
        F.col("b.c_custkey").alias("cust_b"),
        F.col("a.c_nationkey").alias("nation_key"),
    )


@query(
    "join_asof",
    tags=("bench",),
    oracle="""
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, c.click_id
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the user's latest click at-or-before
    the purchase instant (validated against DuckDB ASOF LEFT JOIN).

    Spark has no native batch as-of, and a range join explodes at scale.
    Implementation: tag both sides, union, and take last(click_id,
    ignorenulls) over a per-user window ordered by (ts, side-tag) — clicks
    sort before same-instant purchases, giving inclusive <= semantics.
    One shuffle on user_id, O(1) state per row, no pair explosion: this is
    the 100 TB-safe as-of shape. Clicks are pre-deduped to max event_id per
    (user, µs instant) so ties are deterministic in both engines.
    """
    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", "click_id", F.lit(None).cast("long").alias("purchase_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    # tag 0 = click, 1 = purchase: at equal ts the click precedes, so the
    # running last() includes same-instant clicks (ASOF's inclusive <=)
    tagged = clicks.withColumn("tag", F.lit(0)).unionByName(
        purchases.withColumn("tag", F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_click", F.last("click_id", ignorenulls=True).over(w))
        .where(F.col("tag") == 1)
        .select("purchase_id", "user_id", F.col("last_click").alias("click_id"))
    )


RANGE_WIN_US = 600 * 1_000_000  # 10-minute pairing window


@query(
    "join_range_binned",
    oracle=f"""
    SELECT a.event_id AS ea, b.event_id AS eb,
           EPOCH_US(CAST(b.ts AS TIMESTAMP)) - EPOCH_US(CAST(a.ts AS TIMESTAMP))
             AS delta_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
    WHERE ABS(EPOCH_US(CAST(b.ts AS TIMESTAMP))
              - EPOCH_US(CAST(a.ts AS TIMESTAMP))) <= {RANGE_WIN_US}
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (interval) self-join — event pairs from the same user within
    10 minutes — executed as a BINNED equi-join: one side keeps its time
    bucket ⌊t/W⌋, the other explodes to {b-1, b, b+1}, the join key is
    (user, bucket), and the exact |Δt| ≤ W predicate filters after.
    Each qualifying pair matches exactly one candidate bucket, so no
    dedup pass is needed. The oracle states the same semantics as the
    naive theta join; the binned plan is the one that scales — a theta
    join is BroadcastNestedLoop (quadratic), the binned form is a plain
    hash join whose per-bucket fan-out is bounded by event density, and
    bucket arithmetic is exact integer µs (`div`), immune to double
    rounding at bucket edges."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("t_us")
    )
    a = ev.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("ea"),
        F.col("t_us").alias("ta"),
        F.expr(f"t_us div {RANGE_WIN_US}").alias("bucket"),
    )
    b = ev.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("eb"),
        F.col("t_us").alias("tb"),
        F.explode(
            F.array(
                F.expr(f"t_us div {RANGE_WIN_US} - 1"),
                F.expr(f"t_us div {RANGE_WIN_US}"),
                F.expr(f"t_us div {RANGE_WIN_US} + 1"),
            )
        ).alias("bucket"),
    )
    return (
        a.join(b, ["u", "bucket"])
        .where(
            (F.col("ea") < F.col("eb"))
            & (F.abs(F.col("tb") - F.col("ta")) <= RANGE_WIN_US)
        )
        .select("ea", "eb", (F.col("tb") - F.col("ta")).alias("delta_us"))
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT NULLIF(o_custkey % 7, 0) AS k, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(c_custkey % 7, 0) AS k, COUNT(*) AS n_cust
      FROM customer GROUP BY 1
    )
    SELECT a.k, a.n_orders, b.n_cust
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` ≡ IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing, so the NULL bucket survives
    the join — the semantics audits need when a nullable business key
    partitions both sides. NULLs are synthesized via NULLIF (the fixture
    has none). Still a hash join: Spark plans `<=>` as an equi-join on a
    null-wrapped key, not a nested loop — same shuffle shape as `=`."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    a = (
        o.select(F.expr("NULLIF(o_custkey % 7, 0)").alias("ka"))
        .groupBy("ka")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    b = (
        c.select(F.expr("NULLIF(c_custkey % 7, 0)").alias("kb"))
        .groupBy("kb")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        a.join(b, a["ka"].eqNullSafe(b["kb"]))
        .select(F.col("ka").alias("k"), "n_orders", "n_cust")
    )


ASOF_TOL_US = 3600 * 1_000_000  # 1-hour staleness bound


@query(
    "join_asof_tolerance",
    oracle="""
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           (SELECT c.click_id FROM clicks c
            WHERE c.user_id = p.user_id AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 1 HOUR
            ORDER BY c.ts DESC LIMIT 1) AS click_id
    FROM purchases p
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: each purchase gets the
    user's latest click at-or-before it, but only if that click is within
    1 hour — older context is considered stale and nulls out (the market-
    data 'max lookback' semantic). Same union + running-last shape as
    join_asof — one shuffle, no pair explosion — except the carried state
    is a (ts, id) struct so the tolerance check happens after the match.
    The oracle states the semantics as a correlated top-1 subquery."""
    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    tagged = clicks.select(
        "user_id", "ts", F.lit(0).alias("tag"),
        F.struct(F.col("ts").alias("cts"), "click_id").alias("c"),
        F.lit(None).cast("long").alias("purchase_id"),
    ).unionByName(
        purchases.select(
            "user_id", "ts", F.lit(1).alias("tag"),
            F.lit(None).cast("struct<cts:timestamp,click_id:long>").alias("c"),
            "purchase_id",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_c = F.last("c", ignorenulls=True).over(w)
    fresh = (
        epoch_us("ts") - epoch_us(last_c.getField("cts"))
    ) <= ASOF_TOL_US
    return (
        tagged.withColumn(
            "click_id", F.when(fresh, last_c.getField("click_id"))
        )
        .where(F.col("tag") == 1)
        .select("purchase_id", "user_id", "click_id")
    )


@query(
    "join_lateral",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join — top-2 customers per nation expressed as
    a per-row subquery instead of a window. Catalyst decorrelates the
    LATERAL + LIMIT into the same shuffle-once windowed plan as
    topk_per_group, which is the point: the SQL surface accepts the
    correlated formulation, the engine still runs the scalable one."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("v_nation_lat")
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer_lat")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM v_nation_lat n, LATERAL (
          SELECT c_custkey, c_acctbal FROM v_customer_lat c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, n.click_id, n.delta_us
    FROM purchases p LEFT JOIN LATERAL (
      SELECT c.click_id,
             ABS(EPOCH_US(c.ts) - EPOCH_US(p.ts)) AS delta_us
      FROM clicks c WHERE c.user_id = p.user_id
      ORDER BY ABS(EPOCH_US(c.ts) - EPOCH_US(p.ts)), c.ts
      LIMIT 1
    ) n ON TRUE
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbour as-of join: for every purchase, the user's click
    CLOSEST in time in either direction (|Δt| minimized; the earlier
    click wins a distance tie, matching the oracle's ORDER BY abs, ts).

    join_asof gives the backward ('latest at-or-before') variant; this is
    the bidirectional one pandas calls merge_asof(direction='nearest') —
    DuckDB's ASOF JOIN is backward-only, so the oracle states the
    semantics as a LATERAL argmin instead.

    Plan shape: same union + per-user window as join_asof — the backward
    candidate is last(click, ignorenulls) over (ts, tag) ascending, the
    forward candidate first(click, ignorenulls) over the mirrored frame —
    then a scalar CASE picks the nearer. Exactly two exchanges end to end
    (guarded in tests): the click-dedup aggregate on (user, instant), then
    one user-keyed window exchange that BOTH directional passes share —
    the descending pass adds only a re-sort, not a re-shuffle. O(1) state
    per row, zero pair explosion: a lateral/theta formulation would be a
    quadratic BroadcastNestedLoop, this stays linear at any scale. Clicks
    pre-dedupe to max event_id per (user, µs) so ties are deterministic in
    both engines; arithmetic is exact integer µs."""
    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id",
            epoch_us("ts").alias("t_us"),
            "click_id",
            F.lit(None).cast("long").alias("purchase_id"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    # tag 0 = click, 1 = purchase: ascending (t_us, tag) puts same-instant
    # clicks BEFORE the purchase row, so the backward pass is inclusive
    # (Δ=0 lands there; the forward frame never needs same-instant rows).
    tagged = clicks.withColumn("tag", F.lit(0)).unionByName(
        purchases.withColumn("tag", F.lit(1))
    )
    click_ev = F.when(
        F.col("tag") == 0, F.struct(F.col("t_us"), F.col("click_id"))
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("t_us"), F.desc("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cand = (
        tagged.withColumn("prev", F.last(click_ev, ignorenulls=True).over(w_back))
        .withColumn("nxt", F.last(click_ev, ignorenulls=True).over(w_fwd))
        .where(F.col("tag") == 1)
    )
    d_prev = F.col("t_us") - F.col("prev.t_us")
    d_next = F.col("nxt.t_us") - F.col("t_us")
    prev_wins = F.col("prev").isNotNull() & (
        F.col("nxt").isNull() | (d_prev <= d_next)
    )
    return cand.select(
        "purchase_id",
        "user_id",
        F.when(prev_wins, F.col("prev.click_id"))
        .otherwise(F.col("nxt.click_id"))
        .alias("click_id"),
        F.when(prev_wins, d_prev).otherwise(d_next).alias("delta_us"),
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, CAST(ts AS TIMESTAMP)
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    ),
    tagged AS (
      SELECT user_id, ts, click_id, CAST(NULL AS BIGINT) AS purchase_id,
             0 AS tag
      FROM clicks
      UNION ALL
      SELECT user_id, ts, NULL, purchase_id, 1 FROM purchases
    )
    SELECT purchase_id, user_id, next_click AS click_id
    FROM (
      SELECT purchase_id, user_id, tag,
             LAST_VALUE(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts DESC, tag ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS next_click
      FROM tagged
    ) WHERE tag = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for every purchase, the user's EARLIEST click
    at-or-after the purchase instant — pandas merge_asof(direction=
    'forward'), the attribution shape for "what did the user do next".
    DuckDB 1.0's ASOF JOIN is backward-only, so the oracle states the
    semantics with the same union + reversed window this plan runs.

    Mirror of join_asof: tag both sides, union, run last(click_id,
    ignorenulls) over a per-user window ordered DESCENDING by (ts) with
    ascending tag tiebreak — at an equal instant the click row is scanned
    before the purchase row, so the same-instant click is included
    (inclusive >=, the twin of join_asof's inclusive <=). One shuffle on
    user_id, O(1) window state per row, no pair explosion — the 100 TB-
    safe as-of shape in either direction. Clicks pre-dedupe to max
    event_id per (user, µs instant) so ties are deterministic in both
    engines."""
    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id",
            "ts",
            "click_id",
            F.lit(None).cast("long").alias("purchase_id"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    # tag 0 = click, 1 = purchase: in the DESCENDING ts scan an ascending
    # tag puts the same-instant click first, so the running last() already
    # holds it when the purchase row arrives (inclusive >=)
    tagged = clicks.withColumn("tag", F.lit(0)).unionByName(
        purchases.withColumn("tag", F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("next_click", F.last("click_id", ignorenulls=True).over(w))
        .where(F.col("tag") == 1)
        .select("purchase_id", "user_id", F.col("next_click").alias("click_id"))
    )


ALLEN_WIN_US = 600 * 1_000_000  # start-to-start pairing window (10 min)

# One CASE text shared verbatim by the Spark plan (F.expr) and the DuckDB
# oracle, so the 13-relation classification cannot drift between engines.
# First the four disjoint/touching cases, then the nine proper-intersection
# cells keyed by sign(sa-sb) x sign(ea-eb).
_ALLEN_CASE = """
CASE
  WHEN ea < sb THEN 'precedes'
  WHEN ea = sb THEN 'meets'
  WHEN eb < sa THEN 'preceded_by'
  WHEN eb = sa THEN 'met_by'
  WHEN sa < sb AND ea < eb THEN 'overlaps'
  WHEN sa < sb AND ea = eb THEN 'finished_by'
  WHEN sa < sb AND ea > eb THEN 'contains'
  WHEN sa = sb AND ea < eb THEN 'starts'
  WHEN sa = sb AND ea = eb THEN 'equals'
  WHEN sa = sb AND ea > eb THEN 'started_by'
  WHEN sa > sb AND ea < eb THEN 'during'
  WHEN sa > sb AND ea = eb THEN 'finishes'
  ELSE 'overlapped_by'
END
"""


@query(
    "join_interval_allen",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id,
             EPOCH_US(CAST(ts AS TIMESTAMP)) AS s,
             EPOCH_US(CAST(ts AS TIMESTAMP))
               + CAST(FLOOR(value * 1000000) AS BIGINT) AS e
      FROM events
    ),
    pairs AS (
      SELECT a.s AS sa, a.e AS ea, b.s AS sb, b.e AS eb
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
      WHERE ABS(a.s - b.s) <= {ALLEN_WIN_US}
    )
    SELECT {_ALLEN_CASE} AS relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def join_interval_allen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra over event intervals: classify every
    same-user pair whose starts fall within 10 minutes into one of the 13
    temporal relations (precedes/meets/overlaps/starts/during/finishes,
    their inverses, and equals) and count each relation — the full
    temporal-join vocabulary, not just 'overlaps' (join_interval_overlap).

    Each event's interval is [ts, ts + value seconds], with the duration
    in exact integer µs (FLOOR of the IEEE product — identical in both
    engines) so every boundary comparison is integer equality, immune to
    float edges. The CASE text is one shared string between the Spark
    plan and the oracle.

    Plan: the oracle states the naive theta self-join; the executed plan
    is the binned equi-join of join_range_binned — bucket ⌊s/W⌋ on one
    side, explode to {{b-1, b, b+1}} on the other, equi-join on (user,
    bucket), exact |Δs| ≤ W filter after. Linear in qualifying pairs at
    any scale; the classification itself is a scalar CASE, free."""
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + F.floor(F.col("value") * 1_000_000).cast("long")).alias("e"),
    )
    a = iv.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("ia"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
        (F.col("s") / ALLEN_WIN_US).cast("long").alias("bucket"),
    )
    b = iv.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("ib"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
        F.explode(
            F.array(
                (F.col("s") / ALLEN_WIN_US).cast("long") - 1,
                (F.col("s") / ALLEN_WIN_US).cast("long"),
                (F.col("s") / ALLEN_WIN_US).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    pairs = a.join(b, ["u", "bucket"]).where(
        (F.col("ia") < F.col("ib"))
        & (F.abs(F.col("sa") - F.col("sb")) <= ALLEN_WIN_US)
    )
    return (
        pairs.select(F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
