"""Mergeable frequency/membership sketches (SURVEY.md §2 extras next to
agg_hll_mergeable): Count-Min and Bloom, built DETERMINISTICALLY so both
engines construct bit-identical sketches and the oracles are exact — no
engine-specific RNG or hash (md5-arithmetic hashing, the same
content-addressed scheme as pipeline.sample_weighted).

Scale shape — why sketches at 100 TB: both structures are tiny (KB),
order-independent, and mergeable by bucket-wise add/or, so they build in
ONE map-side-combined groupBy whose shuffle carries sketch-width rows per
task regardless of corpus size; per-partition partials merge associatively
exactly like HLL. The sketch then broadcasts wherever the full key set
could not (frequency guards, join-pruning membership filters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import load
from atlas_migration_repo_spark.registry import query

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 64  # buckets per row
BLOOM_BITS = 65536
BLOOM_HASHES = 3


def _h(j: Column | int, key: Column, mod: int) -> Column:
    """Deterministic bucket hash: first 24 bits of md5("<j>:<key>") mod
    `mod` — engine-agnostic arithmetic (DuckDB twin: '0x'||SUBSTRING cast)."""
    return (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(j) if isinstance(j, int) else j, key)), 1, 6), 16, 10)
        .cast("bigint") % mod
    ).cast("int")


def _sql_h(j: str, key: str, mod: int) -> str:
    return (
        f"CAST(CAST('0x' || SUBSTRING(MD5({j} || ':' || {key}), 1, 6) AS BIGINT) "
        f"% {mod} AS INT)"
    )


@query(
    "sketch_countmin",
    oracle=f"""
    WITH e AS (
      SELECT j, {_sql_h('j', 'l_partkey', CMS_WIDTH)} AS bucket
      FROM lineitem, UNNEST([0, 1, 2, 3]) t(j)
    )
    SELECT CAST(j AS INT) AS j, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY 1, 2
    """,
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of l_partkey frequencies: CMS_DEPTH×CMS_WIDTH
    counters, one row per (hash row j, bucket). The build is explode(d
    rows) → groupBy(j, bucket) — one shuffle of ≤ d·w rows per task
    thanks to map-side partial counts; merging two corpora's sketches is
    bucket-wise addition of these tables."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    e = li.select(
        F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("j"),
        "l_partkey",
    )
    return (
        e.select("j", _h(F.col("j"), F.col("l_partkey"), CMS_WIDTH).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


CMS_PROBE_MOD = 97  # deterministic probe-key sample stride


@query(
    "sketch_countmin_estimate",
    oracle=f"""
    WITH sk AS (
      SELECT j, {_sql_h('j', 'l_partkey', CMS_WIDTH)} AS bucket,
             COUNT(*) AS n
      FROM lineitem, UNNEST([0, 1, 2, 3]) t(j)
      GROUP BY 1, 2
    ),
    probe AS (
      SELECT l_partkey AS key, COUNT(*) AS true_n
      FROM lineitem WHERE l_partkey % {CMS_PROBE_MOD} = 0
      GROUP BY 1
    )
    SELECT p.key, CAST(p.true_n AS BIGINT) AS true_n,
           CAST(MIN(sk.n) AS BIGINT) AS cms_est,
           (MIN(sk.n) > p.true_n) AS overestimated
    FROM probe p
    JOIN sk ON sk.bucket = {_sql_h('sk.j', 'p.key', CMS_WIDTH)}
    GROUP BY p.key, p.true_n
    """,
)
def sketch_countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-frequency estimates from the Count-Min sketch for a
    deterministic probe-key sample, next to the true counts — est(key) =
    min over hash rows of the key's bucket counter, the CMS guarantee
    being est ≥ true (never under). The probe join is sketch-vs-keys:
    d·w counter rows broadcast against the probe list, the corpus itself
    is scanned once for the truth column only."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    sk = sketch_countmin(spark, sf_dir)
    probe = (
        li.where(F.col("l_partkey") % CMS_PROBE_MOD == 0)
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    joined = probe.join(
        F.broadcast(sk),
        F.col("bucket") == _h(F.col("j"), F.col("key"), CMS_WIDTH),
    )
    return joined.groupBy("key", "true_n").agg(
        F.min("n").alias("cms_est"),
        (F.min("n") > F.col("true_n")).alias("overestimated"),
    )


@query(
    "sketch_bloom",
    oracle=f"""
    WITH bits AS (
      SELECT DISTINCT {_sql_h('j', 'o_custkey', BLOOM_BITS)} AS bit_pos
      FROM orders, UNNEST([0, 1, 2]) t(j)
    )
    SELECT bit_pos FROM bits
    """,
)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over the orders customer set: BLOOM_HASHES md5-derived
    bit positions per key, emitted as the distinct set-bit table (the
    sketch itself — BLOOM_BITS wide, OR-mergeable across corpora). Build
    is explode(k) → distinct on ≤ m values: one shuffle bounded by the
    filter width, not the key count."""
    o = load(spark, sf_dir, "orders").select("o_custkey")
    e = o.select(
        F.explode(F.array(*[F.lit(j) for j in range(BLOOM_HASHES)])).alias("j"),
        "o_custkey",
    )
    return e.select(
        _h(F.col("j"), F.col("o_custkey"), BLOOM_BITS).alias("bit_pos")
    ).distinct()


BLOOM_PROBE_N = 40  # probe ids 1..N
# first half probes in-domain custkeys (id*37); second half probes keys far
# past any fixture's custkey range (id*1000003) — guaranteed absent, so the
# probe set always exercises both membership outcomes at every scale factor
_SQL_PROBE_KEY = f"CASE WHEN id <= {BLOOM_PROBE_N // 2} THEN id * 37 ELSE id * 1000003 END"


@query(
    "sketch_bloom_probe",
    oracle=f"""
    WITH bits AS (
      SELECT DISTINCT {_sql_h('j', 'o_custkey', BLOOM_BITS)} AS bit_pos
      FROM orders, UNNEST([0, 1, 2]) t(j)
    ),
    probe AS (
      SELECT {_SQL_PROBE_KEY} AS key
      FROM (SELECT UNNEST(GENERATE_SERIES(1, {BLOOM_PROBE_N})) AS id)
    ),
    ph AS (
      SELECT key, {_sql_h('j', 'key', BLOOM_BITS)} AS bp
      FROM probe, UNNEST([0, 1, 2]) t(j)
    ),
    hits AS (
      SELECT ph.key, COUNT(b.bit_pos) = {BLOOM_HASHES} AS bloom_hit
      FROM ph LEFT JOIN bits b ON b.bit_pos = ph.bp
      GROUP BY ph.key
    )
    SELECT h.key, h.bloom_hit, (p.key IS NOT NULL) AS present
    FROM hits h
    LEFT JOIN (SELECT DISTINCT o_custkey AS key FROM orders) p USING (key)
    """,
)
def sketch_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership probes for a fixed arithmetic key set (half
    in-domain custkeys, half guaranteed-absent): bloom_hit is true iff
    all BLOOM_HASHES bit positions are set, next to ground truth. The
    Bloom contract — no false negatives, bounded false positives — is
    what lets the sketch broadcast as a join pre-filter where the full
    key set couldn't; the probe plan joins the probe list against the
    ≤ m-row bit table, touching orders only for the truth column."""
    o = load(spark, sf_dir, "orders").select("o_custkey")
    bits = sketch_bloom(spark, sf_dir)
    probe = spark.range(1, BLOOM_PROBE_N + 1).select(
        F.expr(_SQL_PROBE_KEY).alias("key")
    )
    pe = probe.select(
        "key",
        F.explode(F.array(*[F.lit(j) for j in range(BLOOM_HASHES)])).alias("j"),
    )
    hits = (
        pe.join(
            F.broadcast(bits),
            F.col("bit_pos") == _h(F.col("j"), F.col("key"), BLOOM_BITS),
            "left",
        )
        .groupBy("key")
        .agg((F.count("bit_pos") == BLOOM_HASHES).alias("bloom_hit"))
    )
    present = o.select(F.col("o_custkey").alias("key")).distinct().withColumn(
        "present", F.lit(True)
    )
    return (
        hits.join(F.broadcast(present), "key", "left")
        .select("key", "bloom_hit", F.coalesce("present", F.lit(False)).alias("present"))
    )


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by return flag, with the probe side PRE-FILTERED
    through a Bloom sketch of the urgent orderkey set before the exact
    join — the sketch family applied inside a real plan, mirroring the
    engine-level runtime bloom filters session.py enables.

    Why this shape at 100 TB: the urgent KEY LIST can be too large to
    broadcast, but its Bloom table is ≤ BLOOM_BITS rows regardless of key
    count, so membership checks ride three scan-side broadcast left-semi
    joins (no shuffle of the big side, no explode) and only surviving rows
    — true matches plus a bounded false-positive trickle — reach the
    exact join that removes the trickle. No false negatives ⇒ the result
    is IDENTICAL to the unfiltered join, which is exactly what the plain
    SQL oracle asserts."""
    from atlas_migration_repo_spark.catalog import msum

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    urgent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bits = (
        urgent.select(
            F.explode(F.array(*[F.lit(j) for j in range(BLOOM_HASHES)])).alias("j"),
            "o_orderkey",
        )
        .select(_h(F.col("j"), F.col("o_orderkey"), BLOOM_BITS).alias("bit_pos"))
        .distinct()
    )
    pref = li
    for j in range(BLOOM_HASHES):
        pref = pref.withColumn(f"bp{j}", _h(j, F.col("l_orderkey"), BLOOM_BITS)).join(
            F.broadcast(bits.withColumnRenamed("bit_pos", f"bp{j}")),
            f"bp{j}",
            "left_semi",
        )
    return (
        pref.join(urgent, pref.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            msum("l_extendedprice * (1 - l_discount)").alias("revenue"),
        )
    )


QSK_K = 1024  # bottom-k sample size: rank error O(1/sqrt(k))
_QSK_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


@query(
    "sketch_quantile_bottomk",
    oracle=f"""
    WITH smp AS (
      SELECT l_quantity
      FROM lineitem
      ORDER BY MD5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))
      LIMIT {QSK_K}
    ),
    ranked AS (
      SELECT l_quantity,
             ROW_NUMBER() OVER (ORDER BY l_quantity, MD5(CAST(l_quantity AS VARCHAR))) AS rn
      FROM smp
    )
    SELECT CAST(q AS DOUBLE) AS q, r.l_quantity AS estimate
    FROM (VALUES {", ".join(f"({q})" for q in _QSK_QS)}) t(q)
    JOIN ranked r ON r.rn = CAST(FLOOR(q * ({QSK_K} - 1)) AS BIGINT) + 1
    """,
)
def sketch_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch via BOTTOM-K PRIORITY SAMPLING: every
    row gets a content-addressed md5 priority (engine-portable, no RNG),
    the k smallest priorities form a uniform sample, and sample order
    statistics estimate the quantiles (rank error O(1/sqrt(k)),
    unit-asserted against the exact quantiles). Unlike stream-order
    sketches, the bottom-k set is ORDER-INDEPENDENT — both engines
    construct the identical sample, so the oracle is exact — and
    mergeable by construction: bottom-k of a union equals bottom-k of
    the per-shard bottom-ks (unit-asserted), the property that lets
    10,000 partitions each ship k rows instead of a data-scale shuffle.

    Plan shape: one TakeOrdered(k) — per-partition top-k heaps merged on
    the driver, no full sort — then rank selection inside the k-row
    sample."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    pri = F.md5(
        F.concat_ws(
            ":",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    smp = li.select("l_quantity", pri.alias("__pri")).orderBy("__pri").limit(
        QSK_K
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.orderBy(
            F.col("l_quantity"), F.md5(F.col("l_quantity").cast("string"))
        )
    )
    ranked = smp.select("l_quantity", rn.alias("rn"))
    qs = spark.createDataFrame(
        [(float(q),) for q in _QSK_QS], "q double"
    ).withColumn(
        "rn", (F.floor(F.col("q") * (QSK_K - 1)) + 1).cast("bigint")
    )
    return qs.join(ranked, "rn").select(
        "q", F.col("l_quantity").alias("estimate")
    )


KMV_K = 128  # k-minimum-values sketch size


@query(
    "sketch_kmv_intersection",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IN ('view', 'purchase')
    ),
    h AS (
      SELECT event_type, user_id,
             CAST(CAST('0x' || SUBSTRING(MD5('kmv:' || CAST(user_id AS VARCHAR)), 1, 12)
                       AS BIGINT) AS DOUBLE) / 281474976710656.0 AS hv
      FROM keys
    ),
    rk AS (
      SELECT event_type, user_id, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    bk AS (SELECT * FROM rk WHERE rn <= {KMV_K}),
    per_type AS (
      SELECT event_type,
             CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE ({KMV_K} - 1) / MAX(hv) END AS est
      FROM bk WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    u AS (
      SELECT user_id, hv,
             ROW_NUMBER() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT user_id, hv FROM bk) d
    ),
    ubk AS (SELECT * FROM u WHERE rn <= {KMV_K}),
    inter AS (
      SELECT COUNT(*) AS c
      FROM ubk
      WHERE user_id IN (SELECT user_id FROM bk WHERE event_type = 'view')
        AND user_id IN (SELECT user_id FROM bk WHERE event_type = 'purchase')
    )
    SELECT CAST(ROUND((SELECT est FROM per_type WHERE event_type = 'view'), 4) AS DOUBLE) AS view_est,
           CAST(ROUND((SELECT est FROM per_type WHERE event_type = 'purchase'), 4) AS DOUBLE) AS purchase_est,
           CAST(ROUND(((SELECT CAST(c AS DOUBLE) FROM inter) / (SELECT COUNT(*) FROM ubk))
                      * (SELECT CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                                     ELSE ({KMV_K} - 1) / MAX(hv) END FROM ubk), 4) AS DOUBLE) AS intersect_est
    """,
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketches with SET-OPERATION estimation —
    the theta-sketch idea: keep the k smallest content-addressed hash
    values per set; distinct count ≈ (k-1)/h_k once the sketch is FULL
    (a partial sketch holds the whole set, so its count IS exact), and
    the INTERSECTION
    estimate comes from Jaccard over the union's bottom-k (members of
    both sketches) times the union estimate. Deterministic md5
    arithmetic means both engines build bit-identical sketches — the
    oracle is exact — and the bottom-k structure is mergeable like
    sketch_quantile_bottomk (per-shard bottom-ks union into the global
    one). Accuracy vs the exact distinct counts is unit-asserted.

    Scale shape: one distinct-project per set, one TakeOrdered-k-
    shaped window per sketch, then all estimation math runs on ≤ k-row
    inputs."""
    keys = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id")
        .distinct()
    )
    hv = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(281474976710656.0)
    )
    from pyspark.sql import Window

    h = keys.select("event_type", "user_id", hv.alias("hv"))
    rk = h.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("hv"))
        ),
    )
    bk = rk.where(F.col("rn") <= KMV_K)
    full_est = (F.lit(KMV_K) - 1) / F.max("hv")
    per_type = bk.groupBy("event_type").agg(
        F.when(F.count(F.lit(1)) < KMV_K, F.count(F.lit(1)).cast("double"))
        .otherwise(full_est)
        .alias("est")
    )
    u = (
        bk.select("user_id", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy(F.col("hv"))))
        .where(F.col("rn") <= KMV_K)
    )
    views = bk.where(F.col("event_type") == "view").select("user_id")
    buys = bk.where(F.col("event_type") == "purchase").select("user_id")
    inter_c = (
        u.join(views, "user_id", "left_semi")
        .join(buys, "user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    u_stats = u.agg(
        F.count(F.lit(1)).cast("double").alias("n_u"),
        F.when(F.count(F.lit(1)) < KMV_K, F.count(F.lit(1)).cast("double"))
        .otherwise((F.lit(KMV_K) - 1) / F.max("hv"))
        .alias("union_est"),
    )
    v_est = per_type.where(F.col("event_type") == "view").select(
        F.round(F.col("est"), 4).alias("view_est")
    )
    p_est = per_type.where(F.col("event_type") == "purchase").select(
        F.round(F.col("est"), 4).alias("purchase_est")
    )
    return (
        v_est.crossJoin(p_est)
        .crossJoin(inter_c)
        .crossJoin(u_stats)
        .select(
            "view_est",
            "purchase_est",
            F.round(
                (F.col("c") / F.col("n_u")) * F.col("union_est"), 4
            ).alias("intersect_est"),
        )
    )
