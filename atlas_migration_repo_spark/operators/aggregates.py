"""Aggregation operators (SURVEY.md §2.4).

All hash aggregations: Spark plans partial (map-side) + final aggregates
automatically, so at 100 TB each groupBy here shuffles only the partial
aggregate rows (|groups| × partitions), never raw data. Grouping keys are
low-cardinality fixture columns → no skew salting needed; AQE handles
stragglers if a key ever grows hot.

Reference parity: the reference ships no code (/root/reference/README.md:1-9);
this module implements the aggregate surface of SURVEY.md §2.4 which derives
the capability contract from the README's ETL claim (README.md:3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import (
    as_date,
    load,
    msum,
    msum_finish_sql,
    msum_parts_sql,
    r4,
)
from atlas_migration_repo_spark.oracle import sql_isum, sql_msum, sql_r4
from atlas_migration_repo_spark.registry import query

_Q1_CUTOFF = "2001-09-02"

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_msum('l_quantity')} AS sum_qty,
  {sql_msum('l_extendedprice')} AS sum_base_price,
  {sql_msum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {sql_msum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {sql_r4('AVG(l_quantity)')} AS avg_qty,
  {sql_r4('AVG(l_extendedprice)')} AS avg_price,
  {sql_r4('AVG(l_discount)')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_pricing_summary", oracle=_Q1_ORACLE, tags=("bench", "flagship"))
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pricing-summary report (TPC-H Q1 shape).

    scan → filter (pushed to parquet) → derived measures → 2-key hash agg.
    At scale: the filter prunes row groups at the source; the aggregate
    reduces 100 TB to 6 groups map-side before any shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    return (
        li.where(as_date(F.col("l_shipdate")) <= F.lit(_Q1_CUTOFF).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            msum("l_quantity").alias("sum_qty"),
            msum("l_extendedprice").alias("sum_base_price"),
            msum(disc_price).alias("sum_disc_price"),
            msum(f"{disc_price} * (1 + l_tax)").alias("sum_charge"),
            r4(F.avg("l_quantity")).alias("avg_qty"),
            r4(F.avg("l_extendedprice")).alias("avg_price"),
            r4(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {sql_msum('l_extendedprice')} AS total_price,
           {sql_r4('AVG(l_quantity)')} AS avg_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           {sql_isum('l_orderkey % 7')} AS mod_sum
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-grouping aggregate: single map-side-combinable reduction —
    at 100 TB this shuffles exactly one row per partition."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("l_extendedprice").alias("total_price"),
        r4(F.avg("l_quantity")).alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(F.col("l_orderkey") % 7).alias("mod_sum"),
    )


@query(
    "agg_multikey",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, CAST(YEAR(l_shipdate) AS INT) AS ship_year,
           COUNT(*) AS n_rows,
           {sql_msum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus, CAST(YEAR(l_shipdate) AS INT)
    """,
)
def agg_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column grouping keys (incl. a derived key)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            msum("l_extendedprice * (1 - l_discount)").alias("revenue"),
        )
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 15)
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts (expand + two-phase agg in Spark)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query("agg_approx_count_distinct", tags=("approx",))
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB path where exact
    distinct would shuffle every key. Estimator-specific values → no SQL
    oracle (rows-only check); accuracy asserted separately in unit tests
    against the exact count at rsd=0.05."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts")
    )


@query(
    "agg_conditional",
    oracle=f"""
    SELECT l_linestatus,
           {sql_msum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END")} AS returned_price,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS n_discounted,
           {sql_msum("CASE WHEN l_quantity >= 25 THEN l_quantity ELSE 0 END")} AS bulk_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation (sum-when / count_if)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        msum("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0D END").alias(
            "returned_price"
        ),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        msum("CASE WHEN l_quantity >= 25 THEN l_quantity ELSE 0.0D END").alias("bulk_qty"),
    )


@query(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           {sql_r4('STDDEV_SAMP(l_quantity)')} AS sd_qty,
           {sql_r4('VAR_SAMP(l_discount)')} AS var_disc,
           {sql_r4('CORR(l_quantity, l_extendedprice)')} AS corr_qty_price,
           {sql_r4('COVAR_SAMP(l_quantity, l_extendedprice)')} AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments per group (merge-able accumulators → scale-safe)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.stddev_samp("l_quantity")).alias("sd_qty"),
        r4(F.var_samp("l_discount")).alias("var_disc"),
        r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        r4(F.covar_samp("l_quantity", "l_extendedprice")).alias("covar_qty_price"),
    )


@query(
    "agg_percentile",
    oracle=f"""
    SELECT l_returnflag,
           {sql_r4('QUANTILE_CONT(l_extendedprice, 0.5)')} AS median_price,
           {sql_r4('QUANTILE_CONT(l_extendedprice, 0.9)')} AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile ≡ DuckDB
    quantile_cont). At 100 TB prefer approx_percentile — kept exact here
    because the oracle gate demands value parity."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.percentile("l_extendedprice", 0.5)).alias("median_price"),
        r4(F.percentile("l_extendedprice", 0.9)).alias("p90_price"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT l_orderkey AS o_orderkey,
           array_to_string(
             LIST(CAST(l_quantity AS BIGINT) ORDER BY l_quantity), ','
           ) AS qtys
    FROM lineitem
    WHERE l_orderkey <= 200
    GROUP BY l_orderkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group sorted value list, serialized to a canonical CSV string.

    The driver's pandas-based hash gate can't factorize array cells
    (unhashable list), so both twins emit the sorted list as one scalar
    string. l_quantity is integral (1..50) — the bigint cast is lossless
    and sidesteps double→string formatting differences between engines.
    """
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 200)
    return li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("l_quantity").cast("bigint"))).cast(
                "array<string>"
            ),
            ",",
        ).alias("qtys")
    )


_GSET_AGGS = f"""
           COUNT(*) AS n_rows,
           {sql_msum('l_extendedprice')} AS sum_price
"""


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {_GSET_AGGS}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id disambiguation."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            msum("l_extendedprice").alias("sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_price")
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {_GSET_AGGS}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            msum("l_extendedprice").alias("sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_price")
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {_GSET_AGGS}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            msum("l_extendedprice").alias("sum_price"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_price")
    )


@query("agg_approx_percentile", tags=("approx",))
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/GK-sketch quantiles (percentile_approx) — the 100 TB path where
    exact percentiles would sort every group. Sketch-specific values → no
    SQL oracle (rows-only); accuracy vs the exact percentile is asserted in
    unit tests."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median")
    )


@query("agg_hll_mergeable")  # sketches are engine-specific — rows-only check
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Spark 4 Apache DataSketches HLL): build
    one HLL sketch of distinct customers per nation, then MERGE the
    binary sketches up to region level with hll_union_agg — no re-scan
    of the base data. This is the two-level-aggregation contract that
    makes approx-distinct composable at 100 TB (daily sketches → monthly
    rollups, per-partition sketches → global). Sketch bytes differ per
    engine, so the check is rows-only + a unit-test accuracy bound vs
    exact distinct counts."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    per_nation = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    return (
        per_nation.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers")
        )
        .orderBy("r_name")
    )


@query(
    "agg_median_mode",
    oracle=f"""
    WITH med AS (
      SELECT o_orderpriority, {sql_r4('MEDIAN(o_totalprice)')} AS med_price
      FROM orders GROUP BY o_orderpriority
    ),
    m AS (
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    mr AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY n DESC, o_orderstatus) AS rn
      FROM m
    )
    SELECT med.o_orderpriority, med.med_price,
           mr.o_orderstatus AS mode_status, mr.n AS mode_n
    FROM med JOIN mr USING (o_orderpriority)
    WHERE mr.rn = 1
    """,
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated 50th percentile) and deterministic mode
    per order priority. The mode is computed as count-desc/value-asc
    row_number — NOT the built-in mode(), whose tie-breaking is
    engine-specific — so both engines agree on every tie. Both aggregates
    shuffle on the same 5-value key and the final join is a broadcast of
    5 rows."""
    o = load(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        r4(F.median("o_totalprice")).alias("med_price")
    )
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), "o_orderstatus"
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("n").alias("mode_n"),
        )
    )
    return med.join(F.broadcast(mode), "o_orderpriority")


@query(
    "agg_corr",
    oracle=f"""
    SELECT l_returnflag,
           {sql_r4('CORR(l_quantity, l_extendedprice)')} AS corr_qty_price,
           {sql_r4('COVAR_SAMP(l_quantity, l_extendedprice)')} AS covar_qty_price,
           {sql_r4('STDDEV_SAMP(l_extendedprice)')} AS sd_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per return flag: Pearson correlation, sample
    covariance, and stddev — single-pass, order-independent-up-to-ulp
    accumulators in both engines (drift ~1e-12 relative, far inside the
    4-decimal rounding grid; see SURVEY.md §5.4 float policy)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        r4(F.covar_samp("l_quantity", "l_extendedprice")).alias("covar_qty_price"),
        r4(F.stddev_samp("l_extendedprice")).alias("sd_price"),
    )


SALT_BUCKETS = 16


@query(
    "agg_two_stage_salted",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_msum('value')} AS value_sum
    FROM events GROUP BY event_type
    """,
)
def agg_two_stage_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via explicit two-stage salting: stage 1 groups
    by (key, salt) so a skewed key's rows spread over SALT_BUCKETS
    reducers; stage 2 merges the partials. The decimal partial sums stay
    decimal until the final merge, so the result is bit-identical to the
    single-stage msum (exact, order-independent) — the oracle is the
    plain GROUP BY. This is the manual fallback when AQE's skew handling
    can't kick in (e.g. a single giant group rather than a skewed join)."""
    ev = load(spark, sf_dir, "events")
    # the partials carry the two long mantissa sums; long addition is
    # associative, so the merge rebuilds the single-stage msum's exact Σm
    hi, lo = msum_parts_sql("value")
    partial = (
        ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(SALT_BUCKETS)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.expr(f"SUM({hi})").alias("ph"),
            F.expr(f"SUM({lo})").alias("pl"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.expr(msum_finish_sql("SUM(ph)", "SUM(pl)")).alias("value_sum"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via partitioned roaring-style bitmaps:
    stage 1 ORs each key's bit positions into one bitmap per
    (group, 2^15-bucket), stage 2 sums popcounts. Unlike
    count_distinct's expand-and-dedup (which shuffles every distinct
    value), the shuffle volume here is one ≤4 KB bitmap per bucket —
    the mergeable exact-distinct shape that scales to 100 TB and is
    also incrementally maintainable (bitmaps OR across days). Oracle:
    plain COUNT(DISTINCT)."""
    li = load(spark, sf_dir, "lineitem")
    stage1 = li.groupBy(
        "l_returnflag",
        F.bitmap_bucket_number(F.col("l_partkey")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col("l_partkey"))).alias("bm")
    )
    return stage1.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).alias("n_parts")
    )


@query(
    "agg_listagg",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg, new in Spark 4 / ISO SQL:2023
    LISTAGG ... WITHIN GROUP): the report-friendly dual of
    collect_list+array_join, with the WITHIN GROUP order making the
    result deterministic — unordered listagg would be shuffle-order-
    dependent and could never hash-match."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias("nations")
    )


# moment formulas shared verbatim by both engines: the power sums are exact
# (integral quantities, decimal accumulation), so identical double
# expression trees give bit-identical moments up to libm pow — r4 absorbs
# that last ulp.
_MOMENT_EXPRS = {
    "mean_q": "s1 / n",
    "var_q": "s2 / n - (s1 / n) * (s1 / n)",
    "skew_q": (
        "(s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))"
        " / POWER(s2 / n - (s1 / n) * (s1 / n), 1.5)"
    ),
    "kurt_q": (
        "(s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)"
        " - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))"
        " / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3"
    ),
}


@query(
    "agg_moments",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           {sql_r4(_MOMENT_EXPRS['mean_q'])} AS mean_q,
           {sql_r4(_MOMENT_EXPRS['var_q'])} AS var_q,
           {sql_r4(_MOMENT_EXPRS['skew_q'])} AS skew_q,
           {sql_r4(_MOMENT_EXPRS['kurt_q'])} AS kurt_q
    FROM s
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population mean/variance/skewness/kurtosis from one-pass EXACT
    power sums: quantities are integral, so Σx..Σx⁴ accumulate exactly in
    decimal and merge associatively — the mergeable-moments pattern that
    computes full distribution shape at 100 TB with map-side partials
    and a 4-number state per group. The built-in skewness/kurtosis are
    deliberately avoided: their bias corrections differ between engines,
    while first-principles moments over exact sums are bit-identical."""
    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        # integral quantities ≤ 50: q..q⁴ are integers ≤ 6.25e6
        msum("l_quantity", out="double").alias("s1"),
        msum("l_quantity * l_quantity", out="double").alias("s2"),
        msum("l_quantity * l_quantity * l_quantity", out="double").alias("s3"),
        msum("l_quantity * l_quantity * l_quantity * l_quantity", out="double").alias("s4"),
    )
    return s.select(
        "l_returnflag",
        *[r4(F.expr(e)).alias(name) for name, e in _MOMENT_EXPRS.items()],
    )


# Linear-regression aggregates from exact decimal power sums. Twin
# expressions (same text both engines, evaluated over bit-identical
# double inputs) — see agg_moments for why this beats the built-in
# regr_* (engine-specific update formulas drift in the last ulps).
# x = l_quantity (integral), y = l_discount (2dp): every power/cross
# sum is ≤4dp-exact, so ROUND(dec, 4) before the double cast is
# lossless and the scaled integer stays far under 2^53.
_REGR_EXPRS = {
    "slope": "(n * sxy - sx * sy) / (n * sxx - sx * sx)",
    "icept": "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n",
    "r2": "((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))",
}

_REGR_SUMS = {
    "sx": "l_quantity",
    "sy": "l_discount",
    "sxx": "l_quantity * l_quantity",
    "syy": "l_discount * l_discount",
    "sxy": "l_quantity * l_discount",
}


@query(
    "agg_linreg",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {', '.join(f"CAST(ROUND(SUM(CAST(({e}) AS DECIMAL(30,8))), 4) AS DOUBLE) AS {k}" for k, e in _REGR_SUMS.items())}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n AS n_rows,
           {', '.join(f"{e} AS {k}" for k, e in _REGR_EXPRS.items())}
    FROM s
    """,
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope/intercept/R² per group from one-pass mergeable sums —
    the regression analogue of agg_moments. At 100 TB this is a 6-number
    state per group merged associatively map-side; no second pass over
    the data and no engine-version-dependent covariance update order. A
    unit test cross-checks against the built-in regr_slope/regr_r2."""
    li = load(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[
            msum(e).alias(k)
            for k, e in _REGR_SUMS.items()
        ],
    )
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        *[F.expr(e).alias(k) for k, e in _REGR_EXPRS.items()],
    )


@query(
    "agg_argmax",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey DESC) AS rt,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal ASC, c_custkey ASC) AS rb
      FROM customer
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rt = 1 THEN c_custkey END) AS top_cust,
           MAX(CASE WHEN rt = 1 THEN c_acctbal END) AS top_bal,
           MAX(CASE WHEN rb = 1 THEN c_custkey END) AS bot_cust,
           MAX(CASE WHEN rb = 1 THEN c_acctbal END) AS bot_bal
    FROM ranked GROUP BY c_mktsegment
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin as single-pass aggregates: max_by/min_by over a
    (value, key) struct makes ties deterministic without a window sort.
    At 100 TB this is the difference between a full shuffle+sort per
    group (the oracle's ROW_NUMBER formulation) and a constant-size
    map-side combine state — same answer, one pass, no sort."""
    c = load(spark, sf_dir, "customer")
    top = F.struct(F.col("c_acctbal"), F.col("c_custkey"))
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_custkey", top).alias("top_cust"),
        F.max("c_acctbal").alias("top_bal"),
        F.min_by("c_custkey", top).alias("bot_cust"),
        F.min("c_acctbal").alias("bot_bal"),
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (Spark 4.1): heavy-hitter sketch as ONE aggregate —
    the streaming-friendly answer to 'top pages right now' that never
    shuffles the raw keys, only fixed-size sketch state. With k = the
    full event-type domain (5) and default maxItemsTracked=10000 the
    sketch tracks every key exactly, so counts are exact and the oracle
    is plain GROUP BY — which is also why there is no rank-boundary tie
    to worry about. At true heavy-hitter scale (user_id, 10^9 keys) the
    same call stays O(maxItemsTracked) per partition and merges
    map-side, where GROUP BY would shuffle the full key space."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 5)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").cast("long").alias("cnt"))
    )


HIST_BINS = 20


@query(
    "agg_histogram_fixed",
    oracle=f"""
    WITH s AS (
      SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx FROM lineitem
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR((l_extendedprice - mn) / ((mx - mn) / {HIST_BINS}))
                        AS INT), {HIST_BINS - 1}) AS bin,
             mn, mx
      FROM lineitem, s
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_r4(f'ANY_VALUE(mn) + bin * (ANY_VALUE(mx) - ANY_VALUE(mn)) / {HIST_BINS}')}
             AS bin_lo
    FROM b GROUP BY bin
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice — the data-profiling
    primitive behind every column-statistics page. Two passes, both
    1-shuffle: a 2-scalar min/max agg broadcasts back, then each row maps
    to floor((x-min)/width) (top edge clamped into the last bin) and a
    map-side-combined count per bin reduces ≤ HIST_BINS rows per task.
    Bin ids are integer arithmetic on the identical IEEE doubles in both
    engines — floor/least cannot straddle — and bin_lo re-derives from
    the same min/max, r4-rounded."""
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    stats = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / HIST_BINS
    binned = li.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("mn")) / width).cast("int"),
            F.lit(HIST_BINS - 1),
        ).alias("bin"),
        "mn",
        "mx",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        r4(
            F.any_value("mn")
            + F.col("bin") * (F.any_value("mx") - F.any_value("mn")) / HIST_BINS
        ).alias("bin_lo"),
    )
