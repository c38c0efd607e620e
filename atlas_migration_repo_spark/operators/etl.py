"""ETL/migration composite operators: SQL entry point, partition-pruned
reads, snapshot upsert (MERGE emulation), and salted skew joins.

These are the remaining moves of the reference's migration story
(/root/reference/README.md:3,7): land partitioned data, read it back with
partition pruning, apply incremental changes to a snapshot, and survive
skewed keys — each expressed so the property that matters at 100 TB
(pruning, no full rewrite, no hot partition) is visible in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import (
    as_date,
    load,
    msum,
    msum_finish_sql,
    msum_parts_sql,
    msum_sql,
    r4,
)
from atlas_migration_repo_spark.oracle import sql_msum, sql_r4
from atlas_migration_repo_spark.registry import query
from atlas_migration_repo_spark.sources.files import scratch_path


@query(
    "sql_entrypoint",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_msum('o_totalprice')} AS segment_value
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def sql_entrypoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 2 (SURVEY.md §3): the same engine driven by a SQL string
    over registered temp views — parses through Spark's ANTLR front end
    into the identical Catalyst pipeline as the DataFrame API."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        f"""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               {msum_sql('o_totalprice')} AS segment_value
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    )


@query(
    "scan_partition_pruned",
    oracle=f"""
    SELECT l_linestatus, COUNT(*) AS n, {sql_msum('l_extendedprice')} AS sum_price
    FROM lineitem
    WHERE l_quantity >= 45 AND l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back the partitioned landing zone with a partition-key filter:
    only the l_returnflag=R directory is listed/scanned (PartitionFilters
    in the plan — asserted in tests). At 100 TB this is the difference
    between touching one partition and listing the whole lake."""
    path = scratch_path(sf_dir, "lineitem_by_flag")
    # ensure the landing zone exists (same writer as sink_parquet_partitioned)
    (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path).where(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), msum("l_extendedprice").alias("sum_price")
    )


@query(
    "upsert_snapshot",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderstatus = 'P'
    ),
    inserts AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
             'O' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT s.o_orderkey,
           COALESCE(c.o_orderstatus, s.o_orderstatus) AS o_orderstatus,
           COALESCE(c.o_totalprice, s.o_totalprice) AS o_totalprice
    FROM orders s LEFT JOIN changes c ON s.o_orderkey = c.o_orderkey
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM inserts
    """,
)
def upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE emulation on plain parquet (no Delta in this environment):
    snapshot ⟕ changes applies updates; unmatched inserts are unioned.
    The change batch here is derived deterministically from the fixture
    (pending orders get finalized at +10% value; every 1000th key is
    re-inserted as a new order). At scale: join shuffles on the key once;
    with a Delta/Iceberg table this plan becomes a file-level MERGE."""
    s = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    base = load(spark, sf_dir, "orders")
    changes = base.where(F.col("o_orderstatus") == "P").select(
        "o_orderkey",
        F.lit("F").alias("c_status"),
        # raw double multiply: per-row IEEE arithmetic is bit-exact across
        # engines, while ROUND(double, 2) is not (Spark rounds the shortest
        # decimal repr half-up; DuckDB rounds the binary value).
        (F.col("o_totalprice") * 1.1).alias("c_price"),
    )
    inserts = base.where(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("O").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    merged = (
        s.join(changes, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("c_status"), F.col("o_orderstatus")).alias("o_orderstatus"),
            F.coalesce(F.col("c_price"), F.col("o_totalprice")).alias("o_totalprice"),
        )
    )
    return merged.unionByName(inserts)


SALT_BUCKETS = 8


@query(
    "join_salted",
    oracle=f"""
    SELECT user_id, event_type,
           COUNT(*) AS n,
           {sql_msum('value')} AS value_sum,
           ANY_VALUE(user_total) AS user_total
    FROM events
    JOIN (SELECT user_id AS uk, COUNT(*) AS user_total FROM events GROUP BY user_id) d
      ON user_id = uk
    GROUP BY user_id, event_type
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: the per-user dim is replicated across
    SALT_BUCKETS salts and the fact side salts deterministically by
    event_id, so one hot user spreads over 8 reducers instead of melting
    one. Semantics identical to the unsalted join (the oracle IS the
    unsalted formulation). At 100 TB this (or AQE skew-join) is mandatory
    whenever key frequency is Zipfian."""
    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy(F.col("user_id").alias("uk")).agg(
        F.count(F.lit(1)).alias("user_total")
    )
    salted_dim = dim.crossJoin(
        spark.range(SALT_BUCKETS).select(F.col("id").cast("int").alias("salt"))
    )
    salted_fact = ev.withColumn("salt", (F.col("event_id") % SALT_BUCKETS).cast("int"))
    return (
        salted_fact.join(
            salted_dim,
            (salted_fact.user_id == salted_dim.uk)
            & (salted_fact.salt == salted_dim.salt),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            msum("value").alias("value_sum"),
            F.any_value(F.col("user_total")).alias("user_total"),
        )
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_totalprice <> n.o_totalprice THEN 'update'
                ELSE 'unchanged' END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    GROUP BY 1
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: classify every key across
    two table versions as insert / delete / update / unchanged via one
    FULL OUTER join + null/value comparison — the change feed a
    migration emits when the source has no transaction log (the
    reference's Salesforce→S3 sync case). Snapshots are derived
    deterministically from the fixture (modulo-key membership, +10%
    price bump on every 3rd key). The join shuffles both sides on the
    key once; at scale the diff is incremental per partition-date."""
    o = load(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("ok"), F.col("o_totalprice").alias("op")
    )
    new = o.where(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("nk"),
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("np"),
    )
    change = (
        F.when(F.col("ok").isNull(), "insert")
        .when(F.col("nk").isNull(), "delete")
        .when(F.col("op") != F.col("np"), "update")
        .otherwise("unchanged")
    )
    return (
        old.join(new, F.col("ok") == F.col("nk"), "full")
        .select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "scd2_history",
    oracle="""
    SELECT user_id, CAST(ts AS TIMESTAMP) AS valid_from,
           LEAD(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           ) AS valid_to,
           value,
           LEAD(CAST(ts AS TIMESTAMP)) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           ) IS NULL AS is_current
    FROM events
    WHERE user_id < 10 AND event_type = 'signup'
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change stream into
    validity intervals — each record is valid [its ts, next ts) per key,
    open-ended (is_current) on the latest. One window per key with a
    unique tiebreak; the warehouse-history primitive every migration
    backfill needs. Scale: partitions by user key, no global sort."""
    e = load(spark, sf_dir, "events").where(
        (F.col("user_id") < 10) & (F.col("event_type") == "signup")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        "value",
        nxt.isNull().alias("is_current"),
    )


@query(
    "dq_checks",
    oracle="""
    SELECT 'orders_rows' AS check_name,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS violations
    UNION ALL
    SELECT 'orders_null_custkey',
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_nonpositive_price',
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST((SELECT COUNT(*) FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    """,
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration validation suite in one DataFrame: row counts, null
    keys, domain violations, referential orphans (anti joins), duplicate
    primary keys — the checks a Salesforce→S3 sync runs before
    switching reads over. Each check is a scan or anti-join aggregate;
    the union is a plan of independent branches Spark runs in one job.
    All counts — exact in both engines."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(name).alias("check_name"), "violations"
        )

    dup_pk = (
        o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt")).where(F.col("cnt") > 1)
    )
    return (
        one("orders_rows", o)
        .unionByName(one("orders_null_custkey", o.where(F.col("o_custkey").isNull())))
        .unionByName(
            one("orders_nonpositive_price", o.where(F.col("o_totalprice") <= 0))
        )
        .unionByName(
            one(
                "orders_orphan_custkey",
                o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
            )
        )
        .unionByName(one("orders_duplicate_pk", dup_pk))
        .unionByName(
            one(
                "lineitem_orphan_orderkey",
                li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
            )
        )
    )


@query(
    "extract_incremental",
    oracle="""
    WITH landed AS (
      SELECT * FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2001-01-01'
    ),
    hwm AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS w FROM landed)
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice
    FROM orders, hwm
    WHERE CAST(o_orderdate AS DATE) > w
    ORDER BY o_orderkey
    """,
)
def extract_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental extraction: the already-landed zone's
    MAX(modstamp) (here: order date, standing in for Salesforce
    SystemModstamp) becomes the lower bound of the next pull — only
    strictly-newer rows move. The watermark is a 1-row broadcast; the
    predicate pushes to the source scan, so each sync reads just the
    tail. This plus cdc_snapshot_diff and upsert_snapshot is the full
    incremental-sync loop the reference schedules with Airflow."""
    o = load(spark, sf_dir, "orders")
    landed = o.where(as_date(F.col("o_orderdate")) < "2001-01-01")
    hwm = landed.agg(F.max(as_date(F.col("o_orderdate"))).alias("w"))
    return (
        o.crossJoin(F.broadcast(hwm))
        .where(as_date(F.col("o_orderdate")) > F.col("w"))
        .select(
            "o_orderkey",
            as_date(F.col("o_orderdate")).alias("order_date"),
            "o_totalprice",
        )
        .orderBy("o_orderkey")
    )


@query(
    "sql_recursive_cte",
    oracle=f"""
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01' AS m
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < DATE '2001-08-01'
    ),
    rev AS (
      SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
             COUNT(*) AS n_orders,
             {sql_msum('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    )
    SELECT months.m AS month,
           CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(rev.revenue, 0.0) AS DOUBLE) AS revenue
    FROM months LEFT JOIN rev ON months.m = rev.m
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): generate the full 1995-01…2001-08
    month calendar recursively, then left-join monthly order revenue so
    empty months still appear — the calendar-dimension pattern without a
    physical calendar table. The recursion materializes ~80 rows on the
    driver side of the plan; the revenue aggregate is the only real
    shuffle, and the calendar joins broadcast."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_rec")
    return spark.sql(
        f"""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01' AS m
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '2001-08-01'
        ),
        rev AS (
          SELECT CAST(DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
                 COUNT(*) AS n_orders,
                 {msum_sql('o_totalprice')} AS revenue
          FROM v_orders_rec GROUP BY 1
        )
        SELECT months.m AS month,
               COALESCE(rev.n_orders, CAST(0 AS BIGINT)) AS n_orders,
               COALESCE(rev.revenue, CAST(0.0 AS DOUBLE)) AS revenue
        FROM months LEFT JOIN rev ON months.m = rev.m
        """
    )


@query(
    "obs_metrics",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(CASE WHEN l_quantity >= 45 THEN 1 END) AS BIGINT)
             AS n_large,
           {sql_msum('l_extendedprice')} AS total_price
    FROM lineitem
    """,
)
def obs_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production observability via DataFrame.observe(): row count,
    domain-violation count, and an exact checksum ride along on the SAME
    pass as the real work — zero extra scans, which is the only
    affordable way to audit a 100 TB job (a separate validation query
    would double the I/O). The observed metrics are collected from the
    listener-side Observation and re-emitted as a 1-row DataFrame so the
    oracle can check them exactly."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem")
    obs = Observation("lineitem_audit")
    audited = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_quantity") >= 45).alias("n_large"),
        msum("l_extendedprice").alias("total_price"),
    )
    audited.write.format("noop").mode("overwrite").save()  # the "real work"
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_large"], m["total_price"])],
        "n_rows bigint, n_large bigint, total_price double",
    )


@query(
    "sql_parameterized",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n, {sql_msum('o_totalprice')} AS total
    FROM orders WHERE o_totalprice > 300000
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args=...)): the injection-safe
    templating surface for an orchestrated pipeline — Airflow passes the
    threshold as a bind parameter, not string interpolation, and the plan
    cache can reuse the parsed query across runs."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_param")
    return spark.sql(
        f"""
        SELECT o_orderpriority, COUNT(*) AS n,
               {msum_sql('o_totalprice')} AS total
        FROM v_orders_param WHERE o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"min_price": 300000},
    )


SYNC_CUTOFF = "2000-01-01"


@query(
    "pipeline_migration_sync",
    oracle=f"""
    WITH landed AS (
      SELECT * FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '{SYNC_CUTOFF}'
    ),
    hwm AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS w FROM landed),
    extracted AS (
      SELECT o.* FROM orders o, hwm WHERE CAST(o.o_orderdate AS DATE) > hwm.w
    ),
    dq AS (
      SELECT CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT)
               + CAST((SELECT COUNT(*) FROM (SELECT o_orderkey FROM extracted
                        GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
               AS violations
      FROM extracted
    ),
    applied AS (
      SELECT * FROM landed UNION ALL SELECT * FROM extracted
    ),
    recon AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_mismatch
      FROM (SELECT o_orderkey, MD5(CONCAT_WS('|', CAST(o_orderkey AS VARCHAR),
                     CAST(o_totalprice AS VARCHAR), o_orderstatus)) AS h
            FROM orders) s
      FULL JOIN (SELECT o_orderkey, MD5(CONCAT_WS('|', CAST(o_orderkey AS VARCHAR),
                     CAST(o_totalprice AS VARCHAR), o_orderstatus)) AS h
            FROM applied) t
        USING (o_orderkey)
      WHERE s.h IS DISTINCT FROM t.h
    )
    SELECT (SELECT COUNT(*) FROM landed) AS n_landed,
           (SELECT COUNT(*) FROM extracted) AS n_extracted,
           (SELECT violations FROM dq) AS n_dq_violations,
           (SELECT COUNT(*) FROM applied) AS n_applied,
           (SELECT n_mismatch FROM recon) AS n_mismatch
    """,
)
def pipeline_migration_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole scheduled sync loop as ONE verified plan:
    landed zone → high-watermark incremental extract → DQ gate (null FKs
    + duplicate PKs) → apply (append of the strictly-newer slice) →
    row-hash reconciliation of applied-vs-source. Returns the run
    summary an orchestrator (Airflow in the reference) would log; the
    invariants n_landed + n_extracted == n_applied and n_mismatch == 0
    are checked exactly by the oracle. Spark runs the five stages as
    independent branches over two scans of orders (landed/extract reuse
    one), each stage its own tiny aggregate."""
    o = load(spark, sf_dir, "orders")
    landed = o.where(as_date(F.col("o_orderdate")) < SYNC_CUTOFF)
    hwm = landed.agg(F.max(as_date(F.col("o_orderdate"))).alias("w"))
    extracted = o.crossJoin(F.broadcast(hwm)).where(
        as_date(F.col("o_orderdate")) > F.col("w")
    ).drop("w")

    dup_pk = (
        extracted.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    null_fk = extracted.agg(
        F.count_if(F.col("o_custkey").isNull()).alias("n_null")
    )
    applied = landed.unionByName(extracted)

    def rowhash(df):
        return df.select(
            "o_orderkey",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_totalprice").cast("string"),
                    F.col("o_orderstatus"),
                )
            ).alias("h"),
        )

    s, t = rowhash(o), rowhash(applied).withColumnRenamed("h", "h_t")
    recon = (
        s.join(t, "o_orderkey", "full")
        .where(~F.col("h").eqNullSafe(F.col("h_t")))
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )

    def scalar(df, col, name):
        return df.select(F.col(col).alias(name))

    return (
        scalar(landed.agg(F.count(F.lit(1)).alias("c")), "c", "n_landed")
        .crossJoin(scalar(extracted.agg(F.count(F.lit(1)).alias("c")), "c", "n_extracted"))
        .crossJoin(
            null_fk.crossJoin(dup_pk).select(
                (F.col("n_null") + F.col("n_dup")).alias("n_dq_violations")
            )
        )
        .crossJoin(scalar(applied.agg(F.count(F.lit(1)).alias("c")), "c", "n_applied"))
        .crossJoin(recon)
    )


@query(
    "merge_full",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 20000000 AS o_orderkey, 'O' AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 500 = 0
    )
    SELECT s.o_orderkey,
           CASE WHEN t.o_orderkey IS NULL THEN s.o_orderstatus
                WHEN s.o_orderstatus = 'P' THEN 'F'
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN t.o_orderkey IS NULL THEN s.o_totalprice
                WHEN s.o_orderstatus = 'P' THEN s.o_totalprice * 1.05
                ELSE t.o_totalprice END AS o_totalprice
    FROM orders t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
    WHERE s.o_orderkey IS NOT NULL
    """,
)
def merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics on plain parquet — all three clauses:
    WHEN MATCHED AND src pending THEN UPDATE (finalize at +5%),
    WHEN NOT MATCHED THEN INSERT (the re-keyed new orders),
    WHEN NOT MATCHED BY SOURCE THEN DELETE (keys the source feed
    dropped — here every 7th). One full outer join on the key, one
    shuffle; with Delta/Iceberg the same plan becomes file-level MERGE
    with deletion vectors. Complements upsert_snapshot (update+insert
    only, left join) by exercising the delete branch."""
    t = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    base = load(spark, sf_dir, "orders")
    src = (
        base.where(F.col("o_orderkey") % 7 != 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .unionByName(
            base.where(F.col("o_orderkey") % 500 == 0).select(
                (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    s = src.select(
        F.col("o_orderkey").alias("s_key"),
        F.col("o_orderstatus").alias("s_status"),
        F.col("o_totalprice").alias("s_price"),
    )
    j = t.join(s, t.o_orderkey == s.s_key, "full_outer")
    matched_missing = F.col("o_orderkey").isNull()
    update = F.col("s_status") == "P"
    return j.where(F.col("s_key").isNotNull()).select(
        F.col("s_key").alias("o_orderkey"),
        F.when(matched_missing, F.col("s_status"))
        .when(update, F.lit("F"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(matched_missing, F.col("s_price"))
        .when(update, F.col("s_price") * 1.05)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )


_CDC_TS0 = 1700000000000  # epoch-millis base for synthetic commitTimestamps


@query(
    "pipeline_cdc_merge",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 3 THEN 'F' ELSE o_orderstatus END
             AS o_orderstatus,
           CASE WHEN o_orderkey % 100 = 3 THEN
                  CAST(CAST(o_totalprice AS DECIMAL(18,2))
                       * CAST(1.20 AS DECIMAL(3,2)) AS DOUBLE)
                WHEN o_orderkey % 10 = 3 THEN
                  CAST(CAST(o_totalprice AS DECIMAL(18,2))
                       * CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE)
                ELSE o_totalprice END AS o_totalprice
    FROM base WHERE o_orderkey % 10 <> 9
    UNION ALL
    SELECT o_orderkey + 30000000 AS o_orderkey, 'O' AS o_orderstatus,
           o_totalprice
    FROM base WHERE o_orderkey % 10 = 6
    """,
)
def pipeline_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salesforce CDC replay — the actual incremental "migrate ATLAS
    objects" flow [/root/reference/README.md:3]: synthesize Change-Data-
    Capture events in the public ChangeEventHeader envelope (changeType /
    recordIds / commitTimestamp — sources/salesforce.py::cdc_event_schema),
    STAGE them as JSON lines (the Bulk/CDC landing step run locally), then
    consume the staged files: explicit-schema read → latest-event-per-key
    (commitTimestamp wins — one key carries TWO updates to prove it) →
    three-way MERGE into the base snapshot (CREATE inserts, UPDATE
    replaces fields, DELETE drops).

    Event mix (deterministic, derived from orders so the oracle can
    recompute final state from the base table alone): keys %10==3 get an
    UPDATE to status F at +10% (keys %100==3 get a SECOND, later update to
    +20% — latest-wins must pick it); keys %10==6 spawn a CREATE at key
    +30000000; keys %10==9 get a DELETE. Prices move through DECIMAL and
    cast to double only at the edge (the 4dp-tie float policy).

    Scale: the staged read is schema-declared JSON (splittable, no
    inference pass); latest-per-key is one WindowGroupLimit shuffle over
    the DELTA only (events, not history); the merge is one full-outer
    shuffle join base⋈delta — identical cost shape to merge_full, but fed
    from a real staged CDC feed instead of a snapshot diff."""
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")

    def envelope(df: DataFrame, op: str, ts_off: int) -> DataFrame:
        return df.select(
            F.struct(
                F.lit(op).alias("changeType"),
                F.lit("Order__c").alias("entityName"),
                F.array(F.concat(F.lit("ORD"), k.cast("string"))).alias("recordIds"),
                (F.lit(_CDC_TS0 + ts_off) + k).alias("commitTimestamp"),
            ).alias("ChangeEventHeader"),
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
        )

    upd1 = base.where(k % 10 == 3).select(
        "o_orderkey",
        F.lit("F").alias("o_orderstatus"),
        (price_dec * F.expr("CAST(1.10 AS DECIMAL(3,2))")).cast("double")
        .alias("o_totalprice"),
    )
    upd2 = base.where(k % 100 == 3).select(
        "o_orderkey",
        F.lit("F").alias("o_orderstatus"),
        (price_dec * F.expr("CAST(1.20 AS DECIMAL(3,2))")).cast("double")
        .alias("o_totalprice"),
    )
    created = base.where(k % 10 == 6).select(
        (k + 30000000).alias("o_orderkey"),
        F.lit("O").alias("o_orderstatus"),
        "o_totalprice",
    )
    deleted = base.where(k % 10 == 9).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    events = (
        envelope(upd1, "UPDATE", 0)
        .unionByName(envelope(upd2, "UPDATE", 1_000_000_000))
        .unionByName(envelope(created, "CREATE", 0))
        .unionByName(envelope(deleted, "DELETE", 0))
    )
    stage = scratch_path(sf_dir, "cdc_orders_json")
    events.write.mode("overwrite").json(stage)

    from atlas_migration_repo_spark.sources.salesforce import cdc_event_schema
    from pyspark.sql import types as T

    schema = cdc_event_schema(
        [
            ("o_orderkey", T.LongType()),
            ("o_orderstatus", T.StringType()),
            ("o_totalprice", T.DoubleType()),
        ]
    )
    staged = spark.read.schema(schema).json(stage)
    ev = staged.select(
        F.col("ChangeEventHeader.changeType").alias("op"),
        F.col("ChangeEventHeader.commitTimestamp").alias("ts"),
        F.col("o_orderkey").alias("e_key"),
        F.col("o_orderstatus").alias("e_status"),
        F.col("o_totalprice").alias("e_price"),
    )
    w = Window.partitionBy("e_key").orderBy(F.desc("ts"))
    latest = ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    j = base.join(latest, base.o_orderkey == latest.e_key, "full_outer")
    return j.where(
        # drop deletes; keep base rows with no event and any CREATE/UPDATE
        F.coalesce(F.col("op"), F.lit("-")) != "DELETE"
    ).select(
        F.coalesce(F.col("e_key"), F.col("o_orderkey")).alias("o_orderkey"),
        F.when(F.col("op").isin("UPDATE", "CREATE"), F.col("e_status"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("op").isin("UPDATE", "CREATE"), F.col("e_price"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )


@query(
    "ivm_incremental_agg",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the materialized aggregate state is
    NOT recomputed when a delta arrives — the delta is aggregated alone
    and merged into the old state (count adds, exact mantissa sums add).
    This is partial aggregation made explicit at the pipeline level: the
    merge touches |groups| rows regardless of history size, so a 100 TB
    base table costs nothing per increment. The oracle recomputes from
    scratch; hash-equality proves the algebra (sums stay exact longs until
    the final 4dp round, so merge order cannot drift)."""
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("date")
    # the state is the two long mantissa sums: longs add exactly and
    # associatively, so base ⊎ delta rebuilds the one-pass Σm
    hi, lo = msum_parts_sql("o_totalprice")

    def agg_state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"SUM({hi})").alias("sh"),
            F.expr(f"SUM({lo})").alias("sl"),
        )

    base = agg_state(o.where(as_date(F.col("o_orderdate")) < cutoff))
    delta = agg_state(o.where(as_date(F.col("o_orderdate")) >= cutoff)).select(
        "o_orderstatus",
        F.col("n").alias("dn"),
        F.col("sh").alias("dh"),
        F.col("sl").alias("dl"),
    )
    merged = base.join(delta, "o_orderstatus", "full_outer").select(
        "o_orderstatus",
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias("n"),
        (F.coalesce(F.col("sh"), F.lit(0)) + F.coalesce(F.col("dh"), F.lit(0))).alias("sh"),
        (F.coalesce(F.col("sl"), F.lit(0)) + F.coalesce(F.col("dl"), F.lit(0))).alias("sl"),
    )
    return merged.select(
        "o_orderstatus",
        "n",
        F.expr(msum_finish_sql("sh", "sl")).alias("total"),
    )


@query(
    "dq_skew_profile",
    oracle="""
    WITH k AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           CAST(MIN(cnt) AS BIGINT) AS min_cnt,
           (ROUND(CAST(SUM(cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) + 0.0) AS avg_cnt,
           (ROUND(CAST(MAX(cnt) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
                  / CAST(SUM(cnt) AS DOUBLE), 4) + 0.0) AS skew_ratio
    FROM k
    """,
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the pre-flight check that decides
    between a plain shuffle join, salting, or AQE skew handling: per-key
    cardinality profile collapsed to one row (key count, min/max/avg
    occupancy, and max/avg skew ratio). Two cheap aggregations; at
    100 TB this is the profile you compute BEFORE committing to a join
    strategy, not after a straggler appears."""
    o = load(spark, sf_dir, "orders")
    k = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.min("cnt").alias("min_cnt"),
        r4(F.sum("cnt").cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_cnt"),
        r4(
            F.max("cnt").cast("double")
            * F.count(F.lit(1)).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("skew_ratio"),
    )


@query(
    "sql_identifier",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, {sql_msum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) templating (Spark 4): table and column names
    bound as parameters instead of f-string SQL — the injection-safe way
    a migration framework iterates one audited query shape over hundreds
    of extracted objects. The parameter is resolved at analysis time, so
    planning/pushdown are identical to a literal name."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("obj_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, COUNT(*) AS n, {msum_sql('IDENTIFIER(:col)')} AS total
        FROM IDENTIFIER(:tbl) GROUP BY o_orderstatus
        """,
        args={"tbl": "obj_orders", "col": "o_totalprice"},
    )


@query(
    "sql_pipe_syntax",
    oracle=f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, {sql_msum('value')} AS total
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id HAVING COUNT(*) > 2
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the linear `|> WHERE |> AGGREGATE`
    form of filter→aggregate→having, the readable surface for long ETL
    chains. Pipe operators lower to exactly the same logical plan as the
    nested SELECT, so pushdown/codegen are unchanged — this exists to
    prove the parser surface, and its oracle is the classic spelling."""
    load(spark, sf_dir, "events").createOrReplaceTempView("v_events_pipe")
    return spark.sql(
        f"""
        FROM v_events_pipe
        |> WHERE event_type = 'purchase'
        |> AGGREGATE COUNT(*) AS n, {msum_sql('value')} AS total
           GROUP BY user_id
        |> WHERE n > 2
        """
    )


@query(
    "sql_exec_immediate",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, {sql_msum('value')} AS total
    FROM events WHERE value > 100
    GROUP BY event_type
    """,
)
def sql_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE over a session variable (Spark 4): dynamic SQL
    composed as a string but with the VALUE still passed as a `?` bind —
    the pattern an orchestrator uses when the query TEXT itself comes
    from config. Session variables (DECLARE/SET VARIABLE) are the
    engine-native parameter store; binding via USING keeps the plan
    cacheable and injection-safe."""
    load(spark, sf_dir, "events").createOrReplaceTempView("v_events_exec")
    spark.sql("DECLARE OR REPLACE VARIABLE min_value DOUBLE")
    spark.sql("SET VARIABLE min_value = 100.0")
    return spark.sql(
        f"EXECUTE IMMEDIATE 'SELECT event_type, COUNT(*) AS n, {msum_sql('value')} AS total "
        "FROM v_events_exec WHERE value > ? GROUP BY event_type' USING min_value"
    )


@query(
    "sql_group_by_all",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('o_totalprice')} AS total
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+): every non-aggregate select item becomes
    a grouping key — the spelling that keeps hand-written rollups in sync
    when a dimension column is added to the SELECT list. Resolved at
    analysis time to the explicit GROUP BY, so the plan is identical."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gba")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               {msum_sql('o_totalprice')} AS total
        FROM v_orders_gba GROUP BY ALL
        """
    )


TT_ASOF_VERSION = 2  # reconstruct the snapshot as of this commit version


@query(
    "time_travel_asof",
    oracle=f"""
    WITH log AS (
      SELECT 0 AS version, 'insert' AS op, o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      UNION ALL
      SELECT 1, 'update', o_orderkey, 'F', o_totalprice * 1.1
      FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                    AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      UNION ALL
      SELECT 2, 'delete', o_orderkey, NULL, NULL
      FROM orders WHERE o_orderpriority = '5-LOW'
      UNION ALL
      SELECT 3, 'update', o_orderkey, 'O', o_totalprice * 0.5
      FROM orders WHERE o_orderstatus = 'P'
    ),
    snap AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC)
                  AS rn
      FROM log WHERE version <= {TT_ASOF_VERSION}
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('o_totalprice')} AS total
    FROM snap WHERE rn = 1 AND op <> 'delete'
    GROUP BY o_orderstatus
    """,
)
def time_travel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel without a table format: a Delta-style commit log
    (version, op, key, payload) reconstructed AS OF version N by taking
    each key's latest action with version ≤ N and dropping deletes — the
    row_number anti-entropy shape shared with scd2_history/upsert_snapshot,
    pointed backwards in time. The log here is synthesized deterministically
    from orders (v1 re-prices 1996 orders, v2 deletes 5-LOW, v3 — beyond
    the read version — must be invisible). At scale the log is
    key-partitioned parquet and the window is one shuffle on the key; a
    real lakehouse replaces the row_number with manifest pruning, but the
    read semantics are exactly this query."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.lit(0).alias("version"), F.lit("insert").alias("op"),
        "o_orderkey", "o_orderstatus", "o_totalprice",
    )
    v1 = (
        o.where(
            (as_date(F.col("o_orderdate")) >= F.lit("1996-01-01"))
            & (as_date(F.col("o_orderdate")) < F.lit("1997-01-01"))
        )
        .select(
            F.lit(1).alias("version"), F.lit("update").alias("op"),
            "o_orderkey", F.lit("F").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
    )
    v2 = o.where(F.col("o_orderpriority") == "5-LOW").select(
        F.lit(2).alias("version"), F.lit("delete").alias("op"),
        "o_orderkey", F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    v3 = o.where(F.col("o_orderstatus") == "P").select(
        F.lit(3).alias("version"), F.lit("update").alias("op"),
        "o_orderkey", F.lit("O").alias("o_orderstatus"),
        (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
    )
    log = base.unionByName(v1).unionByName(v2).unionByName(v3)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    asof = (
        log.where(F.col("version") <= TT_ASOF_VERSION)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "delete"))
    )
    return asof.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), msum("o_totalprice").alias("total")
    )


@query(
    "sql_pivot_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS F,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause (Spark's ANTLR syntax, entry point 2) — the same
    rotation pivot_status does via the DataFrame API, driven as a SQL
    string. Pivot compiles to one conditional aggregate per cell (the
    oracle spells that form out), so it scales exactly like a GROUP BY:
    map-side partials, one shuffle of |groups| x |pivot values| cells."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_pvt")
    return spark.sql(
        """
        SELECT * FROM (
          SELECT l_returnflag, l_linestatus FROM v_lineitem_pvt
        )
        PIVOT (COUNT(*) AS cnt FOR l_linestatus IN ('F' AS F, 'O' AS O))
        """
    ).select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0)).alias("F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("O"),
    )


@query(
    "ivm_incremental_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def ivm_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN: the materialized
    orders⋈customer view is maintained from a snapshot plus a delta batch
    using the join-delta algebra Δ(R⋈S) = ΔR⋈S (customer side static
    here), so only the increment — not the full fact history — shuffles
    per refresh. The fixture splits orders deterministically into a 90%
    'already materialized' snapshot and a 10% delta; the returned view is
    snapshot ∪ (delta⋈dim), which the oracle checks against the full
    recompute — the IVM correctness contract. At 100 TB the delta join is
    minutes of data against a broadcast dim while the snapshot is
    append-only parquet that never re-reads."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    full_join = lambda df: df.join(F.broadcast(c), df.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice"
    )
    snapshot = full_join(o.where(F.col("o_orderkey") % 10 != 0))
    delta = o.where(F.col("o_orderkey") % 10 == 0)
    return snapshot.unionByName(full_join(delta))


@query(
    "sink_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_reprocessed
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill — the Airflow-rerun pattern: land
    orders partitioned by status, then re-run exactly one partition ('P')
    with dynamic partition overwrite; untouched partitions must survive
    byte-for-byte. partitionOverwriteMode=dynamic replaces only the
    partitions present in the written batch — THE property that makes a
    failed daily task safely re-runnable without truncating the table.
    The oracle asserts the final table equals the source (the rerun wrote
    the same rows), with the reprocessed-partition count surfaced."""
    import shutil

    path = scratch_path(sf_dir, "orders_by_status")
    shutil.rmtree(path, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # the "rerun": recompute partition P only and overwrite it in place
        o.where(F.col("o_orderstatus") == "P").write.partitionBy(
            "o_orderstatus"
        ).mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    landed = spark.read.parquet(path)
    return landed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)
        ).alias("n_reprocessed"),
    )


@query(
    "join_not_in_null_aware",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT NULLIF(o_custkey, 42) FROM orders WHERE o_totalprice > 400000
    )
    ORDER BY c_custkey
    """,
)
def join_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a nullable subquery — the null-aware anti join, SQL's
    most misunderstood operator: one NULL in the subquery list makes
    NOT IN return no rows at all (x <> NULL is unknown), so the NULLIF
    poison pill here flips the result between 'customers without big
    orders' and 'empty' depending on whether customer 42 had one. Spark
    plans this as a NullAwareAntiJoin (broadcast) rather than a plain
    left_anti precisely to honor that three-valued logic; the SQL string
    goes through the ANTLR entry point to exercise it."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_cust_nia")
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_ord_nia")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM v_cust_nia
        WHERE c_custkey NOT IN (
          SELECT NULLIF(o_custkey, 42) FROM v_ord_nia WHERE o_totalprice > 400000
        )
        ORDER BY c_custkey
        """
    )


@query(
    "keygen_surrogate",
    oracle="""
    WITH k AS (
      SELECT o_orderkey,
             MD5('ord:' || o_orderkey || ':' || o_custkey) AS sk
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT sk) AS BIGINT) AS n_keys,
           (COUNT(*) = COUNT(DISTINCT sk)) AS collision_free,
           MIN(sk) AS min_key
    FROM k
    """,
)
def keygen_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed SURROGATE KEY generation + collision audit — the
    warehouse-load primitive that replaces sequence generators: the key is
    a hash of the qualified natural key ('ord:' namespace prefix so keys
    from different source objects can never collide on raw value reuse).
    Hash keys beat row_number/monotonically_increasing_id at scale — no
    global sort, no coordination, stable under re-runs, partition count
    changes, and retries (the same row always gets the same key — loads
    become idempotent). The audit aggregate proves injectivity on this
    corpus; both engines compute identical md5 hex so the oracle is
    exact."""
    o = load(spark, sf_dir, "orders")
    sk = F.md5(
        F.concat_ws(":", F.lit("ord"), F.col("o_orderkey"), F.col("o_custkey"))
    )
    keyed = o.select(sk.alias("sk"))
    return keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("sk").alias("n_keys"),
        (F.count(F.lit(1)) == F.count_distinct("sk")).alias("collision_free"),
        F.min("sk").alias("min_key"),
    )


@query(
    "sql_lateral_alias",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))
                AS DECIMAL(18,4)) AS DOUBLE) AS net,
           CAST(CAST(ROUND(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                           AS DECIMAL(18,4))
                           * (1 + CAST(l_tax AS DECIMAL(4,2))), 4)
                AS DECIMAL(18,4)) AS DOUBLE) AS gross,
           CAST(CAST(ROUND(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                           AS DECIMAL(18,4))
                           * (1 + CAST(l_tax AS DECIMAL(4,2))), 4)
                AS DECIMAL(18,4))
                - CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(4,2)))
                  AS DECIMAL(18,4)) AS DOUBLE) AS tax_amount
    FROM lineitem WHERE l_quantity >= 49
    """,
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): a SELECT item referencing a
    sibling alias defined earlier in the same list — `net_d` feeds
    `gross_d` feeds `tax_amount` — the spelling that keeps derived-measure
    chains single-sourced instead of copy-pasting the base expression.
    Resolved at analysis time into the nested expressions (the plan is
    identical to writing them out), so there is no runtime cost and
    pushdown/codegen are unaffected.

    Float policy: every link computes in EXACT decimal — the 2dp×2dp
    product is an exact 4dp value, the 4dp×2dp product an exact 6dp value
    whose ROUND-to-4dp tie resolves half-away-from-zero identically in
    both engines (a double ROUND here diverges on .00005 ties at sf0.1 —
    the exact trap catalog.msum exists for); only the final output casts
    to double. The DuckDB oracle writes the same decimal expansion
    explicitly."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_lca")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                 AS DECIMAL(18,4)) AS net_d,
               CAST(ROUND(net_d * (1 + CAST(l_tax AS DECIMAL(4,2))), 4)
                 AS DECIMAL(18,4)) AS gross_d,
               CAST(net_d AS DOUBLE) AS net,
               CAST(gross_d AS DOUBLE) AS gross,
               CAST(gross_d - net_d AS DOUBLE) AS tax_amount
        FROM v_li_lca WHERE l_quantity >= 49
        """
    ).drop("net_d", "gross_d")


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_bucket
      FROM customer
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM qi GROUP BY 1, 2, 3
    ),
    sens AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket,
             CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS n_sensitive
      FROM qi JOIN orders o ON o.o_custkey = qi.c_custkey
      GROUP BY 1, 2, 3
    )
    SELECT cls.c_nationkey, cls.c_mktsegment, cls.bal_bucket,
           cls.class_size,
           COALESCE(sens.n_sensitive, 0) AS n_sensitive,
           (cls.class_size >= 5) AS k_anonymous,
           (COALESCE(sens.n_sensitive, 0) >= 3) AS l_diverse
    FROM cls LEFT JOIN sens USING (c_nationkey, c_mktsegment, bal_bucket)
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit for the landed dataset: k-anonymity and l-diversity
    over the quasi-identifier tuple (nation, market segment, 2000-unit
    balance bucket) with order priority as the sensitive attribute — the
    re-identification check a migration compliance review runs before
    publishing extracts (complements text_pii_redact, which handles
    free-text identifiers).

    Plan shape: class sizes come from the customer table alone (c_custkey
    is unique, so no join inflates the count) and sensitive-value
    diversity from a (QI, priority) projection deduplicated BEFORE the
    per-class count — two QI-keyed aggregations and one customer⋈orders
    equi-join, deliberately avoiding a multi-COUNT(DISTINCT) single
    aggregate whose Expand duplicates every joined row. The final stitch
    joins two QI-sized aggregates. Bucket arithmetic is FLOOR on an exact
    2-decimal balance — no rounding ties for either engine."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    qik = ["c_nationkey", "c_mktsegment", "bal_bucket"]
    qi = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
    )
    cls = qi.groupBy(*qik).agg(F.count(F.lit(1)).alias("class_size"))
    sens = (
        qi.join(orders, qi.c_custkey == orders.o_custkey)
        .select(*qik, "o_orderpriority")
        .distinct()
        .groupBy(*qik)
        .agg(F.count(F.lit(1)).alias("n_sens"))
    )
    return cls.join(sens, qik, "left").select(
        *qik,
        "class_size",
        F.coalesce(F.col("n_sens"), F.lit(0)).alias("n_sensitive"),
        (F.col("class_size") >= 5).alias("k_anonymous"),
        (F.coalesce(F.col("n_sens"), F.lit(0)) >= 3).alias("l_diverse"),
    )


@query(
    "dq_benford_firstdigit",
    oracle="""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT d, CAST(COUNT(*) AS DOUBLE) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT SUM(n) AS n_all FROM obs)
    SELECT CAST(d AS INT) AS first_digit,
           CAST(n AS BIGINT) AS n_observed,
           ROUND(n / (SELECT n_all FROM tot), 4) AS p_observed,
           ROUND(LOG10(1.0 + 1.0 / d), 4) AS p_benford,
           ROUND(POW(n / (SELECT n_all FROM tot) - LOG10(1.0 + 1.0 / d), 2)
                 / LOG10(1.0 + 1.0 / d), 4) AS chi2_term
    FROM obs ORDER BY d
    """,
)
def dq_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance for order totals — the classic
    fabricated-data screen a migration DQ review runs on money columns:
    observed first-digit frequencies vs Benford's log10(1 + 1/d), with
    the per-digit χ² term (summing it gives the test statistic against
    the 9-digit Benford distribution).

    The digit comes from integer truncation then string head — exact in
    both engines (no float formatting involved) — and everything after
    the single groupBy is a 9-row computation. One shuffle; at 100 TB
    this is a map-side-combined count per digit, nothing more. Note the
    fixture's totalprice is uniform-ish, so NON-conformance is the
    expected result — the operator reports, it does not assert."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = o.select(d.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = obs.agg(F.sum("n").alias("n_all"))
    p_obs = F.col("n") / F.col("n_all")
    p_ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").cast("int").alias("first_digit"),
            F.col("n").cast("long").alias("n_observed"),
            r4(p_obs).alias("p_observed"),
            r4(p_ben).alias("p_benford"),
            r4(F.pow(p_obs - p_ben, 2) / p_ben).alias("chi2_term"),
        )
    )


@query(
    "dq_ks_drift",
    oracle="""
    WITH tagged AS (
      SELECT o_totalprice AS v,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 1 ELSE 0 END AS ga
      FROM orders
    ),
    per_v AS (
      SELECT v, SUM(ga) AS na, SUM(1 - ga) AS nb FROM tagged GROUP BY v
    ),
    tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM per_v),
    cum AS (
      SELECT v,
             SUM(na) OVER (ORDER BY v) / (SELECT CAST(ta AS DOUBLE) FROM tot)
               AS fa,
             SUM(nb) OVER (ORDER BY v) / (SELECT CAST(tb AS DOUBLE) FROM tot)
               AS fb
      FROM per_v
    )
    SELECT ROUND(MAX(ABS(fa - fb)), 4) AS d_stat,
           MIN(CASE WHEN ABS(fa - fb) = (SELECT MAX(ABS(fa - fb)) FROM cum)
                    THEN v END) AS v_at_max,
           (SELECT CAST(ta AS BIGINT) FROM tot) AS n_early,
           (SELECT CAST(tb AS BIGINT) FROM tot) AS n_late
    FROM cum
    """,
)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift check: D = sup |F_early − F_late|
    between order totals before and after 1998 — the distribution-drift
    monitor a long-running migration or training-data pipeline runs on
    every money/measure column (the scalar sibling of
    embed_centroid_drift).

    Exactness: the empirical CDFs are integer-count ratios (IEEE division
    of exact integers — bit-identical in both engines), so the argmax
    location needs no tolerance; the supremum value rounds at 4dp. Shape:
    one groupBy on distinct values, then the two cumulative counts run
    through the DISTRIBUTED two-tier prefix sum
    (distributed.global_running_sum — integer counts, exact under
    regrouping), then a global max: distinct values of a continuous
    column are data-scale, so no task may own the whole CDF."""
    from atlas_migration_repo_spark.operators.distributed import (
        global_running_sum,
    )

    o = load(spark, sf_dir, "orders")
    tagged = o.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date"))
        .cast("int")
        .alias("ga"),
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("ga").alias("na"), F.sum(1 - F.col("ga")).alias("nb")
    )
    tot = per_v.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    cum = (
        global_running_sum(
            global_running_sum(per_v, [F.col("v").asc()], F.col("na"), out="ca"),
            [F.col("v").asc()],
            F.col("nb"),
            out="cb",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "v",
            (F.col("ca") / F.col("ta").cast("double")).alias("fa"),
            (F.col("cb") / F.col("tb").cast("double")).alias("fb"),
            "ta",
            "tb",
        )
    )
    diff = F.abs(F.col("fa") - F.col("fb"))
    dmax = cum.agg(F.max(diff).alias("dmax"))
    return (
        cum.crossJoin(F.broadcast(dmax))
        .agg(
            r4(F.first("dmax")).alias("d_stat"),
            F.min(F.when(diff == F.col("dmax"), F.col("v"))).alias("v_at_max"),
            F.first("ta").cast("long").alias("n_early"),
            F.first("tb").cast("long").alias("n_late"),
        )
    )


@query(
    "stats_cbo_join",
    oracle=f"""
    SELECT r_name, COUNT(*) AS n_suppliers, {sql_msum('s_acctbal')} AS acctbal_sum
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def stats_cbo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE TABLE / cost-based-optimizer workflow (VERDICT r3
    missing #5): land the join sides as catalog tables, collect table +
    column statistics (`ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL
    COLUMNS`), then run a 3-way join with CBO and stats-based join
    reordering enabled. AQE re-plans at runtime from shuffle sizes; the
    CBO story matters BEFORE the first shuffle on a 100 TB multiway join —
    collected rowCount/NDV statistics drive the initial join order and
    stats-based broadcast decisions (`spark.sql.cbo.enabled`,
    `spark.sql.cbo.joinReorder.enabled`). The unit test asserts the
    catalog actually carries rowCount stats and that the executed plan
    broadcasts both dimension sides.

    At scale ANALYZE is a scheduled post-ingest pass (one scan per table,
    sketch-based NDV), after which every planner session benefits."""
    names = {}
    suffix = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")
    for t in ("supplier", "nation", "region"):
        name = f"cbo_{t}_{suffix}"
        # the in-memory catalog is per-session but spark-warehouse/
        # persists: a location orphaned by a previous session blocks
        # saveAsTable even in overwrite mode — drop both halves first
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
        load(spark, sf_dir, t).write.mode("overwrite").saveAsTable(name)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
        names[t] = name
    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    prev_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        return spark.sql(
            f"""
            SELECT r_name, COUNT(*) AS n_suppliers, {msum_sql('s_acctbal')} AS acctbal_sum
            FROM {names['supplier']}
            JOIN {names['nation']} ON s_nationkey = n_nationkey
            JOIN {names['region']} ON n_regionkey = r_regionkey
            GROUP BY r_name
            """
        )
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", prev_reorder)


@query(
    "pipeline_lakehouse_sync",
    oracle="""
    WITH initial AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ),
    final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 3 THEN 'F' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 10 = 3 THEN
                    CAST(CAST(o_totalprice AS DECIMAL(18,2))
                         * CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM initial
      UNION ALL
      SELECT o_orderkey + 50000000, 'O', o_totalprice
      FROM initial WHERE o_orderkey % 1000 = 11
    )
    SELECT (SELECT COUNT(*) FROM initial) AS n_staged,
           (SELECT COUNT(*) FROM initial) AS n_initial,
           (SELECT COUNT(*) FROM final) AS n_final,
           (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8)))
                    AS DECIMAL(38,4)) AS DOUBLE) FROM final) AS total_final
    """,
)
def pipeline_lakehouse_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE composite — the reference's actual migration flow
    [/root/reference/README.md:3-9] built ONLY from this round's
    transactional pieces, end to end:

    1. EXTRACT: the orders slice lands as a Salesforce Bulk-API-shaped
       CSV staging dir and is read back through SalesforceExtractor with
       an explicit ObjectSpec schema (the offline half of the connector).
    2. LOAD: the staged rows enter a TableLog guarded by CHECK
       constraints (a violating feed can never commit).
    3. SYNC: a CDC-style delta (updates %10==3 at +10%, re-keyed inserts
       %1000==11) MERGEs as one atomic version — snapshot isolation keeps
       the initial version readable throughout.
    4. SERVE: the final snapshot aggregates with the exact decimal
       policy; counts at each stage prove no row was lost or invented.

    The oracle recomputes every stage from the base table's defining
    predicates, so the whole chain — CSV type fidelity, constraint gate,
    log commit, merge arithmetic — is hash-verified as one unit."""
    import shutil

    from atlas_migration_repo_spark.sources.salesforce import (
        ObjectSpec,
        SalesforceExtractor,
    )
    from atlas_migration_repo_spark.sources.table_log import TableLog

    # 1. extract: Bulk-API CSV staging
    staging = scratch_path(sf_dir, "lakehouse_sync_staging")
    shutil.rmtree(staging, ignore_errors=True)
    (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < "1997-01-01")
        .select(
            F.col("o_orderkey").alias("Id"),
            F.col("o_orderstatus").alias("Status__c"),
            F.col("o_totalprice").alias("TotalPrice__c"),
        )
        .coalesce(2)
        .write.option("header", "true")
        .csv(f"{staging}/Atlas_Order__c")
    )
    spec = ObjectSpec(
        name="Atlas_Order__c",
        fields=(("Id", "long"), ("Status__c", "string"), ("TotalPrice__c", "double")),
    )
    staged = SalesforceExtractor(spark, staging_dir=staging).read(spec).select(
        F.col("Id").alias("o_orderkey"),
        F.col("Status__c").alias("o_orderstatus"),
        F.col("TotalPrice__c").alias("o_totalprice"),
    )

    # 2. load into a constraint-guarded table log
    root = scratch_path(sf_dir, "lakehouse_sync_tlog")
    shutil.rmtree(root, ignore_errors=True)
    t = TableLog(root)
    t.set_constraints("o_totalprice >= 0", "o_orderkey IS NOT NULL")
    v_initial = t.append(staged)

    # 3. CDC delta merged as one atomic version
    k = F.col("o_orderkey")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    delta = (
        staged.where(k % 10 == 3)
        .select(
            "o_orderkey",
            F.lit("F").alias("o_orderstatus"),
            (price_dec * F.expr("CAST(1.10 AS DECIMAL(3,2))"))
            .cast("double")
            .alias("o_totalprice"),
        )
        .unionByName(
            staged.where(k % 1000 == 11).select(
                (k + 50000000).alias("o_orderkey"),
                F.lit("O").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    t.merge(spark, delta, key="o_orderkey")

    # 4. serve: per-stage counts + exact final aggregate
    n_staged = staged.count()
    n_initial = t.read(spark, version=v_initial).count()
    final = t.read(spark)
    return final.agg(
        F.count(F.lit(1)).alias("n_final"),
        msum("o_totalprice").alias("total_final"),
    ).select(
        F.lit(n_staged).alias("n_staged"),
        F.lit(n_initial).alias("n_initial"),
        F.col("n_final"),
        F.col("total_final"),
    )


@query(
    "pipeline_migrate_any",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_rows, {sql_msum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def pipeline_migrate_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The migration engine's headline verb, chained across every open
    format: orders land as DELTA, one `migrate_table` call relocates the
    table to HUDI (format auto-detected on read), a second to ICEBERG —
    and the final protocol reader returns exactly the source aggregate.
    Each hop is one scan + one committed write of the target format; no
    driver-side rows."""
    import os
    import shutil as _shutil

    from atlas_migration_repo_spark.api import AtlasEngine
    from atlas_migration_repo_spark.sources.delta_interop import write_delta
    from atlas_migration_repo_spark.sources.files import scratch_path
    from atlas_migration_repo_spark.sources.iceberg_interop import read_iceberg

    base = scratch_path(sf_dir, "orders_migrate_any")
    _shutil.rmtree(base, ignore_errors=True)
    d_root = os.path.join(base, "as_delta")
    h_root = os.path.join(base, "as_hudi")
    i_root = os.path.join(base, "as_iceberg")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_delta(orders, d_root)
    eng = AtlasEngine(spark=spark, sf_dir=sf_dir)
    eng.migrate_table(d_root, h_root, "hudi", record_key="o_orderkey")
    eng.migrate_table(h_root, i_root, "iceberg")
    return read_iceberg(spark, i_root).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum("o_totalprice").alias("total"),
    )


def refresh_delta_group_mv(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    group_col: str,
    measure_col: str,
    app_id: str = "mv-refresh",
) -> int:
    """Incrementally maintain a grouped-aggregate MATERIALIZED VIEW
    (count + exact decimal sum per group) of a CDF-enabled Delta table.

    The synced base version rides the Delta protocol's own transaction
    identifier: every refresh commits the MV with txn=(app_id,
    base_version), so delta_txn_version(mv) IS the sync cursor — no side
    files, and a replayed/crashed refresh of the same base version is a
    protocol-level no-op (write_delta's idempotent-txn path). Bootstrap
    (no cursor yet) computes the full aggregate once; every later refresh
    reads ONLY read_delta_cdf(last, cur) and folds row-level changes with
    their natural signs (+insert/+update_postimage, −update_preimage/
    −delete) into the old state: O(delta) reads + O(groups) state rewrite
    per refresh, never O(base). Sums accumulate in DECIMAL(30,8)
    (order-immune, the msum discipline), so increments cannot drift from
    a from-scratch recompute — hash-equality against the full-recompute
    oracle is the proof.

    At 100 TB: the CDC scan is the change volume, the state join is a
    broadcast of |groups| rows, and the MV rewrite is kilobytes — the
    continuous-aggregate pattern (Databricks MV / Timescale rollup) on
    this repo's own Delta bridge."""
    from atlas_migration_repo_spark.sources.delta_interop import (
        _replay,
        delta_txn_version,
        read_delta,
        read_delta_cdf,
        write_delta,
    )

    cur = _replay(base_path)[0]
    last = delta_txn_version(mv_path, app_id)
    dec = F.col(measure_col).cast("decimal(30,8)")
    if last is None:
        state = (
            read_delta(spark, base_path)
            .groupBy(group_col)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(dec).alias("total_dec"),
            )
        )
    elif last == cur:
        return cur  # nothing new; MV already covers the base head
    else:
        sign = (
            F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
            .when(F.col("_change_type").isin("delete", "update_preimage"), -1)
            .otherwise(0)
        )
        delta = (
            # read_delta_cdf's from_version is INCLUSIVE; the cursor holds
            # the last version already folded in, so resume one past it
            read_delta_cdf(spark, base_path, from_version=last + 1, to_version=cur)
            .groupBy(group_col)
            .agg(
                F.sum(sign).alias("dn"),
                F.sum(sign.cast("decimal(30,8)") * dec).alias("dt"),
            )
        )
        old = read_delta(spark, mv_path)
        zero = F.lit(0).cast("decimal(30,8)")
        state = (
            old.join(F.broadcast(delta), group_col, "full_outer")
            .select(
                group_col,
                (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias("n_rows"),
                (
                    F.coalesce(F.col("total_dec"), zero)
                    + F.coalesce(F.col("dt"), zero)
                ).cast("decimal(30,8)").alias("total_dec"),
            )
            .where(F.col("n_rows") > 0)
        )
    state = state.select(
        group_col,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("total_dec").cast("decimal(30,8)").alias("total_dec"),
    )
    return write_delta(state, mv_path, mode="overwrite", txn=(app_id, cur))


@query(
    "mv_incremental_refresh",
    oracle=f"""
    WITH final AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 10 = 0 AND o_orderkey % 3 <> 2
                  THEN o_totalprice * 2 ELSE o_totalprice END AS p
      FROM orders
      WHERE NOT (o_orderkey BETWEEN 100 AND 900 AND o_orderkey % 3 <> 2)
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_msum('p')} AS total
    FROM final GROUP BY o_orderstatus
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view lifecycle end-to-end: a CDF-enabled Delta base
    takes a seed load, an append, a doubling MERGE, a range DELETE, a
    second append — and the MV is refreshed incrementally from the
    row-level change feed after each batch of base commits (bootstrap,
    then two O(delta) refreshes), with the sync cursor carried by the
    protocol's txn action. The returned MV content must hash-match a
    from-scratch recompute of the final base state (the oracle) — the
    only way signed CDC folding with decimal accumulation can pass."""
    import shutil

    from atlas_migration_repo_spark.sources.delta_interop import (
        delete_delta_range,
        merge_delta,
        read_delta,
        write_delta,
    )

    base = scratch_path(sf_dir, "orders_mv_base")
    mv = scratch_path(sf_dir, "orders_mv_state")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(mv, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    write_delta(
        orders.where(k % 3 == 0),
        base,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    refresh_delta_group_mv(spark, base, mv, "o_orderstatus", "o_totalprice")

    write_delta(orders.where(k % 3 == 1), base, mode="append")
    merge_delta(
        spark,
        base,
        orders.where((k % 10 == 0) & (k % 3 != 2)).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        key="o_orderkey",
    )
    delete_delta_range(spark, base, "o_orderkey", 100, 900)
    refresh_delta_group_mv(spark, base, mv, "o_orderstatus", "o_totalprice")

    write_delta(orders.where(k % 3 == 2), base, mode="append")
    refresh_delta_group_mv(spark, base, mv, "o_orderstatus", "o_totalprice")

    return read_delta(spark, mv).select(
        "o_orderstatus",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("total_dec").cast("decimal(38,4)").cast("double").alias("total"),
    )
