"""Scalar function surface (SURVEY.md §2.7): string / date / timestamp /
math / conditional / cast / hash / array / higher-order / map / JSON.

All expressions are built-in pyspark.sql.functions — JVM-side, inside
whole-stage codegen; zero Python on the data path. Cross-engine dialect
notes baked into each oracle:
- Spark dayofweek() is 1=Sunday..7; DuckDB dayofweek() is 0=Sunday..6.
- double→string formatting differs between engines — never emitted.
- transcendentals (pow/ln/log10) may differ 1 ulp between libm and JVM →
  wrapped in round(.,4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import (
    as_date,
    load,
    msum_sql,
    ntz_trunc,
    r4,
)
from atlas_migration_repo_spark.oracle import sql_r4
from atlas_migration_repo_spark.registry import query


@query(
    "str_basic",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
           SUBSTRING(c_name, 1, 8) AS pre,
           TRIM(CONCAT('  ', c_name, ' ')) AS trimmed,
           CAST(LENGTH(c_name) AS INT) AS name_len,
           CONCAT(c_name, '#', c_mktsegment) AS tagged,
           REPLACE(c_name, 'Customer', 'Cust') AS repl,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded
    FROM customer
    """,
)
def str_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/substring/trim/length/concat/replace/lpad."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.substring("c_name", 1, 8).alias("pre"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("tagged"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("repl"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
    )


@query(
    "str_split_explode",
    oracle="""
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
    FROM documents
    """,
)
def str_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize: one row per whitespace-separated word."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))


@query(
    "str_regexp",
    oracle="""
    SELECT p_partkey,
           REGEXP_EXTRACT(p_type, '^([A-Z]+)', 1) AS first_word,
           REGEXP_REPLACE(p_brand, '[0-9]+', '#', 'g') AS brand_shape,
           REGEXP_MATCHES(p_type, 'BRUSHED|POLISHED') AS is_finished
    FROM part
    """,
)
def str_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp extract / replace / match (patterns kept in the common
    Java-regex ∩ RE2 subset; Spark regexp_replace is global by default,
    DuckDB needs the 'g' flag)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("first_word"),
        F.regexp_replace("p_brand", r"[0-9]+", "#").alias("brand_shape"),
        F.col("p_type").rlike("BRUSHED|POLISHED").alias("is_finished"),
    )


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS yr,
           CAST(MONTH(o_orderdate) AS INT) AS mo,
           CAST(DAY(o_orderdate) AS INT) AS dom,
           CAST(QUARTER(o_orderdate) AS INT) AS qtr,
           CAST(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
           DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS month_start,
           LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch_start
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar functions (Spark dayofweek is 1=Sunday; DuckDB's is
    0=Sunday — oracle shifts by +1)."""
    o = load(spark, sf_dir, "orders")
    od = as_date(F.col("o_orderdate"))
    return o.select(
        "o_orderkey",
        F.year(od).alias("yr"),
        F.month(od).alias("mo"),
        F.dayofmonth(od).alias("dom"),
        F.quarter(od).alias("qtr"),
        F.dayofweek(od).alias("dow"),
        F.trunc(od, "month").alias("month_start"),
        F.last_day(od).alias("month_end"),
        F.date_add(od, 30).alias("due_date"),
        F.datediff(od, F.lit("1995-01-01").cast("date")).alias("days_since_epoch_start"),
    )


@query(
    "ts_funcs",
    oracle="""
    SELECT event_id,
           CAST(HOUR(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
           CAST(MINUTE(CAST(ts AS TIMESTAMP)) AS INT) AS mi,
           CAST(SECOND(CAST(ts AS TIMESTAMP)) AS INT) AS sec,
           DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date
    FROM events
    """,
)
def ts_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp field extraction + hourly bucketing on µs-normalized ts."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.hour("ts").alias("hr"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("sec"),
        ntz_trunc("hour", "ts").alias("hour_bucket"),
        F.col("ts").cast("date").alias("event_date"),
    )


@query(
    "math_funcs",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS price_r1,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
           ABS(l_discount - 0.05) AS disc_dev,
           {sql_r4('POW(l_quantity, 2)')} AS qty_sq,
           {sql_r4('SQRT(l_extendedprice)')} AS price_sqrt,
           {sql_r4('LN(l_extendedprice)')} AS price_ln,
           {sql_r4('LOG10(l_extendedprice)')} AS price_log10,
           CAST(l_orderkey % 97 AS BIGINT) AS key_mod,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/floor/ceil/abs/pow/sqrt/ln/log10/mod/sign (transcendentals
    rounded: JVM vs libm may differ in the last ulp). Spark FLOOR/CEIL
    return BIGINT while DuckDB's return DOUBLE, so the oracle casts both
    to BIGINT — same values, but the driver's pandas hash is dtype-aware
    (the r9 driver FAIL)."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(price, 1).alias("price_r1"),
        F.floor(price).alias("price_floor"),
        F.ceil(price).alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        r4(F.pow("l_quantity", F.lit(2))).alias("qty_sq"),
        r4(F.sqrt(price)).alias("price_sqrt"),
        r4(F.ln(price)).alias("price_ln"),
        r4(F.log10(price)).alias("price_log10"),
        (F.col("l_orderkey") % 97).alias("key_mod"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


@query(
    "cond_expr",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_class,
           IF(o_orderstatus = 'F', 'done', 'open') AS state,
           NULLIF(o_orderstatus, 'P') AS status_or_null,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'pending') AS status_filled,
           GREATEST(o_totalprice, 150000.0) AS at_least,
           LEAST(o_totalprice, 150000.0) AS at_most
    FROM orders
    """,
)
def cond_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / IF / NULLIF / COALESCE / GREATEST / LEAST."""
    o = load(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        F.when(tp > 300000, "big").when(tp > 100000, "mid").otherwise("small").alias(
            "size_class"
        ),
        F.when(F.col("o_orderstatus") == "F", "done").otherwise("open").alias("state"),
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("pending")).alias("status_filled"),
        F.greatest(tp, F.lit(150000.0)).alias("at_least"),
        F.least(tp, F.lit(150000.0)).alias("at_most"),
    )


@query(
    "cast_types",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_back,
           CAST(o_orderkey AS DOUBLE) AS key_dbl,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
           CAST(TRUNC(o_totalprice) AS BIGINT) AS price_int,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST('2000-06-15' AS DATE) AS fixed_date
    FROM orders
    """,
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts across string/int/double/decimal/date. NB double→string is
    deliberately absent (engine formatting differs), and Spark's double→int
    TRUNCATES while DuckDB's ROUNDS — the oracle uses TRUNC to match.
    The decimal leg is cast back to DOUBLE before surfacing: Spark hands a
    DECIMAL column to pandas as object-``Decimal`` while DuckDB's ``.df()``
    yields float64, so a surfaced decimal hash-mismatches at the driver even
    when every value agrees (the r9 driver FAIL). decimal(12,2)→double is
    correctly rounded in both engines, so the twins stay exact."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_back"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("price_dec"),
        F.col("o_totalprice").cast("int").cast("bigint").alias("price_int"),
        as_date(F.col("o_orderdate")).alias("order_date"),
        F.lit("2000-06-15").cast("date").alias("fixed_date"),
    )


@query(
    "hash_funcs",
    oracle="""
    SELECT doc_id, MD5(text) AS text_md5, SHA256(text) AS text_sha256
    FROM documents
    """,
)
def hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 / sha2-256 hex digests (the primitive under dedup_exact)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
    )


@query(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS dim,
           embedding[1] AS first_val,
           embedding[1:3][2] AS head3_mid,
           LIST_MAX(embedding) AS vmax,
           LIST_MIN(embedding) AS vmin,
           LIST_SORT(embedding[1:5])[3] AS sorted5_med
    FROM embeddings
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size/element_at/slice/max/min/sort over embedding arrays (float32
    elements compare bit-exactly across engines). Array-valued
    intermediates (slice, array_sort) are reduced to scalar elements in
    the result — the driver's pandas hash gate can't factorize list
    cells, so only scalars cross the gate."""
    em = load(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at(F.slice("embedding", 1, 3), 2).alias("head3_mid"),
        F.array_max("embedding").alias("vmax"),
        F.array_min("embedding").alias("vmin"),
        F.element_at(F.array_sort(F.slice("embedding", 1, 5)), 3).alias("sorted5_med"),
    )


@query(
    "arr_higher_order",
    oracle=f"""
    SELECT vec_id,
           {sql_r4("LIST_AGGREGATE(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE))), 'sum')")} AS l1_norm,
           CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS INT) AS n_positive,
           {sql_r4("LIST_AGGREGATE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')")} AS sq_sum
    FROM embeddings
    """,
)
def arr_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambdas: transform / filter / aggregate (L1 norm and
    square-sum in double precision, rounded for libm-order safety)."""
    em = load(spark, sf_dir, "embeddings")
    dbl = lambda x: x.cast("double")  # noqa: E731
    return em.select(
        "vec_id",
        r4(
            F.aggregate(
                F.transform("embedding", lambda x: F.abs(dbl(x))), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("l1_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        r4(
            F.aggregate(
                F.transform("embedding", lambda x: dbl(x) * dbl(x)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("sq_sum"),
    )


@query(
    "map_funcs",
    oracle="""
    SELECT n_nationkey,
           n_name AS name_from_map,
           CAST(n_regionkey AS INT) AS region_from_map,
           2 AS map_size
    FROM nation
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a MapType column and extract scalars back out (oracle computes
    the equivalent scalars directly — DuckDB MAP isn't hash-comparable)."""
    n = load(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("name"), F.col("n_name"), F.lit("region"), F.col("n_regionkey").cast("string")
    )
    return n.select(
        "n_nationkey",
        F.element_at(m, "name").alias("name_from_map"),
        F.element_at(m, "region").cast("int").alias("region_from_map"),
        F.size(m).alias("map_size"),
    )


@query(
    "json_funcs",
    oracle="""
    SELECT event_id,
           JSON_EXTRACT_STRING(props, '$.k') AS k_str,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_int,
           JSON_EXTRACT_STRING(props, '$.missing') AS absent
    FROM events
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("absent"),
    )


@query(
    "explode_pos",
    oracle="""
    SELECT doc_id,
           CAST(GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) - 1 AS INT) AS pos,
           UNNEST(STRING_SPLIT(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 100
    """,
)
def explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode with ordinality (Spark pos is 0-based; DuckDB subscripts
    are 1-based — oracle shifts)."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))


@query(
    "bitwise_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS b_and,
           o_orderkey | 15 AS b_or,
           xor(o_orderkey, 255) AS b_xor,
           CAST(bit_count(o_orderkey) AS INT) AS b_cnt,
           o_orderkey << 2 AS b_shl,
           o_orderkey >> 3 AS b_shr
    FROM orders WHERE o_orderkey < 2000
    """,
)
def bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface: AND/OR/XOR/popcount/shifts on integer keys."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("b_and"),
        k.bitwiseOR(F.lit(15)).alias("b_or"),
        k.bitwiseXOR(F.lit(255)).alias("b_xor"),
        F.bit_count(k).alias("b_cnt"),
        F.shiftleft(k, 2).cast("long").alias("b_shl"),
        F.shiftright(k, 3).cast("long").alias("b_shr"),
    )


@query(
    "hist_width_bucket",
    oracle="""
    -- DuckDB 1.0.0 has no width_bucket; this reproduces Spark's exact
    -- arithmetic: width = (hi-lo)/n (here exactly 50000.0), bucket =
    -- floor(x/width)+1, clamped for out-of-range values
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE CAST(FLOOR(o_totalprice / ((600000.0 - 0) / 12)) AS BIGINT) + 1
           END AS bucket,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1
    """,
)
def hist_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via SQL-standard width_bucket — the single-pass
    distributed histogram (map-side partial counts; one tiny shuffle)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(F.width_bucket(F.col("o_totalprice"), F.lit(0), F.lit(600000), F.lit(12)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "json_variant_path",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 10
    GROUP BY event_type
    """,
)
def json_variant_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path access: parse the JSON props column ONCE into
    the binary VARIANT encoding, then extract typed paths with
    variant_get — repeated-path access without per-row string re-parsing
    (the columnar-JSON posture; get_json_object re-parses per call).
    Oracle is DuckDB's json_extract over the same rows."""
    e = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        e.withColumn("k", k)
        .where(F.col("k") >= 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "func_try_safe",
    oracle=f"""
    SELECT CAST(COUNT(CASE WHEN l_discount = 0 THEN 1 END) AS BIGINT)
             AS n_zero_div,
           {sql_r4('SUM(CASE WHEN l_discount <> 0 THEN 1.0 END)')} AS n_divided,
           CAST(COUNT(CASE WHEN l_linenumber % 2 = 0 THEN 1 END) AS BIGINT)
             AS n_cast_ok,
           {sql_r4("AVG(TRY_CAST(CASE WHEN l_linenumber % 2 = 0 THEN CAST(CAST(l_quantity AS INT) AS VARCHAR) ELSE l_returnflag END AS DOUBLE))")}
             AS avg_cast_qty
    FROM lineitem
    """,
)
def func_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: try_divide nulls on ÷0 instead of
    failing the job, try_cast nulls on malformed input — the semantics a
    migration needs when dirty source fields must not kill a 100 TB
    pass. Divide-by-zero rows are counted via the try_divide NULLs
    themselves (l_discount==0 exists in the fixture), and a mixed
    digits/letters column exercises try_cast (quantity is integral in
    the fixture, so int-string round-trip is exact)."""
    li = load(spark, sf_dir, "lineitem")
    safe_div = F.try_divide(F.col("l_extendedprice"), F.col("l_discount"))
    mixed = F.when(
        F.col("l_linenumber") % 2 == 0,
        F.col("l_quantity").cast("int").cast("string"),
    ).otherwise(F.col("l_returnflag"))
    cast_qty = F.expr(
        "TRY_CAST(CASE WHEN l_linenumber % 2 = 0 "
        "THEN CAST(CAST(l_quantity AS INT) AS STRING) "
        "ELSE l_returnflag END AS DOUBLE)"
    )
    return li.select(safe_div.alias("d"), cast_qty.alias("cq")).agg(
        F.count_if(F.col("d").isNull()).alias("n_zero_div"),
        r4(F.sum(F.when(F.col("d").isNotNull(), 1.0))).alias("n_divided"),
        F.count("cq").alias("n_cast_ok"),
        r4(F.avg("cq")).alias("avg_cast_qty"),
    )


@query(
    "map_hof_funcs",
    oracle="""
    WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 100)
    SELECT l_orderkey, l_linenumber, k, v
    FROM (
      SELECT l_orderkey, l_linenumber, 'qty' AS k, l_quantity * 2 AS v
      FROM src
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'disc_pct', l_discount * 100 * 2
      FROM src
    )
    WHERE v > 10
    """,
)
def map_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build a per-row metric map, double
    every value (transform_values), drop small ones (map_filter), and
    explode the surviving entries. The oracle computes the same entries
    from first principles (per-key UNION ALL + predicate), so the map
    pipeline is verified against plain relational semantics. All map ops
    are per-row expressions — no shuffle until a downstream aggregate."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"),
        F.lit("disc_pct"), F.col("l_discount") * 100,
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(doubled, lambda k, v: v > 10)
    return li.select(
        "l_orderkey", "l_linenumber", F.explode(kept).alias("k", "v")
    )


@query(
    "func_inline",
    oracle="""
    SELECT n_nationkey, kind, code
    FROM (
      SELECT n_nationkey, 'self' AS kind, n_nationkey * 10 AS code FROM nation
      UNION ALL
      SELECT n_nationkey, 'region', n_regionkey * 100 FROM nation
    )
    """,
)
def func_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline(): explode an array of structs into columns in one step —
    the generator for nested repeated groups (line items inside an order
    document, attachments inside a record). The struct array here is
    built in-row, and the oracle states the same rows relationally."""
    n = load(spark, sf_dir, "nation")
    arr = F.array(
        F.struct(F.lit("self").alias("kind"), (F.col("n_nationkey") * 10).alias("code")),
        F.struct(F.lit("region").alias("kind"), (F.col("n_regionkey") * 100).alias("code")),
    )
    return n.select("n_nationkey", F.inline(arr))


@query(
    "func_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(30,8))), 4) AS DOUBLE) AS charged
    FROM lineitem GROUP BY l_returnflag
    """,
)
def func_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL UDFs (CREATE FUNCTION ... RETURN expr): business logic
    named once in pure SQL and composed (charged() calls disc_price()).
    Unlike Python UDFs these are inlined by the analyzer — the physical
    plan is identical to writing the expression inline, so they run in
    whole-stage codegen at full JVM speed; the right tool for shared
    expression libraries at 100 TB. Oracle inlines the same expressions."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN disc_price(p, d) * (1 + t)"
    )
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_udf")
    # the SQL UDFs appear by name inside the money sum, so the analyzer
    # still inlines them
    return spark.sql(
        f"""
        SELECT l_returnflag,
               {msum_sql('disc_price(l_extendedprice, l_discount)')} AS revenue,
               {msum_sql('charged(l_extendedprice, l_discount, l_tax)')} AS charged
        FROM li_udf GROUP BY l_returnflag
        """
    )


@query(
    "str_collation",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
                  ELSE CONCAT(UPPER(SUBSTRING(c_mktsegment, 1, 1)),
                              LOWER(SUBSTRING(c_mktsegment, 2))) END AS tag
      FROM customer
    )
    SELECT COUNT(DISTINCT tag) AS n_spellings,
           COUNT(DISTINCT LOWER(tag)) AS n_ci_distinct,
           CAST(SUM(CASE WHEN LOWER(tag) = 'building' THEN 1 ELSE 0 END) AS BIGINT) AS n_building_ci
    FROM t
    """,
)
def str_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: case-insensitive equality and DISTINCT via
    UTF8_LCASE, no lower() rewrites in user code. The mixed-case tag
    column (half the rows re-cased) collapses from 10 spellings to 5
    under the collation, and the CI comparison matches both casings.
    Collation-aware grouping keeps pushdown/codegen intact — the oracle
    states the same semantics with explicit LOWER()."""
    c = load(spark, sf_dir, "customer")
    tag = F.expr(
        "CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment "
        "ELSE CONCAT(UPPER(SUBSTRING(c_mktsegment, 1, 1)), LOWER(SUBSTRING(c_mktsegment, 2))) END"
    )
    return c.select(tag.alias("tag")).agg(
        F.countDistinct("tag").alias("n_spellings"),
        F.countDistinct(F.expr("COLLATE(tag, 'UTF8_LCASE')")).alias("n_ci_distinct"),
        F.sum(F.expr("CAST(tag = 'bUiLdInG' COLLATE UTF8_LCASE AS BIGINT)")).alias(
            "n_building_ci"
        ),
    )


@query(
    "str_mask",
    oracle="""
    SELECT c_custkey,
           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
             c_name || '#' || CAST(c_custkey AS VARCHAR),
             '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked
    FROM customer
    """,
)
def str_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in mask(): shape-preserving PII masking (upper→X, lower→x,
    digit→n, punctuation kept) — the display-layer complement of
    text_pii_redact's detect-and-replace. One codegen'd expression, no
    regex engine on the hot path; the oracle states the same transform
    as chained character-class replaces."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.mask(F.concat_ws("#", F.col("c_name"), F.col("c_custkey"))).alias("masked"),
    )


@query(
    "str_url_funcs",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/' || lang || '/doc/' ||
             doc_id || '?page=' || (n_chars % 7) || '&ref=home' AS url
      FROM documents
    )
    SELECT doc_id,
           REGEXP_EXTRACT(url, 'https://([^/]+)', 1) AS host,
           REGEXP_EXTRACT(url, 'https://[^/]+(/[^?]*)', 1) AS path,
           REGEXP_EXTRACT(url, '\\?(.*)$', 1) AS query,
           REGEXP_EXTRACT(url, 'page=([^&]*)', 1) AS page
    FROM u
    """,
)
def str_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url component extraction (HOST/PATH/QUERY and one query
    parameter) over URLs synthesized from document metadata — the
    canonicalization front-end of web-corpus dedup (group by host,
    strip tracking params). parse_url is a JVM-side expression, so the
    whole projection stays in codegen; the oracle states the same
    components as anchored regexes."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?page="), (F.col("n_chars") % 7).cast("string"), F.lit("&ref=home"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page"),
    )


@query(
    "explode_outer_nulls",
    oracle="""
    SELECT d.doc_id, u.long_word
    FROM documents d
    LEFT JOIN LATERAL (
      SELECT UNNEST(LIST_FILTER(STRING_SPLIT(d.text, ' '),
                                x -> LENGTH(x) > 6)) AS long_word
    ) u ON TRUE
    """,
)
def explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer null-preservation: docs whose filtered token array is
    EMPTY still emit one row with NULL — the left-join-shaped generator
    that keeps corpus coverage auditable (plain explode silently drops
    ~20% of docs here, and at scale that loss is invisible until row
    counts stop reconciling). The oracle states the same semantics as
    LEFT JOIN LATERAL UNNEST."""
    d = load(spark, sf_dir, "documents")
    long_words = F.filter(F.split("text", " "), lambda x: F.length(x) > 6)
    return d.select(
        "doc_id", F.explode_outer(long_words).alias("long_word")
    )


@query(
    "str_funcs2",
    oracle="""
    SELECT c_custkey,
           REVERSE(c_name) AS rev_name,
           REPEAT(c_mktsegment, 2) AS seg2,
           TRANSLATE(c_name, '#0', '_O') AS translated,
           LEFT(c_name, 8) AS l8,
           RIGHT(c_name, 3) AS r3,
           SPLIT_PART(c_name, '#', 2) AS name_num,
           CAST(LEVENSHTEIN(c_mktsegment, 'BUILDING') AS INT) AS seg_dist
    FROM customer
    """,
)
def str_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function batch: reverse / repeat / translate /
    left / right / split_part / levenshtein — all JVM expressions inside
    whole-stage codegen (the functions both engines define with identical
    semantics; initcap/overlay are excluded because DuckDB's dialect
    differs). Levenshtein against a constant is the fuzzy-matching
    primitive fuzzy_match_names builds on."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.reverse(F.col("c_name")).alias("rev_name"),
        F.repeat(F.col("c_mktsegment"), 2).alias("seg2"),
        F.translate(F.col("c_name"), "#0", "_O").alias("translated"),
        F.substring(F.col("c_name"), 1, 8).alias("l8"),
        F.substring(F.col("c_name"), -3, 3).alias("r3"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.levenshtein(F.col("c_mktsegment"), F.lit("BUILDING")).cast("int").alias("seg_dist"),
    )


@query(
    "str_regexp_all",
    oracle="""
    SELECT o_orderkey,
           ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(o_orderpriority, '[A-Z]+'), ',') AS words,
           CAST(LEN(REGEXP_EXTRACT_ALL(CAST(o_orderkey AS VARCHAR), '[0-9]')) AS INT) AS n_digits
    FROM orders
    """,
)
def str_regexp_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all: every match, not just the first — serialized
    to a canonical CSV string (the comparison gate hashes scalars, and
    downstream consumers get a deterministic layout). Patterns stay in
    the RE2∩Java common subset like str_regexp."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.array_join(
            F.regexp_extract_all(F.col("o_orderpriority"), F.lit("[A-Z]+"), 0), ","
        ).alias("words"),
        F.size(
            F.regexp_extract_all(F.col("o_orderkey").cast("string"), F.lit("[0-9]"), 0)
        ).cast("int").alias("n_digits"),
    )


@query(
    "str_printf",
    oracle="""
    SELECT o_orderkey,
           PRINTF('%s-%05d', o_orderstatus, o_orderkey) AS tag,
           PRINTF('%.2f', ROUND(o_totalprice, 2)) AS price_str
    FROM orders
    """,
)
def str_printf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """printf-style formatting (format_string is Spark's printf): stable
    key tags and fixed-point renderings — the deterministic string
    serialization layer for export files. The float is rounded BEFORE
    formatting so %.2f renders the same shortest-repr double in both
    engines (printf'ing a raw double would expose binary-repr tails)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.format_string("%s-%05d", F.col("o_orderstatus"), F.col("o_orderkey")).alias(
            "tag"
        ),
        F.format_string("%.2f", F.round(F.col("o_totalprice"), 2)).alias("price_str"),
    )


@query(
    "variant_funcs",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k,
           {sql_r4("AVG(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT))")} AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: props parses once
    into the binary variant encoding (parse_json) and fields extract with
    variant_get — the engine's answer to open-schema JSON columns at
    scale, where VARIANT's shredded binary layout skips per-row text
    re-parsing and (on sources that support it) pushes field access into
    the scan. Aggregated per event type so the oracle (classic JSON text
    extraction — DuckDB has no variant) checks exact counts/extrema plus
    the r4 mean of extracted ints."""
    e = load(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            r4(F.avg("k")).alias("avg_k"),
        )
    )


@query(
    "xml_funcs",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(30,8)), 2) AS DOUBLE) AS total
    FROM orders
    """,
)
def xml_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest round-trip (Spark 4 from_xml): each order renders to an
    XML record — the format legacy extract feeds often arrive in — and is
    parsed back through a declared schema, proving the schema-on-read XML
    path without an external fixture. Money rides as a 2dp-formatted
    string, re-parsed and decimal-rounded, so the oracle (the same
    decimal rounding of the source column) is exact; the render+parse is
    per-row expression work in the scan stage, no shuffle at all."""
    o = load(spark, sf_dir, "orders")
    xml = o.select(
        F.format_string(
            "<order><key>%d</key><status>%s</status><total>%.2f</total></order>",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            # for 2dp-exact money, ROUND(CAST(v AS DEC(30,8)), 2)::DOUBLE
            # is v itself: the exact 2dp mantissa round-trip
            # (k = round-half-away(v·100); k/100.0 is the one correctly
            # rounded double = v), codegen long math instead of a per-row
            # double→BigDecimal parse. Margin argument: catalog.msum_sql's
            # at the 2dp grid (tie distance 0.5 vs ≤1e-7 units of error).
            (
                (
                    F.col("o_totalprice") * 100
                    + F.when(F.col("o_totalprice") >= 0, F.lit(0.5)).otherwise(
                        F.lit(-0.5)
                    )
                ).cast("bigint")
                / 100.0
            ).cast("double"),
        ).alias("record")
    )
    parsed = xml.select(
        F.from_xml(
            "record", "key BIGINT, status STRING, total DOUBLE"
        ).alias("r")
    )
    return parsed.select(
        F.col("r.key").alias("o_orderkey"),
        F.col("r.status").alias("o_orderstatus"),
        F.col("r.total").alias("total"),
    )


@query(
    "arr_exists_forall",
    oracle="""
    SELECT vec_id,
           LEN(LIST_FILTER(embedding, x -> CAST(x AS DOUBLE) < 0)) > 0 AS has_neg,
           LEN(LIST_FILTER(embedding,
               x -> NOT (ABS(CAST(x AS DOUBLE)) < 1.0))) = 0 AS all_unit,
           CAST(LEN(LIST_FILTER(embedding, x -> CAST(x AS DOUBLE) < 0)) AS INT)
             AS n_neg
    FROM embeddings
    """,
)
def arr_exists_forall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array quantifier predicates — `exists` (∃) and `forall` (∀) lambdas
    plus a filtered count, the complement of transform/aggregate in
    arr_higher_order. All three evaluate scan-side per row with no
    shuffle; DuckDB spells the quantifiers as LIST_FILTER length tests
    (semantically identical on non-null elements, which the embedding
    fixture guarantees)."""
    e = load(spark, sf_dir, "embeddings")
    neg = lambda x: x.cast("double") < 0  # noqa: E731
    return e.select(
        "vec_id",
        F.exists("embedding", neg).alias("has_neg"),
        F.forall("embedding", lambda x: F.abs(x.cast("double")) < 1.0).alias("all_unit"),
        F.size(F.filter("embedding", neg)).alias("n_neg"),
    )
