"""File sources & sinks beyond parquet (SURVEY.md §2.1).

The reference's migration story is "extract → transform → land columnar on
object storage" (/root/reference/README.md:3,7). These operators exercise the
ingest (CSV/JSON with explicit schemas — no inference in core paths, for
determinism) and the landing side (partitioned parquet write + readback,
the S3-landing step run locally). Scratch output goes under the repo's
.scratch/ dir, keyed by scale factor, overwritten idempotently.

At 100 TB the partitioned sink is the lever that makes every later read
cheap: partitionBy(low-cardinality key) → dynamic partition pruning on
readers filtering that key.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from atlas_migration_repo_spark.catalog import as_date, load, msum
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


def scratch_path(sf_dir: str, key: str) -> str:
    return os.path.join(_SCRATCH, os.path.basename(sf_dir.rstrip("/")), key)


def file_path_col():
    """Each row's source file as a percent-DECODED filesystem path.

    `_metadata.file_path` is a Hadoop URI: the slash count after the
    scheme varies by filesystem (file:/, file://, file:///) and special
    characters are %-encoded — a hive partition dir like
    `p=4-NOT SPECIFIED` surfaces as `p=4-NOT%20SPECIFIED`. Joining the
    raw URI against os.path-built keys therefore SILENTLY DROPS every
    row of such files (an inner join with zero matches, caught by the
    delta_merge_partitioned oracle). A literal '+' is protected before
    url_decode, whose form-decoding would otherwise turn it into a
    space."""
    p = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
    return F.url_decode(F.regexp_replace(p, r"\+", "%2B"))


def attach_partition_values(
    spark: SparkSession,
    df: DataFrame,
    file_values: list[tuple],
    pcols: list[str],
    ptypes: dict[str, T.DataType],
    file_col: str | None = None,
) -> DataFrame:
    """Attach partition columns to rows scanned from a table's data files.

    `file_values` holds one `(absolute path, value string per pcol)` tuple
    per file, built by each format from its own metadata; the layout on
    disk is never trusted. One broadcast join on the row's source file
    (a file-count-sized map side) brings the strings in, and each is cast
    to `ptypes[c]`, replacing any column of that name in `df`.
    `file_col` names a column of `df` that already holds the decoded
    file path (needed once `_metadata` is projected away); it is
    consumed by the join. No-op without partition columns."""
    if not pcols:
        return df
    pv_schema = T.StructType(
        [T.StructField("__pv_file", T.StringType())]
        + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols]
    )
    if file_col:
        out = df.withColumnRenamed(file_col, "__pv_file")
    else:
        out = df.withColumn("__pv_file", file_path_col())
    out = out.join(
        F.broadcast(spark.createDataFrame(file_values, pv_schema)), "__pv_file"
    )
    # one withColumn per column: withColumns converts its name and column
    # lists through extra py4j calls (measured: +30 per traced Delta pass)
    for c in pcols:
        out = out.withColumn(c, F.col(f"__pv_{c}").cast(ptypes[c]))
    return out.drop("__pv_file", *[f"__pv_{c}" for c in pcols])


def table_file_source(
    name: str,
    ddl: str,
    latest: Callable[[str], object],
    added: Callable[[str, object, object], list[tuple[str, dict]]],
) -> type:
    """A Python stream source over the data files a table's commits add.

    One source class serves every table format; `name` is the format
    name it registers under and the `path` option names the table root.
    The offset is the format's own commit counter: `latest(root)`
    returns the newest one (None for an empty table), and
    `added(root, lo, hi)` returns `(path, constant columns)` for each
    file added in `(lo, hi]`, where `lo` is None on the first batch.
    `added` also owns the format's append-only guard: it raises on
    history a file stream cannot express. Each file is one partition,
    read on the executor with pyarrow and yielded as `RecordBatch`es of
    the `ddl` schema: the file's columns plus the constants (e.g.
    `_change_type` and `_commit_version` of change-feed inserts).
    Offsets commit through the standard offset log, so a restarted
    query replays only uncommitted commits."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class Partition(InputPartition):
        def __init__(self, path: str, constants: dict) -> None:
            self.path = path
            self.constants = constants

    class Reader(DataSourceStreamReader):
        def __init__(self, options, schema) -> None:
            self.root = options["path"]
            self.schema = schema

        def initialOffset(self):
            return {"at": None}

        def latestOffset(self):
            return {"at": latest(self.root)}

        def partitions(self, start, end):
            if end["at"] == start["at"]:
                return []
            return [
                Partition(p, c) for p, c in added(self.root, start["at"], end["at"])
            ]

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema

            out = to_arrow_schema(self.schema)
            consts = partition.constants
            tbl = pq.read_table(
                partition.path, columns=[n for n in out.names if n not in consts]
            )
            for n in out.names:
                if n in consts:
                    tbl = tbl.append_column(
                        n, pa.repeat(pa.scalar(consts[n]), tbl.num_rows)
                    )
            yield from tbl.select(out.names).cast(out).to_batches()

    class Source(DataSource):
        @classmethod
        def name(cls) -> str:
            return name

        def schema(self) -> str:
            return ddl

        def streamReader(self, schema) -> DataSourceStreamReader:
            return Reader(self.options, schema)

    return Source


def table_file_stream(
    spark: SparkSession,
    name: str,
    root: str,
    ddl: str,
    latest: Callable[[str], object],
    added: Callable[[str, object, object], list[tuple[str, dict]]],
) -> DataFrame:
    """Register `table_file_source(name, ddl, latest, added)` and return
    the streaming DataFrame over the table at `root`."""
    spark.dataSource.register(table_file_source(name, ddl, latest, added))
    return spark.readStream.format(name).option("path", root).load()


@query("source_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with an explicit schema: parquet → CSV → read back.
    Int/string columns round-trip exactly, so the oracle is the source table."""
    path = scratch_path(sf_dir, "nation_csv")
    load(spark, sf_dir, "nation").write.mode("overwrite").option("header", "true").csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).option("header", "true").csv(path)


@query("source_json", oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer")
def source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest with explicit schema (no inference pass)."""
    path = scratch_path(sf_dir, "customer_json")
    load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment").write.mode(
        "overwrite"
    ).json(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@query(
    "sink_parquet_partitioned",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {sql_msum('l_extendedprice')} AS sum_price
    FROM lineitem
    WHERE l_quantity >= 45
    GROUP BY l_returnflag
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet landing (the migration's 'land on S3' step run
    locally): write partitionBy(l_returnflag), re-read, aggregate per
    partition — verifies both data fidelity and partition-column recovery."""
    path = scratch_path(sf_dir, "lineitem_by_flag")
    (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        msum(F.col("l_extendedprice")).alias("sum_price"),
    )


@query("source_orc", oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: parquet → ORC → read back (the second columnar
    format of the landing layer; int/string/double survive exactly)."""
    path = scratch_path(sf_dir, "supplier_orc")
    load(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "join_bucketed",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {sql_msum('l_extendedprice')} AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_totalprice > 250000
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables — the 100 TB fact⋈fact answer.

    Both sides are bucketed by the join key into the warehouse; the join
    then needs NO exchange on either side (verified in tests: zero
    Exchange operators above the scans). At scale this turns the single
    most expensive shuffle in the pipeline into a metadata decision made
    once at write time."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    to, tl = f"orders_b_{tag}", f"lineitem_b_{tag}"
    # the in-memory catalog is per-session but spark-warehouse/ persists:
    # drop any stale table AND its leftover location before rewriting
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (to, tl):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 250000)
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(to)
    )
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(tl)
    )
    o, li = spark.table(to), spark.table(tl)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            msum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@query(
    "sink_compacted",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value')} AS sum_value
    FROM events GROUP BY event_type
    """,
)
def sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: rewrite the events table into a fixed
    number of right-sized parquet files (repartition before write), then
    aggregate the compacted copy — values must round-trip exactly. At
    scale the partition count comes from bytes/target-file-size (or AQE's
    coalescePartitions on the write exchange) and maxRecordsPerFile caps
    stragglers; compaction is THE defense against the many-small-files
    metadata tax on 100 TB object stores."""
    path = scratch_path(sf_dir, "events_compacted")
    shutil.rmtree(path, ignore_errors=True)
    (
        load(spark, sf_dir, "events")
        .repartition(2)
        .write.option("maxRecordsPerFile", 500000)
        .mode("overwrite")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), msum(F.col("value")).alias("sum_value"))
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey < 13 THEN NULL
                ELSE n_regionkey * 100 END AS extended_code
    FROM nation
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches of the same logical
    table — an old batch missing a column and a new batch carrying it —
    unified by mergeSchema=true; the missing column null-fills. This is
    the source-added-a-field migration case: no rewrite of landed data,
    the reader reconciles. At scale prefer declared schemas + explicit
    evolution over per-query footer merging (mergeSchema scans every
    file's footer)."""
    n = load(spark, sf_dir, "nation")
    base = scratch_path(sf_dir, "nation_evolved")
    shutil.rmtree(base, ignore_errors=True)
    old = n.where(F.col("n_nationkey") < 13).select("n_nationkey", "n_name")
    new = n.where(F.col("n_nationkey") >= 13).select(
        "n_nationkey",
        "n_name",
        (F.col("n_regionkey") * 100).alias("extended_code"),
    )
    old.write.parquet(os.path.join(base, "batch=0"))
    new.write.parquet(os.path.join(base, "batch=1"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(base)
        .select("n_nationkey", "n_name", "extended_code")
    )


@query(
    "source_json_corrupt",
    oracle=f"""
    SELECT CAST(COUNT(CASE WHEN c_custkey % 50 <> 0 THEN 1 END) AS BIGINT) AS n_good,
           CAST(COUNT(CASE WHEN c_custkey % 50 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
           {sql_msum('CASE WHEN c_custkey % 50 <> 0 THEN c_acctbal END')} AS good_acctbal
    FROM customer
    """,
)
def source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on JSON ingest: every 50th record is
    corrupted before landing; the PERMISSIVE reader null-fills those rows
    and captures the raw line in a corrupt-record column, and the query
    audits good/corrupt counts plus a checksum over the surviving rows.
    This is the quarantine pattern for a production extract — bad records
    are counted and kept inspectable, never silently dropped, and the
    stream keeps flowing."""
    c = load(spark, sf_dir, "customer")
    path = scratch_path(sf_dir, "customer_json_corrupt")
    line = F.when(
        F.col("c_custkey") % 50 == 0,
        F.concat(F.lit("{broken::"), F.col("c_custkey").cast("string")),
    ).otherwise(F.to_json(F.struct("c_custkey", "c_name", "c_acctbal")))
    c.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count("_corrupt").alias("n_corrupt"),
        msum(F.col("c_acctbal")).alias("good_acctbal"),
    )


@query(
    "join_dpp",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_msum('value')} AS value_sum
    FROM events
    WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-03'
    GROUP BY event_type
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: events landed partitioned by day, then
    joined to a small filtered day dimension — Spark injects the dim's
    day values as a runtime partition filter on the fact scan, so only
    3 of 30 day-partitions are read (the star-schema scan-killer at
    100 TB; verified by plan assertion in tests). The fixture's earliest
    day is 2024-01-01, so the oracle's static 3-day predicate matches
    the dim exactly."""
    path = scratch_path(sf_dir, "events_by_day")
    ev = load(spark, sf_dir, "events")
    ev.withColumn("day", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        spark.range(30)
        .select(F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("day"))
        .where(F.col("day") <= "2024-01-03")
    )
    return (
        fact.join(dim, "day")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), msum(F.col("value")).alias("value_sum"))
    )


PAGED_ROWS = 1000
PAGED_PAGE_SIZE = 250


@query(
    "source_python_ds",
    oracle=f"""
    SELECT CAST(i // {PAGED_PAGE_SIZE} AS INT) AS page,
           COUNT(*) AS n,
           SUM((i * 37) % 1000 / 4.0) AS amount_sum
    FROM RANGE({PAGED_ROWS}) t(i)
    GROUP BY 1
    """,
)
def source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python Data Source API — the
    idiomatic home for the reference's Salesforce extract boundary: a
    REST-paged source becomes one InputPartition per page, so pages pull
    in parallel across executors with no driver loop. This one emits a
    deterministic synthetic feed (id, page, amount); a real SOQL
    connector swaps the row generator for an HTTP page fetch and keeps
    the exact same partition-per-page shape (amounts are exact binary
    quarters, so the sum needs no float policy)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class PagedReader(DataSourceReader):
        def __init__(self, options):
            self.rows = int(options.get("rows", str(PAGED_ROWS)))
            self.page_size = int(options.get("page_size", str(PAGED_PAGE_SIZE)))

        def partitions(self):
            n_pages = -(-self.rows // self.page_size)
            return [InputPartition(p) for p in range(n_pages)]

        def read(self, partition):
            page = partition.value
            start = page * self.page_size
            for i in range(start, min(start + self.page_size, self.rows)):
                yield (i, page, (i * 37) % 1000 / 4.0)

    class PagedExtractSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "paged_extract"

        def schema(self) -> str:
            return "id bigint, page int, amount double"

        def reader(self, schema) -> DataSourceReader:
            return PagedReader(self.options)

    spark.dataSource.register(PagedExtractSource)
    feed = (
        spark.read.format("paged_extract")
        .option("rows", str(PAGED_ROWS))
        .option("page_size", str(PAGED_PAGE_SIZE))
        .load()
    )
    return feed.groupBy("page").agg(
        F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amount_sum")
    )


# small so the split shows even at sf0.001 (~450 rows/flag); a real
# deployment sizes this to ~128 MB of encoded rows
SORTED_SINK_MAX_RECORDS = 200


@query(
    "sink_sorted_files",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {sql_msum('l_extendedprice')} AS sum_price
    FROM lineitem WHERE l_quantity >= 40
    GROUP BY l_returnflag
    """,
)
def sink_sorted_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruning-friendly file layout: repartition by the partition column,
    sortWithinPartitions on the probe column (ship date), and cap file
    size with maxRecordsPerFile. Each emitted file then covers a tight,
    non-overlapping ship-date range (verified by a unit test on the
    parquet footers' implied min/max), so a date-range query at 100 TB
    skips whole files on row-group statistics — the poor man's Z-order,
    free at write time. The oracle checks data fidelity through the
    round-trip."""
    path = scratch_path(sf_dir, "lineitem_sorted")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 40)
    (
        li.repartition("l_returnflag")
        .sortWithinPartitions("l_returnflag", "l_shipdate", "l_orderkey")
        .write.option("maxRecordsPerFile", SORTED_SINK_MAX_RECORDS)
        .mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), msum(F.col("l_extendedprice")).alias("sum_price")
    )


STREAM_PAGES = 4
STREAM_PAGE_SIZE = 100


@query(
    "source_python_stream",
    oracle=f"""
    SELECT CAST(i // {STREAM_PAGE_SIZE} AS INT) AS page,
           COUNT(*) AS n,
           SUM((i * 37) % 1000 / 4.0) AS amount_sum
    FROM RANGE({STREAM_PAGES * STREAM_PAGE_SIZE}) t(i)
    GROUP BY 1
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of source_python_ds: a Python Data Source
    SimpleDataSourceStreamReader whose offset IS the page cursor — each
    micro-batch pulls the next page, exactly the polling CDC-extract
    loop the reference schedules (offset checkpointing gives exactly-once
    page delivery; readBetweenOffsets replays on recovery). The feed is
    finite here (offset stops advancing when pages are exhausted), and
    the complete-mode aggregate over the drained stream must equal the
    batch computation over the same id range — exact, since amounts are
    binary quarters."""
    import time

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    def _page_rows(p: int):
        return [
            (i, p, (i * 37) % 1000 / 4.0)
            for i in range(p * STREAM_PAGE_SIZE, (p + 1) * STREAM_PAGE_SIZE)
        ]

    class FeedReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.total_pages = int(options.get("pages", str(STREAM_PAGES)))

        def initialOffset(self):
            return {"page": 0}

        def read(self, start):
            p = start["page"]
            if p >= self.total_pages:
                return iter([]), {"page": p}
            return iter(_page_rows(p)), {"page": p + 1}

        def readBetweenOffsets(self, start, end):
            return iter(
                [r for p in range(start["page"], end["page"]) for r in _page_rows(p)]
            )

    class PagedStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "paged_stream"

        def schema(self) -> str:
            return "id bigint, page int, amount double"

        def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
            return FeedReader(self.options)

    spark.dataSource.register(PagedStreamSource)
    sink = "paged_stream_sink"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            spark.readStream.format("paged_stream")
            .option("pages", str(STREAM_PAGES))
            .load()
            .groupBy("page")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amount_sum"))
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            # polled, not availableNow: on a SimpleDataSourceStreamReader
            # availableNow stops after the first page (measured: 1 of 5)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        deadline = time.time() + 90
        while time.time() < deadline:
            rows = spark.sql(f"SELECT SUM(n) AS t FROM {sink}").collect()
            if rows and rows[0]["t"] == STREAM_PAGES * STREAM_PAGE_SIZE:
                break
            time.sleep(1)
        else:
            raise TimeoutError("paged stream did not drain within 90s")
        q.stop()
        q.awaitTermination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


@query("source_xml", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML round-trip (built into Spark 4 — no external package):
    nation → XML documents → read back with an explicit schema (no
    inference pass, same determinism rule as CSV/JSON ingest). XML is
    the interchange format legacy enterprise sources actually emit, so
    the landing layer must read it; int/string survive the text
    round-trip exactly."""
    path = scratch_path(sf_dir, "nation_xml")
    (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(path)
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(path)
    )


@query(
    "sink_compressed",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sql_msum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec selection at the landing layer: the same table written with
    zstd (higher ratio, the cold-storage default) and snappy (faster,
    the hot-path default); the query reads the zstd copy back and must
    round-trip exactly. A unit test asserts the zstd files are smaller —
    at 100 TB the codec choice is a double-digit storage/egress
    percentage, chosen per table temperature."""
    o = load(spark, sf_dir, "orders")
    for codec in ("zstd", "snappy"):
        (
            o.write.mode("overwrite")
            .option("compression", codec)
            .parquet(scratch_path(sf_dir, f"orders_{codec}"))
        )
    back = spark.read.parquet(scratch_path(sf_dir, "orders_zstd"))
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), msum(F.col("o_totalprice")).alias("total")
    )


# Morton (Z-order) interleave of two 16-bit dimensions, unrolled to a
# 32-term integer sum (bit i of a → bit 2i, bit i of b → bit 2i+1).
# Dimensions are first min-max-normalized to the full 16-bit range —
# without that, a narrow dimension contributes only low-order z bits and
# coarse z splits degenerate to single-column clustering. All integer
# arithmetic, exact in both engines, so the same term list is rendered
# per dialect and hashes identically.
def _z_terms(shift_fmt: str) -> str:
    terms = []
    for i in range(16):
        terms.append(f"({shift_fmt.format(col='a_s', i=i)}) * {4 ** i}")
        terms.append(f"({shift_fmt.format(col='b_s', i=i)}) * {2 * 4 ** i}")
    return " + ".join(terms)


def zorder_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with both z dimensions normalized to 0..65535 and the
    interleaved zval — shared by the zorder_cluster query and the
    file-layout skipping test."""
    o = load(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_custkey").alias("a"),
        F.datediff(as_date(F.col("o_orderdate")), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("b"),
    )
    stats = d.agg(
        F.min("a").alias("amin"),
        F.max("a").alias("amax"),
        F.min("b").alias("bmin"),
        F.max("b").alias("bmax"),
    )
    n = d.crossJoin(F.broadcast(stats)).select(
        "a",
        "b",
        F.expr("((a - amin) * 65535) DIV greatest(1, amax - amin)").alias("a_s"),
        F.expr("((b - bmin) * 65535) DIV greatest(1, bmax - bmin)").alias("b_s"),
    )
    return n.select(
        "a", "b", "a_s", "b_s", F.expr(_z_terms("shiftright({col}, {i}) & 1")).alias("zval")
    )


@query(
    "zorder_cluster",
    oracle=f"""
    WITH d AS (
      SELECT o_custkey AS a,
             DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS b
      FROM orders
    ),
    st AS (SELECT MIN(a) AS amin, MAX(a) AS amax, MIN(b) AS bmin, MAX(b) AS bmax FROM d),
    nr AS (
      SELECT a, b,
             ((a - amin) * 65535) // GREATEST(1, amax - amin) AS a_s,
             ((b - bmin) * 65535) // GREATEST(1, bmax - bmin) AS b_s
      FROM d CROSS JOIN st
    ),
    z AS (SELECT a, b, {_z_terms('({col} >> {i}) & 1')} AS zval FROM nr)
    SELECT zval >> 24 AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(a) AS min_cust, MAX(a) AS max_cust,
           MIN(b) AS min_day, MAX(b) AS max_day
    FROM z GROUP BY zval >> 24
    """,
)
def zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering — the OPTIMIZE ZORDER BY equivalent
    for multi-dimensional data skipping on plain parquet: min-max
    normalize (customer, order-day) to a common 16-bit range, interleave
    their bits, and sort/bucket by the single z-value so BOTH dimensions
    stay locally bounded in every file — parquet min-max footers then
    prune scans for predicates on either column. This query groups by
    the top-8-bit z prefix and returns each bucket's per-dim envelope;
    the unit test writes a z-range-partitioned layout and asserts both
    envelopes shrink. The stats pass is one tiny broadcast; the sort is
    the only shuffle — exactly a table OPTIMIZE's cost shape at 100 TB."""
    z = zorder_frame(spark, sf_dir)
    return z.groupBy(F.expr("shiftright(zval, 24)").alias("zbucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("a").alias("min_cust"),
        F.max("a").alias("max_cust"),
        F.min("b").alias("min_day"),
        F.max("b").alias("max_day"),
    )


@query(
    "source_text_lines",
    oracle="""
    SELECT ('[' || CAST(event_id AS VARCHAR) || '] ' || event_type) AS line
    FROM events
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line source: render one line per event, land as .txt,
    read back with spark.read.text — the log-file ingestion path (each
    line arrives as a single `value` column for downstream regex/split
    parsing). Line files split on newlines, so a 100 TB log directory
    parallelizes by file and by HDFS block like any other source."""
    path = scratch_path(sf_dir, "events_text")
    ev = load(spark, sf_dir, "events").select(
        F.concat(F.lit("["), F.col("event_id").cast("string"), F.lit("] "), F.col("event_type")).alias("value")
    )
    ev.write.mode("overwrite").text(path)
    return spark.read.text(path).select(F.col("value").alias("line"))


@query(
    "sink_jsonl",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price2
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def sink_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + readback with explicit schema — the interchange
    format every downstream tokenizer/labeler pipeline accepts. Doubles
    are rounded BEFORE serialization (JSON round-trips shortest-repr
    doubles exactly, but the policy keeps the landed file hash-stable);
    the filter pushes into the parquet scan before the write."""
    path = scratch_path(sf_dir, "orders_jsonl")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice"), 2).alias("price2"),
    )
    o.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("price2", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@query(
    "sink_csv_quoted",
    oracle="""
    SELECT n_nationkey,
           (n_name || ', officially "' || n_name || '"
line two') AS tricky
    FROM nation
    """,
)
def sink_csv_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip of hostile values: embedded delimiters, double
    quotes, and newlines — the cells that corrupt naive CSV pipelines.
    Written with quoting+escaping on (multiLine read restores embedded
    newlines) and compared against the pre-serialization expression, so
    the oracle certifies the round-trip is lossless, not merely that a
    file appeared."""
    path = scratch_path(sf_dir, "nation_csv_quoted")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.concat(
            F.col("n_name"),
            F.lit(', officially "'),
            F.col("n_name"),
            F.lit('"\nline two'),
        ).alias("tricky"),
    )
    n.write.mode("overwrite").option("header", "true").option("quoteAll", "true").option(
        "escape", '"'
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("tricky", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )
