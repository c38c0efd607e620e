"""SparkSession factory.

One session per process; UTC everywhere (oracle comparability — SURVEY.md §5.4),
AQE on (runtime re-plan: skew joins, partition coalescing, broadcast promotion),
Arrow on (pandas UDF fast path). ``shuffle_partitions`` defaults small for
local fixture scale; on a real cluster set it ≈ 2-3× total cores or rely on
AQE coalescing from a higher initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "atlas-migration-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Env overrides: SPARK_GRAFT_CPUS → local[N], SPARK_GRAFT_SHUFFLE →
    spark.sql.shuffle.partitions, SPARK_GRAFT_DRIVER_MEM →
    spark.driver.memory; defaults tuned for the local[*] test box while
    staying valid on a 1000-executor cluster (everything here is
    per-session config, not hardware assumptions).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4.x refuses TIMESTAMP(NANOS) parquet (PARQUET_TYPE_ILLEGAL)
        # unless ns is surfaced as a raw long; catalog.load("events") then
        # converts ns → µs TimestampType (floor), matching DuckDB's CAST
        # to TIMESTAMP semantics.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime bloom-filter semi-join reduction: when one join side is
        # selectively filtered, Catalyst builds a bloom filter from it and
        # pushes might_contain onto the other side's scan — at 100 TB this
        # prunes shuffle input by orders of magnitude. Thresholds are left
        # at defaults (10MB creation side); tests/test_operators.py proves
        # the injection fires by lowering them on a fixture join.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Arrow batch size for mapInPandas/pandas-UDF stages: 64k rows per
        # batch amortizes the Python-side dispatch ~6× better than the 10k
        # default on the vector-scoring paths (measured: sim_knn_join at
        # sf0.1 1.23s → 0.89s). Executors budget ~batch × row-width bytes;
        # at 100 TB the same number rides on normally-sized executors.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Push MIN/MAX/COUNT straight to parquet footer statistics when a
        # plan is a bare unfiltered aggregate — row groups are skipped
        # entirely (the 100 TB "SELECT COUNT(*)" should never scan data).
        .config("spark.sql.parquet.aggregatePushDown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Origin capture: ~10 py4j trips/call + IPython import; errors lose only file:line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Codegen LRU (default 100): an olap_llm pass cycles 103-131 classes, 14 bench keys ~215; 0 = off.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM (Spark's CodegenMetrics);
    a repeat run whose classes sit in the codegen cache adds none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
