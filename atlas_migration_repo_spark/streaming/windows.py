"""Streaming window operators (SURVEY.md §2.9): tumbling, sliding, and
session event-time windows, watermarked append, and streaming dedup.

State management at scale: every aggregation below keys its state by
(window × low-cardinality dims) or (user × session), and the watermarked
variants bound state size by event time — the properties that keep a
1000-executor streaming job's RocksDB stores from growing without limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import msum, r4
from atlas_migration_repo_spark.oracle import sql_msum
from atlas_migration_repo_spark.registry import query
from atlas_migration_repo_spark.streaming.harness import ntz_ts, run_to_table, wm_ts


@query(
    "stream_tumbling",
    tags=("bench",),
    oracle=f"""
    SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_msum('value')} AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows per event type (availableNow
    drain ≡ batch hourly buckets — the oracle)."""

    def build(src: DataFrame) -> DataFrame:
        return (
            src.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), msum("value").alias("value_sum"))
            .select(
                F.col("window.start").alias("window_start"), "event_type", "n", "value_sum"
            )
        )

    return run_to_table(spark, sf_dir, "stream_tumbling", build)


@query(
    "stream_sliding",
    oracle=f"""
    WITH starts AS (
      SELECT *, UNNEST([
        TIME_BUCKET(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP)),
        TIME_BUCKET(INTERVAL 30 MINUTES, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTES
      ]) AS window_start
      FROM events
    )
    SELECT window_start, COUNT(*) AS n, {sql_msum('value')} AS value_sum
    FROM starts
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (each event lands in exactly 2
    windows; the oracle materializes both membership rows per event)."""

    def build(src: DataFrame) -> DataFrame:
        return (
            src.groupBy(F.window("ts", "1 hour", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n"), msum("value").alias("value_sum"))
            .select(F.col("window.start").alias("window_start"), "n", "value_sum")
        )

    return run_to_table(spark, sf_dir, "stream_sliding", build)


@query(
    "stream_session",
    oracle="""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       > INTERVAL 30 MINUTES
                  OR LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    tagged AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_event,
           COUNT(*) AS n_events
    FROM tagged
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap (oracle is
    the batch gaps-and-islands formulation)."""

    def build(src: DataFrame) -> DataFrame:
        return (
            src.withColumn("ts", wm_ts("ts"))  # watermark needs LTZ
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_event"))
            .select(
                "user_id",
                ntz_ts(F.col("session_window.start")).alias("session_start"),
                ntz_ts("last_event").alias("last_event"),
                "n_events",
            )
        )

    return run_to_table(spark, sf_dir, "stream_session", build)


@query(
    "stream_watermark",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mts FROM events)
    SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           COUNT(*) AS n
    FROM events, mx
    GROUP BY 1, mx.mts
    HAVING DATE_TRUNC('hour', ANY_VALUE(CAST(ts AS TIMESTAMP))) + INTERVAL 1 HOUR
           <= mx.mts - INTERVAL 10 MINUTES
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append mode: only windows finalized by the watermark
    (max event time - 10 min) are emitted; the trailing open window is
    withheld. The oracle reproduces the finalization rule in batch SQL."""

    def build(src: DataFrame) -> DataFrame:
        return (
            src.withColumn("ts", wm_ts("ts"))  # watermark needs LTZ
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(ntz_ts(F.col("window.start")).alias("window_start"), "n")
        )

    return run_to_table(spark, sf_dir, "stream_watermark", build, output_mode="append")


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: first occurrence per (user_id, event_type) within
    the watermark; projected to the key so the result is order-independent
    (which event arrives 'first' is a processing detail)."""

    def build(src: DataFrame) -> DataFrame:
        return (
            src.withColumn("ts", wm_ts("ts"))  # watermark needs LTZ
            .withWatermark("ts", "1 hour")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    return run_to_table(spark, sf_dir, "stream_dedup", build, output_mode="append")


@query(
    "stream_global_agg",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_msum('value')} AS value_sum
    FROM events GROUP BY event_type
    """,
)
def stream_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unwindowed streaming aggregate in complete output mode — the
    running-totals dashboard shape. State is one row per event_type (5
    keys), updated incrementally per micro-batch; the availableNow drain
    must equal the batch GROUP BY exactly (decimal money-sum state is
    order-independent, so parity is exact, not approximate)."""

    def build(src: DataFrame) -> DataFrame:
        return src.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), msum("value").alias("value_sum")
        )

    return run_to_table(spark, sf_dir, "stream_global_agg", build)


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH ends AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(ts AS TIMESTAMP)
             + (CASE WHEN event_type = 'error' THEN INTERVAL 5 MINUTES
                     ELSE INTERVAL 30 MINUTES END) AS win_end
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN MAX(win_end) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND 1 PRECEDING) IS NULL
                    OR ts >= MAX(win_end) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id
                                                ROWS BETWEEN UNBOUNDED PRECEDING
                                                         AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_session
      FROM ends
    ),
    tagged AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM tagged GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DATA-DEPENDENT gap: an error shortens the
    inactivity timeout to 5 minutes (fail fast), anything else keeps the
    30-minute default — session_window accepts a Column gap expression,
    which is the point: the state machine's timeout policy lives in the
    query, not in code. The oracle replays Spark's exact merge rule as
    batch interval-merging: each event owns [ts, ts+gap), and a new
    session starts iff the event's ts reaches the running MAX of all
    previous window ends (not just the previous event's — an earlier
    long-gap event can bridge past a short-gap one)."""

    def build(src: DataFrame) -> DataFrame:
        gap = F.when(F.col("event_type") == "error", F.lit("5 minutes")).otherwise(
            F.lit("30 minutes")
        )
        return (
            src.withColumn("ts", wm_ts("ts"))  # session_window state needs LTZ
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", gap), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                ntz_ts(F.col("session_window.start")).alias("session_start"),
                "n_events",
            )
        )

    return run_to_table(spark, sf_dir, "stream_session_dynamic_gap", build)
