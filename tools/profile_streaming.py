#!/usr/bin/env python
"""stream_tumbling floor profiler (VERDICT r10 "next" #7): decompose the
query's wall into (a) the full streaming drain, (b) the identical
aggregation as a plain batch plan, (c) a pass-through streaming drain of
the same source (micro-batch machinery + scan, no stateful agg), and
(d) a 1-row rate-source drain (machinery alone, no parquet, no state).

Usage: python tools/profile_streaming.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import msum
from atlas_migration_repo_spark.registry import QUERIES, load_all_modules
from atlas_migration_repo_spark.session import get_spark
from atlas_migration_repo_spark.streaming.harness import read_events_stream


def drain(df, name, mode="complete"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    load_all_modules()
    spark = get_spark(app_name="profile-streaming")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warmups: batch + python worker + streaming machinery
    noop(QUERIES["agg_pricing_summary"].fn(spark, sf_dir))
    noop(QUERIES["stream_tumbling"].fn(spark, sf_dir))

    timings: dict[str, list[float]] = {}

    def rec(tag, fn):
        t0 = time.perf_counter()
        fn()
        timings.setdefault(tag, []).append(round(time.perf_counter() - t0, 3))

    for i in range(reps):
        # (a) the full query as benched
        rec("a_full_stream_tumbling", lambda: noop(QUERIES["stream_tumbling"].fn(spark, sf_dir)))

        # (b) identical aggregation, batch plan, batch scan of the same file
        def batch():
            src = spark.read.schema(
                read_events_stream(spark, sf_dir).schema
            ).option("pathGlobFilter", "events.parquet").parquet(sf_dir)
            out = (
                src.groupBy(F.window("ts", "1 hour"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"), msum("value").alias("value_sum"))
                .select(F.col("window.start").alias("window_start"), "event_type", "n", "value_sum")
            )
            noop(out)

        rec("b_same_agg_batch", batch)

        # (c) stateless pass-through drain of the same streaming source
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            rec(
                f"c_passthrough_drain",
                lambda: drain(
                    read_events_stream(spark, sf_dir).select("event_id"),
                    f"prof_pass_{i}",
                    mode="append",
                ),
            )
            # (d) machinery alone: 1-row rate source, no parquet, no state
            rec(
                "d_rate_1row_drain",
                lambda: drain(
                    spark.readStream.format("rate").option("rowsPerSecond", 1).load(),
                    f"prof_rate_{i}",
                    mode="append",
                ),
            )
            # (e) stateful agg over the 1-row rate source: adds state-store
            # setup/commit to (d) without any real data
            rec(
                "e_rate_stateful_drain",
                lambda: drain(
                    spark.readStream.format("rate")
                    .option("rowsPerSecond", 1)
                    .load()
                    .groupBy("value")
                    .count(),
                    f"prof_ratestate_{i}",
                    mode="complete",
                ),
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    for tag in sorted(timings):
        v = timings[tag]
        print(f"{tag}: min={min(v)} all={v}")


if __name__ == "__main__":
    main()
