#!/usr/bin/env python
"""Time individual registry keys with the bench methodology (best-of-2
noop sink after a warmup run) — the per-key isolation harness guide §1.4
asks for. Next to each key's best wall it prints the generated classes
compiled during its two timed runs: nonzero means the key's working set
outgrew Spark's codegen cache. Usage: python tools/time_keys.py key1 key2 ...
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from atlas_migration_repo_spark.registry import QUERIES, load_all_modules
from atlas_migration_repo_spark.session import compiled_classes, get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    keys = sys.argv[1:]
    load_all_modules()
    spark = get_spark(app_name="atlas-time-keys")

    def run_full(df):
        df.write.format("noop").mode("overwrite").save()

    # warmup: python worker pool + codegen
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    for name in keys:
        qd = QUERIES[name]
        run_full(qd.fn(spark, sf_dir))  # warmup (untimed)
        best, compiled0 = None, compiled_classes(spark)
        for _ in range(2):
            t0 = time.perf_counter()
            run_full(qd.fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        compiled = compiled_classes(spark) - compiled0
        print(f"{name}: {best:.3f}s compiled={compiled}", flush=True)


if __name__ == "__main__":
    main()
