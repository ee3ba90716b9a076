#!/usr/bin/env python
"""Isolated min-of-N timing of named queries with bench.py's
methodology (same session warmup, noop sink, inter-run GC) — the
A/B instrument for optimization rounds. Prints one line per query.

Usage: python scripts/time_queries.py <query> [...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_RUNS (default 3)
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))

    from queryengine_spark.session import get_spark

    spark = get_spark("queryengine-ab")
    try:
        _time(spark, names, sf_dir, n_runs)
    finally:
        # end the JVM and its Python workers before this process exits,
        # not while the next timing process starts
        spark.stop()
    return 0


def _time(spark, names: list[str], sf_dir: str, n_runs: int) -> None:
    from pyspark.sql import functions as F

    from queryengine_spark.functions.similarity import cosine_similarity
    from queryengine_spark.queries import all_queries

    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    n_cores = spark.sparkContext.defaultParallelism
    v = F.array(F.lit(1.0), F.lit(2.0))
    spark.range(n_cores, numPartitions=n_cores).select(
        cosine_similarity(v, v)
    ).write.format("noop").mode("overwrite").save()

    for name in names:
        fn = queries[name]
        best = None
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            runs.append(dt)
            best = dt if best is None else min(best, dt)
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.3)
        print(
            f"{name}\tmin {best:.3f}s\truns {' '.join(f'{r:.3f}' for r in runs)}",
            flush=True,
        )


if __name__ == "__main__":
    raise SystemExit(main())
