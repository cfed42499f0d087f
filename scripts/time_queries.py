"""Targeted per-query timing: warm-up + median-of-N through the noop sink.

Usage: python3 scripts/time_queries.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), REPS (default 3).

Same methodology as bench.py (noop sink, unrecorded warm-up, median of
REPS, one ckpt scope per run, jvm GC between runs) but scoped to the
named queries so an optimization loop can iterate in seconds instead of
a full suite run.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("REPS", "3"))
    names = sys.argv[1:]

    from pantasia_db_sync_spark.operators.ckpt import scope
    from pantasia_db_sync_spark.session import get_spark
    from pantasia_db_sync_spark.plans import QUERIES

    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(name: str) -> float:
        spark.sparkContext.setJobDescription(name)
        # the scope releases the query's blocks after the timer stopped
        with scope():
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    for name in names:
        materialize(name)  # warm
        runs = []
        for _ in range(reps):
            spark.sparkContext._jvm.System.gc()  # same heap state per run
            runs.append(materialize(name))
        runs.sort()
        print(
            f"{name}: median {statistics.median(runs):.3f}s "
            f"(min {runs[0]:.3f} / max {runs[-1]:.3f}, n={reps})"
        )


if __name__ == "__main__":
    main()
