"""Targeted per-query timing: warm-up + median-of-N through the noop sink.

Usage: python3 scripts/time_queries.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), REPS (default 3).

The bench.py methodology scoped to the named queries, so an
optimization loop can iterate in seconds instead of a full suite run:
one unrecorded ``plans.run_query`` warm-up, then ``plans.timed_runs``
(one checkpoint scope per run, a JVM GC before each, untimed) and
their median.
"""

from __future__ import annotations

import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit
# PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("REPS", "3"))
    names = sys.argv[1:]

    from pantasia_db_sync_spark.plans import run_query, timed_runs
    from pantasia_db_sync_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        run_query(spark, name, sf_dir)  # warm
        runs = timed_runs(spark, name, sf_dir, reps)
        print(
            f"{name}: median {statistics.median(runs):.3f}s "
            f"(min {runs[0]:.3f} / max {runs[-1]:.3f}, n={reps})"
        )


if __name__ == "__main__":
    main()
