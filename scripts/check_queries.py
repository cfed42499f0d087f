"""Targeted oracle verification: named queries only, full_correctness
methodology (plain session, DuckDB oracle, order-insensitive values,
all through ``plans.parity_failure``).

Usage: python3 scripts/check_queries.py name [name ...]
Env: SPARK_GRAFT_TEST_SF_DIR (default sf0.01).

The optimization-round inner loop: after touching an operator, prove the
declared queries it feeds still match their oracles before moving on —
minutes instead of the ~9-minute full-registry sweep.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit
# PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from full_correctness import SF_DIR  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m
    from pantasia_db_sync_spark.plans import parity_failure

    Q, O = m.queries(), m.oracle_sql()
    n_fail = 0
    for name in names:
        if name not in Q:
            print(f"{name}: NOT REGISTERED")
            n_fail += 1
            continue
        try:
            if name not in O:
                print(f"{name}: no oracle ({Q[name](spark, SF_DIR).count()} rows)")
                continue
            failure = parity_failure(spark, name, SF_DIR)
            print(f"FAIL {failure.message}" if failure else f"{name}: PASS")
            n_fail += failure is not None
        except Exception as e:  # noqa: BLE001 — report and keep going
            print(f"{name}: ERROR {type(e).__name__}: {e}"[:300])
            n_fail += 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
