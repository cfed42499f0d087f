"""Full-registry correctness artifact (round-11 advice #3).

Runs EVERY registered query against its DuckDB oracle at sf0.01 in
driver style — a plain SparkSession, no tuned confs — and writes
CORRECTNESS_FULL_r{N}.json with per-query rows_match / schema_match /
hash_match / err, so parity for new round-N registrations ships as a
checked-in artifact rather than a claim. The comparison is
``plans.parity_failure``, the one the oracle tests run; hash_match
records whether the order-insensitive values matched. Queries without
an oracle get the driver's weaker rows-only check (the query runs).

Usage: python3 scripts/full_correctness.py [round_number]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit
# PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    import __spark_entry__ as m
    from pantasia_db_sync_spark.plans import parity_failure

    Q, O = m.queries(), m.oracle_sql()
    results = {}
    n_pass = n_fail = n_weak = 0
    t0 = time.time()
    for name in sorted(Q):
        rec: dict = {"err": None}
        try:
            if name in O:
                failure = parity_failure(spark, name, SF_DIR)
                rec["rows_match"] = failure is None or failure.rows_match
                rec["schema_match"] = failure is None or failure.columns_match
                rec["hash_match"] = failure is None or failure.values_match
                ok = failure is None
            else:
                rec["weak_rows_only"] = True
                rec["rows"] = Q[name](spark, SF_DIR).count()
                ok = True
                n_weak += 1
        except Exception as e:  # noqa: BLE001 — artifact records the error
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
            ok = False
        results[name] = rec
        n_pass += ok
        n_fail += not ok
        if not ok:
            print("FAIL", name, rec.get("err", rec))
    out = {
        "round": rnd,
        "sf_dir": SF_DIR,
        "n_queries": len(Q),
        "n_oracled": len(O),
        "n_pass": n_pass,
        "n_fail": n_fail,
        "n_weak_rows_only": n_weak,
        "wall_sec": round(time.time() - t0, 1),
        "results": results,
    }
    path = f"CORRECTNESS_FULL_r{rnd}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"{path}: {n_pass}/{len(Q)} pass, {n_fail} fail, "
          f"{n_weak} weak, {out['wall_sec']}s")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
