"""Executed-plan audit: run named queries through the noop sink and
report FINAL-plan operator counts (post-AQE), where exchange reuse is
real — the lazy `explain` lies about reuse (isFinalPlan=false).

Usage: python3 scripts/audit_final_plans.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1). With DUMP=1, write the full
final plan to plans/r16/<name>_final.txt.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit
# PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

MARKS = [
    ("Exchange", re.compile(r"\bExchange (hash|range|Single|RoundRobin)")),
    ("ReusedExchange", re.compile(r"\bReusedExchange\b")),
    ("Window", re.compile(r"\bWindow\b")),
    ("SortMergeJoin", re.compile(r"\bSortMergeJoin\b")),
    ("ShuffledHashJoin", re.compile(r"\bShuffledHashJoin\b")),
    ("BroadcastHashJoin", re.compile(r"\bBroadcastHashJoin\b")),
    ("NestedLoop", re.compile(r"BroadcastNestedLoopJoin|CartesianProduct")),
    ("PyEval", re.compile(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas")),
    ("Scan", re.compile(r"FileScan|Scan parquet|Scan ExistingRDD")),
    ("AQEShuffleRead", re.compile(r"\bAQEShuffleRead\b")),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dump = os.environ.get("DUMP", "0") == "1"
    names = sys.argv[1:]

    from pantasia_db_sync_spark.session import get_spark
    from pantasia_db_sync_spark.plans import QUERIES

    spark = get_spark(app_name="audit-final-plans")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        spark.sparkContext.setJobDescription(f"audit:{name}")
        df = QUERIES[name](spark, sf_dir)
        # Execute the frame's OWN AdaptiveSparkPlanExec (a noop write has
        # its own QueryExecution, whose finalized plan we could not read
        # back) — .execute() finalizes every AQE stage, the RDD count
        # drains the last stage, and toString then shows isFinalPlan=true
        # with real ReusedExchange nodes.
        qe = df._jdf.queryExecution()
        qe.executedPlan().execute().count()
        plan = qe.executedPlan().toString()
        # count only the finalized section (toString appends the
        # pre-AQE "== Initial Plan ==" for comparison)
        plan = plan.split("== Initial Plan ==")[0]
        counts = {k: len(rx.findall(plan)) for k, rx in MARKS}
        line = "  ".join(f"{k}={v}" for k, v in counts.items() if v)
        print(f"{name}: {line}")
        if dump:
            out = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "plans", "r16", f"{name}_final.txt",
            )
            with open(out, "w") as f:
                f.write(plan)


if __name__ == "__main__":
    main()
