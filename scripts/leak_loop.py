"""Leak-loop probe: do repeated iterative queries degrade WITHOUT any
bench-side cleanup?

Round 16 measured a 3-5x degradation by pass 2 of a 7-query loop
(dedup_components 4.6 -> 19.6 s) because the iterative operators'
superseded localCheckpoint blocks were never unpersisted; the bench
papered over it with an inter-query unpersist hook. Round 17 fixes the
leak at the source (operators/ckpt.py). This script is the proof: it
runs the same loop with NO unpersist/GC between queries or passes —
if the engine cleans up after itself, pass N is as fast as pass 1.

Usage: python3 scripts/leak_loop.py [passes]   (default 3)
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit
# PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

QUERY_NAMES = [
    "dedup_components",
    "graph_personalized_pagerank",
    "graph_harmonic_centrality",
    "graph_kcore",
    "graph_shortest_path",
    "corpus_semantic_dedup",
    "graph_hyperanf_diameter",
]


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pantasia_db_sync_spark.plans import QUERIES, materialize
    from pantasia_db_sync_spark.session import get_spark

    spark = get_spark(app_name="leak-loop")
    spark.sparkContext.setLogLevel("ERROR")

    def storage_bytes() -> int:
        # the TRUE leak signal: bytes held by the in-process block
        # manager's memory store. (sc.getPersistentRDDs is a WEAK-value
        # map — a leaked block's RDD object can be GC'd, vanishing from
        # that map while its blocks stay pinned, which is exactly the
        # round-16 failure shape.)
        env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
        return int(env.blockManager().memoryStore().memoryUsed())

    for p in range(1, passes + 1):
        for name in QUERY_NAMES:
            spark.sparkContext.setJobDescription(f"pass{p}:{name}")
            # timed here, not by plans.run_query: that opens a checkpoint
            # scope, and this loop measures the unscoped external-driver path
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            print(
                f"pass {p} {name:<32} {dt:7.2f}s  "
                f"storage={storage_bytes() / 1e6:.1f}MB",
                flush=True,
            )


if __name__ == "__main__":
    main()
