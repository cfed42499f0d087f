"""Core-scaling probe on disjoint-replica fixtures (VERDICT r16 next-round #7).

At sf0.1 the whole suite is fixture/overhead-bound: the round-16
driver measured an 8-core vs 32-core suite ratio of 1.10, so shuffle/
parallelism work has no signal at that scale. This probe rebuilds the
top-wall queries' inputs at 5x (``SPARK_GRAFT_PROBE_REPLICAS``; replicas
deterministic and DISJOINT — ids offset per replica, names prefixed,
graphs shifted — so answers grow ~linearly and operator cost, not
answer growth, is measured) and times them at the CURRENT process core
count. Run it twice:

    SPARK_GRAFT_CPUS=32 python3 scripts/scale_probe.py > /tmp/p32.json
    SPARK_GRAFT_CPUS=8  python3 scripts/scale_probe.py > /tmp/p8.json

and merge the two JSON lines into SCALE_PROBE_r17.json. A data-bound
query should show a core ratio approaching 4; a fixed-cost-bound one
(per-iteration plan compile, commit I/O) will not, and that is the
finding, not a harness bug.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit
# PYTHONPATH, not the driver's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

BASE_SF = "/root/testdata/sf0.1"
OUT = "/tmp/spark_graft_scale"

PROBE_QUERIES = [
    "dedup_levenshtein2_names",
    "dedup_levenshtein2_blocked",
    "graph_betweenness_sampled",
    "ann_ivf_index_topk",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "corpus_decontaminate_bloom",
]


def _documents_replica(d, k: int):
    if k == 0:
        return d
    # rewrite every 3rd token per replica: kills ~all shared 3-gram
    # shingles and flips ~1/3 of simhash votes, so replicas of the same
    # doc are NOT near-dups of each other
    toks = F.split(F.trim("text"), " ")
    perturbed = F.array_join(
        F.transform(
            toks,
            lambda t, i: F.when(
                i % 3 == F.lit(k % 3), F.concat(F.lit(f"r{k}_"), t)
            ).otherwise(t),
        ),
        " ",
    )
    return d.select(
        (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
        perturbed.alias("text"),
        "lang",
        "source",
        F.length(perturbed).alias("n_chars"),
    )


def _embeddings_replica(e, k: int):
    if k == 0:
        return e
    shift = (k % 63) + 1  # circular shift → cosine vs original ~random
    return e.select(
        (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
        F.concat(
            F.slice("embedding", shift + 1, 64 - shift),
            F.slice("embedding", 1, shift),
        ).alias("embedding"),
        "label",
    )


def _customer_replica(c, k: int):
    # distinct per-replica name prefixes keep FastSS pairs within replicas
    return c.select(
        (F.col("c_custkey") + k * 10_000_000).alias("c_custkey"),
        (F.concat(F.lit(f"r{k}"), F.col("c_name")) if k else F.col("c_name")).alias(
            "c_name"
        ),
        *[F.col(x) for x in c.columns if x not in ("c_custkey", "c_name")],
    )


def _lineitem_replica(li, k: int):
    # orderkey/suppkey offsets keep the co-purchase graphs disjoint
    return li.select(
        (F.col("l_orderkey") + k * 100_000_000).alias("l_orderkey"),
        (F.col("l_suppkey") + k * 1_000_000).alias("l_suppkey"),
        *[F.col(x) for x in li.columns if x not in ("l_orderkey", "l_suppkey")],
    )


# table -> (replica k of the base table, output partitions)
_REPLICAS = {
    "documents": (_documents_replica, 32),
    "embeddings": (_embeddings_replica, 8),
    "customer": (_customer_replica, 8),
    "lineitem": (_lineitem_replica, 32),
}


def build_corpus(spark, replicas: int, tables=("documents", "embeddings")) -> str:
    """Write ``replicas`` deterministic, DISJOINT copies of each sf0.1
    table in ``tables`` to ``OUT/x{replicas}/<table>.parquet`` and return
    that directory. Replica 0 is the base table; replica k offsets ids
    and perturbs values so replicas are never near-dups or joined to
    each other, and answers grow linearly with ``replicas``. A table
    already written is reused."""
    from pantasia_db_sync_spark.sources.catalog import load_table

    out_dir = os.path.join(OUT, f"x{replicas}")
    for t in tables:
        path = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(path):
            continue
        replica, partitions = _REPLICAS[t]
        base = load_table(spark, BASE_SF, t)
        big = reduce(
            DataFrame.unionByName, [replica(base, k) for k in range(replicas)]
        )
        big.repartition(partitions).write.mode("overwrite").parquet(path)
    return out_dir


def main() -> None:
    replicas = int(os.environ.get("SPARK_GRAFT_PROBE_REPLICAS", "5"))
    reps = int(os.environ.get("REPS", "2"))

    from pantasia_db_sync_spark.plans import run_query, timed_runs
    from pantasia_db_sync_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = build_corpus(
        spark, replicas, tables=("documents", "embeddings", "customer", "lineitem")
    )

    timings = {}
    for name in PROBE_QUERIES:
        run_query(spark, name, sf_dir)  # warm
        runs = timed_runs(spark, name, sf_dir, reps)
        timings[name] = round(statistics.median(runs), 3)
        print(f"# {name}: {timings[name]:.2f}s (n={reps})", file=sys.stderr, flush=True)
    print(
        json.dumps(
            {
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0),
                "replicas": replicas,
                "reps": reps,
                "queries": timings,
            }
        )
    )


if __name__ == "__main__":
    main()
