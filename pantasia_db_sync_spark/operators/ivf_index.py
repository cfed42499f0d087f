"""Persisted IVF index: build once, query many times.

The inline IVF queries (plans/llmdata.py ann_ivf_*) re-fit k-means and
re-assign the corpus on every invocation — fine for a one-shot query,
wasteful for the real serving shape, where one 100 TB corpus answers
many query batches. This module persists the two index artifacts:

- ``centroids.json``: k × dim scalars (driver-side metadata, like the
  store's commit manifests — never a data collect);
- ``assignments/``: the corpus with its cell id, parquet
  **partitioned by cell**. A probe touches ``nprobe`` cells, and the
  cell equi-join against a cell-partitioned table lets Spark prune
  whole partitions (statically via pushed ``cell IN (...)`` filters
  when the probe list is known, dynamically via DPP under a broadcast
  join) — the 100 TB read cost is nprobe/k of the corpus, not a full
  scan. That pruning is exactly what the inline path cannot give: an
  in-memory assignment column prunes nothing at the source.

Build cost amortizes: fit (k-means over the corpus) + one assignment
pass + one partitioned write, then every query batch is a broadcast of
the (few) probes against the pruned cells.

Reference analogue: none (the reference has no vector search); this is
the BASELINE.json similarity-search north star taken to its deployment
shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..durable import read_json, write_atomic
from .similarity import ivf_topk_nprobe, kmeans_assign, kmeans_fit

_CENTROIDS = "centroids.json"
_ASSIGNMENTS = "assignments"


def build_ivf_index(
    vectors: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
) -> list[tuple[int, list[float]]]:
    """Fit + assign + persist. Returns the centroids (k × dim scalars)."""
    cents = kmeans_fit(vectors, id_col, vec_col, k=k, iters=iters)
    assigned = kmeans_assign(vectors, cents, id_col, vec_col)
    os.makedirs(index_dir, exist_ok=True)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, _ASSIGNMENTS)
    )
    write_atomic(os.path.join(index_dir, _CENTROIDS), cents)  # [[cid, coords], ...]
    return cents


def _read_centroids(index_dir: str) -> list[tuple[int, list[float]]]:
    return [
        (int(cid), [float(x) for x in coords])
        for cid, coords in read_json(os.path.join(index_dir, _CENTROIDS))
    ]


def load_ivf_index(
    spark: SparkSession, index_dir: str
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """(centroids, cell-partitioned assignments frame)."""
    cents = _read_centroids(index_dir)
    assigned = spark.read.parquet(os.path.join(index_dir, _ASSIGNMENTS))
    return cents, assigned


def ivf_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Top-k against a persisted index. The probe cells are resolved
    driver-side (queries are few, centroids are metadata), so the cell
    restriction is pushed as a STATIC ``cell IN (...)`` partition
    filter — the scan lists only the probed cells' partition dirs.
    Scoring then reuses the inline ``ivf_topk_nprobe`` join (which
    probes per query), so results are identical to the inline path."""
    from .similarity import _py_fround, _py_norm

    cents, assigned = load_ivf_index(spark, index_dir)
    # driver-side probe resolution for the partition filter: the same
    # rounded cosine + (cos desc, cell asc) order as ivf_probe_cells
    qrows = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).collect()
    probe_cells: set[int] = set()
    for r in qrows:
        qv = [float(x) for x in r["q_vec"]]
        qn = _py_norm(qv)
        ranked = sorted(
            (
                -_py_fround(
                    sum(a * b for a, b in zip(qv, coords)) / (qn * _py_norm(coords)), 6
                ),
                cid,
            )
            for cid, coords in cents
        )
        probe_cells.update(cid for _, cid in ranked[:nprobe])
    pruned = assigned.where(F.col("cell").isin(*sorted(probe_cells)))
    return ivf_topk_nprobe(
        pruned, queries, cents, id_col, vec_col, nprobe=nprobe, k=k
    )


def append_ivf_index(
    vectors: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to an EXISTING index: assign them to the
    frozen centroids (one map-only pass — `kmeans_cell_expr` with the
    persisted centroids as literals) and append into the
    cell-partitioned assignments. No refit, no rewrite of existing
    cells: the incremental path a streaming ingest needs, O(new
    vectors) like the store's fact appends.

    The standard IVF trade rides along: appended data shifts the true
    cell populations away from the frozen centroids, so recall decays
    as appended volume grows relative to the fitted base — the operator
    intentionally does NOT refit (identical probe results to assigning
    at build time, see test_ivf_append_equals_frozen_centroid_inline);
    rebuild via ``build_ivf_index`` when the appended fraction warrants
    it, exactly like compaction for the fact store."""
    cents = _read_centroids(index_dir)
    assigned = kmeans_assign(vectors, cents, id_col, vec_col)
    assigned.write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_dir, _ASSIGNMENTS)
    )
