"""Round-17 optimization pins.

1. Iterative operators free superseded rounds' localCheckpoint blocks
   at the source (operators/ckpt.py) — the round-16 bench measured a
   3-5x degradation by pass 2 of a query loop when dead blocks
   accumulate, and the engine (not just the bench hook) must stay flat
   in a long-lived session.
2. Brandes' ``seen`` union lineage is re-frozen every 8 levels, so deep
   graphs keep a bounded plan depth — pinned by a 20-hop path graph.
3. The Arrow-batched bloom probe computes bit-for-bit the same
   suspicion verdicts as the JVM ``exists`` probe it replaced (false
   negatives in a bloom would silently drop contaminated docs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_connected_components_frees_superseded_rounds(spark):
    from pantasia_db_sync_spark.operators.components import connected_components

    # a 9-node path: diameter 8 → 8+ label-propagation rounds, so the
    # unfixed form would leave O(rounds) label checkpoints pinned
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(9)], "node bigint")
    before = _n_persistent(spark)
    out = connected_components(edges, nodes)
    rows = {(r.node, r.component_id) for r in out.collect()}
    assert rows == {(i, 0) for i in range(9)}
    # live blocks after the run: the frozen edge list + at most `keep`
    # (=2) label generations — NOT one per round
    assert _n_persistent(spark) - before <= 3


def test_pagerank_frees_superseded_rounds(spark):
    from pantasia_db_sync_spark.operators.components import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)] + [(0, 3)],
        "u bigint, v bigint",
    )
    before = _n_persistent(spark)
    ranks = pagerank(edges, rounds=6)
    total = ranks.agg(F.count(F.lit(1))).collect()[0][0]
    assert total == 6
    # sym + deg (invariants) + keep=2 rank generations
    assert _n_persistent(spark) - before <= 4


def test_brandes_deep_graph_refreezes_seen(spark):
    from pantasia_db_sync_spark.operators.components import brandes_dependency

    # 21-node path, 20 hops: crosses the every-8-levels seen re-freeze
    # twice; distances and path counts on a path graph are exact and
    # obvious (sigma = 1 everywhere, dist = node index)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "u bigint, v bigint"
    )
    out = brandes_dependency(edges, seed=0, hops=20)
    got = {(r.node, r.dist, r.sigma) for r in out.collect()}
    assert got == {(i, i, 1) for i in range(21)}


def test_bloom_arrow_probe_matches_jvm_exists(spark):
    from pantasia_db_sync_spark.operators.bloom import (
        bloom_any_probe_arrow,
        bloom_might_contain,
        build_bloom_words,
    )
    from pantasia_db_sync_spark.operators.dedup import shingle_arrays
    from pantasia_db_sync_spark.sources.catalog import load_table

    d = load_table(spark, SF_DIR, "documents")
    is_bench = F.col("doc_id") % 50 == 0
    m_bits = 1 << 14
    from pantasia_db_sync_spark.operators.dedup import shingle_frame

    bench_sh = (
        shingle_frame(d.where(is_bench), "doc_id", "text", 3)
        .select("shingle")
        .distinct()
    )
    words = build_bloom_words(bench_sh, "shingle", m_bits=m_bits)
    sh = shingle_arrays(d.where(~is_bench), "doc_id", "text", 3)
    jvm = F.exists("__sh", lambda s: bloom_might_contain(s, words, m_bits))
    arrow = bloom_any_probe_arrow(spark, words, m_bits=m_bits)
    cmp = sh.select(
        "doc_id", jvm.alias("j"), arrow(F.col("__sh")).alias("p")
    )
    diff = cmp.where(
        F.coalesce(F.col("j"), F.lit(False))
        != F.coalesce(F.col("p"), F.lit(False))
    ).count()
    assert diff == 0


def test_bloom_arrow_probe_skips_null_elements(spark):
    """A NULL array element never matches, as in JVM ``exists`` (whose
    NULL verdict callers read as False), and never fails the probe."""
    from pantasia_db_sync_spark.operators.bloom import (
        bloom_any_probe_arrow,
        bloom_might_contain,
        build_bloom_words,
    )

    m_bits = 1 << 10
    keys = spark.createDataFrame([("a",), ("b",)], "s string")
    words = build_bloom_words(keys, "s", m_bits=m_bits)
    arrays = spark.createDataFrame(
        [(1, ["a", None]), (2, [None, "not-a-key"]), (3, [None]), (4, None)],
        "id int, arr array<string>",
    )
    jvm = F.exists("arr", lambda s: bloom_might_contain(s, words, m_bits))
    arrow = bloom_any_probe_arrow(spark, words, m_bits=m_bits)
    got = {
        r.id: (bool(r.j), r.p)
        for r in arrays.select(
            "id", jvm.alias("j"), arrow(F.col("arr")).alias("p")
        ).collect()
    }
    assert got[1] == (True, True)
    assert got[3] == got[4] == (False, False)
    assert got[2][0] == got[2][1]


def test_decontaminate_bloom_equals_exact(spark):
    from pantasia_db_sync_spark.plans import QUERIES

    exact = {
        tuple(r) for r in QUERIES["corpus_decontaminate"](spark, SF_DIR).collect()
    }
    bloom = {
        tuple(r)
        for r in QUERIES["corpus_decontaminate_bloom"](spark, SF_DIR).collect()
    }
    assert exact == bloom
