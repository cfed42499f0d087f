"""Embedding similarity search: brute-force cosine top-k + IVF cell path.

North-star extension (BASELINE.json). Pairwise dot products stay
JVM-side (`zip_with` + `aggregate` higher-order functions); the one
deliberate Python hop is `lsh_signature` — an Arrow-batched numpy
kernel, because a bits×dims signature per row is exactly where
interpreted higher-order expressions lose to vectorized C (see its
docstring for the bit-exactness argument). Two strategies:

- **brute force** (baseline): queries × corpus via broadcast of the
  (small) query set; exact, O(|Q|·|C|·d) — the right answer when |Q| is
  small even at 100 TB corpus.
- **IVF** (scale path): restrict candidates to the query's cell
  (precomputed cluster assignment — the fixtures' ``label`` column
  stands in for a k-means assignment). The join key becomes the cell
  id, so Spark shuffles corpus rows once by cell and each query probes
  1/k of the data. An LSH variant would band sign-bits instead.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import pandas_udf

from ..functions.rounding import fround
from .ckpt import freeze


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dlit(x: float) -> str:
    """SQL source text for a DOUBLE literal, bit-exact round trip.

    ``repr(float)`` is the shortest string that parses back to the
    identical IEEE double (both Python and Java honor that contract);
    the exponent suffix forces Spark's parser to type it DOUBLE rather
    than DECIMAL."""
    x = float(x)
    if x != x:
        return "double('NaN')"
    if x in (float("inf"), float("-inf")):
        return f"double('{'-' if x < 0 else ''}Infinity')"
    s = repr(x)
    return s if ("e" in s or "E" in s) else s + "E0"


def lit_double_vec(xs: list[float]) -> Column:
    """array<double> literal built in ONE py4j round trip.

    ``F.lit(list)`` decomposes into one ``lit`` py4j call per element
    (~0.9 ms each), so a k×dim centroid table cost ~0.45 s of pure
    driver time per expression build — dominant in the Lloyd fit loop,
    which rebuilds the assignment expression every iteration. Shipping
    the whole array as one SQL string parses JVM-side in ~3 ms and
    yields bit-identical doubles (pinned by a parity test)."""
    if not xs:
        return F.lit([]).cast("array<double>")
    return F.expr("array(" + ",".join(_dlit(x) for x in xs) + ")")


def lit_double_matrix(rows: list[list[float]]) -> Column:
    """array<array<double>> literal in one py4j round trip (see
    :func:`lit_double_vec`)."""
    if not rows:
        return F.lit([]).cast("array<array<double>>")
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_dlit(x) for x in r) + ")" for r in rows
        )
        + ")"
    )


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k of ``queries`` against ``vectors``.

    Output: (q_id, cand_id, cos, rank). Cosines are rounded before
    ranking and ties broken by cand_id so results are deterministic
    across partitionings and engines.
    """
    # Norms are precomputed per ROW, not per pair: the pairwise hot loop
    # then runs one array-aggregate (the dot) instead of three. The
    # arithmetic per pair is bit-identical (same sums, same order), so
    # oracle parity is unaffected.
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(vec_col).alias("q_vec")
    ).withColumn("q_norm", norm_col(F.col("q_vec")))
    c = vectors.select(
        F.col(id_col).alias("cand_id"), as_double_vec(vec_col).alias("c_vec")
    ).withColumn("c_norm", norm_col(F.col("c_vec")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("cand_id"))
        .select(
            "q_id",
            "cand_id",
            fround(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                round_digits,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("q_id", "cand_id", "cos", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """IVF-style top-k: candidates restricted to the query's cell."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(cell_col).alias("cell"),
        as_double_vec(vec_col).alias("q_vec"),
    ).withColumn("q_norm", norm_col(F.col("q_vec")))
    c = vectors.select(
        F.col(id_col).alias("cand_id"),
        F.col(cell_col).alias("cell"),
        as_double_vec(vec_col).alias("c_vec"),
    ).withColumn("c_norm", norm_col(F.col("c_vec")))
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .where(F.col("q_id") != F.col("cand_id"))
        .select(
            "q_id",
            "cand_id",
            fround(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                round_digits,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("q_id", "cand_id", "cos", "rank")
    )


def ivf_probe_cells(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """(q_id, cell, q_vec, q_norm): each query's ``nprobe`` nearest
    cells by rounded centroid cosine (ties to the lowest cell id).
    Queries are few; the centroid table rides as a literal struct
    array, so this is a map-only explode + per-query rank."""
    # three batched literals (one py4j round trip each — the doubles
    # travel as SQL source, see lit_double_matrix), zipped into
    # structs plan-side
    ordered = sorted(centroids)
    cells_lit = F.lit([int(cid) for cid, _ in ordered])
    coords_lit = lit_double_matrix([[float(x) for x in c] for _, c in ordered])
    norms_lit = lit_double_vec([_py_norm(c) for _, c in ordered])
    cents = F.transform(
        coords_lit,
        lambda c, i: F.struct(
            F.element_at(cells_lit, i + 1).alias("cell"),
            c.alias("c"),
            F.element_at(norms_lit, i + 1).alias("cnrm"),
        ),
    )
    q = (
        queries.select(F.col(id_col).alias("q_id"), as_double_vec(vec_col).alias("q_vec"))
        .withColumn("q_norm", norm_col(F.col("q_vec")))
        .withColumn("__cent", F.explode(cents))
    )
    q = q.withColumn(
        "__qcos",
        fround(
            dot_col(F.col("q_vec"), F.col("__cent.c"))
            / (F.col("q_norm") * F.col("__cent.cnrm")),
            round_digits,
        ),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("__qcos").desc(), F.col("__cent.cell").asc()
    )
    return (
        q.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= nprobe)
        .select("q_id", F.col("__cent.cell").alias("cell"), "q_vec", "q_norm")
    )


def ivf_topk_nprobe(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    nprobe: int = 2,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """IVF top-k with multi-cell probing — the recall knob real IVF
    deployments turn: each query searches its ``nprobe`` nearest cells
    (nprobe/k_cells of the corpus) instead of exactly one. ``vectors``
    must carry their cell assignment in ``cell_col`` (kmeans_assign).
    Candidate sets from different probe cells are disjoint (a vector
    lives in one cell), so no dedup step is needed; at
    nprobe = len(centroids) the result equals brute force
    (property-pinned). Probes broadcast (queries are few); the
    candidate join stays a cell equi-join."""
    probes = ivf_probe_cells(
        queries, centroids, id_col, vec_col, nprobe, round_digits
    )
    c = vectors.select(
        F.col(id_col).alias("cand_id"),
        F.col(cell_col).alias("cell"),
        as_double_vec(vec_col).alias("c_vec"),
    ).withColumn("c_norm", norm_col(F.col("c_vec")))
    scored = (
        F.broadcast(probes)
        .join(c, "cell")
        .where(F.col("q_id") != F.col("cand_id"))
        .select(
            "q_id",
            "cand_id",
            fround(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                round_digits,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("q_id", "cand_id", "cos", "rank")
    )


def recommended_lsh_params(
    n_vectors: int, target_bucket: int = 32, max_bits: int = 60
) -> tuple[int, int]:
    """(bits, n_bands) sized so per-band buckets hold ~``target_bucket``
    vectors — the knob that keeps banded candidate generation linear.

    Per band there are 2^(bits/n_bands) buckets and candidate pairs per
    bucket grow quadratically in bucket size, so bits_per_band must
    grow with log2(n). Capped at ``max_bits`` total (the portable md5
    hash keeps 15 hex digits = 60 bits; packed signatures must also
    stay under the 63-bit signed-long limit). Measured on the 50x
    corpus (25k vectors): fixture-sized 32/8 banding verifies ~6M
    candidate pairs, scaled banding ~60k (README §Measured scale growth).
    """
    import math

    if n_vectors < 2:
        return 8, 2
    bpb = max(4, math.ceil(math.log2(max(2, n_vectors / target_bucket))))
    bpb = min(bpb, max_bits // 2)
    n_bands = max(2, min(8, max_bits // bpb))
    return bpb * n_bands, n_bands


def lsh_weights(bits: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 (Rademacher) hyperplanes from md5 — engine-
    portable: both Spark and the DuckDB oracle embed the same literal
    arrays, so signatures match bit-for-bit."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{b}:{j}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for b in range(bits)
    ]


def lsh_signature(vec: Column, weights: list[list[float]]) -> Column:
    """Sign-LSH signature: bit b = (v · w_b >= 0), packed into a long.

    Arrow-batched numpy, NOT a JVM higher-order expression: Spark's
    HigherOrderFunctions are interpreted per row (measured ~350 µs/row
    at 32 bits × 64 dims — the expression tree alternative is 4× slower
    to *plan* and no faster to run). The numpy kernel accumulates the
    dot products with an explicit LEFT FOLD over the dimensions —
    ``acc += v[j] * w[j]`` one j at a time — which is the identical
    IEEE operation order to both the previous F.aggregate fold and the
    DuckDB oracle's list_sum, so every signature bit (including
    near-zero dots) is bit-for-bit unchanged and cross-engine parity
    holds. Bit packing is integer arithmetic (exact).
    """
    import numpy as np
    from pyspark.sql.types import LongType

    w_rows = [list(map(float, w)) for w in weights]

    @pandas_udf(LongType())
    def _sig(vs: pd.Series) -> pd.Series:
        wt = np.asarray(w_rows, dtype=np.float64).T  # dim × bits
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        # NULL vectors propagate as NULL signatures (the behavior of the
        # expression form this replaced), instead of crashing the batch.
        # Masked int64 (never a float round-trip: signatures can exceed
        # 2^53 at bits > 53 and would be corrupted by float64).
        valid = np.array([v is not None for v in vs])
        res = np.zeros(len(vs), dtype=np.int64)
        if valid.any():
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vs[valid]]
            )  # n_valid × dim
            acc = np.zeros((x.shape[0], wt.shape[1]), dtype=np.float64)
            for j in range(wt.shape[0]):  # left fold over dims: IEEE order
                acc += x[:, j : j + 1] * wt[j : j + 1, :]
            res[valid] = (acc >= 0).astype(np.int64) @ (
                np.int64(1) << np.arange(wt.shape[1], dtype=np.int64)
            )
        return pd.Series(pd.arrays.IntegerArray(res, mask=~valid))

    return _sig(vec)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    n_bands: int = 2,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Sign-LSH top-k: candidates = vectors sharing ≥1 signature band
    with the query (equi-join on (band_idx, band_val) — the same
    shuffle-join shape as MinHash banding), scored with exact cosine.
    Approximate: recall depends on bits/bands; the equi-join candidate
    generation is what scales to 100 TB corpora."""
    weights = lsh_weights(bits, dim)
    bits_per_band = bits // n_bands
    mask = (1 << bits_per_band) - 1

    def banded(df: DataFrame, role: str) -> DataFrame:
        sig = df.withColumn("__sig", lsh_signature(F.col("__vec"), weights))
        bands = F.array(
            *[
                F.struct(
                    F.lit(j).alias("band_idx"),
                    F.shiftright("__sig", j * bits_per_band)
                    .bitwiseAND(mask)
                    .alias("band_val"),
                )
                for j in range(n_bands)
            ]
        )
        return sig.select(
            F.col(id_col).alias(role), "__vec", F.col("__nrm").alias(f"__nrm_{role}"),
            F.explode(bands).alias("b")
        ).select(
            role,
            F.col("__vec").alias(f"__vec_{role}"),
            f"__nrm_{role}",
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_val").alias("band_val"),
        )

    prep = lambda df: df.select(  # noqa: E731
        id_col, as_double_vec(vec_col).alias("__vec")
    ).withColumn("__nrm", norm_col(F.col("__vec")))

    q = banded(prep(queries), "q_id")
    c = banded(prep(vectors), "cand_id")
    cand = (
        F.broadcast(q)
        .join(c, ["band_idx", "band_val"])
        .where(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id", "__vec_q_id", "__vec_cand_id", "__nrm_q_id", "__nrm_cand_id")
        .dropDuplicates(["q_id", "cand_id"])
    )
    scored = cand.select(
        "q_id",
        "cand_id",
        fround(
            dot_col(F.col("__vec_q_id"), F.col("__vec_cand_id"))
            / (F.col("__nrm_q_id") * F.col("__nrm_cand_id")),
            round_digits,
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("q_id", "cand_id", "cos", "rank")
    )


def lsh_range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    n_bands: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Sign-LSH RANGE search: every corpus vector with exact rounded
    cosine ≥ ``radius`` of each query, candidates from the banded
    equi-join (the ``lsh_topk`` shape minus the top-k window — range
    queries are the retrieval primitive when the neighbor count is
    data-dependent, e.g. "all near-duplicates of this example").
    Output: (q_id, cand_id, cos). Same scale story as lsh_topk: the
    only join is an equi-join on band values; vectors ride through the
    banding so surviving candidates need no re-join."""
    weights = lsh_weights(bits, dim)
    bits_per_band = bits // n_bands
    mask = (1 << bits_per_band) - 1

    def banded(df: DataFrame, role: str) -> DataFrame:
        sig = df.withColumn("__sig", lsh_signature(F.col("__vec"), weights))
        bands = F.array(
            *[
                F.struct(
                    F.lit(j).alias("band_idx"),
                    F.shiftright("__sig", j * bits_per_band)
                    .bitwiseAND(mask)
                    .alias("band_val"),
                )
                for j in range(n_bands)
            ]
        )
        return sig.select(
            F.col(id_col).alias(role),
            F.col("__vec").alias(f"__vec_{role}"),
            F.col("__nrm").alias(f"__nrm_{role}"),
            F.explode(bands).alias("b"),
        ).select(
            role, f"__vec_{role}", f"__nrm_{role}",
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_val").alias("band_val"),
        )

    prep = lambda df: df.select(  # noqa: E731
        id_col, as_double_vec(vec_col).alias("__vec")
    ).withColumn("__nrm", norm_col(F.col("__vec")))

    q = banded(prep(queries), "q_id")
    c = banded(prep(vectors), "cand_id")
    return (
        F.broadcast(q)
        .join(c, ["band_idx", "band_val"])
        .where(F.col("q_id") != F.col("cand_id"))
        .dropDuplicates(["q_id", "cand_id"])
        .select(
            "q_id",
            "cand_id",
            fround(
                dot_col(F.col("__vec_q_id"), F.col("__vec_cand_id"))
                / (F.col("__nrm_q_id") * F.col("__nrm_cand_id")),
                round_digits,
            ).alias("cos"),
        )
        .where(F.col("cos") >= radius)
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4445555,
    dim: int = 64,
    bits: int | None = None,
    n_bands: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Sign-LSH-banded near-dup pairs: candidates = id pairs sharing ≥1
    signature band (equi-join on (band_idx, band_val), like MinHash
    banding), verified with the exact rounded cosine ≥ threshold.

    This is the 100 TB shape: the only join is an equi-join on band
    values, never a non-equi all-pairs predicate (which Spark plans as
    BroadcastNestedLoopJoin). Candidate generation runs on a slim
    (id, band) frame; vectors are re-attached only to surviving pairs.
    Approximate — recall depends on bits/n_bands vs the threshold's
    angle; `cosine_near_dup_pairs_allpairs` is the exact baseline used
    by the recall property test. Bucket granularity is 2^(bits/n_bands)
    per band — raise bits_per_band as the corpus grows so per-bucket
    candidate counts stay bounded.

    When ``bits``/``n_bands`` are not given they come from
    ``recommended_lsh_params`` over a cheap corpus-size probe
    (approx_count_distinct on the pruned id column — one narrow scan,
    ~5%% rsd, which only sizes log2 bucket widths). This is the
    default 100 TB guard: the fixture-width 32/8 banding measured
    quadratic → JVM OOM at 100k vectors (README scale table), and
    bucket width must grow with log2(n) to stay linear. Pass both
    explicitly to pin results (the registered oracle queries do,
    for cross-engine hash parity).
    """
    if (bits is None) != (n_bands is None):
        raise ValueError("pass both bits and n_bands, or neither")
    if bits is None:
        n_vec = vectors.agg(
            F.approx_count_distinct(id_col).alias("n")
        ).collect()[0]["n"]
        bits, n_bands = recommended_lsh_params(n_vec)
    weights = lsh_weights(bits, dim)
    bits_per_band = bits // n_bands
    mask = (1 << bits_per_band) - 1
    base = vectors.select(
        F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v")
    ).withColumn("nrm", norm_col(F.col("v")))
    # Freeze the slim (id, sig) frame ONCE: the banding join consumes it
    # from two branches and AQE's broadcast build re-collects it, so an
    # unfrozen plan runs the Arrow signature kernel 3-4x (measured ~2.5s
    # of pure re-run overhead at 2k vectors). At scale the frame is
    # 16 bytes/row — materializing signatures once is the standard LSH
    # pipeline shape; the blocks belong to the caller's ckpt scope.
    sig = freeze(base.withColumn("sig", lsh_signature(F.col("v"), weights)).select(
        "id", "sig"
    ), eager=False)
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.shiftright("sig", j * bits_per_band)
                .bitwiseAND(mask)
                .alias("band_val"),
            )
            for j in range(n_bands)
        ]
    )
    bands = sig.select("id", F.explode(bands_arr).alias("b")).select(
        "id", "b.band_idx", "b.band_val"
    )
    la = bands.select(F.col("id").alias("id_a"), "band_idx", "band_val")
    lb = bands.select(F.col("id").alias("id_b"), "band_idx", "band_val")
    # Joins here are deliberately UNPINNED (contrast operators/dedup.py
    # _pair_jaccard, where shuffle_hash pins pay off): band_val has only
    # 2^bits_per_band distinct values per band, so a forced shuffle join
    # partitions by a handful of hot keys — measured 2.5-4x slower than
    # AQE's broadcast at 20k vectors with 16 buckets/band (the
    # documented degenerate-banding regime). AQE picks broadcast while
    # a side fits (recomputing the numpy signature UDF for it is cheap)
    # and shuffle with exchange reuse once it doesn't; same reasoning
    # for the verify joins, where candidate volume is the runtime
    # unknown.
    cand = (
        la.join(lb, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = cand.join(
        base.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
        ),
        "id_a",
    ).join(
        base.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
        ),
        "id_b",
    )
    return (
        scored.select(
            "id_a",
            "id_b",
            fround(
                dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_digits,
            ).alias("cos"),
        )
        # coalesce makes the predicate null-tolerant so the optimizer
        # cannot infer IsNotNull(norm) and push the whole interpreted
        # SQRT(aggregate(zip_with(...))) chain into the parquet scan
        # filters (it was evaluated twice per row). NULL cosines (null
        # embeddings) were already dropped by `cos >= t`; -2 < any
        # threshold keeps that behavior bit-for-bit.
        .where(F.coalesce(F.col("cos"), F.lit(-2.0)) >= threshold)
    )


def cosine_near_dup_pairs_allpairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4445555,
    round_digits: int = 6,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — the exact O(n²) baseline.

    NOT the production path (the non-equi join becomes a
    BroadcastNestedLoopJoin); kept as the recall oracle for the banded
    `cosine_near_dup_pairs` in tests.
    """
    a = vectors.select(
        F.col(id_col).alias("id_a"), as_double_vec(vec_col).alias("va")
    ).withColumn("na", norm_col(F.col("va")))
    b = vectors.select(
        F.col(id_col).alias("id_b"), as_double_vec(vec_col).alias("vb")
    ).withColumn("nb", norm_col(F.col("vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            fround(
                dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_digits,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd's) in DataFrame ops — trains the IVF cells for real
# ---------------------------------------------------------------------------


def _py_fround(x: float, n: int) -> float:
    import math

    p = 10**n
    return math.floor(x * p + 0.5) / p


def _py_norm(coords: list[float]) -> float:
    """Left-fold sum-of-squares then sqrt: the same IEEE op order as
    Spark's F.aggregate fold and DuckDB's list_sum, so all three
    engines agree bit-for-bit on the centroid norm."""
    import math

    acc = 0.0
    for x in coords:
        acc = acc + x * x
    return math.sqrt(acc)


def kmeans_cell_expr(
    vec: Column,
    nrm: Column,
    centroids: list[tuple[int, list[float]]],
    round_digits: int = 6,
) -> Column:
    """Cell assignment = argmax rounded cosine to the centroids,
    embedded as literal arrays — a pure per-row projection, no join, no
    shuffle. Ties break to the lowest cell id.

    Shape: transform → array_min over (−cos, cell) structs — struct
    ordering is lexicographic, so the minimum is "largest ROUNDED
    cosine, then lowest cell id" with each cosine evaluated exactly
    once (negating AFTER rounding keeps tie semantics bit-identical to
    the former greatest()+CASE chain, which evaluated every cosine
    fold twice and paid one py4j round trip per centroid coordinate —
    the same driver-side overhead profiled in _l2_cell_expr)."""
    ordered = sorted(centroids)
    cells = F.lit([int(cid) for cid, _ in ordered])
    coords = lit_double_matrix([[float(x) for x in c] for _, c in ordered])
    norms = lit_double_vec([_py_norm(c) for _, c in ordered])
    scored = F.transform(
        coords,
        lambda c, i: F.struct(
            (
                -fround(
                    dot_col(vec, c) / (nrm * F.element_at(norms, i + 1)),
                    round_digits,
                )
            ).alias("negcos"),
            F.element_at(cells, i + 1).alias("cell"),
        ),
    )
    return F.array_min(scored)["cell"]


def kmeans_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    round_digits: int = 6,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means as DataFrame ops; returns [(cell_id, centroid)].

    Engine-portable by construction (a SQL replica reproduces it
    bit-for-bit, see plans/llmdata.py ann_ivf_kmeans_topk oracle):

    - init: the ``k`` vectors with the smallest ids (cell id = seed's
      vector id) — deterministic, no RNG;
    - assign: :func:`kmeans_cell_expr` (literal centroids, per-row
      projection — at scale this is one map-only pass, no shuffle);
    - update: per-cell per-coordinate AVG — one map-side-combinable
      aggregate per iteration (the only shuffle, and its input is k×dim
      partial sums per partition, not the data) — with every coordinate
      re-rounded so cross-engine float drift cannot accumulate across
      iterations. Cells that lose all members drop out (both engines
      agree on that too).

    The per-iteration driver collect is k×dim floats — a scalar probe,
    not a data collect.
    """
    v = vectors.select(
        F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("v")
    ).withColumn("nrm", norm_col(F.col("v")))
    seeds = v.orderBy("vid").limit(k).collect()
    dim = len(seeds[0]["v"])
    cents = sorted((int(r["vid"]), [float(x) for x in r["v"]]) for r in seeds)
    for _ in range(iters):
        assigned = v.withColumn(
            "cell", kmeans_cell_expr(F.col("v"), F.col("nrm"), cents, round_digits)
        )
        # posexplode + ONE avg (regrouped on the driver): identical
        # values and identical k×dim partial-agg shuffle volume as a
        # dim-wide avg agg, but ~½ the per-iteration codegen compile —
        # each iteration is a fresh plan (literal centroids), so
        # compile cost is paid every time (see pq_fit)
        rows = (
            assigned.select("cell", F.posexplode("v").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(F.avg("x").alias("c"))
            .collect()
        )
        acc: dict[int, dict[int, float]] = {}
        for r in rows:
            acc.setdefault(int(r["cell"]), {})[int(r["i"])] = _py_fround(
                r["c"], round_digits
            )
        cents = sorted(
            (cell, [coords[i] for i in range(dim)])
            for cell, coords in acc.items()
        )
    return cents


def kmeans_assign(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    round_digits: int = 6,
) -> DataFrame:
    """Attach the trained cell id to each vector (pure projection)."""
    v = as_double_vec(vec_col)
    return vectors.withColumn(
        cell_col, kmeans_cell_expr(v, norm_col(v), centroids, round_digits)
    )


def kmeans_assign_broadcast(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    round_digits: int = 6,
) -> DataFrame:
    """Large-k twin of :func:`kmeans_assign`: centroids ride as DATA.

    ``kmeans_cell_expr`` embeds k×dim literals in the plan — fine for
    IVF-ish k (tens), but for k in the thousands the plan itself
    becomes megabytes of CASE chain (compile cost, codegen limits).
    Here the centroid table is a one-row broadcast
    ``array<struct<cell,c,cnrm>>`` and the assignment is a per-row
    argmax fold over that array: plan size O(1), still a map-only pass
    over the vectors (the only 'join' is a broadcast of one row), no
    shuffle. Cosines are rounded with the same portable fround, ties
    break to the lowest cell id (the array is sorted by cell and the
    fold keeps the incumbent on equality) — property-pinned equal to
    the literal path at k=8.
    """
    spark = vectors.sparkSession
    rows = [
        (int(cid), [float(x) for x in coords], _py_norm(coords))
        for cid, coords in sorted(centroids)
    ]
    cdf = spark.createDataFrame(rows, "cell int, c array<double>, cnrm double")
    packed = cdf.agg(
        F.sort_array(F.collect_list(F.struct("cell", "c", "cnrm"))).alias("__cents")
    )
    out = vectors.withColumn("__v", as_double_vec(vec_col)).withColumn(
        "__nrm", norm_col(F.col("__v"))
    )
    out = out.crossJoin(F.broadcast(packed))

    def cos(c):
        return fround(
            dot_col(F.col("__v"), c["c"]) / (F.col("__nrm") * c["cnrm"]),
            round_digits,
        )

    best = F.aggregate(
        F.col("__cents"),
        F.struct(
            F.lit(-2.0).cast("double").alias("cos"),
            F.lit(None).cast("int").alias("cell"),
        ),
        lambda acc, c: F.when(
            cos(c) > acc["cos"],
            F.struct(cos(c).alias("cos"), c["cell"].alias("cell")),
        ).otherwise(acc),
    )
    return out.withColumn(cell_col, best["cell"]).drop("__v", "__nrm", "__cents")


# ---------------------------------------------------------------------------
# product quantization (PQ) — the 100 TB ANN compression path
# ---------------------------------------------------------------------------


def _l2sq_col(a: Column, b: Column) -> Column:
    """Squared L2 distance as the same left-fold both engines share
    (zip_with preserves order; aggregate is a strict left fold —
    DuckDB replica: list_sum(list_transform(..., (a[i]-b[i])*(a[i]-b[i])))).
    Uses x*x, never pow(): pow's last-ulp rounding is not guaranteed
    identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _l2_cell_expr(
    sv: Column,
    cents: list[tuple[int, list[float]]],
    round_digits: int = 6,
) -> Column:
    """Nearest-codeword id by ROUNDED squared L2, ties to the lowest
    cell id — the L2 twin of kmeans_cell_expr (argmin instead of
    argmax). Literal codewords: a pure per-row projection.

    Shape: transform → array_min over (d, cell) structs. Struct
    ordering is lexicographic by field position, so array_min IS
    "smallest rounded distance, then lowest cell id" — each distance
    is evaluated exactly ONCE per cell, and the expression tree stays
    small. The earlier least()+CASE-chain form embedded every distance
    fold TWICE (once under least, once under its when), which blew the
    tree up to 2·k folds per subspace and made Catalyst analysis —
    not execution — the dominant cost (10.6s for 2000 rows at
    m=4, k=8; this form cut the full PQ query to ~1/4).

    The codebook rides as TWO literals (one int array, one nested
    double array); the doubles travel as one SQL string
    (lit_double_matrix) — F.lit pays one py4j round trip per element,
    ~0.45 s of pure DRIVER time per expression build at fit scale."""
    cells = F.lit([int(cid) for cid, _ in cents])
    coords = lit_double_matrix([[float(x) for x in c] for _, c in cents])
    scored = F.transform(
        coords,
        lambda c, i: F.struct(
            fround(_l2sq_col(sv, c), round_digits).alias("d"),
            F.element_at(cells, i + 1).alias("cell"),
        ),
    )
    return F.array_min(scored)["cell"]


def _subvec(v: Column, j: int, sub_dim: int) -> Column:
    return F.slice(v, j * sub_dim + 1, sub_dim)


def pq_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    round_digits: int = 6,
) -> dict[int, list[tuple[int, list[float]]]]:
    """Product-quantization codebooks: an independent deterministic
    L2 k-means per SUBSPACE (the vector split into ``m`` contiguous
    sub-vectors). Returns {subspace_j: [(cell_id, codeword)]}.

    Same engine-portable recipe as kmeans_fit (smallest-id seeds,
    rounded distances, per-coordinate rounded AVG updates, lowest-cell
    ties) so a DuckDB replica reproduces the codebooks bit-for-bit —
    but with SQUARED L2, not cosine: PQ's asymmetric-distance sum only
    decomposes over subspaces for additive metrics
    (‖q−x‖² = Σⱼ ‖qⱼ−xⱼ‖²).

    Scale: all m subspaces train in ONE frame per iteration — the
    assignment is a single map-only pass (m per-row argmin projections
    over literal codewords) and the update one combinable
    groupBy(j, cell) whose output is m·k rows; the per-iteration
    collect is m·k·(dim/m) = k·dim floats, a scalar probe."""
    v = vectors.select(
        F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("v")
    )
    seeds = v.orderBy("vid").limit(k).collect()
    dim = len(seeds[0]["v"])
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    s = dim // m
    books: dict[int, list[tuple[int, list[float]]]] = {
        j: sorted(
            (int(r["vid"]), [float(x) for x in r["v"]][j * s : (j + 1) * s])
            for r in seeds
        )
        for j in range(m)
    }
    for _ in range(iters):
        assigned = v.select(
            "vid",
            "v",
            *[
                _l2_cell_expr(_subvec(F.col("v"), j, s), books[j], round_digits)
                .alias(f"cell{j}")
                for j in range(m)
            ],
        )
        # one combinable agg for ALL subspaces: explode (j, cell, sv)
        sub = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col(f"cell{j}").alias("cell"),
                            _subvec(F.col("v"), j, s).alias("sv"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("e")
        ).select("e.j", "e.cell", "e.sv")
        # posexplode + ONE avg, regrouped driver-side: same multiset of
        # values and the same m·k·s partial-agg shuffle rows as the
        # former s-column-wide avg agg (map-side combine on (j,cell,i)),
        # but the generated code is a fraction of the size — the wide
        # agg cost ~1.5 s of janino compile PER ITERATION (every
        # iteration is a fresh plan: the centroids are literals), the
        # dominant wall at bench scale. Collect is m·k·s scalars.
        rows = (
            sub.select("j", "cell", F.posexplode("sv").alias("i", "x"))
            .groupBy("j", "cell", "i")
            .agg(F.avg("x").alias("c"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            acc.setdefault((int(r["j"]), int(r["cell"])), {})[int(r["i"])] = (
                _py_fround(r["c"], round_digits)
            )
        books = {j: [] for j in range(m)}
        for (j, cell), coords in acc.items():
            books[j].append((cell, [coords[i] for i in range(s)]))
        books = {j: sorted(cs) for j, cs in books.items()}
    return books


def pq_codes(
    vectors: DataFrame,
    books: dict[int, list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    carry: list[str] | None = None,
) -> DataFrame:
    """(id, j, cell): each vector's m codeword ids — the COMPRESSED
    corpus. At dim=64 float32 → m=4 int8 codes this is the 64× storage
    cut that makes billion-vector ANN fit in memory; materialized
    exploded here because the ADC join consumes (j, cell) keys.

    ``carry``: extra per-row columns to thread through the explode
    (e.g. the IVF coarse-cell id) — free in the same map pass, where
    re-attaching them afterwards would cost a corpus-wide join."""
    m = len(books)
    v = as_double_vec(vec_col)
    dim_s = len(books[0][0][1])
    extra = list(carry or ())
    cells = [
        F.struct(
            F.lit(j).alias("j"),
            _l2_cell_expr(_subvec(v, j, dim_s), books[j], round_digits).alias("cell"),
        )
        for j in range(m)
    ]
    return vectors.select(
        F.col(id_col), *extra, F.explode(F.array(*cells)).alias("e")
    ).select(
        F.col(id_col), *extra, F.col("e.j").alias("j"), F.col("e.cell").alias("cell")
    )


def pq_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    query_pred: Column | None = None,
    topk: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """PQ + ADC top-k: (q_id, cand_id, adist_u, rank).

    Asymmetric Distance Computation: per query, a LUT of exact
    query-subvector → codeword distances (|Q|·m·k entries), and each
    candidate's approximate distance is the SUM of m LUT lookups over
    its codes — the corpus is never touched beyond its (j, cell) codes.
    Distances are fixed-point MICRO-units (floor(d·1e6 + 0.5) as
    BIGINT) so the m-term sum is an integer — exactly order-free,
    immune to float summation order across engines and partitions.

    Scale shape: fit collects k·dim scalars; codes are one map pass;
    the LUT (|Q|·m·k rows) BROADCASTS onto the code stream; the
    per-(q, cand) sum is one combinable aggregation; rank is a
    per-query window over candidate rows. Nothing is O(n²) and the
    full vectors never join anything."""
    spark = vectors.sparkSession
    books = pq_fit(vectors, id_col, vec_col, m, k, iters, round_digits)
    s = len(books[0][0][1])
    codes = pq_codes(vectors, books, id_col, vec_col, round_digits)

    book_rows = [
        (j, cid, coords) for j, cs in books.items() for cid, coords in cs
    ]
    bdf = spark.createDataFrame(book_rows, "j int, cell int, c array<double>")
    q = vectors.select(F.col(id_col).alias("q_id"), as_double_vec(vec_col).alias("v"))
    if query_pred is not None:
        q = q.where(query_pred)
    qsub = q.select(
        "q_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), _subvec(F.col("v"), j, s).alias("sv"))
                    for j in range(m)
                ]
            )
        ).alias("e"),
    ).select("q_id", F.col("e.j").alias("j"), F.col("e.sv").alias("sv"))
    lut = qsub.join(bdf, "j").select(
        "q_id",
        "j",
        "cell",
        F.floor(_l2sq_col(F.col("sv"), F.col("c")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("d"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["j", "cell"])
        .where(F.col(id_col) != F.col("q_id"))
        .groupBy("q_id", F.col(id_col).alias("cand_id"))
        .agg(F.sum("d").alias("adist_u"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist_u").asc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("q_id", "cand_id", F.col("adist_u").cast("bigint"), "rank")
    )


def pq_rerank_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 8,
    iters: int = 2,
    query_pred: Column | None = None,
    pool_size: int = 50,
    topk: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """PQ-ADC candidate pool + EXACT re-rank — the production PQ shape
    (IVFADC's refine step): ADC's quantization error costs recall at
    the top ranks, so rank a pool of ``pool_size`` candidates by ADC
    (compressed codes only), then compute exact distances for just
    |Q|·pool_size pairs and keep the true top-k. Measured on the
    fixture corpus: ADC-only recall@5 ≈ 0.2-0.3, reranked ≈ 0.8 — the
    rerank is what makes the 64× compression usable.

    Scale: the exact pass touches full vectors for pool rows ONLY —
    a broadcast of the pool onto the corpus scan (one semi-join-sized
    pass), never a quadratic join. Exact distances use the same
    integer micro-units as ADC (order-free, engine-exact)."""
    pool = pq_topk(
        vectors, id_col, vec_col, m, k, iters, query_pred, pool_size, round_digits
    ).select("q_id", "cand_id")
    v = vectors.select(F.col(id_col).alias("__id"), as_double_vec(vec_col).alias("__v"))
    qv = v.select(F.col("__id").alias("q_id"), F.col("__v").alias("__qv"))
    if query_pred is not None:
        # broadcast only the query set's vectors, never the corpus
        qv = qv.where(query_pred)
    cv = v.select(F.col("__id").alias("cand_id"), F.col("__v").alias("__cv"))
    exact = (
        cv.join(F.broadcast(pool), "cand_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "cand_id",
            F.floor(_l2sq_col(F.col("__qv"), F.col("__cv")) * 1e6 + 0.5)
            .cast("bigint")
            .alias("dist_u"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist_u").asc(), F.col("cand_id").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("q_id", "cand_id", "dist_u", "rank")
    )


def _centroid_lookup_expr(
    cell_col: Column, cents: list[tuple[int, list[float]]]
) -> Column:
    """cell id → literal centroid array via a MAP literal lookup — a
    per-row projection, no join, O(1) plan size (the coordinate matrix
    ships as one SQL string, see lit_double_matrix; the earlier CASE
    chain paid one py4j round trip per coordinate)."""
    m = F.map_from_arrays(
        F.lit([int(cid) for cid, _ in cents]),
        lit_double_matrix([[float(x) for x in coords] for _, coords in cents]),
    )
    return F.element_at(m, cell_col)


def ivfadc_topk(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 4,
    m: int = 4,
    k: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    query_pred: Column | None = None,
    topk: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011, the full system): an IVF coarse
    quantizer restricts the search to the query's cell, and PQ codes of
    the RESIDUALS (v − coarse centroid) rank candidates by ADC — the
    architecture behind every billion-scale vector index (FAISS
    IVFx,PQy). Residual quantization matters: residuals are centered
    near 0, so the per-subspace codebooks spend their k codewords on a
    far smaller volume than raw vectors would need.

    Determinism: the coarse quantizer IS pq_fit(m=1) — one subspace
    covering the whole vector — so both k-means share the same
    engine-portable recipe and a SQL replica reproduces everything.
    ADC stays in integer micro-units (order-free sums).

    Scale shape: fit collects (coarse_k + k)·dim scalars; codes + cell
    ids are one map pass; the |Q|·m·k LUT broadcasts; the score join is
    cell-restricted — each query touches |corpus|/coarse_k code rows,
    the IVF pruning that makes ADC affordable. Nothing is O(n²)."""
    coarse = pq_fit(
        vectors, id_col, vec_col, m=1, k=coarse_k,
        iters=coarse_iters, round_digits=round_digits,
    )[0]
    v = vectors.select(
        F.col(id_col).alias("__id"), as_double_vec(vec_col).alias("__v")
    )
    ccell = _l2_cell_expr(F.col("__v"), coarse, round_digits)
    resdf = v.withColumn("ccell", ccell).withColumn(
        "res",
        F.zip_with(
            F.col("__v"),
            _centroid_lookup_expr(F.col("ccell"), coarse),
            lambda x, y: x - y,
        ),
    )
    # freeze before fan-out: FIVE consumers follow (residual fit's seed
    # probe + its iterations, the code pass, the query frame) and each
    # would otherwise re-run the coarse assignment + residual fold AND
    # re-analyze its literal-heavy expression tree per consumer plan —
    # measured 9.9 → ~4 s at sf0.1 where the wall is analysis/codegen
    resdf = freeze(resdf, eager=False)
    books = pq_fit(resdf, "__id", "res", m=m, k=k,
                   iters=pq_iters, round_digits=round_digits)
    s = len(books[0][0][1])
    # ccell rides through the code pass's explode — re-attaching it
    # here used to cost a corpus-wide equi-join on __id
    codes = pq_codes(resdf, books, "__id", "res", round_digits, carry=["ccell"])

    spark = vectors.sparkSession
    book_rows = [(j, cid, coords) for j, cs in books.items() for cid, coords in cs]
    bdf = spark.createDataFrame(book_rows, "j int, cell int, c array<double>")
    q = resdf.select(
        F.col("__id").alias("q_id"),
        F.col("ccell").alias("q_ccell"),
        F.col("res").alias("qres"),
    )
    if query_pred is not None:
        q = q.where(query_pred)
    qsub = q.select(
        "q_id",
        "q_ccell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _subvec(F.col("qres"), j, s).alias("sv")
                    )
                    for j in range(len(books))
                ]
            )
        ).alias("e"),
    ).select("q_id", "q_ccell", F.col("e.j").alias("j"), F.col("e.sv").alias("sv"))
    lut = qsub.join(bdf, "j").select(
        "q_id",
        "q_ccell",
        "j",
        "cell",
        F.floor(_l2sq_col(F.col("sv"), F.col("c")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("d"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["j", "cell"])
        .where((F.col("ccell") == F.col("q_ccell")) & (F.col("__id") != F.col("q_id")))
        .groupBy("q_id", F.col("__id").alias("cand_id"))
        .agg(F.sum("d").alias("adist_u"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist_u").asc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("q_id", "cand_id", F.col("adist_u").cast("bigint"), "rank")
    )


def pca_power_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
) -> DataFrame:
    """Top principal component by deterministic power iteration — PCA
    without ever materializing the covariance matrix.

    Each iteration uses the identity  C v = E[x (x·v)] − m (m·v)
    (C = E[xxᵀ] − mmᵀ), so one aggregation pass computes the 64-vector
    E[x (x·v)] (dim avg columns, map-side combinable) and the scalar
    E[x·v]; only dim+1 scalars cross to the driver per iteration —
    the k-means-fit budget, fine at 100 TB. Start vector is all-ones
    (never orthogonal to the top component of a nonnegative-correlation
    fixture); sign is canonicalized so the largest-|loading| entry is
    positive, making the answer engine-comparable. Returns one row per
    dimension: (dim_idx, mean, loading, eigval), eigval = ‖C v‖ of the
    final iterate (the Rayleigh estimate for a normalized v)."""
    spark = df.sparkSession
    x = df.select(as_double_vec(vec_col).alias("x"))

    mean_aggs = [F.avg(F.element_at("x", i + 1)).alias(f"m{i}") for i in range(dim)]
    mrow = x.agg(*mean_aggs).collect()[0]
    m = [float(mrow[i]) for i in range(dim)]

    v = [1.0] * dim
    norm0 = sum(c * c for c in v) ** 0.5
    v = [c / norm0 for c in v]
    eigval = 0.0
    for _ in range(iters):
        dot = None
        for i in range(dim):
            t = F.element_at("x", i + 1) * F.lit(v[i])
            dot = t if dot is None else dot + t
        xd = x.withColumn("__d", dot)
        s_aggs = [
            F.avg(F.element_at("x", i + 1) * F.col("__d")).alias(f"s{i}")
            for i in range(dim)
        ]
        row = xd.agg(F.avg("__d").alias("a"), *s_aggs).collect()[0]
        a = float(row["a"])
        cv = [float(row[i + 1]) - m[i] * a for i in range(dim)]
        eigval = sum(c * c for c in cv) ** 0.5
        v = [c / eigval for c in cv]
    # canonical sign: the largest-magnitude loading is positive
    k = max(range(dim), key=lambda i: abs(v[i]))
    if v[k] < 0:
        v = [-c for c in v]
    rows = [(i + 1, m[i], v[i], eigval) for i in range(dim)]
    return spark.createDataFrame(rows, "dim_idx int, mean double, loading double, eigval double")


def knn_graph_mutual(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    cell_col: str | None = None,
) -> DataFrame:
    """Mutual k-NN graph: the undirected edges (a, b) where each vector
    ranks in the other's cosine top-k — the standard graph input for
    clustering/manifold methods (and a natural feeder for
    connected_components). Built from the directed top-k by one
    equi-self-join on the reversed edge; dedup to a < b canonical form.

    ``cell_col=None`` is the exact brute-force directed phase (fine for
    bounded subsets; the oracle-pinned baseline). Passing an IVF cell
    column switches the directed phase to a CELL-LOCAL self-join —
    candidates shuffle on the cell key, cost Σ|cell|² instead of n²,
    the 100 TB shape (assign cells with kmeans_assign or reuse a label
    column). The mutualization join is identical either way and
    shuffles on the edge key. Measured (round 7, README §Measured scale
    growth, round-7 table): cell-local holds near-flat wall to 10x vectors at fixed
    cell size while brute force grows quadratically."""
    if cell_col is not None:
        topk = _cell_local_topk(vectors, id_col, vec_col, cell_col, k)
    else:
        topk = brute_force_topk(vectors, vectors, id_col, vec_col, k=k)
    # Freeze the directed top-k ONCE: the mutualization join reads it
    # from both sides, and an unfrozen plan re-executes the dominant
    # scoring pass per branch (review finding; the signature-freeze
    # rationale from cosine_near_dup_pairs).
    topk = freeze(topk, eager=False)
    fwd = topk.select(
        F.col("q_id").alias("a"), F.col("cand_id").alias("b"), "cos"
    )
    rev = topk.select(
        F.col("cand_id").alias("a"), F.col("q_id").alias("b")
    )
    mutual = fwd.join(rev, ["a", "b"]).where(F.col("a") < F.col("b"))
    return mutual.select("a", "b", "cos").distinct()


def _cell_local_topk(
    vectors: DataFrame, id_col: str, vec_col: str, cell_col: str, k: int
) -> DataFrame:
    """Directed cosine top-k restricted to each vector's cell: one
    equi-self-join on the cell key (NO broadcast of the corpus — both
    sides shuffle on cell) + a per-query window. The candidate volume
    is Σ|cell|², bounded by the coarse quantizer's balance, never n²."""
    q = vectors.select(
        F.col(id_col).alias("q_id"),
        F.col(cell_col).alias("cell"),
        as_double_vec(vec_col).alias("q_vec"),
    ).withColumn("q_norm", norm_col(F.col("q_vec")))
    c = vectors.select(
        F.col(id_col).alias("cand_id"),
        F.col(cell_col).alias("cell"),
        as_double_vec(vec_col).alias("c_vec"),
    ).withColumn("c_norm", norm_col(F.col("c_vec")))
    scored = (
        q.join(c.hint("shuffle_hash"), "cell")
        .where(F.col("q_id") != F.col("cand_id"))
        .select(
            "q_id",
            "cand_id",
            fround(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("q_id", "cand_id", "cos", "rank")
    )
