"""Bloom-filter semi-join pruning — the runtime-filter pattern.

At 100 TB the expensive part of `big ⋈ dim(filtered)` is shuffling the
big side: every fact row pays the exchange even though a selective dim
predicate will discard most of them at the join. The fix every engine
ships (Spark's runtime bloom filter, `InjectRuntimeFilter`) is to build
a small bloom filter over the dim join keys, broadcast it, and drop
non-matching fact rows *before* the shuffle. Spark injects this
automatically only for shuffle joins above size thresholds; this
operator is the explicit, always-available form — and because the
final exact join still runs on the survivors, bloom false positives
never reach the output (the result is exactly the plain semi join).

Reference analogue: the reference probes per-key existence against an
in-memory id index before writing (`/root/reference/app/db/id_index.py`,
`get()` path); at Spark scale the same membership pre-test becomes a
broadcast bitmask tested map-side.

Design notes (scale):
- The filter is `m_bits` wide (default 2^15 = 4 KiB) with `k`
  engine-portable md5-derived hash positions per key. The build
  aggregates *bit positions*, not keys: `collect_set` over at most
  `m_bits` distinct ints, so the driver round-trip is bounded metadata
  (same class as the k×dim centroid probes in operators/similarity.py),
  independent of dim cardinality.
- The mask is packed into 16-bit words (array<int> literal, 2 KiB of
  plan for the default width) so the probe is pure JVM arithmetic:
  `floor(word / 2^bit) % 2` — exact for words < 2^16, no Column-typed
  shift needed, whole-stage-codegen friendly.
- The probe is a deterministic per-row predicate: it commutes with the
  parquet scan, so Catalyst evaluates it right after the scan and the
  shuffle only carries survivors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash60
from .ckpt import broadcast

BLOOM_M_BITS = 1 << 15
BLOOM_K = 4
_WORD_BITS = 16


def bloom_bit_positions(key: Column, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> list[Column]:
    """The k bit positions for a key column via Kirsch-Mitzenmacher
    double hashing: position_i = (h1 + i·h2) mod m, with h1/h2 carved
    from ONE 60-bit md5 (h2 forced odd so, m being a power of two, the
    i-steps cycle the whole table). One hash evaluation per key instead
    of k — measured 3-4× cheaper on the map-side probe, with the same
    asymptotic false-positive rate (Kirsch & Mitzenmacher 2006)."""
    h = portable_hash60(key.cast("string"))
    h1 = h % F.lit(m_bits)
    h2 = (F.shiftright(h, 17) % F.lit(m_bits)).bitwiseOR(F.lit(1))
    return [(h1 + F.lit(i) * h2) % F.lit(m_bits) for i in range(k)]


def build_bloom_words(
    dim: DataFrame, key_col: str, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> list[int]:
    """Aggregate the dim side's set bit positions and pack them into
    16-bit words. One distributed aggregation; the collect moves at
    most ``m_bits`` ints of metadata to the driver."""
    positions = (
        dim.select(
            F.explode(F.array(*bloom_bit_positions(F.col(key_col), m_bits, k))).alias("p")
        )
        .agg(F.collect_set("p").alias("ps"))
        .collect()[0]["ps"]
    )
    words = [0] * (m_bits // _WORD_BITS)
    for p in positions or []:
        words[p // _WORD_BITS] |= 1 << (p % _WORD_BITS)
    return words


def bloom_might_contain(
    key: Column, words: list[int], m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> Column:
    """True iff all k bit positions for ``key`` are set in ``words``.
    False positives possible (bounded by the standard bloom rate),
    false negatives impossible."""
    arr = F.lit(words)
    cond = F.lit(True)
    for pos in bloom_bit_positions(key, m_bits, k):
        word = F.element_at(arr, (pos / F.lit(_WORD_BITS)).cast("int") + F.lit(1))
        bit = pos % F.lit(_WORD_BITS)
        cond = cond & (
            (F.floor(word / F.pow(F.lit(2.0), bit.cast("double"))).cast("bigint") % 2) == 1
        )
    return cond


def bloom_any_probe_arrow(spark, words: list[int], m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """Arrow-batched twin of ``F.exists(col, lambda s:
    bloom_might_contain(s, words, m_bits))`` over an ``array<string>``
    column: returns a pandas-UDF callable yielding True iff ANY element
    of the row's array might be in the filter.

    Why it exists: Catalyst evaluates a higher-order ``exists`` lambda
    INTERPRETED per array element, and the probe's md5 is the expensive
    part — measured ~13 s isolated for the decontaminate corpus at
    sf0.1. This form ships each partition's arrays across the Arrow
    boundary once, probes a BROADCAST bitmask (``m_bits/8`` bytes, the
    memory shape that scales to ~1e8-key benchmark sets where a hash
    relation would be multi-GB) in batched Python with a per-task memo
    over repeated shingles, and short-circuits per row exactly like
    ``exists`` (a NULL element never matches there either).

    Bit-position parity with :func:`bloom_bit_positions` is LOAD-
    BEARING: the mask is built by the JVM expression, so the Python
    probe recomputes the identical 60-bit md5 prefix and Kirsch-
    Mitzenmacher double hash — any drift would introduce false
    NEGATIVES (a bloom must never have those). Pinned by
    tests: the two probes agree on every shingle of a fixture corpus.
    False positives remain harmless (callers re-verify exactly)."""
    mask = bytearray(m_bits // 8)
    for i, w in enumerate(words):
        for b in range(_WORD_BITS):
            if (w >> b) & 1:
                p = i * _WORD_BITS + b
                mask[p >> 3] |= 1 << (p & 7)
    bc = broadcast(spark, bytes(mask))

    from typing import Iterator

    import pandas as pd

    def _probe(batches):
        from hashlib import md5

        m = bc.value
        memo: dict[str, bool] = {}

        def might(s: str) -> bool:
            v = memo.get(s)
            if v is None:
                h = int(md5(s.encode("utf-8")).hexdigest()[:15], 16)
                h1 = h % m_bits
                h2 = ((h >> 17) % m_bits) | 1
                v = True
                for i in range(k):
                    p = (h1 + i * h2) % m_bits
                    if not (m[p >> 3] >> (p & 7)) & 1:
                        v = False
                        break
                if len(memo) < (1 << 20):  # bound per-task memory
                    memo[s] = v
            return v

        for batch in batches:
            yield batch.map(
                lambda arr: bool(
                    arr is not None
                    and any(s is not None and might(s) for s in arr)
                )
            )

    # iterator-form hints attached as OBJECTS: the module-wide
    # ``from __future__ import annotations`` would stringify inline
    # hints and pandas_udf cannot resolve them from its own scope
    _probe.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    # asNondeterministic: a filter on the probe's output column would
    # otherwise be pushed below the projection and the optimizer
    # DUPLICATES the UDF (guide §4.4 shape — measured 0.38s -> 1.29s on
    # the decontaminate corpus). The probe is pure, so the marking only
    # pins single evaluation; results are unchanged.
    return F.pandas_udf(_probe, "boolean").asNondeterministic()


def bloom_semi_join(
    big: DataFrame,
    dim: DataFrame,
    big_key: str,
    dim_key: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Exact left-semi join of ``big`` against ``dim``'s keys, with a
    bloom pre-filter applied to ``big`` before the join's exchange.
    Output equals ``big.join(dim, big_key == dim_key, "left_semi")``
    exactly — the trailing semi join removes bloom false positives."""
    words = build_bloom_words(dim, dim_key, m_bits, k)
    survivors = big.where(bloom_might_contain(F.col(big_key), words, m_bits, k))
    return survivors.join(
        dim.select(F.col(dim_key).alias("__bk")).distinct(),
        F.col(big_key) == F.col("__bk"),
        "left_semi",
    )
