"""LLM-data-pipeline operators over documents/embeddings (north-star).

Required beyond the reference's surface (BASELINE.json): dedup family,
embedding similarity search, multimodal columns, text analysis. Every
query here has a DuckDB oracle except where the semantics are
engine-specific (noted inline); the MinHash/SimHash oracles reproduce
the exact signatures because both engines share the md5-based portable
hash (functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    HASH_PRIME,
    LANG_MARKERS,
    STOPWORDS,
    minhash_params,
    portable_hash_mod,
    tokens_col,
)
from ..operators.ckpt import freeze
from ..operators.dedup import (
    containment_pairs,
    exact_dedup,
    incremental_minhash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_filter_jaccard_pairs,
    shingle_frame,
    simhash_pairs,
)
from ..operators.multimodal import decode_stub_features, frame_sample_stub, resize_stub
from ..operators.similarity import brute_force_topk, cosine_near_dup_pairs, ivf_topk
from ..sources.catalog import load_table
from .registry import fround, local_result, register, sql_round

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB oracles)
# ---------------------------------------------------------------------------

_SQL_TOKS = "SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents"
_SQL_SHINGLES = f"""
  toks AS ({_SQL_TOKS}),
  sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
    FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  )
"""
_SQL_JACCARD_TAIL = """
  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  jac AS (
    SELECT id_a, id_b, i / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
  )
"""

_PORTABLE_HASH = "CAST(concat('0x', substr(md5({col}), 1, 15)) AS BIGINT)"

_SQL_VECS = """
  e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
  n AS (
    SELECT vec_id, v, label,
           sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM e
  )
"""


def _cos_sql(a: str, b: str) -> str:
    dot = (
        f"list_sum(list_transform(range(1, len({a}.v) + 1), "
        f"i -> {a}.v[i] * {b}.v[i]))"
    )
    return sql_round(f"{dot} / ({a}.nrm * {b}.nrm)", 6)


def _stop_pred(var: str, words: tuple[str, ...]) -> str:
    return " OR ".join(f"{var} = '{w}'" for w in words)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    oracle=f"""
    WITH toks AS ({_SQL_TOKS})
    SELECT d.doc_id,
           CAST(len(t.t) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(t.t)) AS INTEGER) AS n_distinct,
           d.n_chars
    FROM documents d JOIN toks t ON d.doc_id = t.doc_id
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer), JVM-side only."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        "n_chars",
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH toks AS ({_SQL_TOKS})
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           {sql_round("CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t)", 4)}
             AS avg_tok_len,
           {sql_round(f"len(list_filter(t, x -> {_stop_pred('x', STOPWORDS)})) / CAST(len(t) AS DOUBLE)", 4)}
             AS stop_ratio,
           {sql_round(f"(1.0 - len(list_filter(t, x -> {_stop_pred('x', STOPWORDS)})) / CAST(len(t) AS DOUBLE)) * (least(len(t), 100) / 100.0)", 4)}
             AS quality
    FROM toks
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword-ratio heuristics."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("__t", tokens_col("text"))
    n = F.size("__t")
    stop_hits = F.size(F.filter("__t", lambda x: _in_words(x, STOPWORDS)))
    tok_chars = F.aggregate("__t", F.lit(0), lambda acc, x: acc + F.length(x))
    return d.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        fround(tok_chars.cast("double") / n, 4).alias("avg_tok_len"),
        fround(stop_hits / n.cast("double"), 4).alias("stop_ratio"),
        fround(
            (F.lit(1.0) - stop_hits / n.cast("double"))
            * (F.least(n, F.lit(100)) / F.lit(100.0)),
            4,
        ).alias("quality"),
    )


def _in_words(x, words: tuple[str, ...]):
    pred = x == words[0]
    for w in words[1:]:
        pred = pred | (x == w)
    return pred


def _word_pred(words: tuple[str, ...]):
    # NB: must return a unary lambda — a default arg (lambda x, ws=ws: ...)
    # makes pyspark treat it as a (value, index) binary HOF lambda.
    def pred(x):
        return _in_words(x, words)

    return pred


def _langid_sql() -> str:
    hits = ",\n           ".join(
        f"len(list_filter(t, x -> {_stop_pred('x', ws)})) AS {lang}_hits"
        for lang, ws in LANG_MARKERS.items()
    )
    return f"""
    WITH toks AS ({_SQL_TOKS}),
    h AS (SELECT doc_id, {hits} FROM toks)
    SELECT d.doc_id,
           CASE
             WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits
                  AND en_hits > 0 THEN 'en'
             WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
             WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
             WHEN fr_hits > 0 THEN 'fr'
             ELSE 'und'
           END AS pred_lang,
           d.lang,
           CASE
             WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits
                  AND en_hits > 0 THEN 'en'
             WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
             WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
             WHEN fr_hits > 0 THEN 'fr'
             ELSE 'und'
           END = d.lang AS is_match
    FROM h JOIN documents d ON d.doc_id = h.doc_id
    """


@register("text_langid", oracle=_langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic via marker-token hits (n-gram-style LID).

    On this synthetic corpus every language shares one vocabulary, so
    the prediction quality is meaningless — the operator shape (and its
    oracle parity) is what's under test."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("__t", tokens_col("text"))
    for lang, ws in LANG_MARKERS.items():
        d = d.withColumn(f"{lang}_hits", F.size(F.filter("__t", _word_pred(ws))))
    en, de, es, fr = (F.col(f"{l}_hits") for l in ("en", "de", "es", "fr"))
    pred = (
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), "en")
        .when((de >= es) & (de >= fr) & (de > 0), "de")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return d.select("doc_id", pred.alias("pred_lang"), "lang", (pred == F.col("lang")).alias("is_match"))


@register(
    "text_fingerprint",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    toksets AS ({_SQL_TOKS})
    SELECT d.doc_id,
           md5(array_to_string(list_sort(list_distinct(k.t)), ' ')) AS fp_md5,
           m.min_sh_hash
    FROM documents d
    JOIN toksets k ON k.doc_id = d.doc_id
    LEFT JOIN (
      SELECT doc_id, min({_PORTABLE_HASH.format(col='s')} % {HASH_PRIME}) AS min_sh_hash
      FROM sh GROUP BY doc_id
    ) m ON m.doc_id = d.doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: set-hash (md5 of sorted distinct tokens)
    + min-shingle rolling-style hash."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    minsh = (
        shingle_frame(d, "doc_id", "text", 3)
        .groupBy("doc_id")
        .agg(F.min(portable_hash_mod("shingle")).alias("min_sh_hash"))
    )
    return d.select("doc_id", fp.alias("fp_md5")).join(minsh, "doc_id", "left").select(
        "doc_id", "fp_md5", "min_sh_hash"
    )


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_md5,
           CAST(min(doc_id) AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS dup_cnt
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (one shuffle, map-side combine)."""
    d = load_table(spark, sf_dir, "documents")
    out = exact_dedup(d, "doc_id", "text")
    return out.select(
        F.md5("text").alias("text_md5"),
        F.col("canonical_id").cast("bigint"),
        F.col("dup_cnt").cast("bigint"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_JACCARD_TAIL}
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted shingle index
    (no O(n²) cross join)."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           i / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment,
           CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i / CAST(LEAST(sa.n, sb.n) AS DOUBLE) >= 0.8971
    """,
)
def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUPERSET pairs by 3-gram shingle containment
    C = |A∩B| / min(|A|,|B|) ≥ ~0.9 — the asymmetric dedup rule Jaccard
    misses: a short doc pasted verbatim inside a long one scores
    Jaccard ≈ |A|/|B| (arbitrarily low) but containment ≈ 1. Corpus
    pipelines use this for boilerplate inclusion and benchmark
    questions embedded in larger pages (reference analogue: none — the
    reference dedups rows by natural key only; this is north-star
    surface). Same inverted-index shape as dedup_ngram_jaccard: pairs
    sharing ≥1 shingle only, one reused exchange, never all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(d, "doc_id", "text", n=3, threshold=0.8971)


@register(
    "dedup_prefix_filter",
    # the SAME truth as dedup_ngram_jaccard: prefix filtering is a
    # candidate-generation strategy, not a different similarity — the
    # oracle replays the full pair join and the registered query must
    # reproduce it exactly (completeness of the prefix cut is thereby
    # re-proven against DuckDB every round, same discipline as the
    # FastSS blocking and sweep-line oracles)
    oracle=f"""
    WITH {_SQL_SHINGLES},
    {_SQL_JACCARD_TAIL}
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
    """,
)
def dedup_prefix_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 pairs via PPJoin-style PREFIX
    FILTERING (operators/dedup.py:prefix_filter_jaccard_pairs): join
    only each doc's globally-rarest-token prefix, verify candidates
    row-locally. Third algorithm for the dedup_ngram_jaccard truth —
    exact like the inverted index, skew-immune like nothing else: hot
    shingles sort LAST and fall out of prefixes, so the degenerate
    corpus that needs max_df guarding on the full index defuses
    itself here (measured in round 8: README §Measured scale growth,
    adversarial key skew table)."""
    d = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


def _minhash_sql(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    tail: str | None = None,
) -> str:
    """MinHash CTE chain; ``tail`` (if given) consumes the verified
    pairs as a CTE named ``vp(id_a, id_b, jaccard)`` instead of the
    default pair SELECT — lets derived queries (per-doc top-k) reuse
    the exact signature arithmetic without drift."""
    params = minhash_params(num_hashes)
    rows = num_hashes // bands
    x = f"({_PORTABLE_HASH.format(col='s')} % {HASH_PRIME})"
    mins = ",\n           ".join(
        f"min(({a} * x + {b}) % {HASH_PRIME}) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    band_legs = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {j} AS band_idx, concat_ws('_', {cols}) AS band_val FROM sig".format(
            j=j, cols=", ".join(f"mh{j * rows + r}" for r in range(rows))
        )
        for j in range(bands)
    )
    return f"""
    WITH {_SQL_SHINGLES},
    h AS (SELECT doc_id, {x} AS x FROM sh),
    sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    bands AS (
{band_legs}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    {_SQL_JACCARD_TAIL}
    {', vp AS (' if tail is not None else ''}
    SELECT j.id_a, j.id_b, j.jaccard
    FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
    WHERE j.jaccard >= {threshold}
    {')' + tail if tail is not None else ''}
    """


@register("dedup_minhash_lsh", oracle=_minhash_sql())
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (16 hashes, 4 bands), exact-verified.
    The scale path: candidate generation is an equi-join on band values."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5)


@register(
    "text_similar_docs_topk",
    oracle=_minhash_sql(
        tail="""
    , sym AS (
      SELECT id_a AS doc_id, id_b AS other_id, jaccard FROM vp
      UNION ALL
      SELECT id_b AS doc_id, id_a AS other_id, jaccard FROM vp
    )
    SELECT doc_id, other_id, jaccard, rank FROM (
      SELECT doc_id, other_id, jaccard,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY jaccard DESC, other_id ASC) AS INTEGER) AS rank
      FROM sym
    ) WHERE rank <= 3
    """
    ),
)
def text_similar_docs_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text similarity search: the top-3 most similar
    other docs by exact Jaccard, restricted to MinHash-LSH candidates
    (16/4, ≥ 0.5) — \"more like this\" over text, the lexical twin of
    the embedding ANN family. Symmetrization is ROW-LOCAL (each
    verified pair explodes into its two orientations — no second
    consumption of the expensive pair frame, no union re-execution);
    the top-k is one row_number window partitioned by doc. The oracle
    replays the identical signatures via the shared md5 hash, so rank
    order is bit-reproducible cross-engine."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("doc_id"),
                    F.col("id_b").alias("other_id"),
                    F.col("jaccard"),
                ),
                F.struct(
                    F.col("id_b").alias("doc_id"),
                    F.col("id_a").alias("other_id"),
                    F.col("jaccard"),
                ),
            )
        ).alias("p")
    ).select("p.doc_id", "p.other_id", "p.jaccard")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("other_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
    )


def _incremental_minhash_sql(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """DuckDB twin of ``incremental_minhash_dedup`` over the parity
    fixture split (even doc_id = existing corpus, odd = new batch)."""
    params = minhash_params(num_hashes)
    rows = num_hashes // bands
    x = f"({_PORTABLE_HASH.format(col='s')} % {HASH_PRIME})"
    mins = ",\n           ".join(
        f"min(({a} * x + {b}) % {HASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    band_legs = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {j} AS band_idx, concat_ws('_', {cols}) AS band_val FROM sig".format(
            j=j, cols=", ".join(f"mh{j * rows + r}" for r in range(rows))
        )
        for j in range(bands)
    )
    return f"""
    WITH {_SQL_SHINGLES},
    h AS (SELECT doc_id, {x} AS x FROM sh),
    sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    bands AS (
{band_legs}
    ),
    cand AS (
      SELECT DISTINCT nw.doc_id AS new_id, ol.doc_id AS old_id
      FROM bands nw JOIN bands ol
        ON nw.band_idx = ol.band_idx AND nw.band_val = ol.band_val
      WHERE nw.doc_id % 2 = 1 AND ol.doc_id % 2 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.old_id, count(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.new_id
      JOIN sh b ON b.doc_id = c.old_id AND a.s = b.s
      GROUP BY 1, 2
    ),
    hit AS (
      SELECT new_id, CAST(min(old_id) AS BIGINT) AS matched_id
      FROM inter
      JOIN sizes sa ON sa.doc_id = new_id
      JOIN sizes sb ON sb.doc_id = old_id
      WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= {threshold}
      GROUP BY 1
    )
    SELECT d.doc_id, hit.matched_id, hit.matched_id IS NOT NULL AS is_dup
    FROM documents d LEFT JOIN hit ON hit.new_id = d.doc_id
    WHERE d.doc_id % 2 = 1
    """


@register("corpus_incremental_dedup", oracle=_incremental_minhash_sql())
def corpus_incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the odd-doc_id half of the fixture
    arrives as a new batch and is near-deduped against the even half
    standing in for the existing corpus (MinHash 16/4, exact-Jaccard
    verify ≥ 0.5). The batch-vs-corpus band join is the O(batch)
    production pattern — see operators/dedup.incremental_minhash_dedup
    for the persisted-signature-store scale notes."""
    d = load_table(spark, sf_dir, "documents")
    return incremental_minhash_dedup(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
        "doc_id",
        "text",
        n=3,
        num_hashes=16,
        bands=4,
        threshold=0.5,
    )


_SIMHASH_BITS_Q = 48
_SIMHASH_HAMMING_Q = 3


def _simhash_sql(bits: int = _SIMHASH_BITS_Q, max_hamming: int = _SIMHASH_HAMMING_Q) -> str:
    """DuckDB twin of ``simhash_pairs`` — same signature width and
    radius as the registered Spark query (parameterized so the two
    can never drift)."""
    return f"""
    WITH rawtoks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    toks AS (SELECT DISTINCT doc_id, tok FROM rawtoks WHERE tok <> ''),
    h AS (SELECT doc_id, {_PORTABLE_HASH.format(col='tok')} % {1 << bits} AS x FROM toks),
    bits AS (
      SELECT doc_id, i AS bit,
             CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END AS w
      FROM h, UNNEST(range(0, {bits})) AS u(i)
    ),
    votes AS (SELECT doc_id, bit, sum(w) AS s FROM bits GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register("dedup_simhash", oracle=_simhash_sql())
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (48-bit signatures, Hamming ≤ 3, exact
    pigeonhole banding). 32 bits saturate on this shared-vocabulary
    corpus (48% of all pairs within Hamming 6); the wider signature +
    tighter radius keeps the output an actual near-dup set and the
    verify stage O(|candidates|)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        d, "doc_id", "text", max_hamming=_SIMHASH_HAMMING_Q, bits=_SIMHASH_BITS_Q
    )


def _cosine_near_dup_sql(
    bits: int = 32, dim: int = 64, n_bands: int = 8, threshold: float = 0.4445555
) -> str:
    """DuckDB twin of the banded `cosine_near_dup_pairs`: the SAME
    deterministic md5 hyperplanes, banding, and exact-cosine verify —
    so the approximate path is still cross-engine hash-exact (the
    `dedup_minhash_lsh` pattern)."""
    from ..operators.similarity import lsh_weights

    ws = lsh_weights(bits, dim)
    bpb = bits // n_bands
    mask = (1 << bpb) - 1
    wlists = ",\n           ".join(
        "[" + ", ".join(f"{x:.1f}" for x in row) + f"] AS w{b}"
        for b, row in enumerate(ws)
    )
    bit_terms = "\n           + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> v[i] * w{b}[i])) >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH {_SQL_VECS},
    w AS (SELECT {wlists}),
    sig AS (SELECT vec_id, {bit_terms} AS sig FROM n, w),
    bands AS (
      SELECT vec_id, u.j AS band_idx, (sig >> (u.j * {bpb})) & {mask} AS band_val
      FROM sig, UNNEST(range(0, {n_bands})) AS u(j)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {_cos_sql('a', 'b')} AS cos
    FROM cand c
    JOIN n a ON a.vec_id = c.id_a
    JOIN n b ON b.vec_id = c.id_b
    WHERE {_cos_sql('a', 'b')} >= {threshold}
    """


@register("dedup_embedding_cosine", oracle=_cosine_near_dup_sql(bits=48))
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, sign-LSH banded: candidates from
    an equi-join on signature bands (never an all-pairs non-equi join),
    verified with the exact rounded cosine. The oracle replicates the
    identical banded algorithm, so the result is cross-engine exact;
    recall vs the all-pairs baseline is pinned by
    tests/test_properties.py (banded ⊆ all-pairs)."""
    e = load_table(spark, sf_dir, "embeddings")
    # pinned banding (NOT the auto corpus-size defaults): the oracle SQL
    # embeds these exact constants, so the registered query must too.
    # 48/8 = the recommended_lsh_params answer for the bench corpus —
    # the old 32/8 pin (16 buckets/band) made 40% of ALL pairs
    # candidates at sf0.1 (806k of 2M), paying ~3s of verify wall for
    # 131 true pairs; 64 buckets/band restores the banding's point
    return cosine_near_dup_pairs(e, threshold=0.4445555, bits=48, n_bands=8)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH {_SQL_VECS},
    s AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id, {_cos_sql('q', 'c')} AS cos
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    )
    SELECT q_id, cand_id, cos, rank FROM (
      SELECT q_id, cand_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def ann_bruteforce_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (exact baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.where(F.col("vec_id") < 10), k=5)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_SQL_VECS},
    s AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id, {_cos_sql('q', 'c')} AS cos
      FROM n q JOIN n c ON c.vec_id <> q.vec_id AND c.label = q.label
      WHERE q.vec_id < 10
    )
    SELECT q_id, cand_id, cos, rank FROM (
      SELECT q_id, cand_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
      FROM s
    ) WHERE rank <= 5
    """,
)
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style top-5: candidates restricted to the query's cluster cell
    (`label` = precomputed assignment) — probes 1/k of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(e, e.where(F.col("vec_id") < 10), k=5)


def _kmeans_ivf_sql(k: int, iters: int, dim: int = 64, nprobe: int = 1, fit_pred: str = "TRUE") -> str:
    """DuckDB replica of kmeans_fit + kmeans_assign + IVF top-5: the
    identical deterministic Lloyd's procedure (smallest-id seeds,
    rounded cosines, per-coordinate rounded AVG updates, lowest-cell
    tie-break), unrolled ``iters`` times as CTE pairs — so the trained
    IVF path stays cross-engine hash-exact like every other query.
    ``nprobe > 1`` replicates multi-cell probing: queries search their
    nprobe nearest cells (same rounded-cosine rank as assignment);
    candidates keep their single rn=1 cell. ``fit_pred`` restricts the
    FIT (seeds + Lloyd iterations) to a vector subset while the final
    assignment/probe ranks the full corpus — the replica of the
    append-to-index path (new vectors assigned to frozen centroids)."""

    def cos(av, anrm, bv, bnrm):
        dot = f"list_sum(list_transform(range(1, {dim + 1}), i -> {av}[i] * {bv}[i]))"
        return sql_round(f"{dot} / ({anrm} * {bnrm})", 6)

    avg_terms = ", ".join(sql_round(f"avg(v[{i + 1}])", 6) for i in range(dim))
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        "n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),",
        f"nf AS (SELECT * FROM n WHERE {fit_pred}),",
        # the k SMALLEST ids (not `vec_id < k`): matches kmeans_fit's
        # orderBy(id).limit(k) seeding on any id space, not just a
        # 0-based dense one
        f"c0 AS (SELECT vec_id AS cell, v AS c, nrm AS cnrm FROM nf ORDER BY vec_id LIMIT {k}),",
    ]
    for it in range(iters):
        prev, cur = f"c{it}", f"c{it + 1}"
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, v, cell FROM (
        SELECT nf.vec_id, nf.v, {prev}.cell,
               row_number() OVER (PARTITION BY nf.vec_id
                 ORDER BY {cos('nf.v', 'nf.nrm', f'{prev}.c', f'{prev}.cnrm')} DESC,
                          {prev}.cell ASC) AS rn
        FROM nf, {prev}) WHERE rn = 1),"""
        )
        parts.append(
            f"""{cur} AS (
      SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x * x))) AS cnrm FROM (
        SELECT cell, [{avg_terms}] AS c FROM a{it} GROUP BY cell)),"""
        )
    last = f"c{iters}"
    parts.append(
        f"""ranked AS (
      SELECT n.vec_id, {last}.cell,
             row_number() OVER (PARTITION BY n.vec_id
               ORDER BY {cos('n.v', 'n.nrm', f'{last}.c', f'{last}.cnrm')} DESC,
                        {last}.cell ASC) AS rn
      FROM n, {last}),
    af AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    qp AS (SELECT vec_id, cell FROM ranked WHERE rn <= {nprobe}),
    s AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id, {cos('q.v', 'q.nrm', 'c.v', 'c.nrm')} AS cos
      FROM (SELECT n.*, qp.cell FROM n JOIN qp USING (vec_id)) q
      JOIN (SELECT n.*, af.cell FROM n JOIN af USING (vec_id)) c
        ON c.vec_id <> q.vec_id AND c.cell = q.cell
      WHERE q.vec_id < 10
    )
    SELECT q_id, cand_id, cos, rank FROM (
      SELECT q_id, cand_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
      FROM s
    ) WHERE rank <= 5"""
    )
    return "\n    ".join(parts)


@register("ann_ivf_kmeans_topk", oracle=_kmeans_ivf_sql(k=8, iters=3))
def ann_ivf_kmeans_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 over cells trained by real k-means (operators/
    similarity.py kmeans_fit): 3 Lloyd's iterations in DataFrame ops —
    assignment is a literal-centroid projection (map-only), the update
    one combinable aggregate — then the same cell-restricted equi-join
    probe as ann_ivf_topk. Recall vs brute force is pinned by
    tests/test_properties.py."""
    from ..operators.similarity import kmeans_assign, kmeans_fit

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, k=8, iters=3)
    assigned = kmeans_assign(e, cents)
    return ivf_topk(assigned, assigned.where(F.col("vec_id") < 10), cell_col="cell", k=5)


@register("ann_ivf_nprobe_topk", oracle=_kmeans_ivf_sql(k=8, iters=3, nprobe=2))
def ann_ivf_nprobe_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with nprobe=2 multi-cell probing — the recall knob real
    IVF deployments turn: each query searches its 2 nearest trained
    cells (2/8 of the corpus) instead of one. Same deterministic
    k-means as ann_ivf_kmeans_topk; probe ranking reuses the
    assignment's rounded-cosine order, so the oracle shares the CTE
    chain with rn <= 2. At nprobe = k the operator equals brute force
    (property-pinned)."""
    from ..operators.similarity import ivf_topk_nprobe, kmeans_assign, kmeans_fit

    e = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, k=8, iters=3)
    assigned = kmeans_assign(e, cents)
    return ivf_topk_nprobe(
        assigned, e.where(F.col("vec_id") < 10), cents, nprobe=2, k=5
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           lower(hex(substr(text, 1, 8))) AS head_hex,
           lang, source
    FROM documents
    """,
)
def multimodal_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: byte length + head bytes as hex,
    alongside typed metadata columns (the image/files pattern of the
    reference's asset_mint_tx, app/db/postgres.py:144-145)."""
    d = load_table(spark, sf_dir, "documents")
    content = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(content).cast("int").alias("byte_len"),
        F.lower(F.hex(F.substring("text", 1, 8))).alias("head_hex"),
        "lang",
        "source",
    )


@register(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
           CAST(doc_id % 5 + 1 AS INTEGER) AS n_frames
    FROM documents
    """,
)
def multimodal_decode_stub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas 'decode' over a binary column — the real
    plumbing with a deterministic fake decoder (codecs unavailable here;
    operators/multimodal.py documents the real path)."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "content", F.encode(F.col("text"), "UTF-8")
    )
    return decode_stub_features(d, "doc_id", "content")


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH c AS (
      SELECT doc_id, octet_length(encode(text)) AS n,
             CAST(doc_id % 5 + 1 AS INTEGER) AS nf
      FROM documents
    )
    SELECT doc_id,
           CAST(u.i AS INTEGER) AS frame_idx,
           CAST(u.i * (n // nf) AS INTEGER) AS frame_offset,
           CAST(n // nf AS INTEGER) AS frame_len
    FROM c, UNNEST(range(0, nf)) AS u(i)
    """,
)
def multimodal_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-rows-per-input mapInPandas: one row per sampled 'frame'
    of a video-like binary column (operators/multimodal.py
    frame_sample_stub — real batch plumbing, deterministic fake codec)."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "content", F.encode(F.col("text"), "UTF-8")
    )
    return frame_sample_stub(d, "doc_id", "content")


@register(
    "multimodal_decode_bmp",
    oracle="""
    SELECT doc_id,
           CAST(54 + (doc_id % 13 + 1) * (((doc_id % 21 + 1) * 3 + 3) // 4 * 4)
                AS INTEGER) AS byte_len,
           CAST(doc_id % 21 + 1 AS INTEGER) AS width,
           CAST(doc_id % 13 + 1 AS INTEGER) AS height,
           CAST(24 AS INTEGER) AS bpp,
           CAST(3 AS INTEGER) AS channels,
           CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_b
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_bmp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode for one format: spec-compliant 24-bit BMP
    streams are rendered in-flight (operators/multimodal.py encode_bmp
    — widths 1..21 exercise every 4-byte row-padding case) and parsed
    back by decode_bmp, which walks both headers and the bottom-up
    padded raster to per-channel means. The oracle predicts every
    header/raster value from the id arithmetic, and an independent
    hand-written spec-bytes test (tests/test_properties.py) keeps the
    encoder and decoder from sharing a hidden layout bug."""
    from ..operators.multimodal import decode_bmp_features, synthetic_bmp_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_bmp_features(synthetic_bmp_frame(d), "doc_id", "content")


@register(
    "multimodal_decode_png",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 21 + 1 AS INTEGER) AS width,
           CAST(doc_id % 13 + 1 AS INTEGER) AS height,
           CAST(8 AS INTEGER) AS bit_depth,
           CAST(2 AS INTEGER) AS color_type,
           CAST(3 AS INTEGER) AS channels,
           CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_b
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_png_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode of a COMPRESSED image format: truecolor 8-bit PNG
    streams rendered in-flight (operators/multimodal.py encode_png —
    stdlib zlib deflate, scanline filters cycling None/Sub/Up) and
    parsed back by decode_png: chunk walk with CRC verification, IDAT
    inflate, full five-filter unfiltering, per-channel means. Unlike
    the BMP twin the byte length is NOT oracle-predictable (deflate
    output varies), so the contract covers header + raster values; a
    hand-written spec-bytes test (tests/test_properties.py) keeps the
    encoder and decoder from sharing a hidden layout bug. Reference
    analogue: the image/files columns (app/db/postgres.py:144-145)."""
    from ..operators.multimodal import decode_png_features, synthetic_png_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_png_features(synthetic_png_frame(d), "doc_id", "content")


@register(
    "multimodal_decode_jpeg",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 21 + 1 AS INTEGER) AS width,
           CAST(doc_id % 13 + 1 AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           CAST((doc_id * 11) % 256 AS DOUBLE) AS mean_gray
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_jpeg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode of the SIXTH codec — baseline JPEG (ITU-T T.81),
    from scratch: marker walk, DQT, generic canonical-Huffman DHT,
    entropy decode with byte unstuffing, DC prediction, dequantize,
    de-zigzag, IDCT, edge-block crop (operators/multimodal.py
    decode_jpeg — the round-11 closure of real_image_decode's last
    NotImplementedError gate). Fixtures are solid-gray streams rendered
    in-flight by encode_jpeg_gray with all-ones quant tables: a solid
    block is DC-only and DC = 8*(gray-128) is an exact float, and the
    decoder's DC-only IDCT fast path returns the exact constant — so
    mean_gray is predictable BIT-FOR-BIT from id arithmetic, no
    tolerance. Widths 1..21 x heights 1..13 exercise partial edge
    blocks and multi-block rasters; a hand-written single-AC-
    coefficient test (tests/test_properties.py) checks the entropy
    decoder and IDCT against independently computed cosines so the
    encoder and decoder cannot share a hidden layout bug."""
    from ..operators.multimodal import decode_jpeg_features, synthetic_jpeg_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_jpeg_features(synthetic_jpeg_frame(d), "doc_id", "content")


@register(
    "multimodal_decode_jpeg_progressive",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 21 + 1 AS INTEGER) AS width,
           CAST(doc_id % 13 + 1 AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           CAST((doc_id * 11) % 256 AS DOUBLE) AS mean_gray
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_jpeg_progressive_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE JPEG (SOF2) — the round-13 closure of the last wild
    still-image gate (r12 verdict item 5): spectral selection +
    successive approximation per ITU-T T.81 §G over the existing
    Huffman/IDCT machinery. Fixtures are solid-gray four-scan streams
    rendered in-flight by encode_jpeg_gray_progressive (DC first at
    Al=1, all-zero AC band as EOBn runs with r>0, DC refinement bit,
    AC refinement EOBn runs); (DC>>1)<<1 | (DC&1) reassembles DC =
    8*(gray-128) exactly, so mean_gray is id-predictable BIT-FOR-BIT
    like the baseline twin. The parts solid fixtures cannot see —
    nonzero AC bands, refinement correction bits, newly-nonzero
    inserts, interleaved progressive DC for color — are pinned by
    hand-assembled spec-byte streams in tests/test_properties.py
    (progressive plane == baseline plane, exact float equality).
    decode_jpeg dispatches on the SOF marker so mixed
    baseline/progressive corpora need no routing. Reference analogue: the image/files columns
    (app/db/postgres.py:144-145)."""
    from ..operators.multimodal import (
        decode_jpeg_features,
        synthetic_jpeg_progressive_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_jpeg_features(
        synthetic_jpeg_progressive_frame(d), "doc_id", "content"
    )


@register(
    "multimodal_decode_jpeg_420",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 37 + 1 AS INTEGER) AS width,
           CAST(doc_id % 29 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST((doc_id * 11) % 256 AS DOUBLE) AS mean_y,
           CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_cb,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_cr
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_jpeg_420_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 CHROMA-SUBSAMPLED baseline JPEG — the real-world default
    layout (3 components, Y at 2x2, Cb/Cr at 1x1, interleaved scan).
    The round-12 MCU walk (operators/multimodal.py _decode_scan)
    implements ITU-T T.81 §A.2: per 16x16 MCU, four Y blocks in raster
    order then one Cb and one Cr, each component's raster and crop at
    its OWN subsampled dims (§A.1.1). Fixtures are solid-color streams
    from encode_jpeg_color_420 (all-ones quant tables): solid planes
    are DC-only with DC = 8*(v-128) exact, so all three plane means
    are id-predictable BIT-FOR-BIT. Widths 1..37 x heights 1..29 cover
    sub-MCU images and partial Y/chroma edge blocks; the hand-written
    distinct-DC spec-bytes test (tests/test_properties.py) pins the
    block interleave independently of our encoder. Reference analogue:
    the image/files columns (app/db/postgres.py:144-145)."""
    from ..operators.multimodal import (
        decode_jpeg_420_features,
        synthetic_jpeg_420_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_jpeg_420_features(
        synthetic_jpeg_420_frame(d), "doc_id", "content"
    )


@register(
    "multimodal_decode_mixed",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
             WHEN 2 THEN 'jpeg' ELSE 'jpeg_progressive' END AS fmt,
           CAST(doc_id % 21 + 1 AS INTEGER) AS width,
           CAST(doc_id % 13 + 1 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 4 >= 2 THEN 1 ELSE 3 END AS INTEGER)
             AS channels,
           CAST(CASE WHEN doc_id % 4 >= 2 THEN (doc_id * 11) % 256
                     ELSE (doc_id * 3) % 256 END AS DOUBLE) AS mean_c0
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_mixed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A HETEROGENEOUS binary column — BMP, PNG, baseline-JPEG, and
    (round 13) PROGRESSIVE-JPEG streams interleaved in one column by
    doc_id % 4 — decoded through the magic-byte dispatcher
    (operators/multimodal.py real_image_decode): the production shape
    of a scraped-corpus image column, where format is data, not schema
    (and where baseline and progressive JPEGs share magic bytes — the
    SOF-marker dispatch inside decode_jpeg is what routes them). Per
    row: detected format, dimensions, channel count, and the first
    channel's mean (R for the color formats, gray for JPEG) — every
    value id-predictable because each per-format fixture is the same
    closed-form render its dedicated query uses. One Python pass per
    row renders the fixture and decodes it; map-only, no shuffle."""
    from ..operators.multimodal import (
        _per_blob,
        _solid_rgb,
        encode_bmp,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
        encode_png,
        real_image_decode,
    )

    def encode(i: int) -> bytes:
        w, h = i % 21 + 1, i % 13 + 1
        if i % 4 == 0:
            return encode_bmp(w, h, _solid_rgb(i))
        if i % 4 == 1:
            return encode_png(w, h, _solid_rgb(i))
        if i % 4 == 2:
            return encode_jpeg_gray(w, h, (i * 11) % 256)
        return encode_jpeg_gray_progressive(w, h, (i * 11) % 256)

    def rows(i: int, _: bytes) -> list[dict]:
        blob = encode(i)
        dec = real_image_decode(blob)
        if blob[:2] == b"BM":
            fmt = "bmp"
        elif blob[:4] == b"\x89PNG":
            fmt = "png"
        else:
            fmt = "jpeg_progressive" if dec.get("progressive") else "jpeg"
        mean_c0 = dec.get("mean_r", dec.get("mean_gray"))
        return [
            {
                "fmt": fmt,
                "width": dec["width"],
                "height": dec["height"],
                "channels": dec.get("channels", 3),
                "mean_c0": float(mean_c0),
            }
        ]

    # The input blob is empty: each row renders its own fixture in the
    # decode pass. Rendering in a separate _per_id stage adds a second
    # Python worker pass per task: +20-45 ms on this ~0.2 s query at sf0.1
    # (4-vCPU VM, local[4]).
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", F.lit(b"").alias("content"))
    )
    return _per_blob(
        d,
        "doc_id",
        "content",
        rows,
        "doc_id bigint, fmt string, width int, height int, channels int, mean_c0 double",
    )


@register(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok,
           floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 100000 + 0.5) / 100000
             AS tfidf
    FROM tf, n JOIN df ON tf.tok = df.tok
    WHERE tf * ln(CAST(n_docs AS DOUBLE) / df) > 0
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token) via two groupBys + a join — the SURVEY
    §2.I text-analysis pattern. The doc count is a scalar broadcast; the
    df-side join shuffles on token (salting applies if a token is hot).
    Zero-idf tokens (present in every doc) are dropped on both sides."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select("doc_id").distinct().count()
    out = tf.join(df_, "tok").select(
        "doc_id",
        "tok",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("__raw"),
    )
    return out.where(F.col("__raw") > 0).select(
        "doc_id", "tok", fround(F.col("__raw"), 5).alias("tfidf")
    )


_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


# BM25 `scored` CTE chain — shared by text_bm25_topk and the hybrid
# RRF fusion so the two oracles can never drift apart
_BM25_SCORED_CTES = f"""toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    dl AS (
      SELECT doc_id, count(*) AS dl FROM toks WHERE tok <> '' GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
      WHERE tok IN {tuple(_BM25_TERMS)} GROUP BY 1, 2
    ),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * ({_BM25_K1} + 1)
                 / (tf + {_BM25_K1}
                    * (1 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl))) AS s
      FROM tf JOIN df USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, stats
      GROUP BY 1
    )"""


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED_CTES}
    SELECT doc_id, floor(s * 100000 + 0.5) / 100000 AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson/Okapi, k1=1.2 b=0.75) for a fixed term
    query, top-20 docs. Spark-first shape: document length is ROW-LOCAL
    (size of the filtered token array — no explode needed for it), the
    explode+groupBy runs only over rows matching the 3 query terms
    (the isin pushes BELOW the explode's projection), per-term df is a
    3-row broadcast, and N/avgdl ride as scalar probes (avgdl is the
    exact ratio of two integer aggregates, so both engines divide the
    same numbers — no float-accumulation drift). Top-20 is TakeOrdered
    with a doc_id tiebreak."""
    scored = _bm25_scored_frame(spark, sf_dir)
    return (
        scored.select("doc_id", fround(F.col("s"), 5).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


def _bm25_scored_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): raw BM25 scores for the fixed _BM25_TERMS query —
    the shared lexical leg of text_bm25_topk and the RRF fusion (one
    implementation, one truth; see _BM25_SCORED_CTES for the shared
    oracle chain)."""
    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(tokens_col("text"), lambda t: t != "")
    dl = d.select("doc_id", F.size(toks_arr).cast("bigint").alias("dl"))
    srow = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["s"]) / int(srow["n"])
    tf = (
        d.select("doc_id", F.explode(toks_arr).alias("tok"))
        .where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf") * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.lit(avgdl))
        )
    )
    return (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_part).alias("s"))
    )


@register(
    "text_hybrid_search_rrf",
    oracle=f"""
    WITH {_BM25_SCORED_CTES},
    lexr AS (
      SELECT doc_id, floor(s * 100000 + 0.5) / 100000 AS bm25
      FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
    ),
    lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r
      FROM lexr
    ),
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nv AS (
      SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM emb
    ),
    q AS (SELECT v AS qv, nrm AS qn FROM nv WHERE vec_id = 0),
    semr AS (
      SELECT vec_id AS doc_id,
             {sql_round("list_sum(list_transform(range(1, len(nv.v) + 1), i -> nv.v[i] * qv[i])) / (nv.nrm * qn)", 6)}
               AS cos
      FROM nv, q WHERE vec_id <> 0
      ORDER BY cos DESC, doc_id LIMIT 20
    ),
    sem AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS r
      FROM semr
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s2.doc_id) AS doc_id,
             COALESCE(1.0 / (60 + l.r), 0) + COALESCE(1.0 / (60 + s2.r), 0)
               AS rrf_raw,
             l.r AS lex_rank, s2.r AS sem_rank
      FROM lex l FULL OUTER JOIN sem s2 ON l.doc_id = s2.doc_id
    )
    SELECT doc_id, floor(rrf_raw * 1000000 + 0.5) / 1000000 AS rrf,
           lex_rank, sem_rank
    FROM fused ORDER BY rrf_raw DESC, doc_id LIMIT 10
    """,
)
def text_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009, k=60 — the fusion every modern RAG/search stack runs):
    fuse the LEXICAL top-20 (BM25, the shared _bm25_scored_frame leg)
    with the SEMANTIC top-20 (cosine against a fixed query embedding,
    vec 0) by score = Σ 1/(60 + rank). RRF needs no score calibration
    between the two rankers — only ranks — which is why it wins over
    weighted score sums in practice.

    Scale shape: each leg is its own already-scale-correct retrieval
    (BM25's term-restricted explode; the brute-force cosine leg stands
    in for any ANN leg — the ivf/pq queries are drop-in). The fusion
    itself touches 2×20 rows: the row_number windows and the full
    outer join run on top-k frames, metadata-scale by construction."""
    e = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import _py_norm, as_double_vec, dot_col, norm_col

    scored = _bm25_scored_frame(spark, sf_dir)
    lexr = (
        scored.select("doc_id", fround(F.col("s"), 5).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )
    w_lex = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = lexr.select(
        "doc_id", F.row_number().over(w_lex).cast("int").alias("lex_rank")
    )

    qv = [
        float(x)
        for x in e.where(F.col("vec_id") == 0)
        .select(as_double_vec("embedding").alias("v"))
        .first()["v"]
    ]  # scalar probe: one 64-float query vector
    v = as_double_vec("embedding")
    cos = fround(
        dot_col(v, F.lit(qv)) / (norm_col(v) * F.lit(_py_norm(qv))), 6
    )
    semr = (
        e.where(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .orderBy(F.desc("cos"), "doc_id")
        .limit(20)
    )
    w_sem = Window.orderBy(F.desc("cos"), "doc_id")
    sem = semr.select(
        "doc_id", F.row_number().over(w_sem).cast("int").alias("sem_rank")
    )

    fused = lex.join(sem, "doc_id", "full_outer")
    rrf_raw = F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0)) + F.coalesce(
        1.0 / (60 + F.col("sem_rank")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            fround(rrf_raw, 6).alias("rrf"),
            "lex_rank",
            "sem_rank",
            rrf_raw.alias("__raw"),
        )
        .orderBy(F.desc("__raw"), "doc_id")
        .limit(10)
        .drop("__raw")
    )


def _lsh_sql(bits: int = 8, dim: int = 64, n_bands: int = 2, k: int = 5) -> str:
    from ..operators.similarity import lsh_weights

    ws = lsh_weights(bits, dim)
    bpb = bits // n_bands
    mask = (1 << bpb) - 1
    wlists = ",\n           ".join(
        "[" + ", ".join(f"{x:.1f}" for x in row) + f"] AS w{b}"
        for b, row in enumerate(ws)
    )
    bit_terms = "\n           + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> v[i] * w{b}[i])) >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH {_SQL_VECS},
    w AS (SELECT {wlists}),
    sig AS (
      SELECT vec_id, {bit_terms} AS sig
      FROM n, w
    ),
    bands AS (
      SELECT vec_id, sig, u.j AS band_idx, (sig >> (u.j * {bpb})) & {mask} AS band_val
      FROM sig, UNNEST(range(0, {n_bands})) AS u(j)
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS cand_id
      FROM bands q JOIN bands c
        ON q.band_idx = c.band_idx AND q.band_val = c.band_val
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    s AS (
      SELECT cand.q_id, cand.cand_id, {_cos_sql('a', 'b')} AS cos
      FROM cand
      JOIN n a ON a.vec_id = cand.q_id
      JOIN n b ON b.vec_id = cand.cand_id
    )
    SELECT q_id, cand_id, cos, rank FROM (
      SELECT q_id, cand_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id ASC) AS INTEGER) AS rank
      FROM s
    ) WHERE rank <= {k}
    """


@register("ann_lsh_topk", oracle=_lsh_sql())
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH top-5: candidates share ≥1 signature band with the query
    (equi-join on band values, like MinHash banding), exact-cosine
    scored. The deterministic md5 hyperplanes are embedded as literal
    arrays on BOTH engines, so even this approximate path is
    oracle-exact (operators/similarity.py::lsh_topk)."""
    from ..operators.similarity import lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(e, e.where(F.col("vec_id") < 10), k=5)


@register(
    "ann_recall_report",
    oracle=f"""
    WITH b AS (
      SELECT q_id, cand_id FROM (
        WITH {_SQL_VECS},
        s AS (
          SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
                 {_cos_sql('q', 'c')} AS cos
          FROM n q JOIN n c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 10
        )
        SELECT q_id, cand_id FROM (
          SELECT q_id, cand_id,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, cand_id ASC) AS rank
          FROM s
        ) WHERE rank <= 5
      )
    ),
    l AS (SELECT q_id, cand_id FROM ({_lsh_sql()})),
    hit AS (
      SELECT b.q_id, CAST(count(l.cand_id) AS BIGINT) AS hits
      FROM b LEFT JOIN l ON l.q_id = b.q_id AND l.cand_id = b.cand_id
      GROUP BY b.q_id
    )
    SELECT q_id, hits, hits / 5.0 AS recall_at_5 FROM hit
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY AS A FIRST-CLASS MEASURABLE: per query vector, how
    many of the exact brute-force top-5 neighbors the sign-LSH index
    actually returned (recall@5) — the accuracy/cost trade every
    approximate index must report, computed in ONE plan from the SAME
    two code paths the registered ann_bruteforce_topk / ann_lsh_topk
    queries run (they cannot drift). Both top-5 sets are deterministic
    (cosine ties broken by cand_id in both engines), so recall is
    engine-exact — the oracle recomputes both searches and the
    intersection in SQL.

    Scale shape: the brute leg is the whitelisted 10-query broadcast
    cross (the exact baseline exists precisely to measure the index);
    the LSH leg is the banded equi-join; the comparison is a
    10x5-row LEFT join + combinable groupBy — measurement cost is the
    two searches, nothing more."""
    from ..operators.similarity import brute_force_topk, lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    b = brute_force_topk(e, q, k=5).select("q_id", "cand_id")
    l = lsh_topk(e, q, k=5).select(
        F.col("q_id").alias("q_id"), F.col("cand_id").alias("__lc")
    )
    hits = (
        b.join(
            l,
            (b["q_id"] == l["q_id"]) & (b["cand_id"] == l["__lc"]),
            "left",
        )
        .select(b["q_id"].alias("q_id"), l["__lc"])
        .groupBy("q_id")
        .agg(F.count("__lc").cast("bigint").alias("hits"))
    )
    return hits.select(
        "q_id", "hits", (F.col("hits") / 5.0).alias("recall_at_5")
    )


_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_bpe_tokens",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, regexp_extract_all(text, '{_BPE_RE}') AS pieces FROM documents
    )
    SELECT doc_id,
           CAST(len(pieces) AS INTEGER) AS n_pieces,
           CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]+$')))
                AS INTEGER) AS n_word,
           CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$')))
                AS INTEGER) AS n_num,
           CAST(len(list_filter(pieces,
                x -> NOT regexp_matches(x, '^[A-Za-z0-9]')))
                AS INTEGER) AS n_punct
    FROM p
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (word / number / punctuation pieces —
    the GPT-2 pre-tokenizer shape, restricted to a regex subset both
    engines parse identically). All JVM-side: regexp_extract_all +
    higher-order filters, no Python."""
    d = load_table(spark, sf_dir, "documents")
    pieces = F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")
    n_of = lambda pat: F.size(  # noqa: E731
        F.filter(pieces, lambda x: x.rlike(pat))
    ).cast("int")
    return d.select(
        "doc_id",
        F.size(pieces).cast("int").alias("n_pieces"),
        n_of("^[A-Za-z]+$").alias("n_word"),
        n_of("^[0-9]+$").alias("n_num"),
        F.size(F.filter(pieces, lambda x: ~x.rlike("^[A-Za-z0-9]")))
        .cast("int")
        .alias("n_punct"),
    )


def _bpe_train_ctes(k: int = 6) -> str:
    """DuckDB replay of operators/bpe.py::bpe_train as a CTE chain:
    pair counting via UNNEST of the adjacent-symbol list, the
    per-iteration winner as a one-row CTE (ORDER BY cnt DESC, pair ASC
    LIMIT 1), and the merge application as the same non-overlapping
    left-to-right `replace` both engines share (bpe.py module
    docstring pins that semantics). Exposes b1..bK (the winners) AND
    sK (the fully rewritten vocabulary) so both the training query and
    the apply query derive from one chain."""
    parts = [
        f"toks AS ({_SQL_TOKS})",
        "w0 AS (SELECT u.word, CAST(count(*) AS BIGINT) AS freq"
        " FROM toks, UNNEST(t) AS u(word) WHERE len(u.word) > 0 GROUP BY 1)",
        "s0 AS (SELECT word, freq,"
        " ' ' || array_to_string(str_split(word, ''), ' ') || ' ' AS sym"
        " FROM w0)",
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"p{i} AS (SELECT u.p AS pair, CAST(sum(freq) AS BIGINT) AS cnt"
            f" FROM (SELECT freq, str_split(trim(sym), ' ') AS sy FROM {prev}),"
            f" UNNEST(list_transform(range(1, len(sy)),"
            f" j -> sy[j] || ' ' || sy[j+1])) AS u(p)"
            f" GROUP BY 1)"
        )
        parts.append(
            f"b{i} AS (SELECT pair, cnt FROM p{i}"
            f" ORDER BY cnt DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"s{i} AS (SELECT word, freq,"
            f" replace(sym, ' ' || b.pair || ' ',"
            f" ' ' || replace(b.pair, ' ', '') || ' ') AS sym"
            f" FROM {prev}, b{i} b)"
        )
    return "WITH " + ",\n".join(parts)


def _bpe_train_sql(k: int = 6) -> str:
    selects = [
        f"SELECT CAST({i} AS INTEGER) AS merge_rank,"
        f" split_part(pair, ' ', 1) AS lhs,"
        f" split_part(pair, ' ', 2) AS rhs,"
        f" replace(pair, ' ', '') AS merged,"
        f" cnt AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    ]
    return _bpe_train_ctes(k) + "\n" + "\nUNION ALL\n".join(selects)


@register("text_bpe_train", oracle=_bpe_train_sql(k=6))
def text_bpe_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 6 BPE merges from the documents corpus
    (operators/bpe.py::bpe_train): the Sennrich et al. 2016 trainer in
    its word-frequency-table formulation — the corpus is scanned ONCE
    (explode + groupBy(word)), then every iteration runs over the
    frozen |vocab|-row frame: combinable pair counts, a one-row argmax
    collect, a map-only literal replace. The oracle replays all six
    learning iterations as chained SQL stages, so the full training
    trajectory (not just the final state) is verified."""
    from ..operators.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    return bpe_train(d, "text", num_merges=6)


@register("text_bpe_train_batched", oracle=_bpe_train_sql(k=6))
def text_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 6 merges learned with ``batch_merges=3`` — up to three
    merges applied per Spark round. Registered under the SAME oracle
    as ``text_bpe_train`` (the serial trajectory replay) on purpose:
    the batched trainer's contract is bit-identical output
    (``operators/bpe.py::_select_batch``'s conflict clauses + strict-M
    truncation), and pairing it with the serial oracle makes the
    driver's sf0.01 value-hash gate re-prove serial-exactness every
    round — the property the round-10 counterexample broke is now a
    hard signal, not just a unit test. Scale: the batch cuts driver
    argmax round-trips ~3x for real (32k) vocabularies; each round is
    still one combinable pair count + one bounded (<=16-row) probe."""
    from ..operators.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    return bpe_train(d, "text", num_merges=6, batch_merges=3)


@register(
    "text_bpe_apply",
    oracle=_bpe_train_ctes(6)
    + """,
    pieces AS (
      SELECT word, freq,
             CAST(len(str_split(trim(sym), ' ')) AS BIGINT) AS np,
             CAST(len(word) AS BIGINT) AS nc
      FROM s6
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_words,
           CAST(sum(freq * np) AS BIGINT) AS corpus_pieces,
           CAST(sum(freq * nc) AS BIGINT) AS corpus_chars,
           floor(sum(freq * nc) / CAST(sum(freq * np) AS DOUBLE) * 10000 + 0.5)
             / 10000 AS chars_per_piece
    FROM pieces
    """,
)
def text_bpe_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of the BPE trainer: tokenize the corpus under the
    6 learned merges (operators/bpe.py::bpe_vocab_after_merges — the
    same frozen word-frequency frame the trainer iterated on) and
    report the compression it buys: total pieces vs total characters
    and the chars-per-piece ratio (>1 = the learned vocabulary packs
    more text per token — the metric BPE training exists to move).
    The oracle replays train AND apply from one CTE chain, so the two
    registered queries cannot drift from each other."""
    from ..operators.bpe import bpe_vocab_after_merges

    d = load_table(spark, sf_dir, "documents")
    w = bpe_vocab_after_merges(d, "text", num_merges=6)
    np_ = F.size(F.split(F.trim(F.col("sym")), " ")).cast("bigint")
    nc = F.length("word").cast("bigint")
    agg = w.select(
        F.col("freq"), np_.alias("np"), nc.alias("nc")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_words"),
        F.sum(F.col("freq") * F.col("np")).cast("bigint").alias("corpus_pieces"),
        F.sum(F.col("freq") * F.col("nc")).cast("bigint").alias("corpus_chars"),
    )
    return agg.select(
        "vocab_words",
        "corpus_pieces",
        "corpus_chars",
        fround(
            F.col("corpus_chars") / F.col("corpus_pieces").cast("double"), 4
        ).alias("chars_per_piece"),
    )


@register(
    "multimodal_resize_stub",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS orig_len,
           CAST((octet_length(encode(text)) + 3) // 4 AS INTEGER) AS thumb_len,
           -- fixture text is pure ASCII (verified octet_length == length),
           -- so char positions equal byte positions
           lower(hex(substr(text, 1, 1) || substr(text, 5, 1)
                     || substr(text, 9, 1) || substr(text, 13, 1))) AS thumb_head_hex
    FROM documents
    """,
)
def multimodal_resize_stub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas 'resize' of a binary column (every-4th-byte fake
    downsample; real path is a codec thumbnail) — metadata + head bytes
    mirrored byte-for-byte by the oracle."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "content", F.encode(F.col("text"), "UTF-8")
    )
    return resize_stub(d, "doc_id", "content", stride=4)


def _lsh_range_sql(
    radius: float, bits: int = 8, dim: int = 64, n_bands: int = 2
) -> str:
    """DuckDB twin of `lsh_range_search` — literal md5 hyperplanes, the
    same banding, exact-cosine radius filter (the _lsh_sql pattern
    without the top-k window)."""
    from ..operators.similarity import lsh_weights

    ws = lsh_weights(bits, dim)
    bpb = bits // n_bands
    mask = (1 << bpb) - 1
    wlists = ",\n           ".join(
        "[" + ", ".join(f"{x:.1f}" for x in row) + f"] AS w{b}"
        for b, row in enumerate(ws)
    )
    bit_terms = "\n           + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> v[i] * w{b}[i])) >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH {_SQL_VECS},
    w AS (SELECT {wlists}),
    sig AS (
      SELECT vec_id, {bit_terms} AS sig
      FROM n, w
    ),
    bands AS (
      SELECT vec_id, u.j AS band_idx, (sig >> (u.j * {bpb})) & {mask} AS band_val
      FROM sig, UNNEST(range(0, {n_bands})) AS u(j)
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS cand_id
      FROM bands q JOIN bands c
        ON q.band_idx = c.band_idx AND q.band_val = c.band_val
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
    SELECT cand.q_id, cand.cand_id, {_cos_sql('a', 'b')} AS cos
    FROM cand
    JOIN n a ON a.vec_id = cand.q_id
    JOIN n b ON b.vec_id = cand.cand_id
    WHERE {_cos_sql('a', 'b')} >= {radius}
    """


@register("ann_range_search", oracle=_lsh_range_sql(0.35))
def ann_range_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search: ALL corpus vectors with cosine
    ≥ 0.35 of each query — the retrieval primitive when the neighbor
    count is data-dependent (near-dup lookup of one example against the
    corpus), vs top-k's fixed budget. Candidates from the sign-LSH
    banded equi-join; exact rounded cosine verify
    (operators/similarity.py::lsh_range_search)."""
    from ..operators.similarity import lsh_range_search

    e = load_table(spark, sf_dir, "embeddings")
    return lsh_range_search(e, e.where(F.col("vec_id") < 10), radius=0.35)


@register(
    "text_unigram_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
    total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           floor(avg(ln(cnt / n)) * 10000 + 0.5) / 10000 AS avg_logp
    FROM t, total JOIN freq ON freq.tok = t.tok
    GROUP BY t.doc_id
    """,
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per document: mean ln-probability of
    its tokens under the corpus unigram distribution — the cheap
    perplexity proxy quality filters rank on (low avg log-prob = rare/
    garbled text). One token-count aggregation (map-side combinable) +
    an equi-join back on token + one per-doc aggregation; the corpus
    token total is a scalar. Same shuffle shape as text_tfidf, so the
    same 100 TB story (salt the token join if one token goes hot)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = float(toks.count())
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            fround(F.avg(F.log(F.col("cnt") / F.lit(total))), 4).alias("avg_logp"),
        )
    )


@register("ann_ivf_index_topk", oracle=_kmeans_ivf_sql(k=8, iters=3, nprobe=2))
def ann_ivf_index_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 served from a PERSISTED index (operators/ivf_index.py):
    k-means centroids as JSON metadata + the assigned corpus as
    cell-partitioned parquet, so a probe reads only its nprobe cells'
    partition dirs (static partition pruning — the deployment shape
    where one index amortizes across many query batches). Results are
    identical to the inline ann_ivf_nprobe_topk, so the oracle is
    shared."""
    import shutil
    import tempfile

    from ..operators.ivf_index import build_ivf_index, ivf_index_topk

    e = load_table(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="ivf_index_")
    try:
        build_ivf_index(e, d, k=8, iters=3)
        out = ivf_index_topk(
            spark, e.where(F.col("vec_id") < 10), d, nprobe=2, k=5
        )
        # materialize before the index dir disappears (the driver may
        # collect lazily after this function returns)
        rows = out.collect()
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "text_repetition_score",
    oracle=f"""
    WITH toks AS ({_SQL_TOKS}),
    big AS (
      SELECT doc_id, t,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
      FROM toks
    )
    SELECT doc_id,
           CAST(len(b) AS INTEGER) AS n_bigrams,
           {sql_round("1.0 - len(list_distinct(b)) / CAST(len(b) AS DOUBLE)", 4)}
             AS dup_bigram_frac,
           {sql_round("list_max(list_transform(list_distinct(b), g -> len(list_filter(b, x -> x = g)))) / CAST(len(b) AS DOUBLE)", 4)}
             AS top_bigram_frac,
           {sql_round("list_max(list_transform(list_distinct(t), g -> len(list_filter(t, x -> x = g)))) / CAST(len(t) AS DOUBLE)", 4)}
             AS top_word_frac
    FROM big
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition rules: duplicate-bigram
    fraction, most-common-bigram fraction, most-common-word fraction —
    the filters that catch boilerplate/spam docs which pass simple
    length heuristics (Rae et al. 2021 §A1.1 use the same family).

    Scale note: computed entirely with per-row higher-order functions
    (zip_with / array_distinct / filter) — a pure map operator with
    ZERO shuffle, unlike the explode → groupBy(doc, gram) formulation
    whose shuffle volume is the token count of the corpus. Document
    length is bounded, so the O(distinct × n) per-row scan is constant
    work per doc and whole-stage-codegen keeps it JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens_col("text")
    d = d.select("doc_id", t.alias("__t"))
    n = F.size("__t")
    bigrams = F.zip_with(
        F.slice("__t", 1, n - 1),
        F.slice("__t", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    d = d.select("doc_id", F.col("__t"), bigrams.alias("__b"))
    nb = F.size("__b").cast("double")

    # try_divide: a zero-bigram doc (single-token / empty text) must
    # yield NULL fractions like the oracle's x/0.0 → NULL, not an ANSI
    # DIVIDE_BY_ZERO error
    def _top_frac(arr, total):
        counts = F.transform(
            F.array_distinct(arr),
            lambda g: F.size(F.filter(arr, lambda x: x == g)),
        )
        return F.try_divide(F.array_max(counts), total)

    return d.select(
        "doc_id",
        F.size("__b").cast("int").alias("n_bigrams"),
        fround(
            F.lit(1.0) - F.try_divide(F.size(F.array_distinct("__b")), nb), 4
        ).alias("dup_bigram_frac"),
        fround(_top_frac(F.col("__b"), nb), 4).alias("top_bigram_frac"),
        fround(_top_frac(F.col("__t"), F.size("__t").cast("double")), 4).alias(
            "top_word_frac"
        ),
    )


_VERDICT_RULES_SQL = f"""
    WITH toks AS ({_SQL_TOKS} WHERE text IS NOT NULL),
    r AS (
      SELECT doc_id,
             len(t) AS n,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
               / len(t) AS avg_len,
             len(list_filter(t, x -> {{stop_pred}})) AS stop_hits,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
      FROM toks
    ),
    v AS (
      SELECT doc_id,
             n < 8 AS r_too_short,
             (avg_len < 1.9871 OR avg_len > 13.9871) AS r_word_len,
             stop_hits = 0 AS r_no_stopwords,
             (len(b) > 0 AND
              1.0 - len(list_distinct(b)) / CAST(len(b) AS DOUBLE) > 0.29871)
               AS r_repetitive
      FROM r
    )
    SELECT doc_id,
           NOT (r_too_short OR r_word_len OR r_no_stopwords OR r_repetitive)
             AS passed,
           CAST(CAST(r_too_short AS INTEGER) + CAST(r_word_len AS INTEGER)
              + CAST(r_no_stopwords AS INTEGER) + CAST(r_repetitive AS INTEGER)
              AS INTEGER) AS n_failed,
           COALESCE(array_to_string(list_sort(list_filter([
             CASE WHEN r_too_short THEN 'too_short' END,
             CASE WHEN r_word_len THEN 'word_len' END,
             CASE WHEN r_no_stopwords THEN 'no_stopwords' END,
             CASE WHEN r_repetitive THEN 'repetitive' END
           ], x -> x IS NOT NULL)), ','), '') AS reasons
    FROM v
"""


@register(
    "quality_filter_verdict",
    oracle=_VERDICT_RULES_SQL.format(stop_pred=_stop_pred("x", STOPWORDS)),
)
def quality_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb/Dolma-style filter STACK: every heuristic rule
    evaluated per document, with the verdict AND the sorted list of
    failed rules — because a production corpus pipeline never just
    drops documents, it reports WHY (per-rule rejection rates drive
    threshold tuning, and audits need the reasons column). Rules:
    too_short (<8 tokens), word_len (mean token length outside
    [1.99, 13.99]), no_stopwords (zero stopword hits — the classic
    gibberish signal), repetitive (duplicate-bigram fraction > ~0.3,
    the Gopher rule shared with text_repetition_score).

    Scale shape: a single pure map over the scan — every rule is a
    row-local higher-order expression, zero shuffles, zero joins; the
    reasons array is built with when/filter/array_sort JVM-side.
    Thresholds are deliberately non-representable fractions (1.9871,
    0.29871...) so engine float parity can't wobble at rule
    boundaries.

    NULL text is excluded up front (matching the oracle's WHERE):
    without the guard Spark's size(split(NULL)) = -1 would flag the doc
    too_short while SQL NULL predicates exclude it from every rule —
    the same explicit null rule dedup_span_exact uses."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    d = d.withColumn("__t", tokens_col("text"))
    n = F.size("__t")
    avg_len = (
        F.aggregate("__t", F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
        / n
    )
    stop_hits = F.size(F.filter("__t", lambda x: _in_words(x, STOPWORDS)))
    bigrams = F.zip_with(
        F.slice("__t", 1, n - 1),
        F.slice("__t", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    d = d.select("doc_id", n.alias("__n"), avg_len.alias("__avg"),
                 stop_hits.alias("__stop"), bigrams.alias("__b"))
    nb = F.size("__b")
    r_too_short = F.col("__n") < 8
    r_word_len = (F.col("__avg") < 1.9871) | (F.col("__avg") > 13.9871)
    r_no_stopwords = F.col("__stop") == 0
    # try_divide: ANSI `&` doesn't short-circuit, so a zero-bigram doc
    # would raise DIVIDE_BY_ZERO; NULL > thr is NULL, false & NULL = false
    r_repetitive = (nb > 0) & (
        F.lit(1.0)
        - F.try_divide(F.size(F.array_distinct("__b")), nb.cast("double"))
        > 0.29871
    )
    null_s = F.lit(None).cast("string")
    reasons = F.array_join(
        F.array_sort(
            F.filter(
                F.array(
                    F.when(r_too_short, F.lit("too_short")).otherwise(null_s),
                    F.when(r_word_len, F.lit("word_len")).otherwise(null_s),
                    F.when(r_no_stopwords, F.lit("no_stopwords")).otherwise(null_s),
                    F.when(r_repetitive, F.lit("repetitive")).otherwise(null_s),
                ),
                lambda x: x.isNotNull(),
            )
        ),
        ",",
    )
    n_failed = (
        r_too_short.cast("int") + r_word_len.cast("int")
        + r_no_stopwords.cast("int") + r_repetitive.cast("int")
    )
    return d.select(
        "doc_id",
        (~(r_too_short | r_word_len | r_no_stopwords | r_repetitive)).alias("passed"),
        n_failed.cast("int").alias("n_failed"),
        reasons.alias("reasons"),
    )


@register(
    "quality_filter_verdict_model",
    oracle=f"""
    WITH verdict AS ({_VERDICT_RULES_SQL.format(stop_pred=_stop_pred("x", STOPWORDS))}),
    model AS (
      WITH toks AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
      ),
      b AS (
        SELECT doc_id,
               CAST({_PORTABLE_HASH.replace('{col}', 'tok')} % 256 AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM toks WHERE tok <> ''
        GROUP BY 1, 2
      )
      SELECT doc_id,
             sum(cnt * ((bucket * 37 + 11) % 21 - 10)) > 0
               AS passed_model
      FROM b GROUP BY 1
    )
    SELECT v.doc_id,
           v.passed AND COALESCE(m.passed_model, FALSE) AS passed,
           CAST(v.n_failed
                + CASE WHEN COALESCE(m.passed_model, FALSE) THEN 0 ELSE 1 END
                AS INTEGER) AS n_failed,
           COALESCE(array_to_string(list_sort(list_filter(
             list_append(string_split(v.reasons, ','),
                         CASE WHEN COALESCE(m.passed_model, FALSE)
                              THEN NULL ELSE 'model_low' END),
             x -> x IS NOT NULL AND x <> '')), ','), '') AS reasons
    FROM verdict v LEFT JOIN model m ON v.doc_id = m.doc_id
    """,
)
def quality_filter_verdict_model_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_filter_verdict with the model-based scorer joined in as
    an OPTIONAL FIFTH RULE (`model_low`): the heuristic stack's
    verdict AND'd with quality_model_score's integer-exact
    `passed_model`, the failed-rule list re-sorted with the new reason
    code. The original four-rule query is untouched (driver keys
    stable); this is the composed production stack — heuristics catch
    structural garbage, the linear model catches fluent-but-low-value
    text, and per-rule reason codes stay auditable.

    Scale shape: the rule stack is a pure map, the model is two
    combinable groupBys; the composition adds ONE equi-join on doc_id
    (broadcast-eligible against a dimension-sized model output, plain
    shuffle join at corpus scale). A doc with no hashable tokens has
    no model row — COALESCE(passed_model, FALSE) flags it model_low,
    the conservative default for unscorable text."""
    verdict = quality_filter_verdict(spark, sf_dir)
    model = quality_model_score_q(spark, sf_dir).select(
        "doc_id", "passed_model"
    )
    j = verdict.join(model, "doc_id", "left")
    ok = F.coalesce(F.col("passed_model"), F.lit(False))
    reasons = F.array_join(
        F.array_sort(
            F.filter(
                F.concat(
                    F.split(F.col("reasons"), ","),
                    F.array(
                        F.when(ok, F.lit(None).cast("string")).otherwise(
                            F.lit("model_low")
                        )
                    ),
                ),
                lambda x: x.isNotNull() & (x != ""),
            )
        ),
        ",",
    )
    return j.select(
        "doc_id",
        (F.col("passed") & ok).alias("passed"),
        (
            F.col("n_failed") + F.when(ok, 0).otherwise(1)
        ).cast("int").alias("n_failed"),
        reasons.alias("reasons"),
    )


_CMS_W = 512
_CMS_D = 4

def cms_buckets(tok_col):
    """(j, bucket) probe array for one token — the 4×512 Count-Min grid
    coordinates under the portable md5 hash; shared by the batch query
    and its streaming twin so the sketches are definitionally equal."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                portable_hash_mod(
                    F.concat(F.lit(f"cms{j}:"), tok_col), _CMS_W
                ).alias("bucket"),
            )
            for j in range(_CMS_D)
        ]
    )


# shared by text_cms_heavyhitters and its streaming twin
# (plans/udf_surface.py stream_cms_heavyhitters): the sketch is
# bit-identical under ANY batching (cell-wise integer merge), so both
# registrations prove parity against this ONE oracle.
_CMS_HH_SQL = f"""
    WITH rawtoks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    t AS (SELECT tok FROM rawtoks WHERE tok <> ''),
    legs AS (
      SELECT tok, u.j,
             {_PORTABLE_HASH.format(col="concat('cms', CAST(u.j AS VARCHAR), ':', tok)")}
               % {_CMS_W} AS bucket
      FROM t, UNNEST(range(0, {_CMS_D})) AS u(j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(count(*) AS BIGINT) AS c
      FROM legs GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM t GROUP BY 1
      ORDER BY exact_cnt DESC, tok ASC LIMIT 20
    ),
    probe AS (
      SELECT e.tok, e.exact_cnt, u.j,
             {_PORTABLE_HASH.format(col="concat('cms', CAST(u.j AS VARCHAR), ':', e.tok)")}
               % {_CMS_W} AS bucket
      FROM exact e, UNNEST(range(0, {_CMS_D})) AS u(j)
    )
    SELECT p.tok AS token, p.exact_cnt, min(s.c) AS cms_est
    FROM probe p JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
    GROUP BY 1, 2
    """


@register("text_cms_heavyhitters", oracle=_CMS_HH_SQL)
def text_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: a 4×512 counter grid
    over the corpus token stream (portable md5 hashes, so the sketch is
    bit-identical across engines), probed for the exact top-20 tokens —
    output carries (exact, estimate) side by side, and CMS guarantees
    estimate ≥ exact (pinned in tests).

    Why a sketch at 100 TB: exact token counts shuffle |distinct tokens|
    keys; the sketch shuffles at most d×w = 2048 keys — a
    KILOBYTES-sized, fully map-side-combinable summary that merges
    across partitions/days by cell-wise addition, the same way HLL
    (agg_approx_distinct) merges. The exact side here exists only to
    exhibit the error bound; production reads the sketch alone."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(tokens_col("text")).alias("tok")
    ).where(F.col("tok") != "")
    buckets = cms_buckets
    sketch = (
        toks.select(F.explode(buckets(F.col("tok"))).alias("b"))
        .groupBy("b.j", "b.bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(20)
    )
    probe = exact.select(
        "tok", "exact_cnt", F.explode(buckets(F.col("tok"))).alias("b")
    ).select("tok", "exact_cnt", F.col("b.j").alias("j"), F.col("b.bucket").alias("bucket"))
    return (
        probe.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(F.col("tok").alias("token"), "exact_cnt", "cms_est")
    )


@register(
    "multimodal_decode_gif",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 21 + 1 AS INTEGER) AS width,
           CAST(doc_id % 13 + 1 AS INTEGER) AS height,
           CAST(2 AS INTEGER) AS n_colors,
           CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_b
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_gif_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode of a DICTIONARY-compressed image format: GIF87a
    streams rendered in-flight (operators/multimodal.py encode_gif —
    from-scratch LZW, variable code widths, clear/EOI) and parsed back
    by decode_gif: header/descriptor walk, extension skipping, LZW
    decompression, palette mapping to channel means. Completes the
    codec trio: raw raster (BMP), deflate (PNG), dictionary (GIF).
    Decoder width-bump convention is validated against real
    standard-encoder GIFs (the stdlib distribution's icons) in
    tests/test_properties.py. Reference analogue: the image/files
    columns (app/db/postgres.py:144-145)."""
    from ..operators.multimodal import decode_gif_features, synthetic_gif_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_gif_features(synthetic_gif_frame(d), "doc_id", "content")


@register(
    "ann_ivf_index_append_topk",
    oracle=_kmeans_ivf_sql(k=8, iters=3, nprobe=2, fit_pred="vec_id < 300"),
)
def ann_ivf_index_append_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build the IVF index on the first
    300 vectors, APPEND the rest to the frozen centroids
    (operators/ivf_index.py::append_ivf_index — one map-only assignment
    pass + a partitioned parquet append, O(new vectors)), then serve
    top-5. The oracle fits Lloyd's on the same 300-vector subset and
    assigns the full corpus — exactly the frozen-centroid semantics, so
    the appended index is cross-engine hash-exact. Recall-vs-rebuild
    trade documented on the operator."""
    import shutil
    import tempfile

    from ..operators.ivf_index import (
        append_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="ivf_append_")
    try:
        build_ivf_index(e.where(F.col("vec_id") < 300), d, k=8, iters=3)
        append_ivf_index(e.where(F.col("vec_id") >= 300), d)
        out = ivf_index_topk(
            spark, e.where(F.col("vec_id") < 10), d, nprobe=2, k=5
        )
        rows = out.collect()
        return local_result(spark, rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


_VOCAB_V = 100


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS ({{toks}}),
    tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
    tw AS (SELECT doc_id, w FROM tok WHERE w <> ''),
    cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tw GROUP BY 1),
    vocab AS (SELECT w FROM cnt ORDER BY c DESC, w ASC LIMIT {_VOCAB_V})
    SELECT t.doc_id,
           CAST(count(*) AS INTEGER) AS n_tokens,
           {{rate}} AS oov_rate
    FROM tw t LEFT JOIN vocab v ON v.w = t.w
    GROUP BY t.doc_id
    """.format(
        toks=_SQL_TOKS + " WHERE text IS NOT NULL",
        rate=sql_round(
            "sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)"
            " / CAST(count(*) AS DOUBLE)",
            4,
        ),
    ),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-BUDGET PROBE: induce the top-V corpus vocabulary by
    frequency (ties broken by token — fully deterministic) and report
    each document's out-of-vocabulary rate. This is how a pipeline
    sizes a vocab / flags domain-mismatched shards before training: a
    shard whose OOV rate spikes under the corpus vocabulary is either
    foreign-language, boilerplate, or encoding-damaged.

    Scale shape: token counts are ONE hash aggregation with map-side
    combine (the only corpus-sized shuffle); the top-V cut is
    orderBy+limit, which Spark plans as TakeOrderedAndProject — per-
    partition heaps of size V, NO global sort of the vocabulary. The
    tiny vocab then broadcasts back onto the token stream, and the
    per-doc rate is one more combinable aggregation. V is the only
    driver-sized object (100 rows)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tw = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("w")
    ).where(F.col("w") != "")
    cnt = tw.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(_VOCAB_V)
        .select("w", F.lit(1).alias("__in"))
    )
    return (
        tw.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            fround(
                F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("oov_rate"),
        )
    )


def _pq_sql(m: int = 4, k: int = 8, iters: int = 2, dim: int = 64, topk: int = 5) -> str:
    """DuckDB replica of pq_fit + pq_codes + pq_topk: the identical
    deterministic per-subspace L2 Lloyd's (smallest-id seeds, rounded
    squared distances, rounded AVG updates, lowest-cell ties) unrolled
    as CTE pairs over ONE exploded (vec_id, j, sv) frame, then the ADC
    scoring in integer micro-units so the m-term sum is order-free
    exact. x*x throughout — pow()'s last-ulp rounding is not a
    cross-engine contract."""
    s = dim // m

    def l2(av, bv):
        return (
            f"list_sum(list_transform(range(1, {s + 1}), "
            f"i -> ({av}[i] - {bv}[i]) * ({av}[i] - {bv}[i])))"
        )

    d2r = sql_round(l2("s.sv", "c.c"), 6)
    avg_terms = ", ".join(sql_round(f"avg(sv[{i + 1}])", 6) for i in range(s))
    sub_legs = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {j} AS j, v[{j * s + 1}:{(j + 1) * s}] AS sv FROM e"
        for j in range(m)
    )
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"sub AS (\n{sub_legs}\n    ),",
        f"""c0 AS (
      SELECT j, vec_id AS cell, sv AS c FROM (
        SELECT j, vec_id, sv,
               row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn
        FROM sub) WHERE rn <= {k}),""",
    ]
    for it in range(iters):
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, j, sv, cell FROM (
        SELECT s.vec_id, s.j, s.sv, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {d2r} ASC, c.cell ASC) AS rn
        FROM sub s JOIN c{it} c ON c.j = s.j) WHERE rn = 1),"""
        )
        parts.append(
            f"c{it + 1} AS (SELECT j, cell, [{avg_terms}] AS c "
            f"FROM a{it} GROUP BY j, cell),"
        )
    last = f"c{iters}"
    parts.append(
        f"""codes AS (
      SELECT vec_id, j, cell FROM (
        SELECT s.vec_id, s.j, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {d2r} ASC, c.cell ASC) AS rn
        FROM sub s JOIN {last} c ON c.j = s.j) WHERE rn = 1),
    lut AS (
      SELECT s.vec_id AS q_id, s.j, c.cell,
             CAST(floor(({l2('s.sv', 'c.c')}) * 1000000.0 + 0.5) AS BIGINT) AS d
      FROM sub s JOIN {last} c ON c.j = s.j
      WHERE s.vec_id < 10),
    sc AS (
      SELECT l.q_id, cd.vec_id AS cand_id, CAST(sum(l.d) AS BIGINT) AS adist_u
      FROM lut l JOIN codes cd ON cd.j = l.j AND cd.cell = l.cell
      WHERE cd.vec_id <> l.q_id
      GROUP BY 1, 2)
    SELECT q_id, cand_id, adist_u, rank FROM (
      SELECT q_id, cand_id, adist_u,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY adist_u ASC, cand_id ASC) AS INTEGER) AS rank
      FROM sc) WHERE rank <= {topk}"""
    )
    return "\n    ".join(parts)


@register("ann_pq_topk", oracle=_pq_sql())
def ann_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION top-k (Jégou et al. 2011) — the compression
    path that makes billion-vector ANN tractable: each vector becomes
    m=4 codeword ids (one deterministic L2 k-means per subspace), and
    queries rank candidates by Asymmetric Distance Computation — m LUT
    lookups summed — without ever touching the full vectors. Distances
    are integer micro-units so the sum is exactly order-free; the
    oracle replays the whole procedure (fit, codes, ADC) in SQL and the
    hash check pins Spark to it bit-for-bit. At 100 TB: 64-dim float32
    → 4 bytes/vector (64×), fit collects k·dim scalars, the |Q|·m·k LUT
    broadcasts, and the score is one combinable aggregation — no
    full-vector join anywhere past the fit."""
    from ..operators.similarity import pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        e, "vec_id", "embedding", m=4, k=8, iters=2,
        query_pred=F.col("q_id") < 10, topk=5,
    )


def _pq_rerank_sql(
    m: int = 8, k: int = 8, iters: int = 2, dim: int = 64,
    pool: int = 50, topk: int = 5,
) -> str:
    """_pq_sql + the exact-rerank refine step: the ADC ranking becomes
    a candidate pool, and full-dimension exact L2 (same integer
    micro-units) picks the final top-k."""
    base = _pq_sql(m, k, iters, dim, pool)
    head, _, tail = base.rpartition("SELECT q_id, cand_id, adist_u, rank FROM (")
    full_l2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])))"
    )
    return (
        head.rstrip()  # ends at the close of the `sc` CTE
        + ",\n    "
        + f"""pool AS (
      SELECT q_id, cand_id FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY adist_u ASC, cand_id ASC) AS rn
        FROM sc) WHERE rn <= {pool}),
    rr AS (
      SELECT p.q_id, p.cand_id,
             CAST(floor(({full_l2}) * 1000000.0 + 0.5) AS BIGINT) AS dist_u
      FROM pool p
      JOIN e q ON q.vec_id = p.q_id
      JOIN e c ON c.vec_id = p.cand_id)
    SELECT q_id, cand_id, dist_u, rank FROM (
      SELECT q_id, cand_id, dist_u,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY dist_u ASC, cand_id ASC) AS INTEGER) AS rank
      FROM rr) WHERE rank <= {topk}"""
    )


@register("ann_pq_rerank_topk", oracle=_pq_rerank_sql())
def ann_pq_rerank_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC pool + EXACT re-rank (the IVFADC refine step) — the
    production PQ shape: compressed codes rank a 50-candidate pool per
    query, then exact full-dimension L2 re-ranks just |Q|·50 pairs.
    Measured recall@5 vs exact search on the fixture: ≈0.2-0.3 for
    ADC-only, ≈0.8 reranked — the refine step is what makes the 64×
    compression usable. Exact distances stay in integer micro-units
    (order-free, engine-exact); the oracle replays fit + codes + ADC +
    rerank end-to-end."""
    from ..operators.similarity import pq_rerank_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_rerank_topk(
        e, "vec_id", "embedding", m=8, k=8, iters=2,
        query_pred=F.col("q_id") < 10, pool_size=50, topk=5,
    )


@register(
    "text_keyword_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 100000 + 0.5) / 100000
               AS tfidf
      FROM tf, n JOIN df ON tf.tok = df.tok
      WHERE tf * ln(CAST(n_docs AS DOUBLE) / df) > 0
    )
    SELECT doc_id, tok, tfidf, rank FROM (
      SELECT doc_id, tok, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, tok ASC) AS INTEGER) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def text_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document KEYWORD EXTRACTION: the top-3 tokens by TF-IDF —
    the metadata-enrichment pass corpus pipelines run for topic
    routing, domain mixing and index facets. Rides the exact text_tfidf
    computation plus one per-doc window (the ORDER BY compares the
    ROUNDED score on both sides, so rank order cannot diverge at float
    boundaries; ties break by token). At scale: the window partitions
    by doc — no global sort, each doc's candidate set is its own
    vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select("doc_id").distinct().count()
    scored = (
        tf.join(df_, "tok")
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("__raw"),
        )
        .where(F.col("__raw") > 0)
        .select("doc_id", "tok", fround(F.col("__raw"), 5).alias("tfidf"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "tok", "tfidf", "rank")
    )


def _ivfadc_sql(
    coarse_k: int = 4, m: int = 4, k: int = 8,
    coarse_iters: int = 2, pq_iters: int = 2,
    dim: int = 64, topk: int = 5,
) -> str:
    """DuckDB replica of ivfadc_topk: the coarse L2 k-means (pq_fit
    with one full-width subspace), residuals, per-subspace residual PQ,
    and cell-restricted ADC in integer micro-units — every stage the
    same deterministic recipe as _pq_sql, so the full IVFADC pipeline
    is hash-pinned end to end."""
    s = dim // m

    def l2(av, bv, n):
        return (
            f"list_sum(list_transform(range(1, {n + 1}), "
            f"i -> ({av}[i] - {bv}[i]) * ({av}[i] - {bv}[i])))"
        )

    cd2 = sql_round(l2("e.v", "c.c", dim), 6)
    cavg = ", ".join(sql_round(f"avg(v[{i + 1}])", 6) for i in range(dim))
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"cc0 AS (SELECT vec_id AS cell, v AS c FROM e ORDER BY vec_id LIMIT {coarse_k}),",
    ]
    for it in range(coarse_iters):
        parts.append(
            f"""ca{it} AS (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cd2} ASC, c.cell ASC) AS rn
        FROM e, cc{it} c) WHERE rn = 1),"""
        )
        parts.append(
            f"cc{it + 1} AS (SELECT cell, [{cavg}] AS c FROM ca{it} GROUP BY cell),"
        )
    lastc = f"cc{coarse_iters}"
    parts.append(
        f"""asg AS (
      SELECT vec_id, v, ccell, c FROM (
        SELECT e.vec_id, e.v, c.cell AS ccell, c.c,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cd2} ASC, c.cell ASC) AS rn
        FROM e, {lastc} c) WHERE rn = 1),
    res AS (
      SELECT vec_id, ccell,
             list_transform(range(1, {dim + 1}), i -> v[i] - c[i]) AS r
      FROM asg),"""
    )
    sub_legs = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, ccell, {j} AS j, r[{j * s + 1}:{(j + 1) * s}] AS sv FROM res"
        for j in range(m)
    )
    parts.append(f"sub AS (\n{sub_legs}\n    ),")
    parts.append(
        f"""c0 AS (
      SELECT j, vec_id AS cell, sv AS c FROM (
        SELECT j, vec_id, sv,
               row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn
        FROM sub) WHERE rn <= {k}),"""
    )
    d2r = sql_round(l2("s.sv", "c.c", s), 6)
    pavg = ", ".join(sql_round(f"avg(sv[{i + 1}])", 6) for i in range(s))
    for it in range(pq_iters):
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, j, sv, cell FROM (
        SELECT s.vec_id, s.j, s.sv, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {d2r} ASC, c.cell ASC) AS rn
        FROM sub s JOIN c{it} c ON c.j = s.j) WHERE rn = 1),"""
        )
        parts.append(
            f"c{it + 1} AS (SELECT j, cell, [{pavg}] AS c FROM a{it} GROUP BY j, cell),"
        )
    last = f"c{pq_iters}"
    parts.append(
        f"""codes AS (
      SELECT vec_id, ccell, j, cell FROM (
        SELECT s.vec_id, s.ccell, s.j, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {d2r} ASC, c.cell ASC) AS rn
        FROM sub s JOIN {last} c ON c.j = s.j) WHERE rn = 1),
    lut AS (
      SELECT s.vec_id AS q_id, s.ccell AS q_ccell, s.j, c.cell,
             CAST(floor(({l2('s.sv', 'c.c', s)}) * 1000000.0 + 0.5) AS BIGINT) AS d
      FROM sub s JOIN {last} c ON c.j = s.j
      WHERE s.vec_id < 10),
    sc AS (
      SELECT l.q_id, cd.vec_id AS cand_id, CAST(sum(l.d) AS BIGINT) AS adist_u
      FROM lut l JOIN codes cd ON cd.j = l.j AND cd.cell = l.cell
      WHERE cd.ccell = l.q_ccell AND cd.vec_id <> l.q_id
      GROUP BY 1, 2)
    SELECT q_id, cand_id, adist_u, rank FROM (
      SELECT q_id, cand_id, adist_u,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY adist_u ASC, cand_id ASC) AS INTEGER) AS rank
      FROM sc) WHERE rank <= {topk}"""
    )
    return "\n    ".join(parts)


@register("ann_ivfadc_topk", oracle=_ivfadc_sql())
def ann_ivfadc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the full billion-scale ANN architecture (FAISS
    IVFx,PQy; Jégou et al. 2011): an IVF coarse quantizer (deterministic
    L2 k-means = pq_fit with one full-width subspace) routes each query
    to its cell, and PQ codes of the RESIDUALS rank the cell's members
    by ADC. Residual quantization is the point: residuals concentrate
    near 0, so the per-subspace codebooks resolve far finer than raw-
    vector PQ at the same k. At 100 TB each query touches
    |corpus|/coarse_k code rows (4-byte codes, not 256-byte vectors);
    fit collects (coarse_k + k)·dim scalars; the LUT broadcasts. The
    oracle replays coarse fit → residuals → residual PQ → cell-
    restricted ADC end to end in SQL."""
    from ..operators.similarity import ivfadc_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivfadc_topk(
        e, "vec_id", "embedding", coarse_k=4, m=4, k=8,
        coarse_iters=2, pq_iters=2,
        query_pred=F.col("q_id") < 10, topk=5,
    )


@register(
    "multimodal_audio_segments",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             doc_id % 4 + 2 AS s,
             (doc_id % 3 + 1) * 64 AS seg,
             (doc_id % 2 + 1) * 64 AS gap
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           CAST(s AS INTEGER) AS n_segments,
           CAST(s * seg AS INTEGER) AS voiced_frames,
           CAST((s - 1) * gap AS INTEGER) AS silence_frames,
           CAST((seg + gap) * s * (s - 1) / 2 AS BIGINT) AS seg_start_sum,
           floor(s * seg / CAST(s * seg + (s - 1) * gap AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS voiced_ratio
    FROM p
    """,
)
def multimodal_audio_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation on REAL audio: gapped square-wave
    PCM clips rendered in-flight (operators/multimodal.py
    encode_wav_gapped — bursts separated by exact-zero silence) and
    segmented back by a windowed-energy VAD (audio_segments: RIFF walk,
    64-frame peak-energy blocks, consecutive-voiced merge). Segment
    lengths are multiples of the VAD window by construction, so the
    oracle predicts segment COUNT, voiced/silence frame totals, the
    boundary checksum Σ(start frames), and the voiced ratio in closed
    form from doc_id. The speech-dataset preprocessing primitive
    (silence trimming / utterance splitting) the audio modality was
    missing next to decode + spectrum."""
    from ..operators.multimodal import (
        audio_segments_features,
        synthetic_gapped_wav_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    out = audio_segments_features(synthetic_gapped_wav_frame(d), "doc_id", "content")
    return out.select(
        "doc_id",
        "n_segments",
        "voiced_frames",
        "silence_frames",
        "seg_start_sum",
        fround(F.col("voiced_ratio"), 6).alias("voiced_ratio"),
    )


@register(
    "multimodal_decode_wav",
    oracle="""
    SELECT doc_id,
           CAST(64 + ((doc_id % 250 + 50) * 2) * (doc_id % 2 + 1) * 2
                AS INTEGER) AS byte_len,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS INTEGER) AS sample_rate,
           CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
           CAST(16 AS INTEGER) AS bits,
           CAST((doc_id % 250 + 50) * 2 AS INTEGER) AS n_frames,
           floor(((doc_id % 250 + 50) * 2) * 1000.0
                 / (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 44100 END) * 100000 + 0.5) / 100000 AS duration_ms,
           CAST((doc_id * 97) % 30000 + 1 AS DOUBLE) AS rms,
           CAST((doc_id * 97) % 30000 + 1 AS INTEGER) AS peak,
           CAST(0 AS DOUBLE) AS mean
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_decode_wav_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: RIFF/PCM WAV clips rendered in-flight
    (operators/multimodal.py encode_wav — ±amplitude square wave, a
    LIST chunk forcing a genuine chunk walk) and parsed back by
    decode_wav: header validation, word-aligned chunk traversal, PCM-16
    sample pass (numpy) to frames/duration/RMS/peak/mean. The square
    wave makes every feature arithmetic (rms = amplitude exactly, mean
    = 0 over the even frame count), so the oracle predicts the full
    output including byte length. Extends the codec family to the audio
    modality — reference analogue: the image/files metadata columns
    (app/db/postgres.py:144-145)."""
    from ..operators.multimodal import decode_wav_features, synthetic_wav_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    out = decode_wav_features(synthetic_wav_frame(d), "doc_id", "content")
    return out.select(
        "doc_id", "byte_len", "sample_rate", "channels", "bits", "n_frames",
        fround(F.col("duration_ms"), 5).alias("duration_ms"),
        fround(F.col("rms"), 5).alias("rms"),
        "peak",
        fround(F.col("mean"), 5).alias("mean"),
    )


_DHASH_ORACLE_CTE = """
    px AS (
      SELECT d.doc_id, t2.y, t1.x,
             ((d.doc_id % 100 + 1) * (t1.x + 3) * (t2.y + 7) * 13
              + d.doc_id // 100) % 256 AS g
      FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d,
           generate_series(0, 8) AS t1(x), generate_series(0, 7) AS t2(y)
    ),
    bits AS (
      SELECT a.doc_id, a.y, a.x,
             CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
      FROM px a
      JOIN px b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8
    ),
    hash AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN y >= 4 THEN bit * (1::BIGINT << (y * 8 + x - 32))
                      ELSE 0 END) AS BIGINT) AS dhash_hi,
             CAST(SUM(CASE WHEN y < 4 THEN bit * (1::BIGINT << (y * 8 + x))
                      ELSE 0 END) AS BIGINT) AS dhash_lo
      FROM bits GROUP BY doc_id
    )
"""


@register(
    "multimodal_image_dhash",
    oracle=f"""
    WITH {_DHASH_ORACLE_CTE}
    SELECT doc_id, CAST(9 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           dhash_hi, dhash_lo
    FROM hash
    """,
)
def multimodal_image_dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hash from REAL decoded pixels: patterned 9x8 BMPs
    rendered in-flight (operators/multimodal.py synthetic_patterned_bmp
    — every pixel id-arithmetic) are decoded (header walk, bottom-up
    raster, grayscale), box-downsampled, and dHashed. The 64-bit hash
    rides as two uint32 halves so signed BIGINT carries it on both
    engines; the oracle recomputes the exact hash via generate_series
    pixel arithmetic — real pixels in, bit-exact hash out."""
    from ..operators.multimodal import image_dhash_features, synthetic_patterned_bmp

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return image_dhash_features(synthetic_patterned_bmp(d), "doc_id", "content")


@register(
    "dedup_image_phash",
    oracle=f"""
    WITH {_DHASH_ORACLE_CTE}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
                + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INTEGER) AS hamming
    FROM hash a JOIN hash b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
          + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3
    """,
)
def dedup_image_phash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup — the image-modality twin of dedup_simhash:
    real BMP decode -> dHash -> 4x16-bit pigeonhole bands -> banded
    equi-self-join -> exact hamming verify (<= 3 implies at least one
    band matches, so banded candidates EQUAL the brute-force result at
    equi-join cost). The fixture plants near-dups every 100 ids (tiny
    brightness drift), and the brute-force SQL oracle proves the banded
    plan loses nothing. Never all-pairs; at 100 TB the join shuffles on
    (band_idx, band_val) and AQE absorbs hot buckets."""
    from ..operators.multimodal import image_phash_pairs, synthetic_patterned_bmp

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return image_phash_pairs(synthetic_patterned_bmp(d), "doc_id", "content", max_hamming=3)


_ACCENTED = "ÀÉÎÕÜçèñöû"


@register(
    "text_unicode_normalize",
    oracle=f"""
    WITH acc AS (
      SELECT doc_id,
             substr(text, 1, 5) || list_extract({list(_ACCENTED)!r}, doc_id % 10 + 1)
               || 'e' || list_extract({list(_ACCENTED)!r}, (doc_id * 3) % 10 + 1)
               AS accented
      FROM documents
    )
    SELECT doc_id, accented,
           lower(strip_accents(accented)) AS normalized,
           CAST(length(accented) AS INTEGER) AS n_before,
           CAST(length(lower(strip_accents(accented))) AS INTEGER) AS n_after
    FROM acc
    """,
)
def text_unicode_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization — the first step of every multilingual
    corpus pipeline: NFD-decompose, strip combining marks (Mn), NFC
    recompose, casefold. Spark has no built-in for this, so it is the
    honest pandas-UDF case (Arrow-batched, str.normalize vectorized);
    the oracle is DuckDB's independent ICU-backed strip_accents —
    cross-engine agreement on the Latin-1 accent block is the parity
    claim. Accented strings are composed in-flight from id arithmetic
    (fixtures are pure ASCII, which would make the op a no-op)."""
    from ..functions.text import strip_marks

    d = load_table(spark, sf_dir, "documents")
    chars = F.array(*[F.lit(c) for c in _ACCENTED])
    acc = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 5),
            F.element_at(chars, (F.col("doc_id") % 10 + 1).cast("int")),
            F.lit("e"),
            F.element_at(chars, ((F.col("doc_id") * 3) % 10 + 1).cast("int")),
        ).alias("accented"),
    )
    return acc.select(
        "doc_id", "accented",
        strip_marks("accented").alias("normalized"),
        F.length("accented").cast("int").alias("n_before"),
        F.length(strip_marks("accented")).cast("int").alias("n_after"),
    )


@register(
    "multimodal_audio_spectrum",
    oracle="""
    SELECT doc_id,
           CAST((doc_id % 250 + 50) * 2 AS INTEGER) AS n_frames,
           CAST(doc_id % 250 + 50 AS INTEGER) AS dominant_bin,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS DOUBLE) / 2 AS dominant_freq_hz,
           CAST(((doc_id * 97) % 30000 + 1)
                * ((doc_id % 250 + 50) * 2) AS DOUBLE) AS peak_mag,
           CAST(0 AS DOUBLE) AS dc_mag
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_audio_spectrum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL spectral analysis of the audio modality: rfft over decoded
    PCM channel 0 (operators/multimodal.py audio_spectrum_features).
    The ±a square wave is the one waveform whose DFT is fully
    arithmetic — all energy in bin N/2 with |X| = a*N — so the oracle
    checks an actual FFT's output exactly: dominant bin, Nyquist Hz,
    peak magnitude, zero DC."""
    from ..operators.multimodal import audio_spectrum_features, synthetic_wav_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    out = audio_spectrum_features(synthetic_wav_frame(d), "doc_id", "content")
    return out.select(
        "doc_id", "n_frames", "dominant_bin",
        fround(F.col("dominant_freq_hz"), 5).alias("dominant_freq_hz"),
        fround(F.col("peak_mag"), 2).alias("peak_mag"),
        fround(F.col("dc_mag"), 2).alias("dc_mag"),
    )


@register(
    "embedding_knn_graph",
    oracle=f"""
    WITH {_SQL_VECS},
    sub AS (SELECT * FROM n WHERE vec_id < 300),
    s AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id, {_cos_sql('q', 'c')} AS cos
      FROM sub q JOIN sub c ON c.vec_id <> q.vec_id
    ),
    topk AS (
      SELECT q_id, cand_id, cos FROM (
        SELECT q_id, cand_id, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, cand_id ASC) AS rank
        FROM s
      ) WHERE rank <= 5
    )
    SELECT DISTINCT f.q_id AS a, f.cand_id AS b, f.cos
    FROM topk f JOIN topk r ON r.q_id = f.cand_id AND r.cand_id = f.q_id
    WHERE f.q_id < f.cand_id
    """,
)
def embedding_knn_graph_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over an embedding subset
    (operators/similarity.py knn_graph_mutual): directed cosine top-5
    mutualized by one reversed-edge equi-join. The oracle replays
    the full construction in SQL; the subset (300 vectors) bounds the
    exact-top-k baseline — the production path swaps in the IVF
    variants for the directed phase."""
    from ..operators.similarity import knn_graph_mutual

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    return knn_graph_mutual(e, "vec_id", "embedding", k=5)


@register(
    "embedding_knn_graph_cells",
    oracle=f"""
    WITH {_SQL_VECS},
    cells AS (
      SELECT vec_id, v, nrm,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END
              + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN v[3] > 0 THEN 4 ELSE 0 END) AS cell
      FROM n
    ),
    s AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id, {_cos_sql('q', 'c')} AS cos
      FROM cells q JOIN cells c
        ON c.cell = q.cell AND c.vec_id <> q.vec_id
    ),
    topk AS (
      SELECT q_id, cand_id, cos FROM (
        SELECT q_id, cand_id, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, cand_id ASC) AS rank
        FROM s
      ) WHERE rank <= 5
    )
    SELECT DISTINCT f.q_id AS a, f.cand_id AS b, f.cos
    FROM topk f JOIN topk r ON r.q_id = f.cand_id AND r.cand_id = f.q_id
    WHERE f.q_id < f.cand_id
    """,
)
def embedding_knn_graph_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph, CELL-LOCAL scale path (operators/similarity.py
    knn_graph_mutual cell_col=...): the directed top-5 phase is an
    equi-self-join on a deterministic sign-grid cell (the octant of the
    first three coordinates — the sign-LSH idea with axis-aligned
    hyperplanes, so DuckDB replays the assignment exactly). Candidate
    volume is Σ|cell|², never n², and the plan is pure equi-join +
    window — no nested-loop, no whitelist entry. This is the plan a
    100 TB corpus runs (with kmeans cells instead of sign cells); the
    whole-corpus query complements `embedding_knn_graph`'s exact
    300-vector baseline."""
    from ..operators.similarity import as_double_vec, knn_graph_mutual

    e = load_table(spark, sf_dir, "embeddings")
    v = as_double_vec("embedding")
    cell = sum(
        F.when(F.element_at(v, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(3)
    )
    return knn_graph_mutual(
        e.withColumn("cell", cell.cast("int")),
        "vec_id",
        "embedding",
        k=5,
        cell_col="cell",
    )


@register(
    "text_hashing_vectorizer",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    )
    SELECT doc_id,
           CAST({_PORTABLE_HASH.replace('{col}', 'tok')} % 256 AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM toks WHERE tok <> ''
    GROUP BY 1, 2
    """,
)
def text_hashing_vectorizer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the 'hashing trick'): tokens hashed into 256
    buckets with per-(doc, bucket) counts — fixed-width featurization
    with no vocabulary build, no second pass, no driver state; the
    standard first step when a 100 TB corpus can't afford a vocab
    broadcast. Portable md5 bucket hash, so the oracle reproduces the
    exact bucketing."""
    from ..operators.dedup import portable_hash_mod

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).where(F.col("tok") != "")
    return (
        toks.withColumn("bucket", portable_hash_mod("tok", 256).cast("int"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "quality_model_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    b AS (
      SELECT doc_id,
             CAST({_PORTABLE_HASH.replace('{col}', 'tok')} % 256 AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM toks WHERE tok <> ''
      GROUP BY 1, 2
    ),
    z AS (
      SELECT doc_id,
             CAST(sum(cnt * ((bucket * 37 + 11) % 21 - 10)) AS BIGINT) AS num,
             CAST(sum(cnt) AS BIGINT) AS den
      FROM b GROUP BY 1
    )
    SELECT doc_id,
           {sql_round("(num / (10.0 * den))", 4)} AS logit,
           {sql_round("(1.0 / (1.0 + exp(-(num / (10.0 * den)))))", 4)}
             AS score,
           num > 0 AS passed_model
    FROM z
    """,
)
def quality_model_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the fasttext-style LINEAR
    classifier that completes the heuristic filter stack (the
    CCNet/LLaMA-data pattern: hash n-grams -> mean bucket weight ->
    sigmoid): tokens feature-hash into 256 buckets (the
    text_hashing_vectorizer front end), a broadcast 256-float weight
    vector (a deterministic literal here; a trained model in
    production — same plan either way) dots against the per-doc tf
    vector, zero bias, sigmoid on top. Everything is built-ins: one
    explode, one combinable groupBy(doc, bucket), one groupBy(doc) —
    no vocabulary build, no UDF, no driver state, so the scorer runs
    at corpus scale exactly like the vectorizer it extends.

    Engine parity at the DECISION boundary is exact, not rounded:
    weights are integer micro-units (w[b] = (b*37+11) %% 21 - 10, i.e.
    tenths), so `passed_model` reduces to the integer predicate
    sum(cnt*w) > 0 — no float compare can wobble a verdict
    across engines; only the reported logit/score round at 4dp."""
    from ..functions.text import portable_hash_mod

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).where(F.col("tok") != "")
    # one SQL-parsed literal: F.array(*[F.lit(...)]*256) paid one py4j
    # round trip per element (~0.2 s of driver time per build)
    weights = F.expr(
        "array(" + ",".join(str((b * 37 + 11) % 21 - 10) for b in range(256)) + ")"
    )
    b = (
        toks.withColumn("bucket", portable_hash_mod("tok", 256).cast("int"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    z = b.groupBy("doc_id").agg(
        F.sum(
            F.col("cnt") * F.element_at(weights, F.col("bucket") + 1)
        ).cast("bigint").alias("num"),
        F.sum("cnt").cast("bigint").alias("den"),
    )
    logit = F.col("num") / (10.0 * F.col("den"))
    return z.select(
        "doc_id",
        fround(logit, 4).alias("logit"),
        fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4).alias("score"),
        (F.col("num") > 0).alias("passed_model"),
    )


@register(
    "multimodal_resize_bmp",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 21 + 1 AS INTEGER) AS src_w,
           CAST(doc_id % 13 + 1 AS INTEGER) AS src_h,
           CAST((doc_id % 21 + 2) // 2 AS INTEGER) AS out_w,
           CAST((doc_id % 13 + 2) // 2 AS INTEGER) AS out_h,
           CAST(54 + (doc_id % 13 + 2) // 2
                * ((((doc_id % 21 + 2) // 2) * 3 + 3) // 4 * 4)
                AS INTEGER) AS out_byte_len,
           CAST(floor(((doc_id * 3) % 256 + (doc_id * 5) % 256
                       + (doc_id * 7) % 256) / 3.0 + 0.5) AS DOUBLE) AS out_mean
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_resize_bmp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (the operation multimodal_resize_stub fakes):
    decode the solid-color BMP raster, box-average downsample 2x,
    re-encode, and report output geometry + bytes + gray mean. On a
    solid color the box average is exact, so every output — including
    the re-encoded BMP's padded byte length — is oracle arithmetic,
    while the operator path exercises decode -> resample -> encode on
    real pixels. The reported mean is the DECODED output's gray — the
    re-encoder quantizes gray = (r+g+b)/3 to round(gray), and thirds
    never land on .5, so the oracle's floor(x + 0.5) predicts the
    quantized value exactly."""
    from ..operators.multimodal import resize_bmp_real, synthetic_bmp_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    out = resize_bmp_real(synthetic_bmp_frame(d), "doc_id", "content", factor=2)
    return out.select(
        "doc_id", "src_w", "src_h", "out_w", "out_h", "out_byte_len",
        fround(F.col("out_mean"), 5).alias("out_mean"),
    )


@register(
    "multimodal_video_frames",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
    f AS (
      SELECT doc_id, CAST(t.f AS INTEGER) AS frame_idx
      FROM d, generate_series(0, 4) AS t(f)
      WHERE t.f < doc_id % 4 + 2
    )
    SELECT doc_id, frame_idx,
           CAST((doc_id % 10 + 1) * 5 AS INTEGER) AS delay_cs,
           CAST(doc_id % 11 + 2 AS INTEGER) AS width,
           CAST(doc_id % 7 + 2 AS INTEGER) AS height,
           CAST((doc_id * 3 + ((doc_id + frame_idx) % 4) * 11) % 256 AS DOUBLE)
             AS mean_r,
           CAST((doc_id * 5 + ((doc_id + frame_idx) % 4) * 13) % 256 AS DOUBLE)
             AS mean_g,
           CAST((doc_id * 7 + ((doc_id + frame_idx) % 4) * 17) % 256 AS DOUBLE)
             AS mean_b
    FROM f
    """,
)
def multimodal_video_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode — the operation frame_sample_stub
    fakes: animated GIF89a streams rendered in-flight
    (operators/multimodal.py encode_gif_animated — per-frame Graphic
    Control Extensions with real centisecond delays, LZW rasters) and
    walked back frame by frame (decode_gif_frames): one output row per
    frame with timing and per-frame channel means, the variable
    rows-per-input codec shape. Every decoded value is id arithmetic,
    so the oracle checks the whole multi-frame walk exactly."""
    from ..operators.multimodal import synthetic_animated_gif, video_frame_features

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return video_frame_features(synthetic_animated_gif(d), "doc_id", "content")


@register(
    "multimodal_scene_cuts",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
    f AS (
      SELECT doc_id, CAST(t.f AS INTEGER) AS frame_idx,
             CAST((doc_id * 3 + ((doc_id + t.f) % 4) * 11) % 256 AS DOUBLE) AS r,
             CAST((doc_id * 5 + ((doc_id + t.f) % 4) * 13) % 256 AS DOUBLE) AS g,
             CAST((doc_id * 7 + ((doc_id + t.f) % 4) * 17) % 256 AS DOUBLE) AS b
      FROM d, generate_series(0, 4) AS t(f)
      WHERE t.f < doc_id % 4 + 2
    ),
    delta AS (
      SELECT doc_id, frame_idx,
             (abs(r - lag(r) OVER w) + abs(g - lag(g) OVER w)
              + abs(b - lag(b) OVER w)) / 3 AS dv
      FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
    )
    SELECT doc_id, frame_idx,
           floor(dv * 100000 + 0.5) / 100000 AS frame_delta,
           dv > 32 AS is_cut
    FROM delta WHERE frame_idx > 0
    """,
)
def multimodal_scene_cuts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCENE-CUT detection over decoded video frames: per-frame mean
    channel intensity (the real GIF walk above) lagged per document
    and thresholded on the mean absolute channel delta — the standard
    keyframe/shot-boundary heuristic, composed entirely from the
    decode operator plus one per-document window (frame counts are
    codec-bounded, so the window frame is tiny). The synthetic frames'
    channel means are id arithmetic, so the oracle replays the lag
    chain exactly."""
    from pyspark.sql.window import Window as W

    from ..operators.multimodal import synthetic_animated_gif, video_frame_features

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    frames = video_frame_features(synthetic_animated_gif(d), "doc_id", "content")
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    dv = (
        F.abs(F.col("mean_r") - F.lag("mean_r").over(w))
        + F.abs(F.col("mean_g") - F.lag("mean_g").over(w))
        + F.abs(F.col("mean_b") - F.lag("mean_b").over(w))
    ) / 3
    return (
        frames.select("doc_id", "frame_idx", dv.alias("dv"))
        .where(F.col("frame_idx") > 0)
        .select(
            "doc_id", "frame_idx",
            fround(F.col("dv"), 5).alias("frame_delta"),
            (F.col("dv") > 32).alias("is_cut"),
        )
    )


@register(
    "ann_matryoshka_recall",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
    s AS (
      SELECT d.dim, q.vec_id AS q_id, c.vec_id AS cand_id,
             floor(
               list_sum(list_transform(range(1, d.dim + 1),
                 i -> q.v[i] * c.v[i]))
               / (sqrt(list_sum(list_transform(range(1, d.dim + 1),
                    i -> q.v[i] * q.v[i])))
                  * sqrt(list_sum(list_transform(range(1, d.dim + 1),
                    i -> c.v[i] * c.v[i]))))
               * 1000000 + 0.5) / 1000000 AS cos
      FROM dims d, e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    topk AS (
      SELECT dim, q_id, cand_id FROM (
        SELECT dim, q_id, cand_id,
               row_number() OVER (PARTITION BY dim, q_id
                                  ORDER BY cos DESC, cand_id ASC) AS rnk
        FROM s
      ) WHERE rnk <= 5
    ),
    truth AS (SELECT q_id, cand_id FROM topk WHERE dim = 64),
    hit AS (
      SELECT t.dim, t.q_id, CAST(count(tr.cand_id) AS BIGINT) AS hits
      FROM topk t LEFT JOIN truth tr
        ON tr.q_id = t.q_id AND tr.cand_id = t.cand_id
      WHERE t.dim < 64
      GROUP BY 1, 2
    )
    SELECT CAST(dim AS INTEGER) AS dim, q_id, hits,
           hits / 5.0 AS recall_at_5
    FROM hit
    """,
)
def ann_matryoshka_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA-EMBEDDING evaluation (Kusupati et al. 2022): how much
    top-5 recall survives truncating the 64-dim embeddings to their
    first 8 / 16 / 32 coordinates — the measurement behind the
    store-small-search-big MRL deployment trade (truncated vectors cut
    index memory and ANN cost by 2-8x; this query tells you what that
    costs in recall, per query). All four rankings (three truncations
    + the full-dim truth) come out of ONE pass: the query side
    explodes a dim column, the cosine is computed over slice(v, 1,
    dim) with per-dim renormalization, one window ranks per (dim,
    q_id), and recall joins each truncation against the dim=64 leg.
    Rounded cosines + cand_id tie-break make every ranking
    deterministic, so recall is engine-exact.

    Scale shape: the 10-query exploded side (40 rows) BROADCASTS into
    the corpus scan — one shuffle-free map pass over n vectors
    computing 4 sliced dots per row, then a combinable per-(dim, q)
    top-5; at 100 TB this is the same whitelisted broadcast-cross
    shape as ann_bruteforce_topk, which exists precisely to ground
    approximate indexes."""
    from ..operators.similarity import as_double_vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    q = (
        e.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.explode(F.array(*[F.lit(d) for d in (8, 16, 32, 64)])).alias(
                "dim"
            ),
        )
    )
    pairs = e.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
    ).join(F.broadcast(q), F.col("cand_id") != F.col("q_id"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    qd = F.slice("qv", F.lit(1), F.col("dim"))
    cd = F.slice("cv", F.lit(1), F.col("dim"))
    cos = fround(
        dot(qd, cd) / (F.sqrt(dot(qd, qd)) * F.sqrt(dot(cd, cd))), 6
    )
    s = pairs.select("dim", "q_id", "cand_id", cos.alias("cos"))
    w = Window.partitionBy("dim", "q_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    topk = (
        s.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("dim", "q_id", "cand_id")
    )
    topk = freeze(topk, eager=False)  # truth + 3 legs share it
    truth = topk.where(F.col("dim") == 64).select(
        F.col("q_id").alias("t_q"), F.col("cand_id").alias("t_c")
    )
    hit = (
        topk.where(F.col("dim") < 64)
        .join(
            truth,
            (F.col("q_id") == F.col("t_q")) & (F.col("cand_id") == F.col("t_c")),
            "left",
        )
        .groupBy("dim", "q_id")
        .agg(F.count("t_c").cast("bigint").alias("hits"))
    )
    return hit.select(
        F.col("dim").cast("int").alias("dim"),
        "q_id",
        "hits",
        (F.col("hits") / 5.0).alias("recall_at_5"),
    )


@register(
    "quality_perplexity_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
    total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t),
    s AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             floor(avg(ln(cnt / n)) * 10000 + 0.5) / 10000 AS lp
      FROM t, total JOIN freq ON freq.tok = t.tok
      GROUP BY 1
    ),
    b AS (
      SELECT CASE WHEN lp >= -3.40 THEN 'head'
                  WHEN lp >= -3.41 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             n_toks, CAST(lp * 10000 AS BIGINT) AS lp_u
      FROM s
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS tok_sum,
           CAST(sum(lp_u) AS BIGINT) / 10000.0 / count(*) AS mean_logp
    FROM b GROUP BY 1
    """,
)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style HEAD / MIDDLE / TAIL corpus split (Wenzek et al.
    2020): bucket documents by their language-model score against
    FIXED thresholds — in CCNet the constants are percentiles of a
    reference-corpus (Wikipedia) perplexity distribution computed
    offline, which is exactly what keeps the production split a
    MAP-ONLY stage (a per-batch quantile would need a global rank and
    would also make the split drift batch-to-batch). Here the LM is
    the registered unigram proxy (text_unigram_lm_score's 4-dp score,
    shared shape) and the thresholds (-3.40 / -3.41) are pinned from
    the fixture profile the way CCNet pins its reference percentiles.
    Per bucket: doc count, token budget, and the mean score folded
    from INTEGER 1e-4 units (the 4-dp scores are exact multiples, so
    the sum is order-free and the one division per bucket is
    engine-identical)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = float(toks.count())
    s = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            fround(F.avg(F.log(F.col("cnt") / F.lit(total))), 4).alias("lp"),
        )
    )
    b = s.select(
        F.when(F.col("lp") >= -3.40, "head")
        .when(F.col("lp") >= -3.41, "middle")
        .otherwise("tail")
        .alias("bucket"),
        "n_toks",
        (F.col("lp") * 10000).cast("bigint").alias("lp_u"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("tok_sum"),
        (
            F.sum("lp_u").cast("bigint") / F.lit(10000.0) / F.count(F.lit(1))
        ).alias("mean_logp"),
    )


@register(
    "text_code_detect",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, chr(10))) AS n_lines,
             len(list_filter(string_split(text, chr(10)),
                             x -> x LIKE '  %' OR x LIKE chr(9) || '%'))
               AS indent_lines,
             len(regexp_extract_all(text, '[{}();=<>]')) AS sym_cnt,
             len(regexp_extract_all(
                 text,
                 '\\b(def|class|return|import|function|const|var|lambda|elif|while)\\b'))
               AS kw_hits,
             greatest(length(text), 1) AS n_chars_m
      FROM documents
    )
    SELECT doc_id,
           CAST(n_lines AS INTEGER) AS n_lines,
           CAST(indent_lines AS INTEGER) AS indent_lines,
           CAST(sym_cnt AS INTEGER) AS sym_cnt,
           CAST(kw_hits AS INTEGER) AS kw_hits,
           floor((CAST(indent_lines AS DOUBLE) / n_lines * 0.4
                  + least(CAST(sym_cnt AS DOUBLE) / n_chars_m * 10.0, 1.0) * 0.4
                  + least(CAST(kw_hits AS DOUBLE) / 10.0, 1.0) * 0.2)
                 * 1000000 + 0.5) / 1000000 AS code_score,
           (CAST(indent_lines AS DOUBLE) / n_lines * 0.4
            + least(CAST(sym_cnt AS DOUBLE) / n_chars_m * 10.0, 1.0) * 0.4
            + least(CAST(kw_hits AS DOUBLE) / 10.0, 1.0) * 0.2) >= 0.3 AS is_code
    FROM f
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the routing gate every LLM training mix
    needs (code goes to a code-weighted bucket, prose to the text mix;
    e.g. the Stack / RedPajama pipelines): indented-line fraction,
    syntax-symbol density, and reserved-keyword hits folded into one
    deterministic rule score. All three features are Catalyst built-ins
    (split + higher-order filter, regexp_count) — zero Python in the
    hot path, one map-only stage, trivially 100 TB-safe."""
    d = load_table(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    indent = F.size(
        F.filter(lines, lambda x: x.startswith("  ") | x.startswith("\t"))
    )
    sym = F.regexp_count(F.col("text"), F.lit(r"[{}();=<>]"))
    kw = F.regexp_count(
        F.col("text"),
        F.lit(r"\b(def|class|return|import|function|const|var|lambda|elif|while)\b"),
    )
    # empty-text guard: Spark (non-ANSI) x/0 -> NULL but DuckDB IEEE
    # division -> inf/NaN, so clamp the denominator identically in both
    # engines (the oracle uses greatest(length(text), 1) too).
    nch = F.greatest(F.length("text"), F.lit(1))
    score_raw = (
        indent.cast("double") / n_lines * 0.4
        + F.least(sym.cast("double") / nch * 10.0, F.lit(1.0)) * 0.4
        + F.least(kw.cast("double") / 10.0, F.lit(1.0)) * 0.2
    )
    return d.select(
        "doc_id",
        n_lines.cast("int").alias("n_lines"),
        indent.cast("int").alias("indent_lines"),
        sym.cast("int").alias("sym_cnt"),
        kw.cast("int").alias("kw_hits"),
        fround(score_raw, 6).alias("code_score"),
        (score_raw >= 0.3).alias("is_code"),
    )


@register(
    "multimodal_exif_parse",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(4 AS INTEGER) AS n_entries,
           'CAM' || CAST(doc_id % 10 AS VARCHAR) AS make,
           CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
           CAST(72 + doc_id % 4 AS BIGINT) AS xres_num,
           CAST(1 + doc_id % 3 AS BIGINT) AS xres_den,
           '2024:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             || ' 12:00:00' AS datetime
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_exif_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL typed-metadata parse for the image column: Exif APP1 / TIFF
    6.0 byte streams rendered in-flight (operators/multimodal.py
    encode_exif — odd ids big-endian MM, even ids II, so BOTH byte
    orders ship in every run) and parsed back by decode_exif: byte-order
    mark, magic 42, IFD0 walk, ASCII/SHORT/RATIONAL type dispatch, and
    the inline-vs-offset value rule. Orientation/resolution/capture-time
    gates run on metadata like this long before any pixel decode, so the
    parse is map-only over the binary column. The oracle predicts every field
    from the id arithmetic; a hand-written spec-bytes fixture
    (tests/test_properties.py) keeps encoder and parser from sharing a
    hidden layout bug. Reference analogue: opaque image bytea columns
    (app/db/postgres.py:144-145) with no metadata model at all."""
    from ..operators.multimodal import decode_exif_features, synthetic_exif_blob

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_exif_features(synthetic_exif_blob(d), "doc_id", "content")


@register(
    "text_tokenizer_fertility",
    oracle="""
    WITH f AS (
      SELECT lang,
             len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
               AS n_toks,
             octet_length(encode(text)) AS n_bytes,
             length(text) AS n_chars_m
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
           floor(CAST(sum(n_bytes) AS DOUBLE) / sum(n_toks) * 1000000 + 0.5)
             / 1000000 AS bytes_per_token,
           floor(CAST(sum(n_chars_m) AS DOUBLE) / sum(n_toks) * 1000000 + 0.5)
             / 1000000 AS chars_per_token,
           floor(CAST(sum(n_toks) AS DOUBLE) / sum(n_bytes) * 100 * 1000000
                 + 0.5) / 1000000 AS tokens_per_100_bytes
    FROM f GROUP BY 1
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language — the tokenizer-evaluation
    metric (tokens per byte, bytes per token) that decides vocab
    budgets and per-language compute costs before an LLM train: a
    tokenizer that is 'fertile' on a language (many tokens per byte)
    makes that language expensive and under-trained at a fixed token
    budget. Whitespace tokenization is the baseline here (BPE
    fertility is derivable by swapping in text_bpe_apply's output);
    everything is an integer-sum groupBy over one map-only feature
    pass — the canonical combinable one-shuffle shape, ratios divided
    once per GROUP from exact integer sums."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), " "), lambda x: x != ""
        )
    )
    f = d.select(
        "lang",
        toks.alias("n_toks"),
        F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        F.length("text").alias("n_chars_m"),
    )
    g = f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
        F.sum("n_chars_m").cast("bigint").alias("n_chars_sum"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_bytes",
        fround(F.col("n_bytes").cast("double") / F.col("n_tokens"), 6).alias(
            "bytes_per_token"
        ),
        fround(
            F.col("n_chars_sum").cast("double") / F.col("n_tokens"), 6
        ).alias("chars_per_token"),
        fround(
            F.col("n_tokens").cast("double") / F.col("n_bytes") * 100, 6
        ).alias("tokens_per_100_bytes"),
    )


@register(
    "multimodal_image_entropy",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CAST(doc_id % 21 + 1 AS INTEGER) AS width,
             CAST(doc_id % 13 + 1 AS INTEGER) AS height,
             (doc_id % 21 + 1) * (doc_id % 13 + 1) AS n
      FROM documents WHERE doc_id < 300
    ),
    t AS (
      SELECT doc_id, width, height, n, u.v,
             (n // 256) + CASE WHEN u.v < (n % 256) THEN 1 ELSE 0 END AS cnt
      FROM c, UNNEST(range(0, 256)) AS u(v)
    )
    SELECT doc_id, width, height, CAST(n AS INTEGER) AS n_pixels,
           CAST(sum(CASE WHEN cnt > 0 THEN
                  CAST(floor(-(CAST(cnt AS DOUBLE) / n)
                             * ln(CAST(cnt AS DOUBLE) / n)
                             * 1000000000 + 0.5) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 1000000000 AS entropy_nats
    FROM t GROUP BY 1, 2, 3, 4
    """,
)
def multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE ENTROPY over real decoded rasters — the blank / solid /
    low-information gate a multimodal ingest runs before paying for
    feature extraction (entropy 0 = solid color; high = texture).
    Fixtures are NON-solid gradient BMPs rendered in-flight
    (operators/multimodal.py encode_bmp_gradient — pixel p carries
    gray p % 256, so the exact histogram is id-predictable), parsed
    back by a real raster walk, and folded to Shannon entropy with
    per-value -p*ln(p) terms floored into integer nano-units: the
    per-image sum is order-free, and the oracle replays the identical
    IEEE term arithmetic from the id algebra. Map-only Arrow batches,
    linear at any corpus size."""
    from ..operators.multimodal import (
        bmp_entropy_features,
        synthetic_gradient_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return bmp_entropy_features(synthetic_gradient_frame(d), "doc_id", "content")


@register(
    "ann_binary_quantized_topk",
    oracle=f"""
    WITH {_SQL_VECS},
    m AS (
      SELECT vec_id, v, nrm,
             list_sum(list_transform(range(1, 33),
               i -> CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
                         ELSE 0 END)) AS m_lo,
             list_sum(list_transform(range(33, 65),
               i -> CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 33))
                         ELSE 0 END)) AS m_hi
      FROM n
    ),
    h AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             CAST(bit_count(xor(q.m_lo, c.m_lo))
                  + bit_count(xor(q.m_hi, c.m_hi)) AS INTEGER) AS hamming,
             {_cos_sql('q', 'c')} AS cos
      FROM m q JOIN m c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    short AS (
      SELECT q_id, cand_id, hamming, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY hamming ASC, cand_id ASC) AS hrank
      FROM h
    )
    SELECT q_id, cand_id, hamming, cos, rank FROM (
      SELECT q_id, cand_id, hamming, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, cand_id ASC)
                  AS INTEGER) AS rank
      FROM short WHERE hrank <= 20
    ) WHERE rank <= 5
    """,
)
def ann_binary_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZED vector search (the Qdrant/Milvus
    binary-quantization recipe): each 64-dim embedding collapses to a
    64-bit SIGN MASK (two 32-bit halves, so no sign-bit arithmetic
    anywhere), candidate distance is a 2-instruction
    popcount-of-XOR Hamming scan — 32× less memory traffic than the
    float dot product — and the exact rounded cosine reranks only the
    per-query top-20 shortlist. The scan IS a full pass per query
    (that is the point of the quantization — making brute force
    cheap); the indexed alternatives are the IVF/LSH query family.
    Shortlist and final rank both carry deterministic tie-breaks, so
    the whole path is hash-exact cross-engine. Masks build in one
    map-only pass; at 100 TB they'd persist as a 8-byte-per-vector
    sidecar column."""
    from ..operators.similarity import as_double_vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    nrm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))

    def mask(lo: int, hi: int) -> F.Column:
        return F.expr(
            f"aggregate(transform(sequence({lo}, {hi}), "
            f"i -> IF(v[i - 1] > 0, shiftleft(CAST(1 AS BIGINT), i - {lo}), "
            f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a | x)"
        )

    m = e.select(
        "vec_id",
        "v",
        nrm.alias("nrm"),
        mask(1, 32).alias("m_lo"),
        mask(33, 64).alias("m_hi"),
    )
    q = m.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("m_lo").alias("q_lo"),
        F.col("m_hi").alias("q_hi"),
    )
    pairs = m.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_id"))
    hamming = (
        F.expr("bit_count(m_lo ^ q_lo)") + F.expr("bit_count(m_hi ^ q_hi)")
    ).cast("int")
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    h = pairs.select(
        "q_id",
        F.col("vec_id").alias("cand_id"),
        hamming.alias("hamming"),
        fround(dot / (F.col("nrm") * F.col("qnrm")), 6).alias("cos"),
    )
    wham = Window.partitionBy("q_id").orderBy(
        F.col("hamming").asc(), F.col("cand_id").asc()
    )
    short = h.withColumn("hrank", F.row_number().over(wham)).where(
        F.col("hrank") <= 20
    )
    wcos = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    return (
        short.withColumn("rank", F.row_number().over(wcos).cast("int"))
        .where(F.col("rank") <= 5)
        .select("q_id", "cand_id", "hamming", "cos", "rank")
    )


@register(
    "text_vocab_drift",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, doc_id % 2 = 0 AS cohort_a,
             unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ),
    t AS (SELECT doc_id, cohort_a, tok FROM dt WHERE tok <> ''),
    df AS (
      SELECT tok,
             CAST(count(DISTINCT CASE WHEN cohort_a THEN doc_id END)
                  AS BIGINT) AS df_a,
             CAST(count(DISTINCT CASE WHEN NOT cohort_a THEN doc_id END)
                  AS BIGINT) AS df_b
      FROM t GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(DISTINCT CASE WHEN doc_id % 2 = 0 THEN doc_id END)
                  AS BIGINT) AS na,
             CAST(count(DISTINCT CASE WHEN doc_id % 2 <> 0 THEN doc_id END)
                  AS BIGINT) AS nb
      FROM documents
    ),
    d AS (
      SELECT tok, df_a, df_b,
             floor(ln(((df_a + 1) * CAST(nb + 1 AS DOUBLE))
                      / ((df_b + 1) * CAST(na + 1 AS DOUBLE)))
                   * 1000000 + 0.5) / 1000000 AS drift
      FROM df, tot
      WHERE df_a + df_b >= 10
    )
    SELECT tok AS token, df_a, df_b, drift
    FROM d
    ORDER BY abs(drift) DESC, token ASC LIMIT 20
    """,
)
def text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY DRIFT between two corpus cohorts — the distribution-
    shift alarm a training pipeline runs when a new crawl lands (which
    tokens exploded or vanished vs the reference cohort?): per-token
    document frequencies in each cohort, smoothed log-odds ratio
    ln(((df_a+1)/(na+1)) / ((df_b+1)/(nb+1))), top-20 by |drift| with
    deterministic tie-breaks on the ROUNDED drift. One distinct
    (doc, token) explode feeds a combinable conditional-count groupBy;
    the two cohort totals ride as a one-row broadcast (the in-plan
    scalar pattern); the finish is a TakeOrdered. The df floor
    (df_a + df_b >= 10) keeps rare-token noise out of the report —
    the standard drift-report hygiene."""
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select(
            "doc_id",
            (F.pmod(F.col("doc_id"), 2) == 0).alias("cohort_a"),
            F.explode(tokens_col("text")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    df = t.groupBy("tok").agg(
        F.countDistinct(F.when(F.col("cohort_a"), F.col("doc_id")))
        .cast("bigint")
        .alias("df_a"),
        F.countDistinct(F.when(~F.col("cohort_a"), F.col("doc_id")))
        .cast("bigint")
        .alias("df_b"),
    )
    tot = d.agg(
        F.countDistinct(
            F.when(F.pmod(F.col("doc_id"), 2) == 0, F.col("doc_id"))
        )
        .cast("bigint")
        .alias("na"),
        F.countDistinct(
            F.when(F.pmod(F.col("doc_id"), 2) != 0, F.col("doc_id"))
        )
        .cast("bigint")
        .alias("nb"),
    )
    drift = fround(
        F.log(
            ((F.col("df_a") + 1) * (F.col("nb") + 1).cast("double"))
            / ((F.col("df_b") + 1) * (F.col("na") + 1).cast("double"))
        ),
        6,
    )
    return (
        df.where(F.col("df_a") + F.col("df_b") >= 10)
        .crossJoin(F.broadcast(tot))
        .select(F.col("tok").alias("token"), "df_a", "df_b", drift.alias("drift"))
        .orderBy(F.abs(F.col("drift")).desc(), F.col("token").asc())
        .limit(20)
    )


@register(
    "multimodal_mp4_meta",
    oracle="""
    SELECT doc_id,
           'isom' AS major_brand,
           CAST(1000 AS INTEGER) AS timescale,
           CAST((doc_id % 97 + 1) * 500 AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
             AS n_tracks,
           CAST((doc_id % 32 + 1) * 16 AS INTEGER) AS video_width,
           CAST((doc_id % 18 + 1) * 16 AS INTEGER) AS video_height,
           CASE WHEN doc_id % 2 = 0 THEN 'vide,soun' ELSE 'vide' END
             AS handlers
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_mp4_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-CONTAINER metadata parse — the ISO-BMFF / MP4 box walk
    (ISO/IEC 14496-12; operators/multimodal.py decode_mp4_meta) that a
    video ingest runs long before any codec work: duration, movie
    timescale, track layout, per-track handler, and display dimensions
    from tkhd's 16.16 fixed point gate sampling budgets and filtering.
    The Exif-for-video twin: fixtures are real box trees rendered
    in-flight by encode_mp4_meta — the video trak ships under the
    size==1 / 64-bit LARGESIZE header and moov plants an unknown
    'skip' box, so the parser's largesize and skip-unknown paths are
    exercised on EVERY row, and every output field is id-predictable.
    Sample/pixel DECODE (H.264 etc.) remains the one honest
    NotImplementedError in the image dispatcher — this closes the
    metadata half of the MP4 gate, the part a data pipeline actually
    needs. Map-only, zero shuffle. Reference analogue: opaque media
    bytea columns (app/db/postgres.py:144-145)."""
    from ..operators.multimodal import decode_mp4_features, synthetic_mp4_frame

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_mp4_features(synthetic_mp4_frame(d), "doc_id", "content")


@register(
    "multimodal_mp4_mjpeg_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(s.k AS INTEGER) AS frame_idx,
           CAST(d.doc_id % 21 + 1 AS INTEGER) AS width,
           CAST(d.doc_id % 13 + 1 AS INTEGER) AS height,
           CAST((d.doc_id * 11 + 29 * s.k) % 256 AS DOUBLE) AS mean_gray
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    JOIN range(0, 4) s(k) ON s.k <= d.doc_id % 3 + 1
    """,
)
def multimodal_mp4_mjpeg_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO SAMPLE DECODE — container to pixels, no native libs: the
    ISO-BMFF walker resolves the video track's full sample-table chain
    (stsd format, stsc chunk map in its general first_chunk run-length
    form, stsz sizes, stco offsets — ISO/IEC 14496-12 §8.5-8.7) to
    per-frame byte ranges inside mdat, and each extracted sample is a
    REAL baseline JPEG decoded by the module's own T.81 machinery
    (operators/multimodal.py decode_mp4_samples). Fixtures are
    playable-layout MJPEG-in-MP4 files rendered in-flight
    (encode_mp4_mjpeg): doc_id%3+2 frames of (id%21+1)x(id%13+1)
    solid-gray JPEGs — partial edge blocks included — whose DC-exact
    levels make every frame's mean_gray id-predictable BIT-FOR-BIT.
    This closes the round-13 video gate by composing the two newest
    codecs; the ONE remaining honest NotImplementedError is the
    H.264/HEVC bitstream itself (avc1/hev1 sample entries raise).
    Arrow-batched mapInPandas, map-only, zero shuffle — frame
    extraction scales with document count, the vision-corpus
    frame-sampling shape. Reference analogue: none (extension)."""
    from ..operators.multimodal import (
        decode_mp4_frame_features,
        synthetic_mjpeg_mp4_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_mp4_frame_features(
        synthetic_mjpeg_mp4_frame(d), "doc_id", "content"
    ).select("doc_id", "frame_idx", "width", "height", "mean_gray")


@register(
    "multimodal_mp4_avc_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(s.k AS INTEGER) AS frame_idx,
           CAST(2 * (d.doc_id % 10 + 1) AS INTEGER) AS width,
           CAST(2 * (d.doc_id % 7 + 1) AS INTEGER) AS height,
           CAST((d.doc_id * 13 + 37 * s.k) % 256 AS DOUBLE) AS mean_gray
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    JOIN range(0, 4) s(k) ON s.k <= d.doc_id % 3 + 1
    """,
)
def multimodal_mp4_avc_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 SAMPLE DECODE — the round-14 "one remaining video gate"
    closed for the intra/baseline case, still with zero native libs:
    avc1 sample entries now decode through the package's own
    clean-room H.264 decoder (operators/h264.py — Annex-B and avcC
    NAL framing with emulation-prevention removal, SPS/PPS/slice
    exp-Golomb parse, CAVLC entropy decode, Intra_16x16 + chroma
    prediction, the 4x4 integer inverse transform and DC Hadamard
    ladders, frame cropping, I_PCM). Fixtures are playable-layout
    H.264-in-MP4 files rendered in-flight (encode_mp4_avc): doc_id%3+2
    IDR frames of 2*(id%10+1) x 2*(id%7+1) solid grays — mostly
    non-multiple-of-16, so SPS cropping is exercised per row — whose
    single exact luma-DC CAVLC coefficient makes every frame's
    mean_gray id-predictable BIT-FOR-BIT (pixel-exactness for all 256
    grays pinned in tests/test_properties.py). The honest gates left:
    HEVC, CABAC, inter frames (NotImplementedError each); Intra_4x4
    decodes since round 15 (see multimodal_mp4_avc_i4x4_frames).
    Arrow-batched mapInPandas, map-only, zero shuffle — the
    vision-corpus frame-sampling shape at 100 TB. Reference analogue:
    none (extension)."""
    from ..operators.multimodal import (
        decode_mp4_frame_features,
        synthetic_avc_mp4_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_mp4_frame_features(
        synthetic_avc_mp4_frame(d), "doc_id", "content"
    ).select("doc_id", "frame_idx", "width", "height", "mean_gray")


@register(
    "multimodal_mp4_avc_i4x4_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(s.k AS INTEGER) AS frame_idx,
           CAST(2 * (d.doc_id % 9 + 1) AS INTEGER) AS width,
           CAST(2 * (d.doc_id % 6 + 1) AS INTEGER) AS height,
           CAST((d.doc_id * 17 + 53 * s.k) % 256 AS DOUBLE) AS mean_gray
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    JOIN range(0, 4) s(k) ON s.k <= d.doc_id % 3 + 1
    """,
)
def multimodal_mp4_avc_i4x4_frames_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H.264 I_NxN (Intra_4x4) SAMPLE DECODE — the OTHER intra
    macroblock family, completing baseline-intra coverage alongside
    multimodal_mp4_avc_frames' Intra_16x16: per-4x4-block prediction
    (all nine spec modes implemented; fixtures ride DC with live
    most-probable-mode parsing), the Table 9-4 mapped-exp-Golomb
    coded_block_pattern, per-8x8-group residual gating, and per-block
    sequential reconstruction with real CAVLC nC neighbor bookkeeping
    (operators/h264.py encode_i4x4_idr / decode_idr_planes). Fixtures:
    doc_id%3+2 IDR frames of 2*(id%9+1) x 2*(id%6+1) solid grays,
    mean_gray id-predictable BIT-FOR-BIT (per-block-random exactness
    pinned in tests). Remaining honest gates: HEVC, CABAC, inter.
    Arrow-batched mapInPandas, map-only, zero shuffle. Reference
    analogue: none (extension)."""
    from ..operators.multimodal import (
        decode_mp4_frame_features,
        synthetic_avc_mp4_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return decode_mp4_frame_features(
        synthetic_avc_mp4_frame(d, coding="i4x4"), "doc_id", "content"
    ).select("doc_id", "frame_idx", "width", "height", "mean_gray")


@register(
    "multimodal_mp4_avc_textured_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(s.k AS INTEGER) AS frame_idx,
           CAST(2 * (d.doc_id % 12 + 1) AS INTEGER) AS width,
           CAST(2 * (d.doc_id % 9 + 1) AS INTEGER) AS height,
           CAST(0 AS INTEGER) AS mismatch_px
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    JOIN range(0, 4) s(k) ON s.k <= d.doc_id % 3 + 1
    """,
)
def multimodal_mp4_avc_textured_frames_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEXTURED H.264 CAVLC DECODE (round 16) — every 4x4 block of
    every I_NxN macroblock carries a multi-coefficient residual, so
    neighbor total_coeff bookkeeping drives coeff_token through ALL
    FOUR contexts: the round-16 Table 9-5 columns for 2<=nC<4 and
    4<=nC<8 (prefix-free, Kraft sums pinned in tests), plus 0<=nC<2
    and the nC>=8 fixed-length form; zero runs exercise total_zeros /
    run_before incl. the zeros_left>6 escape, larger levels the
    level_prefix suffix ladder. The query decodes each frame through
    the full container->pixels chain and counts luma pixels differing
    from the encoder-tracked expected plane — a single wrong VLC code
    desynchronizes the parse, so mismatch_px == 0 per frame is the
    gate (operators/h264.py encode_textured_i4x4_idr,
    operators/multimodal.py check_mp4_avc_textured). Fixtures:
    doc_id%3+2 frames of 2*(id%12+1) x 2*(id%9+1), multi-MB with
    cropping on most rows. Remaining honest gates: HEVC, CABAC,
    inter, deblocking-enabled streams. Arrow-batched mapInPandas,
    map-only, zero shuffle. Reference analogue: none (extension)."""
    from ..operators.multimodal import (
        check_mp4_avc_textured,
        synthetic_avc_mp4_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return check_mp4_avc_textured(
        synthetic_avc_mp4_frame(d, coding="textured"), "doc_id", "content"
    )


@register(
    "multimodal_mp4_avc_deblocked_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(s.k AS INTEGER) AS frame_idx,
           CAST(2 * (d.doc_id % 14 + 4) AS INTEGER) AS width,
           CAST(2 * (d.doc_id % 10 + 2) AS INTEGER) AS height,
           CAST(0 AS INTEGER) AS mismatch_px
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    JOIN range(0, 4) s(k) ON s.k <= d.doc_id % 3 + 1
    """,
)
def multimodal_mp4_avc_deblocked_frames_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IN-LOOP DEBLOCKING DECODE (round 16, clause 8.7) — conformant
    streams that do NOT signal disable_deblocking_filter_idc=1 now
    decode instead of raising: boundary-strength 4 macroblock edges
    and bS=3 internal 4x4 edges, the Table 8-16 alpha/beta gates and
    Table 8-17 tc0 clipping, strong/weak bS=4 luma split, the
    chroma p0/q0-only shape, per-MB QP averaging across edges, and
    the spec's MB-raster vertical-then-horizontal edge order on
    already-filtered samples (operators/h264.py _deblock_frame).
    Fixtures: textured multi-coefficient I_NxN frames at qp 30 (the
    filter is a conformant no-op below index 16, so the fixture sits
    in the active band; every frame verifiably changes pixels vs the
    unfiltered reconstruction — pinned in tests, alongside
    hand-derived edge vectors). mismatch_px counts decoded-vs-expected
    luma differences through the full container chain; 0 is the gate.
    Remaining honest gates: HEVC, CABAC, inter. Arrow-batched
    mapInPandas, map-only, zero shuffle. Reference analogue: none
    (extension)."""
    from ..operators.multimodal import (
        check_mp4_avc_textured,
        synthetic_avc_mp4_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return check_mp4_avc_textured(
        synthetic_avc_mp4_frame(d, coding="deblocked"),
        "doc_id",
        "content",
        coding="deblocked",
    )


@register(
    "multimodal_mp4_avc_ipp_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(s.k AS INTEGER) AS frame_idx,
           CAST(2 * (d.doc_id % 13 + 3) AS INTEGER) AS width,
           CAST(2 * (d.doc_id % 8 + 2) AS INTEGER) AS height,
           CAST(0 AS INTEGER) AS mismatch_px
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    JOIN range(0, 4) s(k) ON s.k <= d.doc_id % 3 + 1
    """,
)
def multimodal_mp4_avc_ipp_frames_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTER (P-SLICE) DECODE (round 16, clause 8.4) — the IPPP
    group every real-world baseline stream ships: a textured IDR then
    single-reference P frames mixing P_Skip runs, P_L0_16x16 with and
    without CAVLC residual, 16x8 / 8x16 partitions and P_8x8
    sub-partitions (all four Table 7-17 shapes down to 4x4) with
    distinct quarter-pel motion vectors, and Intra_16x16 islands
    (mb_type+5).
    Covers the fully-algorithmic inter pipeline: 6-tap
    (1,-5,20,20,-5,1) half-pel + quarter-pel averaging luma
    interpolation with edge replication, 1/8-pel bilinear chroma, the
    8.4.1.3 median motion-vector prediction with 16x8/8x16
    directional shortcuts and the P_Skip zero-motion rule, the Table
    9-4 INTER coded_block_pattern column, reference-frame chaining
    across samples, and in-loop deblocking with the inter boundary
    strengths (2 on coded blocks, 1 on >= 1-sample motion jumps, 0
    skipped) at qp 30. mismatch_px counts decoded-vs-expected luma
    differences through the full container chain; 0 is the gate
    Fixtures run a TWO-reference sliding window WITH explicit
    weighted prediction (round 16): from the third frame on every
    partition writes its te() ref_idx, some macroblocks predict from
    the two-frames-back picture, and each P frame carries a
    pred_weight_table cycling identity and non-identity luma/chroma
    (weight, offset) pairs — the fade path (operators/h264.py
    encode_ipp_stream num_refs=2 weighted=True / decode_slice_into P
    path). Remaining honest gates: HEVC, CABAC, B slices, list
    modification, MMCO. Arrow-batched mapInPandas, map-only, zero
    shuffle. Reference analogue: none (extension)."""
    from ..operators.multimodal import (
        check_mp4_avc_textured,
        synthetic_avc_mp4_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return check_mp4_avc_textured(
        synthetic_avc_mp4_frame(d, coding="ipp"),
        "doc_id",
        "content",
        coding="ipp",
    )


@register(
    "multimodal_mp4_avc_multislice_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(0 AS INTEGER) AS frame_idx,
           CAST(2 * (d.doc_id % 10 + 8) AS INTEGER) AS width,
           CAST(2 * (d.doc_id % 9 + 8) AS INTEGER) AS height,
           CAST(0 AS INTEGER) AS mismatch_px
    FROM documents d WHERE d.doc_id < 300
    """,
)
def multimodal_mp4_avc_multislice_frames_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-SLICE PICTURE DECODE (round 16) — pictures coded as 2-5
    contiguous raster slices, the error-resilience/parallel-encode
    layout real encoders emit: first_mb_in_slice > 0 parses, intra
    prediction and CAVLC nC treat other-slice neighbors as
    UNAVAILABLE (the 6.4.8 availability cut — pinned to actually
    change pixels vs the single-slice coding of the same content),
    per-slice deblocking parameters apply per macroblock, and
    disable_deblocking_filter_idc=2 skips slice-boundary edges
    (differentially pinned against idc=0). Fixtures alternate idc 0
    and 2 and slice counts by doc id; one multi-slice textured
    picture per sample through the avc1 container chain
    (operators/h264.py encode_textured_multislice_idr /
    decode_picture_slices). mismatch_px == 0 per picture is the gate.
    Arrow-batched mapInPandas, map-only, zero shuffle. Reference
    analogue: none (extension)."""
    from ..operators.multimodal import (
        check_mp4_avc_textured,
        synthetic_avc_mp4_frame,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return check_mp4_avc_textured(
        synthetic_avc_mp4_frame(d, coding="multislice"),
        "doc_id",
        "content",
        coding="multislice",
    )


@register(
    "text_winnowing_matches",
    oracle=f"""
    WITH toks AS ({_SQL_TOKS}),
    kg AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             {_PORTABLE_HASH.format(col="t[i] || ' ' || t[i+1] || ' ' || t[i+2]")}
               % {HASH_PRIME} AS h,
             CAST(len(t) - 2 AS BIGINT) AS n_kg
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    sel AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT q.doc_id, p.h,
               row_number() OVER (
                 PARTITION BY q.doc_id, q.pos
                 ORDER BY p.h ASC, p.pos DESC
               ) AS rn
        FROM kg q
        JOIN kg p ON p.doc_id = q.doc_id
                 AND p.pos BETWEEN q.pos AND q.pos + 3
        WHERE q.pos <= q.n_kg - 4
      ) WHERE rn = 1
    ),
    rare AS (
      SELECT h FROM sel GROUP BY h HAVING count(*) <= 50
    ),
    kept AS (SELECT s.doc_id, s.h FROM sel s JOIN rare r ON r.h = s.h)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def text_winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprinting (Schleimer–Wilkerson–Aiken
    2003 — the MOSS algorithm): hash every POSITIONAL 3-gram shingle,
    slide a w=4 window over the hash sequence, and select each
    window's minimum (rightmost on ties) — the guarantee is that any
    shared run of >= k+w-1 = 6 tokens between two documents shares at
    least one SELECTED fingerprint, while storing only ~2/(w+1) of all
    shingle hashes. Output: document pairs sharing >= 2 winnowed
    fingerprints with the shared count — the plagiarism/boilerplate
    detector that complements MinHash (which estimates WHOLE-document
    similarity and can miss one long verbatim passage inside two
    otherwise-different documents).

    Engine discipline: the rightmost-minimum selection is ONE window
    pass — max over the frame of the struct (PRIME - h, pos), whose
    lexicographic order makes min-hash-then-rightmost-pos a single
    combinable argmax (no nested window aggregates); hashes are the
    portable md5-prefix so the oracle replays them bit-for-bit. Scale
    shape: the winnow window partitions BY DOCUMENT (never a global
    window); the match join is the inverted-index equi-join on the
    selected hash — the dedup_ngram_jaccard skeleton — with a
    max_df=50 cap on hot fingerprints (ngram's max_df knob, standard
    MOSS practice): a boilerplate fingerprint shared by D documents
    costs D²/2 pair rows, and the cap bounds that term. Plan
    discipline, measured: the first draft carried size(shingles) as a
    column through the explode, which Catalyst re-inlines as the WHOLE
    shingle transform per exploded row — O(tokens x shingles) per doc,
    9.3s at sf0.1; replacing it with the frame-count full-window test
    cut it to 1.9s (4.9x), and the 10x corpus runs 3.5s (sub-linear)."""
    max_df = 50
    d = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import _shingle_parts, _spread

    # spread the shingle+md5 chain off the single fixture-scan split
    # (no-op at scale — see operators/dedup._spread)
    toks, sh = _shingle_parts(_spread(d, "doc_id"), "doc_id", "text", 3)
    # NO size(sh) column here: carrying n_kg through the explode makes
    # Catalyst re-inline the WHOLE shingle transform into the
    # per-exploded-row projection — O(tokens x shingles) per document
    # (measured 9.1s -> 0.9s at sf0.1). Full windows are detected by
    # frame COUNT instead: a valid winnow window has exactly w rows.
    kg = toks.select(
        "doc_id", F.posexplode(sh).alias("pos", "s")
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        portable_hash_mod("s").alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    picked = kg.select(
        "doc_id",
        F.count(F.lit(1)).over(win).alias("wn"),
        F.max(
            F.struct(
                (F.lit(HASH_PRIME) - F.col("h")).alias("neg"),
                F.col("pos").alias("p"),
                F.col("h").alias("hh"),
            )
        )
        .over(win)
        .alias("sel"),
    ).where(F.col("wn") == 4)
    sel = picked.select("doc_id", F.col("sel.hh").alias("h")).distinct()
    rare = sel.groupBy("h").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= max_df
    )
    kept = sel.join(rare.select("h"), "h")
    a = kept.select(F.col("doc_id").alias("id_a"), "h")
    b = kept.select(F.col("doc_id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .where(F.col("shared_fps") >= 2)
    )
