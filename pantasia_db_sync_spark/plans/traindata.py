"""Training-data pipeline operators beyond the dedup/ANN families.

The ops a 100 TB pretraining-data pipeline runs after near-dup
detection: cluster canonicalization (connected components), dataset
splitting, sequence packing, corpus statistics, and per-class
embedding centroids. Each is a registered query with a DuckDB oracle
(the components oracle is a recursive CTE — the SQL-native transitive
closure).

No reference-repo counterpart (the reference is an NFT-activity sync
daemon); these extend SURVEY.md §2's "LLM-data" surface, same design
rules: JVM-only expressions, equi-join/window shapes, engine-portable
hashes, rounded floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, portable_hash60, tokens_col
from ..operators.ckpt import freeze
from ..operators.components import connected_components
from ..operators.dedup import _spread, minhash_lsh_pairs
from ..operators.similarity import as_double_vec, lit_double_vec
from ..sources.catalog import load_table
from .llmdata import _cos_sql, _in_words, _minhash_sql, _PORTABLE_HASH, _stop_pred
from .registry import fround, register, sql_round


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_sql()})
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a, min(b) AS m FROM reach GROUP BY a)
    SELECT d.doc_id,
           CAST(least(d.doc_id, coalesce(c.m, d.doc_id)) AS BIGINT)
             AS component_id
    FROM documents d LEFT JOIN comp c ON c.a = d.doc_id
    """,
)
def dedup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization: connected components over the
    MinHash-LSH pair graph, component_id = min doc_id per cluster
    (singletons keep their own id). Spark runs iterative min-label
    propagation (operators/components.py); the oracle is the recursive
    transitive closure — an iterative distributed algorithm checked
    against SQL-native recursion."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        d.select(F.col("doc_id").alias("node")),
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component_id").cast("bigint")
    )


@register(
    "corpus_near_dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_sql()})
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a, min(b) AS m FROM reach GROUP BY a)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN comp c ON c.a = d.doc_id
    WHERE least(d.doc_id, coalesce(c.m, d.doc_id)) = d.doc_id
    """,
)
def corpus_near_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: the corpus with every near-duplicate
    CLUSTER collapsed to its canonical (min doc_id) member — the
    composition a pretraining pipeline actually ships: MinHash-LSH
    pairs → connected components → semi-join keep. Singletons keep
    themselves; only non-canonical cluster members are dropped. The
    oracle is the recursive-CTE transitive closure over the same
    engine-portable MinHash pair graph."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        d.select(F.col("doc_id").alias("node")),
    )
    keep = comp.where(F.col("node") == F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(keep, "doc_id", "left_semi").select("doc_id", "lang", "source")


@register(
    "corpus_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_sql()})
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a, min(b) AS m FROM reach GROUP BY a),
    clus AS (
      SELECT d.doc_id, d.lang, d.source, d.n_chars,
             least(d.doc_id, coalesce(c.m, d.doc_id)) AS cid
      FROM documents d LEFT JOIN comp c ON c.a = d.doc_id
    )
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY cid ORDER BY n_chars DESC, doc_id) AS rn
      FROM clus
    ) WHERE rn = 1
    """,
)
def corpus_dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE near-dedup: collapse each near-dup cluster to its
    LONGEST member (n_chars, doc_id tiebreak) instead of
    corpus_near_dedup's min-id canonical — the keep-longest rule
    production web corpora actually ship (a truncated or boilerplate
    copy should lose to the full version, whichever id crawled first).
    Same scale shape: LSH pairs → connected components → ONE window
    argmax per cluster (components are tiny; the window shuffles on
    component_id, never globally)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        d.select(F.col("doc_id").alias("node")),
    )
    clus = d.join(comp, d["doc_id"] == comp["node"], "left").select(
        "doc_id", "lang", "source", "n_chars",
        F.coalesce(F.col("component_id"), F.col("doc_id")).alias("cid"),
    )
    w = Window.partitionBy("cid").orderBy(F.desc("n_chars"), "doc_id")
    return (
        clus.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id", "lang", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
    )


@register(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_sql()})
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a, min(b) AS m FROM reach GROUP BY a),
    labeled AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(c.m, d.doc_id)) AS component_id
      FROM documents d LEFT JOIN comp c ON c.a = d.doc_id
    ),
    per_cluster AS (
      SELECT component_id, count(*) AS sz FROM labeled GROUP BY component_id
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM per_cluster GROUP BY sz
    """,
)
def dedup_cluster_sizes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup report every pipeline prints: the near-dup cluster
    SIZE histogram (how many singletons, pairs, triples, ... and the
    documents they hold — n_docs sums to the corpus). Two combinable
    aggregations over the components labels; the heavy lifting is the
    same iterative components operator, oracle'd by the recursive CTE."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        d.select(F.col("doc_id").alias("node")),
    )
    per_cluster = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return per_cluster.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("sz") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    ).select(F.col("sz").cast("bigint").alias("cluster_size"), "n_clusters", "n_docs")


_SPLIT_SQL_HASH = _PORTABLE_HASH.format(
    col="concat('split:', CAST(doc_id AS VARCHAR))"
)


@register(
    "split_train_valid_test",
    oracle=f"""
    SELECT doc_id,
           CAST({_SPLIT_SQL_HASH} % 100 AS INTEGER) AS bucket,
           CASE WHEN {_SPLIT_SQL_HASH} % 100 < 80 THEN 'train'
                WHEN {_SPLIT_SQL_HASH} % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_valid_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by salted content-independent hash
    of the document id — the training-data splitter that is stable
    across runs, engines, and partitionings (never rand()-based, which
    would unrepeatably leak documents across splits between runs)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        portable_hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % 100
    )
    return d.select(
        "doc_id",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


_EPOCH_SQL_HASH = _PORTABLE_HASH.format(
    col="concat('epoch1:', CAST(doc_id AS VARCHAR))"
)


@register(
    "corpus_epoch_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_EPOCH_SQL_HASH} AS shuffle_key FROM documents
    )
    SELECT doc_id,
           CAST(shuffle_key % 64 AS INTEGER) AS bucket,
           CAST(row_number() OVER (
             PARTITION BY shuffle_key % 64
             ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def corpus_epoch_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle order for training: every document
    gets a reproducible position (bucket, pos) — bucket-major order IS
    the epoch's read order. The salted content-independent hash makes
    the permutation stable across runs, engines, and partitionings
    (change the salt per epoch for a fresh permutation), the same
    discipline as split_train_valid_test vs rand().

    Scale shape: the per-bucket row_number windows shuffle once on the
    64 hash buckets and never funnel through a global sort or a
    single-partition rank — a trainer reading bucket by bucket streams
    the whole corpus in permuted order while each bucket's window
    state stays executor-local (the dense-ids bucket-offsets idea,
    with the offset join made unnecessary by exposing the bucket in
    the order key)."""
    d = load_table(spark, sf_dir, "documents")
    key = portable_hash60(
        F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))
    )
    h = d.select("doc_id", key.alias("__key"))
    w = Window.partitionBy(F.col("__key") % 64).orderBy("__key", "doc_id")
    return h.select(
        "doc_id",
        (F.col("__key") % 64).cast("int").alias("bucket"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@register(
    "pack_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(coalesce(
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // 512 AS BIGINT) AS pack_id
    FROM t
    """,
)
def pack_token_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs (in deterministic id order, per
    source shard) to fixed 512-token training buckets by exclusive
    running token count. Partitioned by source so the window shuffles
    per shard — never a global single-partition sort."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(tokens_col("text")).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 512)
        .cast("bigint")
        .alias("pack_id"),
    )


@register(
    "text_topk_ngrams",
    oracle="""
    WITH toks AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
    bi AS (
      SELECT t[i] || ' ' || t[i+1] AS ngram
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    )
    SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
    FROM bi GROUP BY ngram
    ORDER BY cnt DESC, ngram ASC LIMIT 20
    """,
)
def text_topk_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics: global top-20 bigrams by occurrence count
    (not per-doc-distinct), deterministic tie-break on the ngram.
    One explode + one map-side-combinable count; the top-k is a
    TakeOrdered, never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(tokens_col("text").alias("__t"))
    bi = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__t") - 2),
            lambda i: F.concat_ws(
                " ", F.element_at("__t", i + 1), F.element_at("__t", i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        t.select(F.explode(bi).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(20)
    )


@register(
    "corpus_clean",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, md5(text) AS text_md5,
             string_split(trim(text), ' ') AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, text_md5,
             CAST(len(t) AS INTEGER) AS n_tokens,
             {sql_round(f"(1.0 - len(list_filter(t, x -> {_stop_pred('x', STOPWORDS)})) / CAST(len(t) AS DOUBLE)) * (least(len(t), 100) / 100.0)", 4)}
               AS quality
      FROM toks
    ),
    kept AS (
      SELECT * FROM scored WHERE quality >= 0.4 AND lang = 'en'
    ),
    canon AS (
      SELECT *, min(doc_id) OVER (PARTITION BY text_md5) AS canonical_id
      FROM kept
    )
    SELECT doc_id, lang, n_tokens, quality
    FROM canon WHERE doc_id = canonical_id
    """,
)
def corpus_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite corpus-cleaning materialization a pretraining
    pipeline actually ships: quality-score filter + language filter +
    exact-dedup canonicalization in ONE declarative plan, so Catalyst
    pushes the cheap filters below the dedup window's single shuffle
    and prunes unused columns at the scan."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("__t", tokens_col("text"))
    n = F.size("__t")
    stop_hits = F.size(F.filter("__t", lambda x: _in_words(x, STOPWORDS)))
    scored = t.select(
        "doc_id",
        "lang",
        F.md5("text").alias("__md5"),
        n.cast("int").alias("n_tokens"),
        fround(
            (F.lit(1.0) - stop_hits / n.cast("double"))
            * (F.least(n, F.lit(100)) / F.lit(100.0)),
            4,
        ).alias("quality"),
    )
    w = Window.partitionBy("__md5")
    return (
        scored.where((F.col("quality") >= 0.4) & (F.col("lang") == "en"))
        .withColumn("__canon", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__canon"))
        .select("doc_id", "lang", "n_tokens", "quality")
    )


@register(
    "embedding_centroids",
    oracle=f"""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT label,
           CAST(i - 1 AS INTEGER) AS pos,
           {sql_round('avg(v[i])', 6)} AS centroid,
           CAST(count(*) AS BIGINT) AS n
    FROM e, UNNEST(range(1, len(v) + 1)) AS u(i)
    GROUP BY label, pos
    """,
)
def embedding_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one (label, dimension) row each —
    the class prototypes an IVF index or a diversity sampler needs.
    posexplode keeps the computation a plain combinable aggregate (no
    UDF, no collect); rounded like every cross-engine float."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(as_double_vec("embedding")).alias("pos", "x")
    )
    return ex.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        fround(F.avg("x"), 6).alias("centroid"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


_STRAT_SQL_HASH = _PORTABLE_HASH.format(
    col="concat('strat:', CAST(doc_id AS VARCHAR))"
)


@register(
    "corpus_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({_STRAT_SQL_HASH} % 100 AS INTEGER) AS bucket
    FROM documents
    WHERE {_STRAT_SQL_HASH} % 100
          < (CASE WHEN lang = 'en' THEN 30 ELSE 100 END)
    """,
)
def corpus_sample_stratified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling of over-represented strata (here: keep
    30% of 'en', 100% of everything else) via the salted portable hash
    — deterministic, reproducible across runs/engines, and a pure
    filter (0 shuffles: the decision is a per-row expression, so at
    100 TB it rides the scan). The mechanism generalizes to per-source
    temperature sampling by swapping the rate CASE."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        portable_hash60(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
        % 100
    ).cast("int")
    rate = F.when(F.col("lang") == "en", 30).otherwise(100)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
    )


@register(
    "corpus_decontaminate",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    contaminated AS (
      SELECT DISTINCT sh.doc_id
      FROM sh JOIN bench USING (s)
      WHERE sh.doc_id % 50 <> 0
    )
    SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN contaminated c USING (doc_id)
    WHERE d.doc_id % 50 <> 0
    """,
)
def corpus_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Gopher n-gram-collision
    rule): flag every training document sharing at least one word
     3-shingle with the held-out benchmark set (stand-in: doc_id % 50
    == 0, fixtures being read-only). Shapes for 100 TB: the benchmark
    shingle set is small by nature -> broadcast semi-join against the
    corpus's exploded shingles; the flag join is an equi-join on
    doc_id. (Production would raise n to ~13; the fixture docs are
    short, so 3 keeps the test collision rate meaningful.)"""
    from ..operators.dedup import shingle_frame

    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 50 == 0
    corpus = d.where(~is_bench)
    bench_sh = (
        shingle_frame(d.where(is_bench), "doc_id", "text", 3)
        .select("shingle")
        .distinct()
    )
    contaminated = (
        shingle_frame(corpus, "doc_id", "text", 3)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return corpus.select("doc_id").join(contaminated, "doc_id", "left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    firstd AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {sql_round("sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)"
                      " / CAST(count(*) AS DOUBLE)", 4)} AS novelty_frac
    FROM sh JOIN firstd f USING (g)
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY in corpus order: the fraction of a
    doc's distinct 3-grams whose FIRST corpus occurrence (min doc_id)
    is this doc — the inverse of boilerplate saturation, the signal
    curriculum/dedup research ranks ingestion order by (a doc of
    mostly already-seen 3-grams adds little). Deterministic: firsts by
    min doc_id, distinct grams per doc.

    Scale shape: one distinct on (doc, gram) (map-side combinable
    groupBy), one combinable groupBy(gram).min — the hot boilerplate
    gram collapses to one row per map partition — and one
    AQE-skew-splittable equi-join back, then a groupBy(doc_id). Same
    skeleton as the span family's membership pass."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = tokens_col("text")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - 3),
        lambda i: F.array_join(F.slice(t, i + 1, 3), " "),
    )
    from ..operators.dedup import _spread

    # spread: the gram transform + distinct feed two consumers off a
    # one-split scan; round-16 A/B'd this site flat with the expensive
    # RDD-probe _spread and reverted — with the stats-probe form it
    # wins 3.1s -> 1.7s (round 17; the other three re-tested reverted
    # sites stayed losses and remain unspread)
    sh = freeze(
        _spread(d.where(F.size(t) >= 3), "doc_id")
        .select("doc_id", F.explode(grams).alias("g"))
        .distinct(),  # 2 consumers: firsts + join back
        eager=False,
    )
    firstd = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(firstd, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
            fround(
                novel / F.count(F.lit(1)).cast("double"), 4
            ).alias("novelty_frac"),
        )
    )


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(len(array_to_string(t, '')) AS BIGINT) AS n_chars,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
                  AS BIGINT) AS alpha_words,
             CAST(len(list_intersect(list_distinct(t),
                  ['the', 'a', 'of', 'and'])) AS BIGINT) AS n_stop
      FROM t0
    )
    SELECT doc_id, n_words,
           (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
           (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
             AS rule_mean_word_len,
           (10 * alpha_words >= 8 * n_words) AS rule_alpha_ratio,
           (n_stop >= 2) AS rule_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
            AND (10 * alpha_words >= 8 * n_words)
            AND (n_stop >= 2)) AS keep
    FROM m
    """,
)
def quality_gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule-based quality suite (Rae et al. 2021 §A1.1, the
    filter battery most open corpora reuse): per document, word count
    in [50, 100000], mean word length in [3, 10] characters, >= 80 %
    of words containing an alphabetic character, and >= 2 distinct
    stopwords present — plus the conjunction verdict. Every boundary
    is an INTEGER cross-multiplied predicate (3·n <= chars <= 10·n,
    10·alpha >= 8·n), so no ratio ever materializes as a float and the
    decision can never flip on a rounding difference — the
    quality_model_score/EWMA engine-exactness discipline.

    Scale shape: one map-only pass — per-row higher-order token
    functions (size / filter / array_intersect against a 4-word
    literal), zero shuffles, zero UDFs; the whole plan is one
    WholeStageCodegen span over the parquet scan."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = tokens_col("text")
    n = F.size(t).cast("bigint")
    n_chars = F.length(F.array_join(t, "")).cast("bigint")
    alpha = F.size(
        F.filter(t, lambda x: F.regexp_extract(x, "[A-Za-z]", 0) != "")
    ).cast("bigint")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(t),
            F.array(*[F.lit(w) for w in STOPWORDS]),
        )
    ).cast("bigint")
    r_wc = (n >= 50) & (n <= 100000)
    r_len = (3 * n <= n_chars) & (n_chars <= 10 * n)
    r_alpha = 10 * alpha >= 8 * n
    r_stop = n_stop >= 2
    return d.select(
        "doc_id",
        n.alias("n_words"),
        r_wc.alias("rule_word_count"),
        r_len.alias("rule_mean_word_len"),
        r_alpha.alias("rule_alpha_ratio"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_len & r_alpha & r_stop).alias("keep"),
    )


@register(
    "corpus_decontaminate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    wins AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
             array_to_string(t[i : i + 3], ' ') AS span
      FROM toks, unnest(range(1, len(t) - 4 + 2)) AS u(i)
      WHERE len(t) >= 4
    ),
    bench AS (SELECT DISTINCT span FROM wins WHERE doc_id % 50 = 0),
    hit AS (
      SELECT w.doc_id, w.pos FROM wins w JOIN bench USING (span)
      WHERE w.doc_id % 50 <> 0
    ),
    gaps AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos)
                    OVER (PARTITION BY doc_id ORDER BY pos) > 4
                  THEN 1 ELSE 0 END AS brk
      FROM hit
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM gaps
    )
    SELECT doc_id,
           CAST(min(pos) AS INTEGER) AS seg_start,
           CAST(max(pos) + 3 AS INTEGER) AS seg_end,
           CAST(max(pos) - min(pos) + 4 AS INTEGER) AS seg_len
    FROM isl GROUP BY doc_id, island
    """,
)
def corpus_decontaminate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level benchmark decontamination — the surgical upgrade of
    ``corpus_decontaminate``'s doc-level flag: report, per training
    document, every maximal token segment whose k=4 windows all occur
    in the held-out benchmark set (stand-in: doc_id % 50 == 0, same
    convention as the doc-level query), at FULL merged length via the
    gaps-and-islands interval union the span-dedup family shares. The
    training pipeline can then CUT the contaminated span (the
    dedup_span_scrub mechanism) instead of dropping a 50k-token
    document over one leaked benchmark sentence — the PaLM/Llama
    practice for long documents.

    Scale shape: benchmark window sets are small by nature (eval
    suites, not corpora) → broadcast the distinct benchmark spans and
    semi-join the training corpus's stride-1 windows against them
    map-side (NO shuffle of the big side); then one doc_id shuffle for
    the islands, whose groupBy reuses the partitioning. Contrast with
    dedup_span_extend, whose dup membership needs the global
    groupBy(span) — contamination against a fixed reference set is
    strictly cheaper."""
    # k=4, not the span family's 8: fixture docs are short, so 8-token
    # cross-doc overlap is nearly empty (the same reason the doc-level
    # query uses 3-shingles); production raises k to ~13 (GPT-3 rule)
    k = 4
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # spread the token/window chain off the single fixture-scan split
    # (interpreted HOF cost is per row; no-op at scale — see operators/dedup._spread)
    d = _spread(d, "doc_id")
    t = tokens_col("text")
    is_bench = F.col("doc_id") % 50 == 0
    wins = F.transform(
        F.sequence(F.lit(0), F.size(t) - k),
        lambda i: F.array_join(F.slice(t, i + 1, k), " "),
    )
    win_rows = d.where(F.size(t) >= k).select(
        "doc_id", F.posexplode(wins).alias("pos", "span")
    )
    # freeze-once: the benchmark side and the training side both read
    # this explode (see dedup_span_extend)
    win_rows = freeze(win_rows, eager=False)
    bench_spans = win_rows.where(is_bench).select("span").distinct()
    hit = (
        win_rows.where(~is_bench)
        .join(F.broadcast(bench_spans), "span", "left_semi")
        .select("doc_id", "pos")
    )
    byword = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.when(F.col("pos") - F.lag("pos").over(byword) > k, 1).otherwise(0)
    isl = hit.withColumn(
        "island",
        F.sum(gap).over(byword.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("int").alias("seg_start"),
        (F.max("pos") + k - 1).cast("int").alias("seg_end"),
        (F.max("pos") - F.min("pos") + k).cast("int").alias("seg_len"),
    ).drop("island")


@register(
    "text_chunk_overlap",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id,
             CAST((u.s - 1) // 48 AS INTEGER) AS chunk_idx,
             array_to_string(t[u.s:least(u.s + 63, len(t))], ' ') AS chunk_text,
             CAST(least(u.s + 63, len(t)) - u.s + 1 AS INTEGER) AS n_tokens
      FROM toks, UNNEST(range(1, len(t) + 1, 48)) AS u(s)
    )
    SELECT doc_id, chunk_idx, chunk_text, n_tokens FROM chunks
    """,
)
def text_chunk_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (64-token windows, stride
    48 — the RAG/pretraining chunker): every chunk start is generated
    with `sequence` and sliced JVM-side, so the whole operator is one
    explode over a per-row expression — embarrassingly parallel, no
    shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(48))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / 48).cast("int").alias("chunk_idx"),
            F.array_join(F.slice(toks, s, 64), " ").alias("chunk_text"),
            F.least(s + 63, F.size(toks)).alias("__end"),
            s.alias("__s"),
        ),
    )
    ex = d.select("doc_id", F.explode(chunks).alias("c"))
    return ex.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        (F.col("c.__end") - F.col("c.__s") + 1).cast("int").alias("n_tokens"),
    )


@register(
    "text_pii_scrub",
    oracle=r"""
    WITH withpii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call 555-0' || CAST(doc_id % 100 AS VARCHAR)
                  AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
             '555-[0-9]+', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z0-9.]+[a-z]')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(raw, '555-[0-9]+')) AS INTEGER) AS n_phones
    FROM withpii
    """,
)
def text_pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails + phone patterns → placeholder tokens) with
    per-doc match counts. Fixture text carries no PII, so deterministic
    synthetic PII is appended in-flight (both engines append the same
    string — the same read-only-fixture pattern as multimodal_decode_bmp).
    Patterns use only character classes, so Java regex and RE2 agree;
    everything stays JVM-side (regexp_replace / regexp_count)."""
    d = load_table(spark, sf_dir, "documents")
    email_pat = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
    phone_pat = "555-[0-9]+"
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-0"),
        (F.col("doc_id") % 100).cast("string"),
    )
    base = d.select("doc_id", raw.alias("raw"))
    return base.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), email_pat, "<EMAIL>"),
            phone_pat,
            "<PHONE>",
        ).alias("scrubbed"),
        F.regexp_count(F.col("raw"), F.lit(email_pat)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(phone_pat)).cast("int").alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# corpus accounting & QA (round 5): the reporting queries a pretraining
# pipeline runs alongside cleaning — token budgets per slice, rejection
# breakdowns, normalized dedup, embedding-table QA.
# ---------------------------------------------------------------------------


@register(
    "corpus_token_stats",
    oracle="""
    WITH toks AS (
      SELECT source, lang, len(string_split(trim(text), ' ')) AS n
      FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(min(n) AS INTEGER) AS min_tokens,
           CAST(max(n) AS INTEGER) AS max_tokens
    FROM toks GROUP BY source, lang
    """,
)
def corpus_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting per (source, lang) slice — the budgeting query
    behind mixture weighting. One map-side-combinable aggregation; the
    token count is a row-local size(split), never an explode."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tokens_col("text"))
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum(n).cast("bigint").alias("total_tokens"),
        F.min(n).cast("int").alias("min_tokens"),
        F.max(n).cast("int").alias("max_tokens"),
    )


@register(
    "corpus_quality_report",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, lang, md5(text) AS m,
             {sql_round(f"(1.0 - len(list_filter(string_split(trim(text), ' '), x -> {{stop}})) / CAST(len(string_split(trim(text), ' ')) AS DOUBLE)) * (least(len(string_split(trim(text), ' ')), 100) / 100.0)".format(stop=_stop_pred('x', STOPWORDS)), 4)} AS q
      FROM documents
    ),
    tagged AS (
      SELECT source,
             CASE WHEN q < 0.4 THEN 'low_quality'
                  WHEN lang <> 'en' THEN 'non_english'
                  WHEN doc_id <> min(CASE WHEN q >= 0.4 AND lang = 'en'
                                          THEN doc_id END)
                                   OVER (PARTITION BY m) THEN 'exact_dup'
                  ELSE 'kept' END AS outcome
      FROM scored
    )
    SELECT source, outcome, CAST(count(*) AS BIGINT) AS docs
    FROM tagged GROUP BY source, outcome
    """,
)
def corpus_quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rejection-reason breakdown behind `corpus_clean`: every doc
    lands in exactly one outcome bucket (first-reason-wins precedence:
    low quality, then language, then exact duplicate, else kept), so
    the per-source counts reconcile to the corpus total AND the 'kept'
    bucket equals corpus_clean's output exactly — the duplicate
    canonical is the min doc_id among quality+language SURVIVORS (a doc
    whose only earlier twin was itself rejected is kept, matching the
    pipeline's dedup-after-filter order). Same portable quality score
    as corpus_clean; one window shuffle, counts map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    t = d.withColumn("__t", tokens_col("text"))
    n = F.size("__t")
    stop_hits = F.size(F.filter("__t", lambda x: _in_words(x, STOPWORDS)))
    scored = t.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("__m"),
        fround(
            (F.lit(1.0) - stop_hits / n.cast("double"))
            * (F.least(n, F.lit(100)) / F.lit(100.0)),
            4,
        ).alias("__q"),
    )
    survivor = (F.col("__q") >= 0.4) & (F.col("lang") == "en")
    canon = F.min(F.when(survivor, F.col("doc_id"))).over(Window.partitionBy("__m"))
    outcome = (
        F.when(F.col("__q") < 0.4, F.lit("low_quality"))
        .when(F.col("lang") != "en", F.lit("non_english"))
        .when(F.col("doc_id") != canon, F.lit("exact_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        scored.withColumn("outcome", outcome)
        .groupBy("source", "outcome")
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs"))
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT md5(norm) AS norm_md5,
           CAST(min(doc_id) AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS dup_cnt
    FROM n GROUP BY md5(norm)
    """,
)
def dedup_exact_normalized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-exact dedup (the C4/RefinedWeb 'fuzzy exact'
    pass): lowercase, strip non-alphanumerics, collapse whitespace,
    then hash-groupBy — catches near-identical docs that differ only in
    case/punctuation/spacing at exact-dedup cost (one combinable
    shuffle). ASCII-safe regex classes keep Java and RE2 semantics
    identical."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        d.select("doc_id", F.md5(norm).alias("norm_md5"))
        .groupBy("norm_md5")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_cnt"),
        )
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
    WITH e AS (
      SELECT label,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
               AS nrm
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_norm,
           {sql_round("min(nrm)", 4)} AS min_norm,
           {sql_round("max(nrm)", 4)} AS max_norm
    FROM e GROUP BY label
    """,
)
def embedding_norm_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA: per-label vector counts, zero vectors (which
    poison cosine math downstream), and the norm range — the sanity
    report run before any ANN/centroid job. Norms use the same
    left-fold sum-of-squares as the similarity operators, so both
    engines agree bit-for-bit before the defensive rounding."""
    from ..operators.similarity import as_double_vec, norm_col

    e = load_table(spark, sf_dir, "embeddings")
    nrm = norm_col(as_double_vec("embedding"))
    return (
        e.select("label", nrm.alias("__nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("__nrm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("zero_norm"),
            fround(F.min("__nrm"), 4).alias("min_norm"),
            fround(F.max("__nrm"), 4).alias("max_norm"),
        )
    )


@register(
    "dedup_span_exact",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    spans AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
             array_to_string(t[(i-1)*8+1 : (i-1)*8+8], ' ') AS span
      FROM toks, unnest(range(1, CAST(ceil(len(t) / 8.0) AS BIGINT) + 1)) AS u(i)
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM spans
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_spans,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
           ROUND(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS kept_frac
    FROM ranked GROUP BY doc_id
    """,
)
def dedup_span_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup (Raffel et al. 2020 §2.2 dedupe
    three-sentence spans; the fixture text has no sentence marks, so the
    unit is fixed 8-token spans): every occurrence of a span after its
    first — ordered by (doc_id, position) — is a duplicate. Output is
    the per-doc retention report the corpus-cleaning stage acts on.

    Scale shape: one explode (bounded ×n_spans-per-doc fan-out), one
    shuffle on the span hash for the first-occurrence window, one
    groupBy back on doc_id. Span strings could be md5'd before the
    shuffle to cap key width at 100 TB — semantics identical, kept
    plain here so the oracle shares the exact key."""
    # NULL text guard: size(split(NULL)) is -1, which would turn the
    # span sequence BACKWARDS (sequence(0, -1) = [0, -1]) and emit two
    # phantom null-span rows per null doc; the oracle's range(1, NULL)
    # emits none. Dropping null-text docs matches the oracle exactly
    # (they produce zero span rows there too).
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    t = tokens_col("text")
    w = 8
    spans = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(t) / F.lit(float(w))).cast("int") - 1),
        lambda i: F.array_join(F.slice(t, i * w + 1, w), " "),
    )
    e = d.select("doc_id", F.posexplode(spans).alias("pos", "span"))
    win = Window.partitionBy("span").orderBy("doc_id", "pos")
    ranked = e.withColumn("rn", F.row_number().over(win))
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        kept.cast("int").alias("n_kept"),
        fround(kept / F.count(F.lit(1)).cast("double"), 4).alias("kept_frac"),
    )


_SPAN_EXTEND_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    wins AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
             array_to_string(t[i : i + 7], ' ') AS span
      FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    ),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY span) AS n
        FROM wins
      ) WHERE n >= 2
    ),
    gaps AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos)
                    OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM dup
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM gaps
    )
    SELECT doc_id,
           CAST(min(pos) AS INTEGER) AS seg_start,
           CAST(max(pos) + 7 AS INTEGER) AS seg_end,
           CAST(max(pos) - min(pos) + 8 AS INTEGER) AS seg_len
    FROM isl GROUP BY doc_id, island
    """


@register("dedup_span_extend", oracle=_SPAN_EXTEND_SQL)
def dedup_span_extend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length exact-substring dedup (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    semantics, without the suffix array): report, per document, every
    maximal token segment all of whose k-windows repeat somewhere in
    the corpus — i.e. any repeated substring of >= k tokens surfaces
    at its FULL length, not chopped to the fixed k-token grid that
    ``dedup_span_exact`` uses.

    Formulation (one declarative pass — no seed-and-extend rounds):
    a token position is *covered* iff some k-window containing it
    occurs >= 2 times globally (within- or cross-document). A maximal
    repeat of length L contributes exactly L - k + 1 consecutive
    duplicated window starts, whose fixed-length cover intervals
    [pos, pos+k-1] merge into one segment of exactly L tokens — the
    classic gaps-and-islands interval merge (break when the next
    start exceeds the previous start by more than k). Overlapping or
    adjacent repeats merge into one segment, the standard
    interval-union semantics of span dedup.

    Scale shape: stride-1 windows are a bounded x~tokens fan-out (the
    inherent input size of exact substring dedup). Duplicated-span
    membership is a groupBy(span).count >= 2 SEMI-JOIN, deliberately
    not a count-over-window: the groupBy partial-aggregates map-side
    (a span repeated a million times — the license-header hot key —
    collapses to one row per map partition before the shuffle) and
    the remaining equi-join is AQE-skew-splittable, where a window
    over partitionBy(span) would funnel every copy of the hot span
    through one sort task with no combine. Then ONE shuffle on doc_id
    for the island window — the final groupBy(doc_id, island) reuses
    the doc_id hash partitioning (subset clustering, no extra
    exchange). At 100 TB the span string would be portable_hash60'd
    before the shuffle to cap key width (collision epsilon 2^-60 per
    pair); kept plain here so the oracle shares the exact key."""
    k = 8
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # spread the token/window chain off the single fixture-scan split
    # (interpreted HOF cost is per row; no-op at scale — see operators/dedup._spread)
    d = _spread(d, "doc_id")
    t = tokens_col("text")
    wins = F.transform(
        F.sequence(F.lit(0), F.size(t) - k),
        lambda i: F.array_join(F.slice(t, i + 1, k), " "),
    )
    e = d.where(F.size(t) >= k).select(
        "doc_id", F.posexplode(wins).alias("pos", "span")
    )
    # freeze the exploded window frame ONCE: the dup-membership groupBy
    # and the semi-join back both consume it, and recomputing means a
    # second corpus scan + explode (measured 4.2 -> 2.8s at sf0.1 on
    # the scrub twin; block-write volume ~= one shuffle of the frame)
    e = freeze(e, eager=False)
    dupspans = (
        e.groupBy("span")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("span")
    )
    dup = e.join(dupspans, "span", "left_semi").select("doc_id", "pos")
    byword = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.when(F.col("pos") - F.lag("pos").over(byword) > k, 1).otherwise(0)
    isl = dup.withColumn(
        "island",
        F.sum(gap).over(byword.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("int").alias("seg_start"),
        (F.max("pos") + k - 1).cast("int").alias("seg_end"),
        (F.max("pos") - F.min("pos") + k).cast("int").alias("seg_len"),
    ).drop("island")


@register(
    "dedup_span_coverage",
    oracle=f"""
    WITH alltoks AS (
      SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    seg AS ({_SPAN_EXTEND_SQL}),
    cov AS (
      SELECT doc_id, CAST(sum(seg_len) AS BIGINT) AS dup_tokens
      FROM seg GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(a.n_tokens AS INTEGER) AS n_tokens,
           CAST(COALESCE(c.dup_tokens, 0) AS INTEGER) AS dup_tokens,
           {sql_round("(COALESCE(c.dup_tokens, 0) / CAST(a.n_tokens AS DOUBLE))", 4)}
             AS dup_frac,
           COALESCE(c.dup_tokens, 0) * 2 > a.n_tokens AS drop_doc
    FROM alltoks a LEFT JOIN cov c ON a.doc_id = c.doc_id
    """,
)
def dedup_span_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level verdict from span dedup — the decision layer on
    top of ``dedup_span_extend``: per document, how many of its tokens
    sit inside a duplicated segment, and the drop verdict at >50 %
    coverage (the dedup policy training pipelines apply: a document
    that is mostly boilerplate/copied text is removed whole rather
    than hole-punched). Segments are disjoint by construction
    (interval-merge output), so summing ``seg_len`` IS the covered
    token count — no re-overlap accounting.

    The drop boundary is the integer predicate
    ``2 * dup_tokens > n_tokens`` — engine-exact, no float compare at
    the decision; only the reported fraction rounds. Scale shape: the
    span-extend plan plus one combinable groupBy(doc_id) and one
    equi-join back to the per-doc token counts (broadcast-eligible:
    one row per doc with a segment)."""
    k = 8
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    alltoks = d.select(
        "doc_id", F.size(tokens_col("text")).cast("int").alias("n_tokens")
    )
    cov = (
        dedup_span_extend_q(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("seg_len").cast("bigint").alias("dup_tokens"))
    )
    j = alltoks.join(cov, "doc_id", "left").withColumn(
        "dup_tokens", F.coalesce(F.col("dup_tokens"), F.lit(0))
    )
    return j.select(
        "doc_id",
        "n_tokens",
        F.col("dup_tokens").cast("int").alias("dup_tokens"),
        fround(
            F.col("dup_tokens") / F.col("n_tokens").cast("double"), 4
        ).alias("dup_frac"),
        (F.col("dup_tokens") * 2 > F.col("n_tokens")).alias("drop_doc"),
    )


_SPAN_SCRUB_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    wins AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
             array_to_string(t[i : i + 7], ' ') AS span
      FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    ),
    dupw AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY span) AS n,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM wins
    ),
    cut AS (SELECT doc_id, pos FROM dupw WHERE n >= 2 AND rn >= 2),
    gaps AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos)
                    OVER (PARTITION BY doc_id ORDER BY pos) > 8
                  THEN 1 ELSE 0 END AS brk
      FROM cut
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM gaps
    ),
    seg AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      FROM isl GROUP BY doc_id, island
    ),
    tok_pos AS (
      SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS p, t[u.i] AS tok
      FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    ),
    keptp AS (
      SELECT tp.doc_id, tp.p, tp.tok FROM tok_pos tp
      WHERE NOT EXISTS (SELECT 1 FROM seg s
                        WHERE s.doc_id = tp.doc_id
                          AND tp.p >= s.s AND tp.p <= s.e)
    )
    SELECT t0.doc_id,
           CAST(len(t0.t) AS INTEGER) AS n_tokens,
           CAST(len(t0.t) - COALESCE(kc.kept, 0) AS INTEGER) AS cut_tokens,
           COALESCE(kt.txt, '') AS scrubbed_text
    FROM toks t0
    LEFT JOIN (SELECT doc_id, count(*) AS kept
               FROM keptp GROUP BY doc_id) kc USING (doc_id)
    LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt
               FROM keptp GROUP BY doc_id) kt USING (doc_id)
    """


@register("dedup_span_scrub", oracle=_SPAN_SCRUB_SQL)
def dedup_span_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus PRODUCT of span dedup (Lee et al. 2022 semantics):
    cut every duplicated token segment except its one canonical
    occurrence and re-join the remainders — ``dedup_span_extend``
    finds the segments, ``dedup_span_coverage`` grades the docs, this
    emits the cleaned text the training pipeline actually ships.

    Canonicality is decided at the k-window level: each duplicated
    window's FIRST occurrence in (doc_id, pos) order is canonical;
    every later occurrence is a cut position. For a maximal repeated
    segment this keeps the whole earliest occurrence intact (all its
    windows rank first — (doc_id, pos) order is consistent across a
    segment's windows) and cuts every later occurrence at its FULL
    merged length via the same gaps-and-islands interval union the
    extend query uses. Scrubbing can itself splice new k-windows
    together at cut boundaries, so a re-run is near-zero, not
    identically zero — the same fixpoint caveat as Lee et al.'s
    implementation.

    Scale shape: canonical detection is groupBy(span).agg(min(struct
    (doc_id,pos)), count) — map-side combinable, deliberately NOT the
    oracle's row_number-over-span (the corpus-wide hot span would
    funnel through one sort task); the equi-join back is
    AQE-skew-splittable. One doc_id shuffle for islands, then the cut
    intervals collapse to ONE row per doc (collect_list is bounded by
    segments-per-doc) and broadcast-join back onto the token arrays,
    where an index-aware higher-order filter drops covered positions
    JVM-side — no UDF, no per-token shuffle."""
    k = 8
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # spread the token/window chain off the single fixture-scan split
    # (interpreted HOF cost is per row; no-op at scale — see operators/dedup._spread)
    d = _spread(d, "doc_id")
    t = tokens_col("text")
    wins = F.transform(
        F.sequence(F.lit(0), F.size(t) - k),
        lambda i: F.array_join(F.slice(t, i + 1, k), " "),
    )
    e = d.where(F.size(t) >= k).select(
        "doc_id", F.posexplode(wins).alias("pos", "span")
    )
    # freeze-once: canonical groupBy + join back (see dedup_span_extend)
    e = freeze(e, eager=False)
    firsts = (
        e.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("doc_id", "pos")).alias("__first"),
        )
        .where(F.col("__n") >= 2)
        .select("span", "__first")
    )
    cut = (
        e.join(firsts, "span")
        .where(
            (F.col("doc_id") != F.col("__first.doc_id"))
            | (F.col("pos") != F.col("__first.pos"))
        )
        .select("doc_id", "pos")
    )
    byword = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.when(F.col("pos") - F.lag("pos").over(byword) > k, 1).otherwise(0)
    isl = cut.withColumn(
        "island",
        F.sum(gap).over(byword.rowsBetween(Window.unboundedPreceding, 0)),
    )
    seg = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + k - 1).alias("e")
    )
    ivs = seg.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("__ivs")
    )
    j = d.select("doc_id", t.alias("__t")).join(ivs, "doc_id", "left")
    kept = F.when(F.col("__ivs").isNull(), F.col("__t")).otherwise(
        F.filter(
            "__t",
            lambda x, i: ~F.exists(
                "__ivs", lambda iv: (i >= iv["s"]) & (i <= iv["e"])
            ),
        )
    )
    return j.select(
        "doc_id",
        F.size("__t").cast("int").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("int").alias("cut_tokens"),
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


@register(
    "corpus_domain_mix",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source,
             (CASE CAST(substr(source, 4) AS INTEGER) // 5
                WHEN 0 THEN 10000 WHEN 1 THEN 5000
                WHEN 2 THEN 2500 ELSE 1000 END) AS thr,
             {_PORTABLE_HASH.format(col="concat('mix:', CAST(doc_id AS VARCHAR))")}
               % 10000 AS h
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS INTEGER) AS n_docs,
           CAST(sum(CASE WHEN h < thr THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
           ROUND(sum(CASE WHEN h < thr THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS kept_frac
    FROM rated GROUP BY source
    """,
)
def corpus_domain_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture subsampling: each source tier keeps a pinned
    fraction of its documents (tier rates 1 / 0.5 / 0.25 / 0.1 by
    source group), selected by a salted content-independent hash of the
    doc id — the deterministic equivalent of `sampleBy`, stable across
    runs, engines, and partitionings (rand()-based sampling would make
    the mixture unreproducible). This is how pretraining mixes
    up/down-weight web vs curated shards before packing.

    Scale shape: a pure map predicate (hash + threshold) followed by
    one combinable groupBy(source) — no joins, no windows; the sampled
    *rows* (not this report) flow on to packing via the same predicate
    pushed into the scan."""
    d = load_table(spark, sf_dir, "documents")
    tier = F.floor(F.substring("source", 4, 10).cast("int") / 5)
    thr = (
        F.when(tier == 0, 10000)
        .when(tier == 1, 5000)
        .when(tier == 2, 2500)
        .otherwise(1000)
    )
    h = (
        portable_hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
        % 10000
    )
    kept = F.sum(F.when(F.col("__h") < F.col("__thr"), 1).otherwise(0))
    return (
        d.select("doc_id", "source", h.alias("__h"), thr.alias("__thr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            kept.cast("int").alias("n_kept"),
            fround(kept / F.count(F.lit(1)).cast("double"), 4).alias("kept_frac"),
        )
    )


@register(
    "corpus_temperature_mix",
    oracle="""
    WITH g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS sqrt_u
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
             CAST(sum(sqrt_u) AS BIGINT) AS tot_u
      FROM g
    )
    SELECT lang, n_docs,
           floor(n_docs / CAST(n_total AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS p_native,
           floor(sqrt_u / CAST(tot_u AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS q_alpha05,
           CAST(floor(sqrt_u / CAST(tot_u AS DOUBLE) * 100000 + 0.5) AS BIGINT)
             AS budget_docs
    FROM g, tot
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-sampling weights — the multilingual
    mixing recipe (Conneau & Lample 2019; XLM-R/mT5 use the same
    q_i ∝ p_i^α): at α=0.5, q_i ∝ √n_i upweights low-resource
    languages relative to their native share. Emits per language the
    native share p, the α=0.5 sampling weight q, and the document
    budget for a 100k-doc epoch.

    Engine-exact by the micro-unit discipline: √n_i is floored into
    integer MICRO-UNITS before the denominator sum, so the only
    cross-engine float operations are IEEE-exact sqrt and one division
    per row — the order-sensitive double SUM over languages never
    happens (integer sums are order-free). One combinable count pass
    over the corpus; the totals row broadcasts (in-plan scalar)."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    g = g.withColumn(
        "sqrt_u",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1e6 + 0.5).cast(
            "bigint"
        ),
    )
    tot = g.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum("sqrt_u").cast("bigint").alias("tot_u"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        fround(F.col("n_docs") / F.col("n_total").cast("double"), 6).alias(
            "p_native"
        ),
        fround(F.col("sqrt_u") / F.col("tot_u").cast("double"), 6).alias(
            "q_alpha05"
        ),
        F.floor(
            F.col("sqrt_u") / F.col("tot_u").cast("double") * 100000 + 0.5
        )
        .cast("bigint")
        .alias("budget_docs"),
    )


@register(
    "corpus_decontaminate_bloom",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    contaminated AS (
      SELECT DISTINCT sh.doc_id
      FROM sh JOIN bench USING (s)
      WHERE sh.doc_id % 50 <> 0
    )
    SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN contaminated c USING (doc_id)
    WHERE d.doc_id % 50 <> 0
    """,
)
def corpus_decontaminate_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`corpus_decontaminate` with a bloom prefilter: the benchmark
    shingle set is folded into a 16 KiB bitmask (operators/bloom.py,
    one-md5 double hashing) and each document is tested MAP-SIDE with a
    short-circuiting `exists` over its row-local shingle array; only
    bloom-suspect documents pay the exact explode + broadcast semi-join,
    which also removes false positives — output identical to
    `corpus_decontaminate`, same oracle SQL.

    HONEST MEASUREMENT: the round-16 form evaluated md5 inside a
    higher-order `exists` lambda, which Spark executes INTERPRETED per
    array element — ~9× slower than the exact path at fixture scale
    (6.0s vs 0.6s at 50k docs; ~13s isolated at sf0.1 by round 16, the
    slowest registered query). Round 17 moved the probe to the
    Arrow-batched pandas UDF over a broadcast bytearray this paragraph
    always prescribed (operators/bloom.py::bloom_any_probe_arrow) —
    same suspects set, same rows. The exact path is still shuffle-free
    (broadcast semi-join probed map-side in codegen), so at fixture
    scale the exact variant remains the default; the bloom variant
    earns its keep on broadcast MEMORY — a hash table over ~1e8
    benchmark 13-grams is multi-GB (unbroadcastable), the
    equivalent-FP bitmask is ~100 MB. Kept registered as the
    membership-probe pattern. Reference analogue: the pre-write
    id-index membership probe (/root/reference/app/db/id_index.py,
    get())."""
    from ..operators.bloom import bloom_any_probe_arrow, build_bloom_words
    from ..operators.dedup import shingle_arrays, shingle_frame

    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 50 == 0
    corpus = d.where(~is_bench)
    bench_sh = (
        shingle_frame(d.where(is_bench), "doc_id", "text", 3)
        .select("shingle")
        .distinct()
    )
    m_bits = 1 << 17
    words = build_bloom_words(bench_sh, "shingle", m_bits=m_bits)

    # round 17 (guide §4.2): the probe moved from a per-element
    # INTERPRETED md5 `exists` lambda to the Arrow-batched broadcast-
    # bitmask form the docstring always named — identical suspects set
    # (bit-position parity is pinned by a test), same rows out, ~an
    # order of magnitude less probe CPU
    probe = bloom_any_probe_arrow(spark, words, m_bits=m_bits)
    # suspect ids only cross back from Python — round-tripping the
    # shingle ARRAYS through the Arrow boundary and exploding them
    # JVM-side above the Python node measured 2x the whole query; the
    # exact verify instead recomputes the (cheap, codegen'd) shingle
    # explode over just the bloom-suspect documents
    sh = shingle_arrays(corpus, "doc_id", "text", 3)
    sus_ids = (
        sh.select("doc_id", probe(F.col("__sh")).alias("__suspect"))
        .where(F.col("__suspect"))
        .select("doc_id")
    )
    contaminated = (
        shingle_frame(
            corpus.join(sus_ids, "doc_id", "left_semi"), "doc_id", "text", 3
        )
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return corpus.select("doc_id").join(contaminated, "doc_id", "left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


def _simhash_sig_sql(bits: int) -> str:
    """The sig-CTE chain of `_minhash_sql`'s SimHash twin (see
    llmdata._simhash_sql) — duplicated CTE text kept byte-compatible
    with the dedup_simhash oracle so the two can be diffed."""
    return f"""
    rawtoks AS (
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
    """


_DIVERSITY_BITS = 48
_DIVERSITY_BUCKET_SHIFT = 40  # keep the top 8 signature bits → 256 buckets
_DIVERSITY_KEEP = 4


@register(
    "corpus_diversity_sample",
    oracle=f"""
    WITH {_simhash_sig_sql(_DIVERSITY_BITS)},
    sel AS (
      SELECT doc_id,
             CAST(simhash >> {_DIVERSITY_BUCKET_SHIFT} AS INTEGER) AS bucket,
             {_PORTABLE_HASH.format(col="concat('div:', CAST(doc_id AS VARCHAR))")}
               AS hsel
      FROM sig
    )
    SELECT doc_id, bucket,
           CAST(row_number() OVER (PARTITION BY bucket ORDER BY hsel, doc_id)
                AS INTEGER) AS rnk,
           row_number() OVER (PARTITION BY bucket ORDER BY hsel, doc_id)
             <= {_DIVERSITY_KEEP} AS kept
    FROM sel
    """,
)
def corpus_diversity_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-capped sampling: bucket documents by the top 8 bits of
    their 48-bit SimHash (near-identical text shares a bucket — the
    cheap semantic grouping) and keep at most K=4 per bucket, chosen by
    a salted content-independent hash so the draw is deterministic
    across runs/engines/partitionings. This caps any one redundant mass
    of boilerplate at K docs while never touching rare buckets — the
    "don't let one template dominate the epoch" sampler.

    Scale shape: one combinable signature aggregation (the
    simhash_signatures shuffle of |docs| rows × 48 ints), then a window
    over 256 buckets. The per-bucket row_number is the honest cost: a
    hot bucket serializes through one task; at 100 TB either widen the
    bucket prefix (more buckets, same algebra) or replace rank with a
    per-bucket hash THRESHOLD (rank-free, fully parallel — the
    corpus_domain_mix mechanism) at the cost of an approximate cap."""
    from ..operators.dedup import simhash_signatures

    d = load_table(spark, sf_dir, "documents")
    sig = simhash_signatures(d, "doc_id", "text", bits=_DIVERSITY_BITS)
    sel = sig.select(
        "doc_id",
        F.shiftright("simhash", _DIVERSITY_BUCKET_SHIFT).cast("int").alias("bucket"),
        portable_hash60(
            F.concat(F.lit("div:"), F.col("doc_id").cast("string"))
        ).alias("hsel"),
    )
    w = Window.partitionBy("bucket").orderBy("hsel", "doc_id")
    rnk = F.row_number().over(w)
    return sel.select(
        "doc_id",
        "bucket",
        rnk.cast("int").alias("rnk"),
        (rnk <= _DIVERSITY_KEEP).alias("kept"),
    )


def _prepare_sql() -> str:
    """Oracle for corpus_prepare: the full cleaning chain composed from
    the same fragments the individual oracles use (minhash pairs via
    llmdata._minhash_sql as a subquery; verdict rules and benchmark
    decontamination re-stated verbatim)."""
    from .llmdata import _minhash_sql, _stop_pred

    stop_pred = _stop_pred("x", STOPWORDS)
    return f"""
    WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
    exact_rk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS xrn
      FROM docs
    ),
    toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs),
    q AS (
      SELECT doc_id,
             len(t) AS n,
             CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
               / len(t) AS avg_len,
             len(list_filter(t, x -> {stop_pred})) AS stop_hits,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
      FROM toks
    ),
    bad_quality AS (
      SELECT doc_id FROM q
      WHERE n < 8 OR avg_len < 1.9871 OR avg_len > 13.9871 OR stop_hits = 0
         OR (len(b) > 0 AND
             1.0 - len(list_distinct(b)) / CAST(len(b) AS DOUBLE) > 0.29871)
    ),
    sh3 AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    bench AS (SELECT DISTINCT s FROM sh3 WHERE doc_id % 50 = 0),
    contaminated AS (
      SELECT DISTINCT sh3.doc_id
      FROM sh3 JOIN bench USING (s)
      WHERE sh3.doc_id % 50 <> 0
    ),
    near AS (SELECT DISTINCT id_b AS doc_id FROM ({_minhash_sql()})),
    flags AS (
      SELECT d.doc_id,
             (x.xrn > 1) AS f_exact,
             (bq.doc_id IS NOT NULL) AS f_quality,
             (c.doc_id IS NOT NULL) AS f_contaminated,
             (nr.doc_id IS NOT NULL) AS f_near,
             (d.doc_id % 50 = 0) AS f_bench
      FROM docs d
      JOIN exact_rk x ON x.doc_id = d.doc_id
      LEFT JOIN bad_quality bq ON bq.doc_id = d.doc_id
      LEFT JOIN contaminated c ON c.doc_id = d.doc_id
      LEFT JOIN near nr ON nr.doc_id = d.doc_id
    )
    SELECT doc_id,
           NOT (f_exact OR f_quality OR f_contaminated OR f_near OR f_bench)
             AS kept,
           COALESCE(array_to_string(list_sort(list_filter([
             CASE WHEN f_exact THEN 'exact_dup' END,
             CASE WHEN f_quality THEN 'quality' END,
             CASE WHEN f_contaminated THEN 'contaminated' END,
             CASE WHEN f_near THEN 'near_dup' END,
             CASE WHEN f_bench THEN 'benchmark_doc' END
           ], x -> x IS NOT NULL)), ','), '') AS reasons
    FROM flags
    """


@register("corpus_prepare", oracle=_prepare_sql())
def corpus_prepare_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE END-TO-END PREP PIPELINE in one plan: every document judged
    by the full cleaning chain with machine-readable reason codes —
    `exact_dup` (not the min-id copy of identical text), `quality`
    (the quality_filter_verdict rule stack), `contaminated` (shares a
    3-shingle with the benchmark set), `near_dup` (the larger id of a
    verified MinHash-LSH pair — the pairwise drop rule, deterministic
    and shared with the oracle; cluster-canonical removal is the
    corpus_near_dedup variant), `benchmark_doc` (held-out set itself).
    A production run writes `kept` rows to the training shard and the
    reasons histogram to the QA report; this query returns the per-doc
    audit trail both derive from.

    Scale shape — one pass over documents feeding four shared-scan
    branches: a text-hash window (exact), a pure map (quality), a
    broadcast semi-join (contamination), and the banded LSH self-join
    (near-dup, the only corpus-sized shuffle). Reasons assemble
    row-locally; no driver state anywhere.

    NULL text is excluded up front on BOTH sides (the `docs` CTE in the
    oracle): without the guard Spark's size(split(NULL)) = -1 flags the
    doc too_short while SQL NULL predicates exclude it from bad_quality
    — same explicit null rule as dedup_span_exact."""
    from ..operators.dedup import minhash_lsh_pairs
    from .llmdata import _in_words

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())

    xrn = F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
    exact = d.select("doc_id", (xrn > 1).alias("f_exact"))

    t = tokens_col("text")
    dq = d.select("doc_id", t.alias("__t"))
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
    nb = F.size(bigrams)
    bad_quality = (
        (n < 8)
        | (avg_len < 1.9871)
        | (avg_len > 13.9871)
        | (stop_hits == 0)
        | (
            (nb > 0)
            & (
                # try_divide: ANSI `&` doesn't short-circuit; a
                # zero-bigram doc must be "not repetitive", not an error
                F.lit(1.0)
                - F.try_divide(
                    F.size(F.array_distinct(bigrams)), nb.cast("double")
                )
                > 0.29871
            )
        )
    )
    quality = dq.select("doc_id", bad_quality.alias("f_quality"))

    from ..operators.dedup import shingle_arrays, shingle_frame

    is_bench = F.col("doc_id") % 50 == 0
    bench_sh = (
        shingle_frame(d.where(is_bench), "doc_id", "text", 3)
        .select("shingle")
        .distinct()
    )
    contaminated = (
        shingle_frame(d.where(~is_bench), "doc_id", "text", 3)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("f_contaminated", F.lit(True))
    )

    near = (
        minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=16, bands=4,
                          threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("f_near", F.lit(True))
    )

    flags = (
        d.select("doc_id", is_bench.alias("f_bench"))
        .join(exact, "doc_id")
        .join(quality, "doc_id")
        .join(contaminated, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            "f_exact",
            "f_quality",
            F.coalesce("f_contaminated", F.lit(False)).alias("f_contaminated"),
            F.coalesce("f_near", F.lit(False)).alias("f_near"),
            "f_bench",
        )
    )
    null_s = F.lit(None).cast("string")
    reasons = F.array_join(
        F.array_sort(
            F.filter(
                F.array(
                    F.when(F.col("f_exact"), F.lit("exact_dup")).otherwise(null_s),
                    F.when(F.col("f_quality"), F.lit("quality")).otherwise(null_s),
                    F.when(F.col("f_contaminated"), F.lit("contaminated")).otherwise(null_s),
                    F.when(F.col("f_near"), F.lit("near_dup")).otherwise(null_s),
                    F.when(F.col("f_bench"), F.lit("benchmark_doc")).otherwise(null_s),
                ),
                lambda x: x.isNotNull(),
            )
        ),
        ",",
    )
    kept = ~(
        F.col("f_exact")
        | F.col("f_quality")
        | F.col("f_contaminated")
        | F.col("f_near")
        | F.col("f_bench")
    )
    return flags.select("doc_id", kept.alias("kept"), reasons.alias("reasons"))


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    stats AS (
      SELECT u.i AS i, min(v[u.i]) AS mn, max(v[u.i]) - min(v[u.i]) AS sp
      FROM e, UNNEST(range(1, len(v) + 1)) AS u(i)
      GROUP BY 1
    ),
    packed AS (
      SELECT list(mn ORDER BY i) AS mns, list(sp ORDER BY i) AS sps FROM stats
    ),
    r AS (
      SELECT vec_id,
             list_transform(range(1, len(v) + 1), i ->
               CASE WHEN sps[i] = 0 THEN 0.0
                    ELSE ((v[i] - mns[i])
                          - floor((v[i] - mns[i]) * 255 / sps[i] + 0.5)
                            * sps[i] / 255) ^ 2
               END) AS errs
      FROM e, packed
    )
    SELECT vec_id,
           {sql_round("list_sum(errs) / len(errs)", 9)} AS mse,
           {sql_round("sqrt(list_max(errs))", 9)} AS max_abs_err
    FROM r
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR (int8) QUANTIZATION QA for the embedding store: per-dim
    affine codes ``floor((x-mn)·255/span + 0.5)`` and the per-vector
    reconstruction error (MSE + max abs). This is the memory lever for
    ANN at 100 TB — int8 codes cut vector storage 4× (often 8× with
    the norm factored out), and this report is how a pipeline decides
    whether the recall cost is acceptable before flipping the index to
    quantized storage.

    Scale shape: pass 1 computes 2·d scalar aggregates in ONE map-side-
    combinable agg over the corpus — NO posexplode/groupBy(dim), whose
    shuffle is n·d rows (the collect is 2·d scalars, same class as the
    centroid probes). Pass 2 is a pure row-local map: the per-dim
    mins/spans ride as array literals, all zip_with/aggregate
    higher-order expressions, zero joins and zero Python. The error
    fold is the same left-fold both engines share (see
    embedding_norm_stats), so parity holds bit-for-bit before the
    defensive rounding; degenerate dims (span 0) code to 0 exactly."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    # dimension probe: one row (schema carries no length for arrays)
    d = len(e.select("v").head()[0])
    row = e.agg(
        *(
            [F.min(F.element_at("v", i + 1)).alias(f"mn{i}") for i in range(d)]
            + [F.max(F.element_at("v", i + 1)).alias(f"mx{i}") for i in range(d)]
        )
    ).collect()[0]
    # one SQL-parsed literal each (bitwise-identical doubles, see
    # operators/similarity.lit_double_vec) instead of one py4j round
    # trip per element
    mins = lit_double_vec([float(row[f"mn{i}"]) for i in range(d)])
    spans = lit_double_vec(
        [float(row[f"mx{i}"]) - float(row[f"mn{i}"]) for i in range(d)]
    )
    centered = F.zip_with("v", mins, lambda x, mn: x - mn)
    errs = F.zip_with(
        centered,
        spans,
        lambda c, sp: F.when(sp == 0.0, F.lit(0.0)).otherwise(
            F.pow(
                c - F.floor(c * 255 / sp + 0.5).cast("double") * sp / 255,
                F.lit(2),
            )
        ),
    )
    out = e.select("vec_id", errs.alias("__e"))
    total = F.aggregate("__e", F.lit(0.0), lambda acc, x: acc + x)
    return out.select(
        "vec_id",
        fround(total / F.size("__e"), 9).alias("mse"),
        fround(F.sqrt(F.array_max("__e")), 9).alias("max_abs_err"),
    )


_RESERVOIR_N = 200
_RESERVOIR_HASH = _PORTABLE_HASH.format(
    col="concat('rsv:', CAST(doc_id AS VARCHAR))"
)


@register(
    "corpus_reservoir_sample",
    oracle=f"""
    SELECT doc_id, {_RESERVOIR_HASH} AS rk
    FROM documents
    ORDER BY rk ASC, doc_id ASC LIMIT {_RESERVOIR_N}
    """,
)
def corpus_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED RESERVOIR SAMPLE as a bottom-k sketch: a uniform
    n-of-N sample = the n documents with the SMALLEST salted hash of
    their id. This is the shape that actually distributes: classic
    reservoir sampling is a sequential algorithm, but bottom-k is
    MERGEABLE — each partition keeps its local bottom-k (Spark plans
    orderBy+limit as TakeOrderedAndProject: per-partition heaps, no
    global sort) and the driver merges heaps, O(k) memory end to end.
    The same salted-hash rank also makes the sample STABLE under
    corpus growth: adding documents never swaps the relative order of
    existing ones (the property incremental pipelines need so a grown
    corpus reuses cached sample members), unlike rand()-based
    sampling which reshuffles everything every run."""
    d = load_table(spark, sf_dir, "documents")
    rk = portable_hash60(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", rk.alias("rk"))
        .orderBy(F.col("rk").asc(), F.col("doc_id").asc())
        .limit(_RESERVOIR_N)
    )


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             floor(ln(((doc_id * 2654435761 + 12345) % 1000003 + 1)
                      / 1000004.0) / n_chars * 100000 + 0.5) / 100000 AS es_key
      FROM documents
    )
    SELECT doc_id, n_chars, es_key FROM keyed
    ORDER BY es_key DESC, doc_id LIMIT 50
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES): each doc gets key ln(u)/w for uniform u and weight w
    (n_chars — longer docs proportionally likelier), and the global
    top-k by key IS an exact weighted sample. One pass, no driver
    state, no rejection loop — the top-k is Spark's TakeOrdered
    (per-partition heaps + k-row merge), so it holds at 100 TB where
    quota-based samplers need iterative re-draws. u is a deterministic
    integer-arithmetic hash of doc_id so the oracle replays the exact
    draw; keys are rounded with the doc_id tiebreak making the k-th
    boundary engine-stable."""
    d = load_table(spark, sf_dir, "documents")
    u = ((F.col("doc_id") * 2654435761 + 12345) % 1000003 + 1) / 1000004.0
    keyed = d.select(
        "doc_id", "n_chars",
        fround(F.log(u) / F.col("n_chars"), 5).alias("es_key"),
    )
    return keyed.orderBy(F.desc("es_key"), "doc_id").limit(50)


def _pca_power_sql(dim: int = 64, iters: int = 3) -> str:
    """DuckDB twin of pca_power_top_component: the same mean pass,
    the same unrolled power iterations over list algebra, the same
    norm/sign canonicalization — so the iterative linear algebra is
    cross-engine checked end to end (the k-means-oracle pattern)."""
    idx = range(1, dim + 1)
    mean_list = "[" + ", ".join(f"avg(x[{i}])" for i in idx) + "]"
    s_list = "[" + ", ".join(f"avg(x[{i}] * d)" for i in idx) + "]"
    v0 = 1.0 / (dim ** 0.5)
    dot0 = " + ".join(f"x[{i}] * {v0!r}" for i in idx)
    ctes = [
        "x AS (SELECT list_transform(embedding, e -> CAST(e AS DOUBLE)) AS x FROM embeddings)",
        f"m AS (SELECT {mean_list} AS m FROM x)",
        f"it1 AS (SELECT {s_list} AS s, avg(d) AS a FROM (SELECT x, {dot0} AS d FROM x) t)",
        "cv1 AS (SELECT list_transform(range(1, %d), i -> s[i] - m0.m[i] * a) AS cv FROM it1, m m0)" % (dim + 1),
    ]
    prev = "cv1"
    for t in range(2, iters + 1):
        vn = f"v{t - 1}n"
        ctes.append(
            f"{vn} AS (SELECT list_transform(cv, c -> c / sqrt(list_sum("
            f"list_transform(cv, q -> q * q)))) AS v FROM {prev})"
        )
        dot = " + ".join(f"x[{i}] * v[{i}]" for i in idx)
        ctes.append(
            f"it{t} AS (SELECT {s_list} AS s, avg(d) AS a "
            f"FROM (SELECT x, {dot} AS d FROM x, {vn}) t)"
        )
        ctes.append(
            f"cv{t} AS (SELECT list_transform(range(1, {dim + 1}), "
            f"i -> s[i] - m0.m[i] * a) AS cv FROM it{t}, m m0)"
        )
        prev = f"cv{t}"
    ctes.append(
        f"fin AS (SELECT cv, sqrt(list_sum(list_transform(cv, q -> q * q))) AS eig FROM {prev})"
    )
    ctes.append(
        "vf AS (SELECT list_transform(cv, c -> c / eig) AS v, eig FROM fin)"
    )
    # canonical sign: flip so the largest-|loading| (lowest index on
    # ties) entry is positive
    ctes.append(
        f"""sgn AS (
      SELECT CASE WHEN v[(
        SELECT i FROM (SELECT unnest(range(1, {dim + 1})) AS i)
        ORDER BY abs(v[i]) DESC, i LIMIT 1
      )] < 0 THEN -1.0 ELSE 1.0 END AS sg, v, eig FROM vf
    )"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST(i AS INTEGER) AS dim_idx,
           floor(m0.m[i] * 100000 + 0.5) / 100000 AS mean,
           floor(sg * v[i] * 100000 + 0.5) / 100000 AS loading,
           floor(eig * 100000 + 0.5) / 100000 AS eigval
    FROM (SELECT unnest(range(1, {dim + 1})) AS i), sgn, m m0
    """


@register("embedding_pca_power", oracle=_pca_power_sql())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table by power
    iteration (operators/similarity.py pca_power_top_component): PCA
    as pure DataFrame aggregation — no covariance matrix, no local
    linear-algebra library, dim+1 scalars to the driver per iteration.
    The oracle replays the identical unrolled iterations in DuckDB
    list algebra, cross-checking the whole iterative computation."""
    from ..operators.similarity import pca_power_top_component

    e = load_table(spark, sf_dir, "embeddings")
    out = pca_power_top_component(e, "embedding", dim=64, iters=3)
    return out.select(
        "dim_idx",
        fround(F.col("mean"), 5).alias("mean"),
        fround(F.col("loading"), 5).alias("loading"),
        fround(F.col("eigval"), 5).alias("eigval"),
    )


@register(
    "corpus_percentile_bands",
    oracle="""
    WITH vc AS (
      SELECT n_chars, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT n_chars,
             sum(c) OVER (ORDER BY n_chars
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS below,
             sum(c) OVER () AS n
      FROM vc
    )
    SELECT d.doc_id, d.n_chars,
           CASE WHEN COALESCE(below, 0) / (n - 1) < 0.1 THEN 'short'
                WHEN COALESCE(below, 0) / (n - 1) < 0.9 THEN 'mid'
                ELSE 'long' END AS band
    FROM documents d JOIN cum USING (n_chars)
    """,
)
def corpus_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band assignment over document length (P10/P90 cuts) —
    the curriculum/bucketing step before length-aware sampling, in the
    100 TB shape: NO global row sort. Pass 1 aggregates per-length
    counts (map-side combinable); the cumulative window then runs over
    the DISTINCT-VALUE frame (bounded by max document length, never by
    corpus size — the plan-gate-clean twin of a percent_rank window);
    bands join back on the length value, so same-length docs share a
    band by construction (value-deterministic, no row tiebreak
    needed)."""
    d = load_table(spark, sf_dir, "documents")
    vc = d.groupBy("n_chars").agg(F.count(F.lit(1)).cast("double").alias("c"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    cum = vc.select(
        "n_chars",
        F.coalesce(F.sum("c").over(w), F.lit(0.0)).alias("below"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    pr = F.col("below") / (F.col("n") - 1)
    banded = cum.select(
        "n_chars",
        F.when(pr < 0.1, "short").when(pr < 0.9, "mid").otherwise("long").alias("band"),
    )
    return d.select("doc_id", "n_chars").join(F.broadcast(banded), "n_chars").select(
        "doc_id", "n_chars", "band"
    )


_SEM_CELL_SQL = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cells AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
             (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END
              + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN v[3] > 0 THEN 4 ELSE 0 END) AS cell
      FROM e
    ),
    sem_pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
                  / (a.nrm * b.nrm) * 1000000 + 0.5) / 1000000 >= 0.4
    )
"""


@register(
    "corpus_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE {_SEM_CELL_SQL},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM sem_pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM sem_pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a, min(b) AS m FROM reach GROUP BY a)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN comp c ON c.a = d.doc_id
    WHERE least(d.doc_id, coalesce(c.m, d.doc_id)) = d.doc_id
    """,
)
def corpus_semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup — the embedding-space twin of corpus_near_dedup:
    pairs come from EMBEDDING cosine (cell-local sign-grid candidates,
    the embedding_knn_graph_cells shape) instead of MinHash over
    tokens, then the same components → keep-canonical collapse. This is
    the SemDeDup-style pipeline stage: near-identical *meaning* with
    different surface text, which token shingles cannot see. Cosines
    round to 6dp before the threshold so both engines compare identical
    numbers (threshold 0.4 is fixture-calibrated: the synthetic
    embeddings top out near 0.5 same-cell cosine). Candidate volume is
    Σ|cell|², one equi-join — never n²."""
    from ..operators.similarity import dot_col, norm_col

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    v = as_double_vec("embedding")
    cell = sum(
        F.when(F.element_at(v, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(3)
    )
    n = e.select(
        F.col("vec_id"), v.alias("v"), cell.cast("int").alias("cell")
    ).withColumn("nrm", norm_col(F.col("v")))
    a = n.select(
        F.col("vec_id").alias("id_a"), F.col("cell"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = n.select(
        F.col("vec_id").alias("id_b"), F.col("cell"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            fround(
                dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            )
            >= 0.4
        )
        .select("id_a", "id_b")
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        d.select(F.col("doc_id").alias("node")),
    )
    keep = comp.where(F.col("node") == F.col("component_id")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(keep, "doc_id", "left_semi").select("doc_id", "lang", "source")


@register(
    "corpus_negative_pairs",
    oracle=f"""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    cand AS (
      SELECT d.doc_id,
             (d.doc_id * 2654435761 + u.j * 97) % n_docs AS neg_id
      FROM documents d, n, (SELECT unnest(range(0, 3)) AS j) u
    ),
    pairs AS (SELECT id_a, id_b FROM ({_minhash_sql()})),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    )
    SELECT c.doc_id, CAST(c.neg_id AS BIGINT) AS neg_id
    FROM cand c
    WHERE c.neg_id <> c.doc_id
      AND NOT EXISTS (SELECT 1 FROM sym s
                      WHERE s.a = c.doc_id AND s.b = c.neg_id)
    ORDER BY doc_id, neg_id
    """,
)
def corpus_negative_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive NEGATIVE sampling: each document draws 3
    deterministic pseudo-random partners (a Knuth-hash mix over the
    dense doc-id space — seedless, replayable by any engine) and keeps
    the ones that are NOT near-duplicates (anti-join against the
    symmetric MinHash pair set — a hard requirement for contrastive
    training: a near-dup labeled 'negative' poisons the loss). Shapes:
    a bounded 3× row-local fanout, one broadcast anti-join against the
    pair set; the 100 TB variant swaps the modulus for the corpus
    count, everything else unchanged."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar probe
    cand = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("j"),
    ).select(
        "doc_id",
        ((F.col("doc_id") * F.lit(2654435761) + F.col("j") * 97) % n_docs)
        .cast("bigint")
        .alias("neg_id"),
    ).where(F.col("neg_id") != F.col("doc_id"))
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    sym = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("neg_id")
    ).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("neg_id"))
    )
    return cand.join(sym, ["doc_id", "neg_id"], "left_anti").orderBy(
        "doc_id", "neg_id"
    )


@register(
    "text_bigram_lm_score",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    bi AS (
      SELECT doc_id, t[i] AS a, t[i] || ' ' || t[i+1] AS ab
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    cab AS (SELECT ab, count(*) AS c FROM bi GROUP BY 1),
    ca AS (SELECT a, count(*) AS c FROM bi GROUP BY 1),
    v AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM toks) u
    ),
    scored AS (
      SELECT b.doc_id, ln((cab.c + 1.0) / (ca.c + v.v)) AS lp
      FROM bi b JOIN cab ON cab.ab = b.ab JOIN ca ON ca.a = b.a CROSS JOIN v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(avg(lp) * 1e6 + 0.5) / 1e6 AS avg_logp
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score: train add-one-smoothed
    bigram probabilities ON the corpus itself, then score every doc by
    its mean log P(w_i | w_{i-1}) — the CCNet/KenLM-style perplexity
    filter (low avg_logp ⇒ unnatural token sequences), one tier above
    the registered unigram twin (text_unigram_lm_score).

    Shape: bigrams are built ROW-LOCALLY (transform over an index
    sequence — no positional self-join of the exploded tokens), then
    one explode feeds two combinable count aggregations (bigram and
    prefix); the vocab size is a one-row broadcast. Scoring re-joins
    the exploded bigrams to the two count tables on their natural keys
    — both shuffles hash on short strings with near-uniform Zipf tails,
    and the per-doc average is a final combinable agg. At 100 TB the
    count tables are exactly the LM artifact a corpus build would
    persist once and broadcast-or-bucket for every scoring batch."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens_col("text").alias("__t"))
    bi_arr = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__t") - 2),
            lambda i: F.struct(
                F.element_at("__t", i + 1).alias("a"),
                F.concat_ws(
                    " ", F.element_at("__t", i + 1), F.element_at("__t", i + 2)
                ).alias("ab"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,ab:string>>"))
    bi = t.select("doc_id", F.explode(bi_arr).alias("b")).select(
        "doc_id", F.col("b.a").alias("a"), F.col("b.ab").alias("ab")
    )
    cab = bi.groupBy("ab").agg(F.count(F.lit(1)).alias("cab"))
    ca = bi.groupBy("a").agg(F.count(F.lit(1)).alias("ca"))
    vocab = t.select(F.explode("__t").alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    scored = (
        bi.join(cab.hint("shuffle_hash"), "ab")
        .join(ca.hint("shuffle_hash"), "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("cab") + F.lit(1.0)) / (F.col("ca") + F.col("v"))).alias(
                "lp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        fround(F.avg("lp"), 6).alias("avg_logp"),
    )


@register(
    "corpus_dsir_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ),
    dbc AS (
      SELECT doc_id,
             CAST({{PH}} % 256 AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM toks WHERE tok <> ''
      GROUP BY 1, 2
    ),
    raw AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cr FROM dbc GROUP BY 1),
    tgt AS (
      SELECT bucket, CAST(sum(cnt) AS BIGINT) AS ct FROM dbc
      WHERE doc_id % 10 = 0 GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
             (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgt) AS nt
    ),
    delta AS (
      SELECT raw.bucket,
             CAST(floor(1000000.0 * ln(
               ((coalesce(ct, 0) + 1) * CAST(nr + 256 AS DOUBLE))
               / ((cr + 1) * CAST(nt + 256 AS DOUBLE))) + 0.5) AS BIGINT)
               AS delta_u
      FROM raw LEFT JOIN tgt USING (bucket), tot
    ),
    w AS (
      SELECT dbc.doc_id,
             CAST(sum(cnt * delta_u) AS BIGINT) AS weight_micro,
             CAST(sum(cnt) AS BIGINT) AS n_tokens
      FROM dbc JOIN delta USING (bucket)
      WHERE dbc.doc_id % 10 <> 0
      GROUP BY 1
    )
    SELECT doc_id, n_tokens, weight_micro
    FROM w ORDER BY weight_micro DESC, doc_id ASC LIMIT 100
    """.replace("{PH}", _PORTABLE_HASH.replace("{col}", "tok")),
)
def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.
    2023): select raw-corpus documents that look most like a TARGET
    domain by an importance weight computed from hashed n-gram
    features, the published recipe for steering a 100 TB crawl toward
    a curated domain without training a model. Feature space: unigram
    tokens hashed into 256 buckets (the same portable md5 bucketing as
    text_hashing_vectorizer); target sample: doc_id % 10 == 0 (the
    held-out domain exemplars, excluded from selection); bucket
    distributions Laplace-smoothed; per-doc log importance
    log w(d) = sum_b cnt_d(b) * ln(p_target(b) / p_raw(b)). Emits the
    top-100 raw docs by weight.

    Engine-exact by the micro-unit discipline (corpus_temperature_mix):
    each bucket's log-ratio is floored into integer MICRO-NATS once —
    the argument of the single ln is a ratio of EXACT-integer products
    (token counts < 2**21, products < 2**46, exact doubles) — and the
    per-doc weight is then an order-free integer sum, so the
    order-sensitive float accumulation over a document's buckets never
    happens.

    Scale shape: one token-explode pass into a combinable
    groupBy(doc_id, bucket); the raw/target marginals are 256-row
    re-aggregations of that frame; the 256-row delta table BROADCASTS
    into the per-doc weight join; top-100 is a TakeOrdered, never a
    global sort. Reference analogue: the quality-filter stage the
    reference's extraction feeds (SURVEY §2.I)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col("text")).alias("tok")
    ).where(F.col("tok") != "")
    from ..operators.dedup import portable_hash_mod

    dbc = (
        toks.withColumn("bucket", portable_hash_mod("tok", 256).cast("int"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # freeze-once: dbc feeds THREE consumers (raw marginal, target
    # marginal, per-doc weights) — without it each would replay the
    # corpus explode + shuffle
    dbc = freeze(dbc, eager=False)
    raw = dbc.groupBy("bucket").agg(F.sum("cnt").cast("bigint").alias("cr"))
    tgt = (
        dbc.where(F.pmod(F.col("doc_id"), 10) == 0)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("ct"))
    )
    tot = raw.agg(F.sum("cr").cast("bigint").alias("nr")).crossJoin(
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("bigint").alias("nt"))
    )
    delta = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(
                F.lit(1e6)
                * F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        * (F.col("nr") + 256).cast("double")
                    )
                    / (
                        (F.col("cr") + 1)
                        * (F.col("nt") + 256).cast("double")
                    )
                )
                + 0.5
            )
            .cast("bigint")
            .alias("delta_u"),
        )
    )
    w = (
        dbc.where(F.pmod(F.col("doc_id"), 10) != 0)
        .join(F.broadcast(delta), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("delta_u")).cast("bigint").alias(
                "weight_micro"
            ),
            F.sum("cnt").cast("bigint").alias("n_tokens"),
        )
    )
    return w.select("doc_id", "n_tokens", "weight_micro").orderBy(
        F.col("weight_micro").desc(), F.col("doc_id").asc()
    ).limit(100)


@register(
    "corpus_decontaminate_semantic",
    oracle=f"""
    WITH
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e
    ),
    b AS (SELECT * FROM n WHERE vec_id % 50 = 0),
    t AS (SELECT * FROM n WHERE vec_id % 50 <> 0),
    m AS (
      SELECT t.vec_id,
             max({{COS}}) AS max_cos
      FROM t, b GROUP BY 1
    )
    SELECT vec_id, max_cos, (max_cos >= 0.35) AS contaminated
    FROM m
    """.replace("{COS}", _cos_sql("t", "b")),
)
def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOURTH decontamination modality (after exact-shingle, bloom,
    and span): SEMANTIC — flag training embeddings whose cosine to ANY
    benchmark vector reaches tau = 0.35, catching paraphrased
    contamination that n-gram overlap misses (the eval-leak sweep
    run before training an LLM on scraped data). Benchmark side =
    vec_id % 50 == 0, the held-out convention the other modalities use.

    The flag is computed from the ROUNDED per-pair cosine (6 dp, the
    repo's portable floor-round) and max() is order-free over rounded
    values, so both engines agree bit-for-bit at the threshold.

    Scale shape: the benchmark side BROADCASTS (eval suites are small
    by nature — same argument as corpus_decontaminate_spans), so the
    training side streams map-side through one whole-stage-codegen
    dot-product pass with NO shuffle of the big side; the per-vec max
    is a combinable groupBy. At 100 TB the plan is scan-bound. For
    benchmark sets too big to broadcast, the ANN operators
    (ann_lsh_topk / ivf cells) bound the candidate pairs instead —
    that trade is the corpus_semantic_dedup query. Reference analogue:
    none (north-star §2.I surface)."""
    from ..operators.similarity import as_double_vec

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec("embedding").alias("v")
    )
    nrm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    n = e.select("vec_id", "v", nrm.alias("nrm"))
    is_bench = F.pmod(F.col("vec_id"), 50) == 0
    b = n.where(is_bench).select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    t = n.where(~is_bench)
    dot = F.aggregate(
        F.zip_with("v", "bv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    cos = fround(dot / (F.col("nrm") * F.col("bnrm")), 6)
    m = (
        t.crossJoin(F.broadcast(b))
        .select("vec_id", cos.alias("__c"))
        .groupBy("vec_id")
        .agg(F.max("__c").alias("max_cos"))
    )
    return m.select(
        "vec_id", "max_cos", (F.col("max_cos") >= 0.35).alias("contaminated")
    )
