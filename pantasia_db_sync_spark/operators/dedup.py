"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star extension (BASELINE.json): the document-dedup operators a
training-data pipeline needs at 100 TB. Design notes per operator:

- **exact**: hash-groupBy on the content (or a fingerprint of it) —
  one shuffle, map-side combine.
- **n-gram Jaccard**: exact pairwise similarity, but computed via an
  inverted shingle index (explode + equi-self-join) so only pairs
  sharing ≥1 shingle are compared — never the O(n²) cross join.
- **MinHash+LSH**: the scale path. Signatures are one groupBy over the
  shingle index; banding turns "similar" into an equi-join key, so
  candidate generation is a shuffle join on (band_idx, band_value).
  Hash functions are the engine-portable (a·x+b) mod P family over a
  60-bit md5 prefix (functions/text.py) so the DuckDB oracle reproduces
  signatures exactly.
- **SimHash**: parametric-width signatures (≤60 bits — the portable
  md5 hash keeps 15 hex digits) via bitwise majority vote of token
  hashes, one map-side-combinable aggregation. Pairing is EXACT
  pigeonhole banding: ``max_hamming + 1`` bit-bands guarantee any
  pair within the radius shares ≥1 whole band, so candidates come
  from an equi-self-join and the result equals the O(n²) cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import HASH_PRIME, minhash_params, portable_hash_mod, tokens_col
from .ckpt import freeze

SIMHASH_BITS = 32


def _shingle_parts(
    docs: DataFrame, id_col: str, text_col: str, n: int, keep: tuple = ()
):
    """(tokenized frame, raw shingle-array Column) shared by both views.

    The text feeds through ``coalesce(text, '')`` so the whole shingle
    chain is NON-NULLABLE: otherwise any downstream predicate over a
    derived column (e.g. ``jaccard >= t``) makes the optimizer infer an
    ``IsNotNull(<entire interpreted chain>)`` filter and push it into
    the scan, evaluating the chain twice per row. Semantics are
    unchanged — NULL text produced an empty shingle array through the
    ``otherwise`` branch already; '' produces the same empty array
    (one '' token, shorter than any n-gram).
    """
    safe = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col, F.lit("")
    )
    toks = docs.select(
        F.col(id_col), *[F.col(c) for c in keep], tokens_col(safe).alias("__toks")
    )
    # shingle i = toks[i] || ' ' || ... (0-based slice, i in [0, len-n]);
    # guard: sequence() would run backwards for docs shorter than n tokens
    sh = F.when(
        F.size("__toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at("__toks", i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks, sh


def shingle_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, keep: tuple = ()
) -> DataFrame:
    """(id, __sh): distinct word n-gram shingles per doc as an array.

    Distinctness is PER DOCUMENT, and each input row already holds all
    of its document's shingles — ``array_distinct`` on the row is
    therefore exact, and every per-doc set quantity downstream (set
    size, the set itself for exact-Jaccard verification) becomes a
    row-local expression instead of a ``groupBy``/``collect_set`` over
    |shingles| exploded rows. At 100 TB each such avoided aggregation
    is a full shuffle of the corpus' shingle index.

    CONTRACT (all shingle/token dedup operators): ``id_col`` must be
    unique — one row per document. A frame with a repeated id (e.g. a
    union of overlapping extracts) must be deduplicated FIRST: the old
    global ``.distinct()`` happened to merge such rows; the row-local
    form counts each row's shingles separately, which would inflate
    pair intersections past their set sizes (Jaccard > 1) and
    double-weight SimHash votes.
    """
    toks, sh = _shingle_parts(docs, id_col, text_col, n, keep)
    return toks.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.array_remove(F.array_distinct(sh), "").alias("__sh"),
    )


def shingle_frame(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) — the
    exploded inverted-index view.

    The generator expression stays INLINE in the explode (never
    ``explode`` over an aliased array column): for a column reference
    Spark's InferFiltersFromGenerate infers a ``size(col) > 0``
    pre-filter and predicate pushdown then substitutes the whole
    shingle expression into it, evaluating the interpreted
    transform/array_distinct chain twice per row (measured 5-8x wall
    on the fingerprint aggregate).
    """
    toks, sh = _shingle_parts(docs, id_col, text_col, n)
    return toks.select(
        F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle")
    ).where(F.col("shingle") != "")


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: canonical (min id) per identical text + dup count."""
    return docs.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("dup_cnt"),
    )


def _pair_overlap(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, __i, __na, __nb) for every pair sharing ≥1 shingle —
    the shared overlap core for Jaccard AND containment scoring.

    The per-doc set size RIDES THROUGH the explode as a sibling column
    of the generator — every row of the inverted index carries its
    document's ``__n``, so Jaccard needs NO sizes frame and no joins
    after the pair aggregation (the two per-pair sizes come out of the
    groupBy as ``min`` of a per-group constant). Earlier shapes paid
    either a counts aggregation over the exploded index (a shuffle) or
    a row-local sizes frame whose expensive shingle expression the
    optimizer then duplicated into pushed-down IsNotNull filters.

    The self-join is pinned to a shuffle hash join: the two sides are
    identical subplans, so they share ONE reused exchange (the shingle
    chain is computed once), and the build side is one partition's
    slice — never a driver-side broadcast of the whole exploded index,
    which the static size estimate otherwise picks at small SF (the
    estimator does not see through a Generate).

    ``max_df`` (off by default) drops shingles whose document frequency
    exceeds the cap from the inverted-index JOIN only — a shingle with
    df=d contributes O(d²) pair rows, so one degenerate shingle in a
    100× corpus would otherwise make the self-join quadratic. Doc sizes
    stay uncapped, so the capped jaccard is a strict underestimate and
    the capped output is always a subset of the uncapped one (pinned by
    a property test). The anti-join side is left to the planner: with a
    loose cap the hot set is tiny and AQE broadcasts it; with a tight
    cap on a shared-vocabulary corpus it can be a large fraction of the
    vocabulary, where a forced broadcast would OOM the driver.
    """
    toks, sh_raw = _shingle_parts(_spread(docs, id_col), id_col, text_col, n)
    packed = F.array_remove(F.array_distinct(sh_raw), "")
    # Two-layer shape, deliberately: the array materializes in its own
    # projection, and the generator emits (shingle, __n) structs over
    # the already-materialized array. Because `__sh` is referenced
    # twice in the generator expression, CollapseProject will NOT
    # substitute the expensive shingle chain into it — the hazard being
    # that the optimizer otherwise floats the `__n` projection ABOVE
    # the Generate, re-evaluating the whole interpreted chain once per
    # exploded OUTPUT row (measured 18x wall on the shingle stage).
    arred = toks.select(F.col(id_col), packed.alias("__sh"))
    base = arred.select(
        F.col(id_col),
        F.explode(
            F.transform(
                "__sh",
                lambda s: F.struct(
                    s.alias("shingle"), F.size("__sh").alias("__n")
                ),
            )
        ).alias("e"),
    ).select(
        F.col(id_col),
        F.col("e.shingle").alias("shingle"),
        F.col("e.__n").alias("__n"),
    )
    # (A df>=2 shingle pre-filter was tried and reverted: in this corpus
    # 99% of shingles are shared, so the extra aggregation costs more
    # than the join rows it removes. For mostly-unique corpora the LSH
    # path — which verifies candidates only — is the scale answer.)
    if max_df is not None:
        hot = (
            base.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("shingle")
        )
        base = base.join(hot, "shingle", "left_anti")
    a = base.select(F.col(id_col).alias("id_a"), "shingle", F.col("__n").alias("__na"))
    b = base.select(F.col(id_col).alias("id_b"), "shingle", F.col("__n").alias("__nb"))
    inter = (
        a.join(b.hint("shuffle_hash"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__i"),
            F.min("__na").alias("__na"),
            F.min("__nb").alias("__nb"),
        )
    )
    return inter


def _pair_jaccard(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for every pair sharing ≥1 shingle."""
    return _pair_overlap(docs, id_col, text_col, n, max_df=max_df).select(
        "id_a",
        "id_b",
        (F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))).alias("jaccard"),
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Near-SUPERSET pairs by shingle containment ≥ threshold.

    Containment C(A,B) = |A∩B| / min(|A|,|B|) — the asymmetric twin of
    Jaccard. It catches the pairs Jaccard structurally cannot: a short
    document quoted or embedded verbatim inside a much longer one has
    Jaccard ≈ |A|/|B| (tiny) but containment ≈ 1. Training-data
    pipelines need this for boilerplate inclusion, quote-expansion dups
    and benchmark questions pasted into larger pages.

    Same scale shape as ``_pair_overlap`` (inverted shingle index +
    equi-self-join — candidates only for pairs sharing ≥1 shingle,
    never all-pairs); the score is one row-local expression over the
    pair aggregate. ``max_df`` caps hot shingles exactly as in the
    Jaccard path; with a cap the score underestimates, so capped
    output ⊆ uncapped (same property as the Jaccard twin).

    CONTRACT: ``id_col`` unique per row — see ``shingle_arrays``."""
    inter = _pair_overlap(docs, id_col, text_col, n, max_df=max_df)
    contain = F.col("__i") / F.least("__na", "__nb")
    return inter.select(
        "id_a",
        "id_b",
        contain.alias("containment"),
        # which side is (nearly) contained: the smaller shingle set
        F.when(F.col("__na") <= F.col("__nb"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
    ).where(F.col("containment") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard ≥ threshold.

    ``max_df`` caps shingle document frequency in the pair join (see
    ``_pair_jaccard``) — the hot-key guard for degenerate corpora.

    CONTRACT: ``id_col`` must be unique (one row per document) — see
    ``shingle_arrays``; repeated ids inflate pair intersections past
    the set sizes (Jaccard > 1)."""
    return _pair_jaccard(docs, id_col, text_col, n, max_df=max_df).where(
        F.col("jaccard") >= threshold
    )


def _prefix_len_expr(threshold: float, n_col: Column) -> Column:
    """PPJoin prefix length |x| − ⌈τ·|x|⌉ + 1, with the ceil guarded by
    an epsilon: threshold*n computed in doubles can round UP past an
    exact integer (0.55*20 → 11.000000000000002 → ceil 12), which would
    SHORTEN the prefix below the mathematical bound and silently drop a
    qualifying pair whose overlap sits exactly at the bound. The 1e-9
    nudge only ever cancels that float error — a true fractional part
    of τ·n is ≥ 1/n ≫ 1e-9 for any realistic document — so the prefix
    is never shorter than the bound (longer by one in the rounding
    cases, which costs candidates, never recall)."""
    return n_col - F.ceil(F.lit(threshold) * n_col - F.lit(1e-9)) + 1


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs via PPJoin-style PREFIX
    FILTERING (Xiao et al., WWW'08; Chaudhuri et al., ICDE'06) — the
    third algorithm for the same truth as ``ngram_jaccard_pairs``
    (full inverted index) and ``minhash_lsh_pairs`` (probabilistic).

    Principle: order every document's shingles by GLOBAL document
    frequency ascending (rarest first, ties by shingle text). If
    J(A,B) ≥ τ then |A∩B| ≥ τ·|A∪B| ≥ τ·max(|A|,|B|), and two sets
    with overlap ≥ t must share an element within their first
    |x| − t + 1 ordered elements — so joining only each doc's
    (|x| − ⌈τ·|x|⌉ + 1)-prefix finds every qualifying pair. Candidates
    are then verified EXACTLY with row-local ``array_intersect`` over
    the full shingle arrays: the result is exact, unlike ``max_df``
    capping (which trades recall) or MinHash (which trades both ways).

    Scale shape vs the full inverted index: the equi-self-join touches
    only PREFIX tokens — by construction the globally RAREST tokens of
    each doc — so a shingle with document frequency d contributes
    O(d²) pair rows only if it survives into prefixes, which frequent
    shingles do not (they sort last). The degenerate hot-shingle
    corpus that forces ``max_df`` guarding here defuses itself: the
    hot shingle lands in no prefix of any doc whose rarer shingles
    fill its prefix (#rare ≥ |x| − ⌈τ·|x|⌉ + 1 — property-pinned). Cost: one extra shuffle to attach global df and one
    window per doc for the prefix cut — paid once, against a
    candidate set that shrinks with τ.

    CONTRACT: ``id_col`` unique per row (see ``shingle_arrays``)."""
    arred = shingle_arrays(_spread(docs, id_col), id_col, text_col, n)
    arred = freeze(arred, eager=False)  # 3 consumers: explode + 2 verifies
    exploded = arred.select(
        F.col(id_col),
        F.explode("__sh").alias("shingle"),
        F.size("__sh").alias("__n"),
    )
    df_counts = exploded.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    prefix_len = _prefix_len_expr(threshold, F.col("__n"))
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    prefix = (
        exploded.join(df_counts.hint("shuffle_hash"), "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= prefix_len)
        .select(F.col(id_col), "shingle", "__n")
    )
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "shingle", F.col("__n").alias("__na"))
        .join(
            prefix.select(
                F.col(id_col).alias("id_b"), "shingle", F.col("__n").alias("__nb")
            ).hint("shuffle_hash"),
            "shingle",
        )
        .where(F.col("id_a") < F.col("id_b"))
        # PPJoin LENGTH FILTER, applied per candidate row BEFORE the
        # distinct: J(A,B) >= tau forces min(|A|,|B|) >= tau*max(|A|,|B|)
        # (the intersection fits in the smaller set and the union
        # contains the larger), so a size-mismatched pair provably
        # cannot qualify — sound, zero-risk pruning on columns the
        # prefix join already carries (-24% candidates on the sf0.1
        # corpus; the oracle's full-index join re-proves completeness
        # every round)
        # the 1e-9 slack (same as _prefix_len_expr) keeps this filter
        # strictly WEAKER than the verify's `jac >= threshold`: for
        # non-dyadic tau the double-rounded product can sit an ulp
        # above an integer min the verify's jaccard would still accept
        .where(
            F.least("__na", "__nb")
            >= F.lit(threshold) * F.greatest("__na", "__nb") - F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = arred.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"))
    sb = arred.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = inter / (F.size("__sa") + F.size("__sb") - inter)
    # shuffle_hash: the verify joins carry the FULL shingle arrays; a
    # sort-merge join would sort those wide rows (measured 2x the whole
    # verify cost at sf0.1) where a hash join streams them
    return (
        cand.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-spread a CPU-heavy derivation's input across the cluster
    when the scan beneath it is too small to fill the slots. The
    deletion-neighborhood projections below are interpreted
    higher-order-function chains whose cost is per ROW — a small input
    file read as ONE split (128 MB maxPartitionBytes vs a ~300 KB
    fixture) serializes the whole index build on one core while 31 sit
    idle. Deterministic hash partitioning on the unique id, so task
    retries reproduce the assignment; at scale the input is already
    wide and this is a no-op.

    The probe (round 17): the optimizer-estimated input size from the
    ANALYZED plan, compared against what ``defaultParallelism`` scan
    splits would hold. This is pure driver-side metadata — the round-16
    probe (``df.rdd.getNumPartitions()``) ran full physical planning
    and, on a plan containing exchanges under AQE, finalizing the plan
    EXECUTES the upstream shuffle stages, silently double-running any
    non-scan caller frame (and costing a measurable re-plan even on
    scan-level frames — why six round-16 sites reverted the spread).
    For a scan+project frame the estimate is the parquet file bytes, so
    the split arithmetic matches what the scan planner would do; the
    decision only gates a performance rewrite, never results.

    The estimate is the PRE-FILTER size: without CBO a Filter's size
    estimate is its child's, so a selective filter above a large scan
    reads as large and can miss a spread it would have earned. The
    probe executes nothing, so it can never double-run the frame."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    max_split = _conf_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    raw = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    # py4j hands scala.math.BigInt back as a Python int when its
    # converters are active, as the raw object otherwise
    est_bytes = int(raw.longValue() if hasattr(raw, "longValue") else raw)
    if est_bytes < target * max_split:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df


def _conf_bytes(s: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m',
    '128MB', '1g')."""
    s = str(s).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _deletion_variants(max_dist: int):
    """FastSS ≤``max_dist``-deletion neighborhood of column ``__s`` as
    an array Column: the string itself, every 1-deletion, and (k=2)
    every i<j double deletion, duplicates collapsed."""
    length = F.length("__s")
    deletions = F.when(
        length >= 1,
        F.transform(
            F.sequence(F.lit(1), length),
            lambda i: F.concat(
                F.col("__s").substr(F.lit(1), i - 1),
                F.col("__s").substr(i + 1, length - i),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    variants = F.array_union(F.array(F.col("__s")), deletions)
    if max_dist == 2:
        # all i<j double deletions: the middle substr spans (i, j)
        del2 = F.when(
            length >= 2,
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), length - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, length),
                            lambda j: F.concat(
                                F.col("__s").substr(F.lit(1), i - 1),
                                F.col("__s").substr(i + 1, j - i - 1),
                                F.col("__s").substr(j + 1, length - j),
                            ),
                        ),
                    )
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        variants = F.array_union(variants, del2)
    return variants


def levenshtein_pairs_fastss(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs with edit distance ≤ ``max_dist`` (1 or 2) via FastSS
    deletion neighborhoods — EXACT, never all-pairs.

    The FastSS theorem (Bocek et al. 2007): ed(a,b) ≤ k implies the
    ≤k-deletion neighborhoods of a and b INTERSECT — every edit op is
    witnessed by deleting the touched position(s) from the side(s) it
    touches (insertion: delete it from the longer side; substitution:
    delete the differing position from both; equality rides on the
    identity variant). So the candidate set is an EQUI-self-join on
    the deletion-variant key: O(n·L) index rows for k=1, O(n·L²/2) for
    k=2 (all i<j deletion pairs), instead of the O(n²) cross join +
    per-pair DP an all-pairs formulation pays. Candidates are then
    verified with the exact ``levenshtein`` built-in, so colliding
    variants of far-apart strings are filtered and the result EQUALS
    brute force — the registered oracles are brute-force cross joins,
    so driver parity re-proves the blocking's COMPLETENESS at both
    radii every round.

    Scale / hot keys: the variant index shuffles once on the variant
    string; a variant shared by d strings yields O(d²) candidate rows
    before the pair-distinct. At k=1, d is bounded by the alphabet
    (an ed-1 family's differing position maps to ONE variant — |Σ|
    strings at most). At k=2 the bound is |Σ|² per variant and — the
    real-world hazard — templated corpora (shared long prefixes with
    short differing cores, e.g. zero-padded serial names) concentrate
    mass on variants of the differing core. Measured on the customer
    fixture at sf0.1 (18-char 'Customer#'+9-digit names, 15k rows):
    1.59M distinct (id, variant) index rows (array_distinct collapses
    the many identical deletions a zero run produces), max variant
    bucket 555 (two tail digits deleted from a dense serial range),
    Σd² = 65M candidate rows pre-distinct, 17.4M distinct candidate
    pairs — 8.1s on local[32] for 4.08M TRUE radius-2 pairs (13.5s
    first draft; the three optimizations are annotated inline below),
    i.e. dominated by genuinely-close serials, not blocking waste. The lesson stands: radius-2 on
    templated keys is where you reach for sorted-neighborhood or a
    prefix-blocked variant first; on natural-language names the
    buckets are alphabet-bounded. k ≥ 3 (O(L³) variants per string)
    stays a documented gate."""
    if max_dist not in (1, 2):
        raise NotImplementedError(
            "FastSS blocking implemented for max_dist in (1, 2) "
            f"(got {max_dist}); deeper radii need O(L^k) variants"
        )
    base = df.select(F.col(id_col).alias("__id"), F.col(s_col).alias("__s"))
    variants = _deletion_variants(max_dist)
    # candidates carry BARE ID PAIRS through the heavy dedup shuffle:
    # a close pair shares up to ~L variants at k=2 (every 2-deletion
    # superset of an ed-1 pair's differing position collides), so the
    # pre-distinct candidate stream is ~L x the pair count — dropping
    # the two strings from those rows shrinks the distinct's shuffle
    # bytes ~4x. Strings re-attach to the ~pair-count-sized survivors
    # with two id-keyed joins before the exact verify. Measured at
    # sf0.1 (templated names, 4.08M true pairs): 13.5s first draft ->
    # 9.8s (bare-id distinct) -> 9.3s (thresholded levenshtein) ->
    # 8.1s (index checkpointed once, below).
    # materialize the variant index ONCE: both self-join sides read it,
    # and the k=2 neighborhood expression (L^2/2 substr+concat chains
    # per string) is the single most expensive projection in the plan —
    # without the checkpoint Catalyst re-inlines it into each side
    # (the index build measures 4.7s standalone at sf0.1; running it
    # once instead of twice took the end-to-end wall 9.3s -> 8.1s)
    # join on xxhash64(variant), not the variant string: the self-join
    # below shuffles the index twice, and an 8-byte long key halves its
    # row width vs ~18-char variants (guide: shuffle fewer bytes /
    # narrower key types). A hash collision can only ADD a candidate
    # pair, and every candidate passes the exact levenshtein verify —
    # the result set is provably unchanged.
    # spread the neighborhood build across slots first: the k=2 variant
    # transform is the single most expensive projection in the plan and
    # the fixture-scale scan under it is ONE split (see _spread)
    idx = _spread(base, "__id").select(
        "__id", F.explode(F.transform(variants, lambda v: F.xxhash64(v))).alias("__v")
    )
    if max_dist > 1:
        idx = freeze(idx)
    a = idx.select(F.col("__id").alias("id_a"), "__v")
    b = idx.select(F.col("__id").alias("id_b"), "__v")
    # pair-distinct and the first verify join SHARE one exchange: the
    # raw candidate stream is hash-repartitioned on id_a only, which
    # already clusters every duplicate of (id_a, id_b) — the
    # dropDuplicates then plans WITHOUT its own (id_a, id_b) exchange,
    # and the id_a-keyed verify join below reuses the same partitioning
    # for its probe side. One full shuffle of the distinct pair stream
    # removed vs the plain .distinct() form (candidate dupes live in
    # different variant buckets, so the old partial aggregate reduced
    # almost nothing before paying a second full exchange).
    pairs = (
        a.join(b.hint("shuffle_hash"), "__v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .repartition(F.col("id_a"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = base.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = base.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    # thresholded levenshtein: the banded O(L*k) DP with early exit
    # (returns -1 past the threshold) — ~3x cheaper per verify than
    # the full O(L^2) form at k=2 on 18-char names
    dist = F.expr(f"levenshtein(__sa, __sb, {int(max_dist)})")
    return (
        pairs.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", dist.alias("dist"))
        .where(F.col("dist") >= 0)
    )


def levenshtein_pairs_prefix_core(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_dist: int = 2,
    min_affix: int = 4,
) -> DataFrame:
    """Templated-key radius-k edit distance: the blocking the FastSS
    docstring above names as the right tool when keys share long
    templates (zero-padded serials, 'Customer#'-style prefixes).

    Strip the CORPUS-WIDE longest common prefix and suffix, then run
    the FastSS deletion-neighborhood join on the short differing
    CORES. Exact twice over: (a) the common-affix lemma — stripping a
    prefix/suffix shared by BOTH strings preserves edit distance (any
    optimal alignment can be normalized to match the shared affix
    positions), and the corpus-wide affix is shared by every pair;
    (b) FastSS completeness on the cores, re-proved against the SAME
    brute-force oracle as the full-string entry. The corpus-wide
    affixes come from ONE tiny aggregate — lcp(min(s), max(s)) is the
    prefix common to ALL strings (strings sort lexicographically, so
    whatever min and max share, everything between shares), and the
    same trick on reverse(s) gives the common suffix — a scalar-only
    collect, no extra shuffle over the data.

    Why it is faster on templates: (a) the FastSS index drops from
    O(n·L²/2) variants of length ~L to O(n·C²/2) of length ~C (C =
    core length; 172 18-char variants -> 46 nine-char ones on the
    'Customer#'+9-digit fixture); (b) cores are as small as the ids,
    so the pipeline VERIFIES EARLY — both cores ride the variant
    join and the banded ``levenshtein(sa, sb, k)`` filter runs
    PIPELINED inside the join stage, shrinking the heavy pair
    ``distinct`` to true-pair survivors (~3x fewer rows on the
    fixture) and eliminating the two string re-attach joins the
    full-string path needs. Measured at sf0.1 (4.08M true pairs,
    local[32]): 8.5-10.2s full-string FastSS -> 4.4-6.0s; at a 10x
    replica probe (150k names, 55.0M true pairs — the answer grows
    13.5x) the walls are 74s vs 149s for identical outputs, i.e. the
    2x advantage holds and BOTH scale linearly in the answer size,
    the floor for any complete method. The candidate
    PAIR set is identical either way (collisions live in the
    differing digits) — the win is index cost + shuffle bytes + the
    smaller distinct, not recall games. If no usable template exists
    (shared affixes shorter than ``min_affix``), falls back to plain
    full-string FastSS — natural-language corpora take that path,
    where carrying 18+-char strings through the candidate stream is
    the 4x-shuffle-bytes mistake the FastSS docstring documents.

    Reference analogue: none (entity-resolution extension)."""
    base = df.select(F.col(id_col).alias("__id"), F.col(s_col).alias("__s"))
    row = base.agg(
        F.min("__s").alias("lo"),
        F.max("__s").alias("hi"),
        F.min(F.reverse("__s")).alias("rlo"),
        F.max(F.reverse("__s")).alias("rhi"),
        F.min(F.length("__s")).alias("minlen"),
    ).collect()[0]  # scalar-only collect: 5 scalars, never row data
    lo, hi = row["lo"] or "", row["hi"] or ""
    rlo, rhi = row["rlo"] or "", row["rhi"] or ""
    minlen = int(row["minlen"] or 0)

    def lcp(a: str, b: str) -> int:
        n = 0
        while n < min(len(a), len(b)) and a[n] == b[n]:
            n += 1
        return n

    p = lcp(lo, hi)
    q = min(lcp(rlo, rhi), minlen - p)  # affixes must not overlap
    if p < min_affix and q < min_affix:
        return levenshtein_pairs_fastss(df, id_col, s_col, max_dist)
    core = F.col("__s").substr(
        F.lit(p + 1), F.length("__s") - F.lit(p + q)
    )
    cored = base.select("__id", core.alias("__s"))
    # verify-early FastSS on the cores: the exact-distance filter
    # rides the variant self-join; only survivors hit the distinct
    # NOTE: the variant key deliberately stays a STRING here, unlike the
    # full-string path above — the cores are short (~C chars, C ~ the
    # digit tail), so an xxhash64 key saves almost no shuffle width
    # while paying a per-variant hash inside the neighborhood transform
    # (measured: 6.1s -> 8.3s when hashed; strings win on short cores)
    idx = _spread(cored, "__id").select(
        "__id", "__s", F.explode(_deletion_variants(max_dist)).alias("__v")
    )
    if max_dist > 1:
        # materialize once — Catalyst would re-inline the O(C²)
        # neighborhood projection into both self-join sides otherwise
        idx = freeze(idx)
    a = idx.select(
        F.col("__id").alias("id_a"), F.col("__s").alias("__sa"), "__v"
    )
    b = idx.select(
        F.col("__id").alias("id_b"), F.col("__s").alias("__sb"), "__v"
    )
    dist = F.expr(f"levenshtein(__sa, __sb, {int(max_dist)})")
    return (
        a.join(b.hint("shuffle_hash"), "__v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
        .where(F.col("dist") >= 0)
        .distinct()
    )


def winnow_fingerprints_pandas(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """(doc_id, h): each document's WINNOWED fingerprint set
    (Schleimer–Wilkerson–Aiken 2003) computed per row in an
    Arrow-batched mapInPandas — O(tokens) per document, ZERO shuffle,
    and (the reason this twin exists) legal on a STREAMING frame,
    where the batch formulation's partitionBy(doc) window is not
    available in stateless append mode. Selection is bit-identical to
    text_winnowing_matches' window argmax: per length-w window of the
    positional k-gram md5-prefix hashes (functions/text.py
    portable_hash60 — reproduced here with hashlib, same 15-hex-char
    prefix mod the Mersenne prime), keep the minimum hash, rightmost
    position on ties; dedup per document. Registry parity of
    stream_winnowing_hits (this operator on the stream side vs the
    window formulation on the static side vs the DuckDB oracle on
    both) re-proves the two implementations agree every round."""
    import hashlib

    import pandas as pd

    src = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    )

    def gen(batches):
        for pdf in batches:
            ids, hs = [], []
            for i, text in zip(pdf["doc_id"], pdf["__text"]):
                if text is None:
                    continue
                toks = text.strip().split(" ")
                n_kg = len(toks) - (k - 1)
                if n_kg < w:
                    continue
                hvals = [
                    int(
                        hashlib.md5(
                            " ".join(toks[p : p + k]).encode()
                        ).hexdigest()[:15],
                        16,
                    )
                    % HASH_PRIME
                    for p in range(n_kg)
                ]
                sel = set()
                for q in range(n_kg - w + 1):
                    best = max(
                        range(q, q + w),
                        key=lambda p: (HASH_PRIME - hvals[p], p),
                    )
                    sel.add(hvals[best])
                for h in sorted(sel):
                    ids.append(int(i))
                    hs.append(h)
            yield pd.DataFrame({"doc_id": ids, "h": hs})

    return src.mapInPandas(gen, schema="doc_id bigint, h bigint")


def minhash_signatures(
    sh: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """One row per doc: mh0..mh{k-1} minimum permuted shingle hashes."""
    x = portable_hash_mod("shingle")
    aggs = [
        F.min((F.lit(a) * x + F.lit(b)) % F.lit(HASH_PRIME)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_structs(num_hashes: int = 16, bands: int = 4):
    """Array of (band_idx, band_val) structs over mh0..mh{k-1} columns —
    the shared banding expression for batch self-join LSH and the
    streaming ingest filter (identical band values by construction)."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{j * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_val"),
            )
            for j in range(bands)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingle index → signatures (one groupBy) → band values →
    equi-self-join on (band_idx, band_value) → exact-Jaccard check of
    the (few) candidates. With 16 hashes in 4 bands of 4, P(candidate)
    = 1-(1-J⁴)⁴: ~0.9998 at J=0.9, ~0.23 at J=0.5.

    When ``num_hashes``/``bands`` are not given, they come from
    ``recommended_minhash_params(threshold)`` so the banding S-curve's
    inflection sits AT the verify threshold — the default is then
    threshold-correct at any corpus size instead of silently tuned to
    one fixture. Pass both explicitly to pin results (the registered
    oracle queries do, for cross-engine hash parity).

    CONTRACT: ``id_col`` must be unique (one row per document) — see
    ``shingle_arrays``; repeated ids corrupt the exact-Jaccard verify.
    """
    if (num_hashes is None) != (bands is None):
        raise ValueError("pass both num_hashes and bands, or neither")
    if num_hashes is None:
        num_hashes, bands = recommended_minhash_params(threshold)
    # ONE evaluation of the shingle chain: the signature path (exploded
    # index) and the verify path (row-local arrays) previously each ran
    # the tokenize+transform+array_distinct chain over the corpus —
    # those two subtrees differ in shape, so AQE exchange reuse cannot
    # collapse them (unlike the identical self-join sides below, which
    # it does). Freeze the arrays frame and derive the exploded index
    # from the materialized column instead. Exploding the materialized
    # __sh is safe from the InferFiltersFromGenerate double-evaluation
    # hazard (see shingle_frame) because the checkpoint barrier hides
    # the chain from the optimizer. Values are identical: explode of
    # array_remove(array_distinct(...), '') is exactly shingle_frame's
    # distinct non-empty shingle multiset.
    arr = freeze(
        shingle_arrays(_spread(docs, id_col), id_col, text_col, n), eager=False
    )
    sh = arr.select(F.col(id_col), F.explode("__sh").alias("shingle"))
    sig = minhash_signatures(sh, id_col, num_hashes)

    band_structs = minhash_band_structs(num_hashes, bands)
    banded = sig.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )
    left = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_val")
    right = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_val")
    # shuffle_hash pin (see _pair_jaccard): identical subplans share one
    # reused exchange — without it the static estimator broadcasts the
    # banded side and the signature aggregation runs twice.
    cand = (
        left.join(right.hint("shuffle_hash"), ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact-Jaccard verify CANDIDATES ONLY — this is what makes LSH the
    # scale path: work is O(|candidates|), never the inverted-index
    # blowup of all pairs sharing a hot shingle. The per-doc shingle
    # sets are the row-local arrays themselves (no collect_set — that
    # was a second full shuffle of the shingle index), so the verify is
    # two joins on the tiny candidate set + a JVM array_intersect. The
    # sets side is shuffle_hash-pinned too: |docs| rows of full shingle
    # arrays must never be a driver-side broadcast build.
    sets = arr.select(F.col(id_col), F.col("__sh").alias("__set"))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb"))
    verified = (
        cand.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .withColumn("__i", F.size(F.array_intersect("__sa", "__sb")))
        .select(
            "id_a",
            "id_b",
            (
                F.col("__i")
                / (F.size("__sa") + F.size("__sb") - F.col("__i"))
            ).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup an incoming batch against an EXISTING corpus — the
    production shape of near-dedup at 100 TB: the corpus is never
    re-self-joined; each ingest batch only band-joins its own
    signatures against the corpus signature store and verifies the
    (few) candidates, so per-batch work is O(|new| + |candidates|),
    independent of corpus self-pair structure.

    Returns one row per NEW doc: (id, matched_id, is_dup) where
    matched_id is the smallest corpus doc whose exact Jaccard with the
    new doc clears ``threshold`` (NULL when none — the doc is novel).

    Scale notes: at deployment scale the corpus side of the band join
    comes from a PERSISTED signature table written at corpus-build time
    (cf. operators/ivf_index.py for the same pattern on vectors),
    partitioned by hash(band_val) so each batch's probe shuffles only
    the batch; here both sides are computed inline from the fixture
    split so the DuckDB oracle can replay the arithmetic bit-for-bit.
    The verify step joins candidate pairs back to row-local shingle
    arrays (never a collect_set shuffle — see shingle_arrays)."""
    # one shingle-chain evaluation per side (see minhash_lsh_pairs):
    # the exploded signature index derives from the frozen arrays frame
    # the verify step reads, instead of re-running the chain
    arr_new = freeze(
        shingle_arrays(_spread(new_docs, id_col), id_col, text_col, n), eager=False
    )
    arr_old = freeze(
        shingle_arrays(_spread(corpus_docs, id_col), id_col, text_col, n), eager=False
    )
    sh_new = arr_new.select(F.col(id_col), F.explode("__sh").alias("shingle"))
    sh_old = arr_old.select(F.col(id_col), F.explode("__sh").alias("shingle"))
    band_structs = minhash_band_structs(num_hashes, bands)

    def banded(sh: DataFrame, alias: str) -> DataFrame:
        sig = minhash_signatures(sh, id_col, num_hashes)
        return sig.select(
            F.col(id_col).alias(alias), F.explode(band_structs).alias("b")
        ).select(
            alias,
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_val").alias("band_val"),
        )

    cand = (
        banded(sh_new, "new_id")
        .join(banded(sh_old, "old_id").hint("shuffle_hash"), ["band_idx", "band_val"])
        .select("new_id", "old_id")
        .distinct()
    )
    sa = arr_new.select(
        F.col(id_col).alias("new_id"), F.col("__sh").alias("__sa")
    )
    sb = arr_old.select(
        F.col(id_col).alias("old_id"), F.col("__sh").alias("__sb")
    )
    i_ = F.size(F.array_intersect("__sa", "__sb"))
    hits = (
        cand.join(sa.hint("shuffle_hash"), "new_id")
        .join(sb.hint("shuffle_hash"), "old_id")
        .withColumn(
            "jaccard", i_ / (F.size("__sa") + F.size("__sb") - i_)
        )
        .where(F.col("jaccard") >= threshold)
        .groupBy("new_id")
        .agg(F.min("old_id").alias("matched_id"))
    )
    return (
        new_docs.select(F.col(id_col))
        .join(hits.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            id_col,
            F.col("matched_id").cast("bigint"),
            F.col("matched_id").isNotNull().alias("is_dup"),
        )
    )


def simhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """``bits``-wide SimHash per doc from distinct-token portable hashes
    (≤60 bits usable: the portable md5 hash keeps 15 hex digits).

    CONTRACT: ``id_col`` must be unique (one row per document) — see
    ``shingle_arrays``; a repeated id double-weights its token votes."""
    # Per-doc distinct via array_distinct (no shuffle) — exact, because
    # every token of a document lives in that document's single row; see
    # the shingle_frame note. Matches the oracle's
    # ``SELECT DISTINCT doc_id, tok``.
    toks = _spread(docs, id_col).select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("tok")
    ).where(F.col("tok") != "")
    # One aggregation of LANE-PACKED bit counters — NOT an explode to
    # bits× rows, and NOT `bits` separate sum columns: three 16-bit
    # counters ride the LOW 48 bits of each 64-bit sum buffer
    # (lane-wise addition never carries across lanes while every lane
    # stays ≤ 65535, which holds because a lane counts DISTINCT tokens
    # of ONE document — a >65k distinct-token "document" is corpus
    # corruption, not data). Three lanes, not four: the packed sum runs
    # under ANSI mode (Spark 4 default), where a top lane at bits 48-63
    # would raise ARITHMETIC_OVERFLOW once a count crosses 32768 — with
    # the high 16 bits free, the accumulated sum is bounded by
    # 65535·(2^32+2^16+1) < 2^49, overflow-impossible. This cuts the
    # aggregate from `bits` buffers with branchy CASE inputs to bits/3
    # + 1 branch-free shift/or buffers — measured ~4x less agg cost
    # over the same map-side-combinable one-shuffle plan.
    # Vote rule equivalence: sum(±1) > 0  ⇔  2·count(bit=1) > n.
    # Both wide expressions below ship as ONE SQL string each (parsed
    # JVM-side) instead of per-term Column arithmetic: the Column form
    # paid one py4j round trip per operator node — ~1 s of pure driver
    # time per signature build at 48 bits (same tax as the centroid
    # literals, operators/similarity.lit_double_matrix). The parsed
    # trees are identical: "+" chains left-associate, CASE WHEN is
    # CaseWhen, the int literals type the same.
    h = toks.withColumn("__x32", portable_hash_mod("tok", 1 << bits))
    lanes, lw = 3, 16
    n_longs = (bits + lanes - 1) // lanes
    packs = []
    for j in range(n_longs):
        terms = " + ".join(
            f"((shiftright(__x32, {b}) & 1) << {lw * lane})"
            for lane in range(lanes)
            if (b := j * lanes + lane) < bits
        )
        packs.append(F.expr(f"sum({terms})").alias(f"__p{j}"))
    votes = h.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *packs)
    sig_sql = " + ".join(
        "(CASE WHEN 2 * (shiftright(__p{j}, {o}) & {m}) > __n "
        "THEN CAST({v} AS BIGINT) ELSE CAST(0 AS BIGINT) END)".format(
            j=b // lanes, o=lw * (b % lanes), m=(1 << lw) - 1, v=1 << b
        )
        for b in range(bits)
    )
    return votes.select(F.col(id_col), F.expr(sig_sql).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    Candidate generation is EXACT banding, not all-pairs: slicing the
    signature into ``max_hamming + 1`` bit-bands guarantees (pigeonhole)
    that any pair within the Hamming radius agrees on ≥1 whole band, so
    candidates come from an equi-self-join on (band_idx, band_val) and
    the result is identical to the O(n²) cross join it replaces.

    Scaling rule: exactness fixes the band COUNT at max_hamming + 1, so
    per-band bucket granularity (2^(bits/(H+1))) scales only through
    ``bits`` — grow the signature width with log2(n) (≤60) to keep
    buckets, and thus candidates, bounded (measured in round 5, README
    §Measured scale growth: 48-bit is linear to 50k docs, widens
    needed by 250k)."""
    sig = simhash_signatures(docs, id_col, text_col, bits=bits)
    n_bands = max_hamming + 1
    base, extra = divmod(bits, n_bands)
    bands, offset = [], 0
    for j in range(n_bands):
        width = base + (1 if j < extra else 0)
        bands.append(
            F.struct(
                F.lit(j).alias("band_idx"),
                F.expr(
                    f"shiftright(simhash, {offset}) & {(1 << width) - 1}"
                ).alias("band_val"),
            )
        )
        offset += width
    # The signature RIDES THROUGH the banding (like lsh_topk carries its
    # vectors), so the verify step needs no extra joins back to `sig` —
    # that shape recomputed the signature aggregation two more times.
    # The remaining self-join has identical subplans on both sides, so
    # Spark reuses the exchange (one signature computation total).
    banded = sig.select(
        F.col(id_col), "simhash", F.explode(F.array(*bands)).alias("b")
    ).select(
        id_col,
        "simhash",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band_idx", "band_val"
    )
    # Verify BEFORE deduplicating: bit_count on a candidate row is
    # nearly free, so filtering first means the dropDuplicates shuffle
    # carries only surviving (id_a, id_b, hamming) triples instead of
    # every band collision with both signatures attached. shuffle_hash
    # pin (see _pair_jaccard): keeps the two identical sides on one
    # reused exchange instead of a broadcast that would recompute the
    # signature aggregation and collect it on the driver.
    return (
        a.join(b.hint("shuffle_hash"), ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_candidate_prob(j: float, num_hashes: int, bands: int) -> float:
    """P(pair with Jaccard ``j`` becomes an LSH candidate) under
    ``bands`` bands of ``num_hashes // bands`` rows: 1 - (1 - j^r)^b
    (the banding S-curve)."""
    r = num_hashes // bands
    return 1.0 - (1.0 - j**r) ** bands


def recommended_minhash_params(
    threshold: float, max_hashes: int = 64
) -> tuple[int, int]:
    """(num_hashes, bands) whose S-curve inflection sits at ``threshold``.

    The banding S-curve 1-(1-J^r)^b crosses steeply near (1/b)^(1/r);
    picking (b, r) so that point matches the verify threshold minimizes
    wasted work on BOTH sides — few sub-threshold candidate pairs reach
    the exact-Jaccard verify (false positives cost verify joins), few
    above-threshold pairs are missed (false negatives cost recall).
    Searches b*r ≤ max_hashes exhaustively (≤ a few thousand combos —
    driver-side, trivial); ties prefer more total hashes (steeper
    curve). The twin of ``recommended_lsh_params`` for the sign-LSH
    family: signature width is the knob that must grow as corpora and
    thresholds change, never the band COUNT alone.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    best = None
    for b in range(1, max_hashes + 1):
        for r in range(1, max_hashes // b + 1):
            inflection = (1.0 / b) ** (1.0 / r)
            key = (abs(inflection - threshold), -b * r)
            if best is None or key < best[0]:
                best = (key, b * r, b)
    _, num_hashes, bands = best
    return num_hashes, bands


def minhash_signatures_rowlocal(
    arr: DataFrame, id_col: str = "doc_id", num_hashes: int = 16, keep: tuple = ()
) -> DataFrame:
    """Row-local MinHash signatures over a ``shingle_arrays`` frame:
    (id, __sh, mh0..mh{k-1}) with no explode, no groupBy, no shuffle.

    Measured ~5x slower per row than the explode+groupBy batch form
    (interpreted higher-order transforms vs whole-stage-codegen
    hash-agg) — so the batch dedup keeps ``minhash_signatures`` — but
    this form is STATE-free, which is what a streaming ingest filter
    needs: a streaming groupBy(doc_id) would hold every doc key in
    state forever and force update mode, forbidding the append-mode
    stream-static band join downstream. Signatures are bit-identical
    to the batch form (property: empty-shingle docs are excluded, as
    they produce no rows in the exploded form either).
    """
    # the SAME portable hash the batch signatures and every SQL oracle
    # embed — one definition, so the two paths cannot desynchronize
    hs = F.transform("__sh", lambda s: portable_hash_mod(s))
    out = arr.where(F.size("__sh") > 0).withColumn("__hs", hs)

    def perm(a: int, b: int):
        # closure factory, not lambda default-args: PySpark reads the
        # lambda's arity, and extra bound parameters would make it look
        # like the 3-argument (value, index, ...) form
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(HASH_PRIME)

    mins = [
        F.array_min(F.transform("__hs", perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return out.select(F.col(id_col), *[F.col(c) for c in keep], "__sh", *mins)


def stream_near_dedup_filter(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming near-dup ingest filter with BOUNDED state: a stream of
    incoming documents is checked against a static corpus via MinHash
    band collisions + exact-Jaccard verify, emitting
    (in_id, corpus_id, jaccard) for matches ≥ ``threshold``.

    State design for a continuous 100 TB ingest:

    - incoming signatures are ROW-LOCAL (``minhash_signatures_rowlocal``
      — no streaming groupBy, so no per-doc state and the stream-static
      band join stays append-mode);
    - a pair can collide in several bands, so emissions are deduplicated
      — but with ``dropDuplicatesWithinWatermark``, never the unbounded
      ``dropDuplicates``: pair state older than the ``watermark``
      horizon is EVICTED, so state size is bounded by the match rate ×
      horizon instead of growing with everything ever ingested. Band
      collisions for one document arrive in one micro-batch, far inside
      any sane horizon, so emitted results are unchanged; the only
      semantic delta is that a pair re-seen AFTER the horizon is
      re-emitted — correct for a filter (it still is a duplicate).

    ``ts_col`` names the incoming frame's event-time column; if None, an
    arrival timestamp is stamped (processing-time watermark — the right
    default for ingest, where "late" has no meaning)."""
    # static-corpus shingle chain evaluated ONCE (see minhash_lsh_pairs):
    # the signature path (exploded) and the verify-sets path (arrays)
    # are different-shaped subtrees runtime exchange reuse cannot
    # collapse; freeze the arrays frame (legal — the corpus side of a
    # stream-static join is a batch frame) and derive the explode from
    # the materialized column. Explode of array_remove(array_distinct)
    # is exactly shingle_frame's non-empty distinct shingle multiset.
    arr_c = freeze(
        shingle_arrays(_spread(corpus, id_col), id_col, text_col, n), eager=False
    )
    sig_c = minhash_signatures(
        arr_c.select(F.col(id_col), F.explode("__sh").alias("shingle")),
        id_col,
        num_hashes,
    )
    bandx = minhash_band_structs(num_hashes, bands)
    corpus_bands = sig_c.select(
        F.col(id_col).alias("corpus_id"), F.explode(bandx).alias("b")
    ).select(
        "corpus_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )
    corpus_sets = arr_c.select(
        F.col(id_col).alias("corpus_id"), F.col("__sh").alias("__cs")
    )

    if ts_col is None:
        ts_col = "__arrival_ts"
        incoming = incoming.withColumn(ts_col, F.current_timestamp())
    sig_in = minhash_signatures_rowlocal(
        shingle_arrays(incoming, id_col, text_col, n, keep=(ts_col,)),
        id_col,
        num_hashes,
        keep=(ts_col,),
    )
    in_bands = sig_in.select(
        F.col(id_col).alias("in_id"), F.col(ts_col), "__sh", F.explode(bandx).alias("b")
    ).select(
        "in_id",
        ts_col,
        "__sh",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )
    i_ = F.size(F.array_intersect("__sh", "__cs"))
    return (
        in_bands.join(corpus_bands, ["band_idx", "band_val"])
        .join(corpus_sets, "corpus_id")
        .withColumn("jaccard", i_ / (F.size("__sh") + F.size("__cs") - i_))
        .where(F.coalesce(F.col("jaccard"), F.lit(-1.0)) >= threshold)
        .select("in_id", "corpus_id", "jaccard", ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["in_id", "corpus_id"])
        .drop(ts_col)
    )
