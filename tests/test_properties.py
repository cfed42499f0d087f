"""Property-based tests (hypothesis) for the operators whose
correctness is a *property*, not a fixture match: dense-id assignment,
salted-join equivalence, and hex-decode reference parity."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pantasia_db_sync_spark.operators.surrogate import with_dense_ids
from pantasia_db_sync_spark.operators.skew import salted_join

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _row_number_ids(df, order_cols, start, group_col=None):
    """Reference numbering: one global row_number() window per group
    (single-partition, fine at test size), offset by ``start`` — a
    dict of per-group starts when ``group_col`` is given."""
    from pyspark.sql import Window

    w = Window.orderBy(*order_cols)
    if group_col is None:
        return df.withColumn("id", F.row_number().over(w) + F.lit(start - 1))
    seed = F.create_map(*[x for g, s in start.items() for x in (F.lit(g), F.lit(s))])
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return df.withColumn("id", F.row_number().over(w) + seed[F.col(group_col)] - 1)


def _id_rows(df, cols):
    return sorted(tuple(r[c] for c in ("id", *cols)) for r in df.collect())


#: three rows over eight buckets: most buckets hold no row (the offsets
#: array must still index every bucket a row lands in)
_SPARSE = [(0, 1), (7, -3), (50, 9)]


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.integers(-1000, 1000)),
        min_size=1,
        max_size=200,
        unique=True,
    ),
    start=st.integers(1, 10_000),
    parts=st.sampled_from([None, 3, 8]),
    ranged=st.booleans(),
)
@example(rows=_SPARSE, start=1, parts=8, ranged=False)
@example(rows=_SPARSE, start=1, parts=8, ranged=True)
@example(rows=_SPARSE, start=9_000, parts=8, ranged=True)
def test_dense_ids_are_dense_and_ordered(spark, rows, start, parts, ranged):
    """ids are exactly start..start+n-1 with no gaps, and id order
    equals the order_cols order — for ANY input and ANY seed: identical
    to a row_number() reference under both strategies (``checkpoint``
    and ``sample``), with sampled range buckets or caller-supplied
    ``first_col_range`` ones, including buckets that hold no rows."""
    df = spark.createDataFrame(rows, "k int, v int")
    want = _id_rows(_row_number_ids(df, ["k", "v"], start), ["k", "v"])
    assert [r[0] for r in want] == list(range(start, start + len(rows)))
    kw = dict(
        id_col="id", start=start, num_partitions=parts,
        first_col_range=(0, 50) if ranged else None,
    )
    totals: list = []
    got = with_dense_ids(df, ["k", "v"], totals=totals, **kw)
    assert _id_rows(got, ["k", "v"]) == want
    assert totals == [len(rows)]
    sampled = with_dense_ids(df, ["k", "v"], strategy="sample", **kw)
    assert _id_rows(sampled, ["k", "v"]) == want


#: group True only in the low keys: with range buckets over [0, 50] it
#: is missing from every upper bucket
_SKEWED_GROUPS = [(k, k, k < 10) for k in range(0, 50, 2)]


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.integers(-1000, 1000),
                  st.booleans()),
        min_size=1,
        max_size=200,
        unique_by=lambda r: (r[0], r[1]),
    ),
    start_a=st.integers(1, 10_000),
    start_b=st.integers(1, 10_000),
    parts=st.sampled_from([None, 4, 8]),
    ranged=st.booleans(),
)
@example(rows=_SKEWED_GROUPS, start_a=1, start_b=500, parts=4, ranged=True)
@example(rows=_SKEWED_GROUPS, start_a=7_000, start_b=1, parts=8, ranged=False)
def test_dense_ids_grouped_equals_per_group(
    spark, rows, start_a, start_b, parts, ranged
):
    """with_dense_ids_grouped is OUTPUT-IDENTICAL to one with_dense_ids
    call per group over the filtered subsets, and to a per-group
    row_number() reference, for any input, any group split (including
    one-sided, and groups missing from some buckets), and any pair of
    seeds — the contract that lets the sync pipeline fuse its
    mint/transfer numberings into one checkpoint."""
    from pantasia_db_sync_spark.operators.surrogate import (
        with_dense_ids_grouped,
    )

    df = spark.createDataFrame(rows, "k int, v int, g boolean")
    starts = {True: start_a, False: start_b}
    rng = (0, 50) if ranged else None
    totals: dict = {}
    got = sorted(
        (r["g"], r["id"], r["k"], r["v"])
        for r in with_dense_ids_grouped(
            df, ["k", "v"], "g", starts, id_col="id", num_partitions=parts,
            first_col_range=rng, totals=totals,
        ).collect()
    )
    want = []
    for gval in (True, False):
        sub = df.where(F.col("g") == gval)
        want.extend(
            (gval, r["id"], r["k"], r["v"])
            for r in with_dense_ids(
                sub, ["k", "v"], id_col="id", start=starts[gval],
                num_partitions=parts, first_col_range=rng,
            ).collect()
        )
    assert got == sorted(want)
    ref = _row_number_ids(df, ["k", "v"], starts, group_col="g")
    assert got == sorted((r["g"], r["id"], r["k"], r["v"]) for r in ref.collect())
    assert totals == {g: sum(r[2] == g for r in rows) for g in (True, False)}


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.integers(-1000, 1000),
                  st.booleans()),
        min_size=1,
        max_size=200,
        unique_by=lambda r: (r[0], r[1]),
    ),
    start=st.integers(1, 10_000),
    parts=st.sampled_from([None, 3, 8]),
    ranged=st.booleans(),
    cuts=st.lists(st.integers(0, 50), max_size=3, unique=True),
)
@example(rows=_SKEWED_GROUPS, start=1, parts=8, ranged=True, cuts=[4, 30])
def test_dense_ids_split_counts_per_period(spark, rows, start, parts, ranged, cuts):
    """``split`` by a period index that never decreases along the order
    leaves every id as the row_number() reference has it and reports
    the rows numbered per period, for both numberings — the contract
    that lets the sync number a batch of periods once and take each
    period's stats from the freeze. The two checkpoints belong to the
    enclosing scope."""
    from pantasia_db_sync_spark.operators.ckpt import scope
    from pantasia_db_sync_spark.operators.surrogate import (
        with_dense_ids_grouped,
    )

    cuts = sorted(cuts)
    k = len(cuts) + 1

    def period(key):
        return sum(key > c for c in cuts)

    p = F.lit(0)
    for c in cuts:
        p = p + F.when(F.col("k") > c, 1).otherwise(0)
    df = spark.createDataFrame(rows, "k int, v int, g boolean").withColumn("p", p)
    kw = dict(
        id_col="id", num_partitions=parts, split=("p", k),
        first_col_range=(0, 50) if ranged else None,
    )
    with scope() as s:
        totals: list = []
        got = with_dense_ids(df, ["k", "v"], start=start, totals=totals, **kw)
        want = _id_rows(_row_number_ids(df, ["k", "v"], start), ["k", "v"])
        assert _id_rows(got, ["k", "v"]) == want
        assert totals == [sum(period(r[0]) == i for r in rows) for i in range(k)]

        starts = {True: start, False: 1}
        grouped: dict = {}
        got_g = with_dense_ids_grouped(
            df, ["k", "v"], "g", starts, totals=grouped, **kw
        )
        ref = _row_number_ids(df, ["k", "v"], starts, group_col="g")
        assert sorted((r["g"], r["id"], r["k"], r["v"]) for r in got_g.collect()) == sorted(
            (r["g"], r["id"], r["k"], r["v"]) for r in ref.collect()
        )
        assert grouped == {
            g: [sum(period(r[0]) == i and r[2] == g for r in rows) for i in range(k)]
            for g in (True, False)
        }
        assert len(s) == 2


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.integers(-1000, 1000)),
        min_size=1,
        max_size=200,
        unique=True,
    ),
    start=st.integers(1, 10_000),
)
def test_dense_ids_strategies_agree(spark, rows, start):
    """Both strategies produce the identical id assignment: 'sample'
    (value-derived buckets — both the numeric percentile fast path on a
    single int column and the composite collect-sample fallback) must
    match the default 'checkpoint' bit-for-bit."""
    df = spark.createDataFrame(rows, "k int, v int")
    expected = sorted(
        (r["id"], r["k"], r["v"])
        for r in with_dense_ids(df, ["k", "v"], id_col="id", start=start).collect()
    )
    sampled = sorted(
        (r["id"], r["k"], r["v"])
        for r in with_dense_ids(
            df, ["k", "v"], id_col="id", start=start, strategy="sample"
        ).collect()
    )
    assert sampled == expected
    # composite fallback: make the first order column a string so the
    # percentile fast path is skipped
    df_s = df.withColumn("ks", F.format_string("%03d", F.col("k")))
    sampled_str = sorted(
        (r["id"], int(r["ks"]), r["v"])
        for r in with_dense_ids(
            df_s, ["ks", "v"], id_col="id", start=start, strategy="sample"
        ).collect()
    )
    assert sampled_str == expected


@settings(**SETTINGS)
@given(
    probe=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10_000)),
        min_size=0,
        max_size=200,
        unique_by=lambda t: t[1],
    ),
    build=st.lists(
        st.tuples(st.integers(0, 3), st.text("ab", min_size=1, max_size=3)),
        min_size=0,
        max_size=10,
        unique_by=lambda t: t[0],
    ),
    salt=st.integers(1, 16),
)
def test_salted_join_equals_plain_join(spark, probe, build, salt):
    p = spark.createDataFrame(probe, "k int, rid int") if probe else None
    b = spark.createDataFrame(build, "k int, tag string") if build else None
    if p is None or b is None:
        return
    plain = sorted(
        (r["k"], r["rid"], r["tag"]) for r in p.join(b, "k").collect()
    )
    salted = sorted(
        (r["k"], r["rid"], r["tag"])
        for r in salted_join(p, b, on=["k"], scatter_col="rid", salt_parts=salt).collect()
    )
    assert salted == plain


def _reference_hex_to_string(h: str) -> str:
    """Faithful mirror of the reference's hex_to_string
    (/root/reference/app/misc.py:15-23) minus the SQL-quoting hack:
    decode hex → UTF-8; on failure return the hex; NUL → space."""
    try:
        s = bytes.fromhex(h).decode("utf-8")
    except (ValueError, UnicodeDecodeError):
        return h
    return s.replace("\x00", " ")


@settings(**SETTINGS)
@given(
    blobs=st.lists(st.binary(min_size=0, max_size=32), min_size=1, max_size=50)
)
def test_hex_to_string_matches_reference(spark, blobs):
    from pantasia_db_sync_spark.functions.hexstr import hex_to_string

    hexes = [(b.hex(),) for b in blobs]
    df = spark.createDataFrame(hexes, "h string")
    out = {
        r["h"]: r["out"]
        for r in df.select("h", hex_to_string("h").alias("out")).collect()
    }
    for (h,) in hexes:
        assert out[h] == _reference_hex_to_string(h), h


@settings(**SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1, max_size=60, unique=True,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(-9, 9)),
        min_size=0, max_size=60, unique_by=lambda t: (t[0], t[1]),
    ),
)
def test_asof_join_matches_naive(spark, left, right):
    """For each left row: the right row with max ts <= left ts (per key),
    vs a pure-Python nested-loop oracle."""
    from pantasia_db_sync_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(left, "k int, ts int")
    rdf = (
        spark.createDataFrame(right, "k int, ts int, val int")
        if right
        else spark.createDataFrame([], "k int, ts int, val int")
    )
    out = asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="ts").collect()
    got = {(r["k"], r["ts"]): (r["asof_ts"], r["val"]) for r in out}
    assert len(got) == len(left)
    for k, ts in left:
        cands = [(rts, v) for rk, rts, v in right if rk == k and rts <= ts]
        want = max(cands) if cands else (None, None)
        assert got[(k, ts)] == want, ((k, ts), got[(k, ts)], want)


@settings(**SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1, max_size=60, unique=True,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(-9, 9)),
        min_size=0, max_size=60, unique_by=lambda t: (t[0], t[1]),
    ),
)
def test_asof_forward_and_nearest_match_naive(spark, left, right):
    """forward = min ts >= left ts; nearest = closer of backward/forward
    with ties to backward — vs a pure-Python nested-loop oracle."""
    from pantasia_db_sync_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(left, "k int, ts int")
    rdf = (
        spark.createDataFrame(right, "k int, ts int, val int")
        if right
        else spark.createDataFrame([], "k int, ts int, val int")
    )
    fwd = {
        (r["k"], r["ts"]): (r["asof_ts"], r["val"])
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts", direction="forward"
        ).collect()
    }
    near = {
        (r["k"], r["ts"]): (r["asof_ts"], r["val"])
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts", direction="nearest"
        ).collect()
    }
    for k, ts in left:
        later = [(rts, v) for rk, rts, v in right if rk == k and rts >= ts]
        want_f = min(later) if later else (None, None)
        assert fwd[(k, ts)] == want_f, ("fwd", (k, ts), fwd[(k, ts)], want_f)
        earlier = [(rts, v) for rk, rts, v in right if rk == k and rts <= ts]
        want_b = max(earlier) if earlier else (None, None)
        if want_b[0] is None:
            want_n = want_f
        elif want_f[0] is None:
            want_n = want_b
        else:
            want_n = want_b if (ts - want_b[0]) <= (want_f[0] - ts) else want_f
        assert near[(k, ts)] == want_n, ("near", (k, ts), near[(k, ts)], want_n)


@settings(**SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 60)),
        min_size=1, max_size=40, unique=True,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 60)),
        min_size=1, max_size=40, unique=True,
    ),
    band=st.integers(1, 15),  # band must be positive (operator contract)
)
def test_band_join_matches_naive(spark, left, right, band):
    """Bucketed band join ≡ the nested-loop |a-b| <= band predicate."""
    from pantasia_db_sync_spark.operators.rangejoin import band_join

    ldf = spark.createDataFrame([(k, float(a)) for k, a in left], "k int, a double")
    rdf = spark.createDataFrame([(k, float(b)) for k, b in right], "k int, b double")
    out = band_join(ldf, rdf, "a", "b", float(band), extra_keys=["k"])
    got = sorted((r["k"], r["a"], r["b"]) for r in out.collect())
    want = sorted(
        (lk, float(a), float(b))
        for lk, a in left
        for rk, b in right
        if lk == rk and abs(a - b) <= band
    )
    assert got == want


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(-5, 5).map(float), min_size=8, max_size=8
        ),
        min_size=2,
        max_size=30,
    ),
    threshold=st.floats(0.1, 0.9),
)
def test_banded_cosine_pairs_subset_of_allpairs(spark, vecs, threshold):
    """Banded near-dup output is always a subset of the exact all-pairs
    output, with identical cosine values on every emitted pair — i.e.
    banding only affects recall, never correctness of what it emits."""
    from pantasia_db_sync_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_allpairs,
    )

    rows = [
        (i, v) for i, v in enumerate(vecs) if any(x != 0.0 for x in v)
    ]
    if len(rows) < 2:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    banded = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_near_dup_pairs(
            df, threshold=threshold, dim=8, bits=8, n_bands=4
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_near_dup_pairs_allpairs(df, threshold=threshold).collect()
    }
    assert set(banded) <= set(exact)
    for pair, cos in banded.items():
        assert cos == exact[pair], pair


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(st.integers(-5, 5).map(float), min_size=8, max_size=8),
        min_size=2,
        max_size=20,
    ),
    threshold=st.floats(0.1, 0.9),
)
def test_banded_cosine_auto_params_subset_of_allpairs(spark, vecs, threshold):
    """The AUTO banding path (bits/n_bands derived from the corpus-size
    probe via recommended_lsh_params — the default when the caller pins
    nothing) keeps the same contract as explicit banding: output ⊆
    all-pairs with identical cosines."""
    from pantasia_db_sync_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_allpairs,
    )

    rows = [(i, v) for i, v in enumerate(vecs) if any(x != 0.0 for x in v)]
    if len(rows) < 2:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    banded = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_near_dup_pairs(df, threshold=threshold, dim=8).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_near_dup_pairs_allpairs(df, threshold=threshold).collect()
    }
    assert set(banded) <= set(exact)
    for pair, cos in banded.items():
        assert cos == exact[pair], pair


def test_lsh_auto_param_errors():
    import pytest as _pytest

    from pantasia_db_sync_spark.operators.dedup import minhash_lsh_pairs
    from pantasia_db_sync_spark.operators.similarity import cosine_near_dup_pairs

    with _pytest.raises(ValueError, match="both"):
        cosine_near_dup_pairs(None, bits=32)
    with _pytest.raises(ValueError, match="both"):
        minhash_lsh_pairs(None, "doc_id", "text", num_hashes=16)


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.text(alphabet="abc ", min_size=3, max_size=20),
        min_size=2,
        max_size=12,
    ),
    max_df=st.integers(1, 6),
    threshold=st.floats(0.05, 0.9),
)
def test_df_capped_jaccard_subset_of_uncapped(spark, docs, max_df, threshold):
    """The hot-shingle df cap only removes pairs / lowers jaccard —
    capped output ⊆ uncapped, and per-pair jaccard never increases."""
    from pantasia_db_sync_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=threshold, max_df=max_df
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    assert set(capped) <= set(uncapped)
    for pair, j in capped.items():
        assert j <= uncapped[pair] + 1e-12, pair


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.text(alphabet="abc ", min_size=3, max_size=20),
        min_size=2,
        max_size=12,
    ),
    threshold=st.floats(0.05, 0.9),
)
def test_prefix_filter_equals_full_inverted_index(spark, docs, threshold):
    """PPJoin prefix filtering is EXACT: for any corpus and threshold,
    the prefix-joined + verified pairs equal the full inverted-index
    pairs — same pair set, same jaccard values. This re-proves the
    prefix-cut completeness lemma (|x| − ⌈τ|x|⌉ + 1 rarest tokens)
    empirically on arbitrary token distributions, including the
    all-docs-identical and shared-hot-shingle corpora hypothesis
    likes to generate from this alphabet."""
    from pantasia_db_sync_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    via_prefix = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    assert set(via_prefix) == set(full)
    for pair, j in via_prefix.items():
        assert abs(j - full[pair]) < 1e-12, pair


def test_prefix_filter_hot_shingle_prefix_stays_cold(spark):
    """The skew claim, verified structurally: on a corpus where every
    doc shares one hot boilerplate sentence (the adversarial shape
    that forces max_df guarding on the full index), the hot shingles
    appear in (almost) no prefixes, so the candidate join's biggest
    key group stays O(1) instead of O(n). The exclusion holds exactly
    when a doc's RARE shingles can fill its prefix (#rare ≥
    |x| − ⌈τ|x|⌉ + 1) — these docs sit right at that bound: 8 hot
    shingles + a 10-token unique tail → 18 shingles, prefix length
    10, 10 rare shingles."""
    from pantasia_db_sync_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_arrays,
    )

    hot = "the quick brown fox jumps over the lazy dog again"
    tail = " ".join(f"u{k}x{{i}}" for k in range(10))
    docs = [(i, f"{hot} " + tail.format(i=i)) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # functional: exact result, no guard knob needed
    pairs = prefix_filter_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5
    ).collect()
    assert pairs == []  # unique tails push every pair below 0.5

    # structural: rebuild the prefix frame exactly as the operator does
    # and assert the hot shingles (df == 60) never enter any prefix
    from pyspark.sql import Window

    arred = shingle_arrays(df, "doc_id", "text", 3)
    exploded = arred.select(
        F.col("doc_id"),
        F.explode("__sh").alias("shingle"),
        F.size("__sh").alias("__n"),
    )
    from pantasia_db_sync_spark.operators.dedup import _prefix_len_expr

    dfc = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    plen = _prefix_len_expr(0.5, F.col("__n"))
    w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    prefix = (
        exploded.join(dfc, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= plen)
    )
    max_prefix_df = prefix.agg(F.max("__df")).collect()[0][0]
    assert max_prefix_df < 60, max_prefix_df  # hot shingles excluded


def test_prefix_len_never_below_exact_bound(spark):
    """ADVICE r8 regression: the PPJoin prefix length must equal
    |x| − ⌈τ·|x|⌉ + 1 under EXACT (rational) arithmetic for every
    (τ, n) — the unguarded double product rounds ⌈0.55·20⌉ up to 12
    and shortens the prefix by one, which can drop exactly-at-threshold
    pairs. Oracle: Fraction-based ceil over the DECIMAL the caller
    wrote, evaluated for every n ≤ 200 and a grid of thresholds
    including exact-integer-product and exact-binary cases."""
    from fractions import Fraction
    from math import ceil

    from pantasia_db_sync_spark.operators.dedup import _prefix_len_expr

    thresholds = [
        Fraction(55, 100),  # the reproduced 0.55*20 case
        Fraction(1, 2),  # exact in binary: must stay unchanged
        Fraction(3, 10),
        Fraction(7, 10),
        Fraction(85, 100),
        Fraction(9, 10),
        Fraction(1, 3),  # non-terminating either way
        Fraction(25, 100),  # exact in binary
    ]
    ns = spark.range(1, 201).select(F.col("id").cast("int").alias("__n"))
    for frac in thresholds:
        tau = float(frac)  # what a caller actually passes
        got = {
            r["__n"]: r["plen"]
            for r in ns.select(
                "__n", _prefix_len_expr(tau, F.col("__n")).alias("plen")
            ).collect()
        }
        for n in range(1, 201):
            want = n - ceil(frac * n) + 1
            assert got[n] == want, (tau, n, got[n], want)


@settings(**SETTINGS)
@given(
    n_nodes=st.integers(1, 25),
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=40
    ),
)
def test_connected_components_matches_union_find(spark, n_nodes, edges):
    """Iterative min-label propagation ≡ a driver-side union-find, for
    ANY graph (self-loops, duplicate edges, out-of-node-set edges
    filtered)."""
    from pantasia_db_sync_spark.operators.components import connected_components

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes]
    nodes_df = spark.createDataFrame(
        [(i,) for i in range(n_nodes)], "node long"
    )
    edges_df = (
        spark.createDataFrame(edges, "src long, dst long")
        if edges
        else spark.createDataFrame([], "src long, dst long")
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges_df, nodes_df).collect()
    }

    _check_union_find(spark, n_nodes, edges, got)


def _check_union_find(spark, n_nodes, edges, got):
    parent = list(range(n_nodes))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for i in range(n_nodes):
        root = find(i)
        comp_min = min(j for j in range(n_nodes) if find(j) == root)
        want[i] = comp_min
    assert got == want


@settings(**SETTINGS)
@given(n=st.integers(2, 10**12), target=st.integers(8, 256))
def test_recommended_lsh_params_invariants(n, target):
    """Band sizing always yields a valid, long-packable signature whose
    per-band bucket count keeps expected bucket size ≤ ~target."""
    from pantasia_db_sync_spark.operators.similarity import recommended_lsh_params

    bits, n_bands = recommended_lsh_params(n, target_bucket=target)
    assert 2 <= n_bands <= 8
    assert bits % n_bands == 0
    assert bits <= 60  # portable-hash width and < 63-bit signed long
    bpb = bits // n_bands
    # bucket count per band covers n/target (up to the bit cap)
    assert (1 << bpb) >= min(n / target, 1 << (60 // 2)) / 2


def test_connected_components_raises_when_diameter_exceeds_max_iter(spark):
    """A long chain must either converge or raise — never return a
    silently split component (which would keep duplicate docs)."""
    import pytest as _pytest

    from pantasia_db_sync_spark.operators.components import connected_components

    n = 8
    chain = [(i, i + 1) for i in range(n - 1)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(chain, "src long, dst long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iter=2)
    # and with enough rounds the same chain collapses to component 0
    out = connected_components(edges, nodes, max_iter=n + 1)
    assert {r["component_id"] for r in out.collect()} == {0}


@settings(**SETTINGS)
@given(
    n_nodes=st.integers(1, 25),
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=40
    ),
)
def test_logn_components_matches_union_find(spark, n_nodes, edges):
    """Large-star/small-star ≡ union-find, for ANY graph."""
    from pantasia_db_sync_spark.operators.components import (
        connected_components_logn,
    )

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes]
    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)], "node long")
    edges_df = (
        spark.createDataFrame(edges, "src long, dst long")
        if edges
        else spark.createDataFrame([], "src long, dst long")
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components_logn(edges_df, nodes_df).collect()
    }
    _check_union_find(spark, n_nodes, edges, got)


def test_logn_components_handles_deep_chains(spark):
    """A 64-node chain needs 63 propagation rounds but only O(log n)
    star rounds — the variant exists exactly for this shape."""
    from pantasia_db_sync_spark.operators.components import (
        connected_components_logn,
    )

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = connected_components_logn(edges, nodes, max_iter=12)
    assert {r["component_id"] for r in out.collect()} == {0}


def test_kmeans_ivf_recall_floor(spark):
    """Trained-k-means IVF (one-cell probe of k=8) must keep ≥50% of
    the exact brute-force top-5 pairs on the fixture embeddings —
    measured 0.70 at sf0.01 / 0.76 at sf0.1; the floor guards against a
    degenerate clustering (e.g. all vectors collapsing into one cell
    would pass recall but fail the cell-count assertion, and a broken
    assignment would crater recall)."""
    import os

    from pantasia_db_sync_spark.operators.similarity import kmeans_assign, kmeans_fit
    from pantasia_db_sync_spark.plans import QUERIES
    import os

    from pantasia_db_sync_spark.sources.catalog import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.exists(os.path.join(sf, "embeddings.parquet")):
        sf = "/root/testdata/sf0.01"
    bf = {
        (r["q_id"], r["cand_id"])
        for r in QUERIES["ann_bruteforce_topk"](spark, sf).collect()
    }
    ivf = {
        (r["q_id"], r["cand_id"])
        for r in QUERIES["ann_ivf_kmeans_topk"](spark, sf).collect()
    }
    assert len(bf & ivf) / len(bf) >= 0.5

    e = load_table(spark, sf, "embeddings")
    cells = {
        r["cell"]
        for r in kmeans_assign(e, kmeans_fit(e, k=8, iters=3)).select("cell").distinct().collect()
    }
    assert len(cells) >= 4, f"degenerate clustering: only {len(cells)} live cells"


# spec example: 2x2 24-bit BMP written out BYTE BY BYTE from the public
# format description (independent of encode_bmp) — pixels bottom-up:
# row0 = blue, green; row1 = red, white; rows padded to 4 bytes.
_SPEC_BMP_2X2 = bytes(
    [
        0x42, 0x4D,              # 'BM'
        0x46, 0x00, 0x00, 0x00,  # file size 70
        0x00, 0x00, 0x00, 0x00,  # reserved
        0x36, 0x00, 0x00, 0x00,  # raster offset 54
        0x28, 0x00, 0x00, 0x00,  # info header size 40
        0x02, 0x00, 0x00, 0x00,  # width 2
        0x02, 0x00, 0x00, 0x00,  # height 2
        0x01, 0x00,              # planes
        0x18, 0x00,              # 24 bpp
        0x00, 0x00, 0x00, 0x00,  # no compression
        0x10, 0x00, 0x00, 0x00,  # raster size 16
        0x13, 0x0B, 0x00, 0x00,  # 2835 ppm
        0x13, 0x0B, 0x00, 0x00,
        0x00, 0x00, 0x00, 0x00,  # palette counts
        0x00, 0x00, 0x00, 0x00,
        # raster (B,G,R per pixel):
        0xFF, 0x00, 0x00,  0x00, 0xFF, 0x00,  0x00, 0x00,  # blue, green, pad
        0x00, 0x00, 0xFF,  0xFF, 0xFF, 0xFF,  0x00, 0x00,  # red, white, pad
    ]
)


def test_jpeg_solid_roundtrip_bit_exact():
    """encode_jpeg_gray -> decode_jpeg is BIT-EXACT for solid images
    (all-ones quant tables make a solid block DC-only; the decoder's
    DC-only IDCT fast path returns the exact constant): every width
    1..21 x height 1..13 (partial edge blocks, multi-block rasters,
    DC categories over the full level range)."""
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    for w in range(1, 22):
        for h in range(1, 14):
            g = (w * 37 + h * 11) % 256
            d = decode_jpeg(encode_jpeg_gray(w, h, g))
            assert (d["width"], d["height"], d["channels"]) == (w, h, 1)
            assert d["mean_gray"] == float(g), (w, h, g, d["mean_gray"])


def test_jpeg_single_ac_coefficient_matches_independent_idct():
    """Entropy decoder + dequant + de-zigzag + IDCT against
    INDEPENDENTLY computed cosines: a hand-assembled one-block JPEG
    with DC=0 and a single AC coefficient a at zigzag index 1 (natural
    (u=1, v=0)) must decode to f(x, y) = a/(4*sqrt(2)) *
    cos((2x+1)pi/16) + 128 — constant down each column, strictly
    decreasing along x. Catches transposed/mis-scaled IDCTs and
    zigzag/extend bugs the solid round-trip cannot see (the expected
    pixels here are computed with math.cos in this test, not with the
    operator's basis table)."""
    import math
    import struct as _struct

    from pantasia_db_sync_spark.operators.multimodal import (
        _AC_CODES,
        _BitWriter,
        _DC_CODES,
        _dht_segment,
        _AC_SYMS,
        _DC_SYMS,
        decode_jpeg,
    )

    a = 100  # AC coefficient value (size 7)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc0" + _struct.pack(">H", 11) + b"\x08"
        + _struct.pack(">HH", 8, 8) + b"\x01" + bytes([1, 0x11, 0])
    )
    out += _dht_segment(0, 0, _DC_SYMS, 4)
    out += _dht_segment(1, 0, sorted(_AC_SYMS), 8)
    out += b"\xff\xda" + _struct.pack(">H", 8) + b"\x01" + bytes(
        [1, 0x00, 0, 63, 0]
    )
    w = _BitWriter()
    code, ln = _DC_CODES[0]          # DC diff category 0 (DC = 0)
    w.put(code, ln)
    size = a.bit_length()
    code, ln = _AC_CODES[size]       # run 0, size -> symbol 0x0s
    w.put(code, ln)
    w.put(a, size)                   # positive value: raw bits
    code, ln = _AC_CODES[0x00]       # EOB
    w.put(code, ln)
    out += w.flush() + b"\xff\xd9"

    d = decode_jpeg(bytes(out))
    stride = d["plane_stride"]
    plane = d["planes"][0]
    for x in range(8):
        expected = a / (4.0 * math.sqrt(2.0)) * math.cos(
            (2 * x + 1) * math.pi / 16.0
        ) + 128.0
        expected = min(255.0, max(0.0, expected))
        for y in range(8):
            got = plane[y * stride + x]
            assert abs(got - expected) < 1e-9, (x, y, got, expected)
    row0 = [plane[x] for x in range(8)]
    assert all(row0[i] > row0[i + 1] for i in range(7)), row0


def test_jpeg_three_component_interleaved_solid():
    """Interleaved 3-component scan: a hand-assembled solid R=G=B=v
    color JPEG (Y=v, Cb=Cr=128 exactly under BT.601, so the chroma DCs
    are zero) decodes with mean_y == v and both chroma means == 128 —
    pins the per-MCU component interleave and per-component DC
    prediction."""
    import struct as _struct

    from pantasia_db_sync_spark.operators.multimodal import (
        _AC_CODES,
        _BitWriter,
        _DC_CODES,
        _dht_segment,
        _AC_SYMS,
        _DC_SYMS,
        decode_jpeg,
    )

    v = 200
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc0" + _struct.pack(">H", 17) + b"\x08"
        + _struct.pack(">HH", 10, 12) + b"\x03"
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
    )
    out += _dht_segment(0, 0, _DC_SYMS, 4)
    out += _dht_segment(1, 0, sorted(_AC_SYMS), 8)
    out += b"\xff\xda" + _struct.pack(">H", 12) + b"\x03" + bytes(
        [1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]
    )
    w = _BitWriter()
    dc_y = round(8.0 * (v - 128))
    preds = [0, 0, 0]
    dcs = [dc_y, 0, 0]
    for _ in range(2 * 2):  # 12x10 -> 2x2 blocks per component
        for ci in range(3):
            diff = dcs[ci] - preds[ci]
            preds[ci] = dcs[ci]
            t = abs(diff).bit_length()
            code, ln = _DC_CODES[t]
            w.put(code, ln)
            if t:
                bits = diff if diff > 0 else diff + (1 << t) - 1
                w.put(bits & ((1 << t) - 1), t)
            code, ln = _AC_CODES[0x00]
            w.put(code, ln)
    out += w.flush() + b"\xff\xd9"

    d = decode_jpeg(bytes(out))
    assert (d["width"], d["height"], d["channels"]) == (12, 10, 3)
    assert d["mean_y"] == float(v)
    assert d["mean_cb"] == 128.0 and d["mean_cr"] == 128.0


def test_jpeg_rejects_unsupported_profiles():
    """Malformed-progressive, extended-sequential (SOF1),
    over-subsampled, and truncated streams raise ValueError — honest
    partial support, never a silent wrong decode."""
    import struct as _struct

    import pytest

    from pantasia_db_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(8, 8, 10)
    # SOF2 is a REAL profile since round 13 — but a baseline scan
    # script under an SOF2 header is malformed (full-band DC scan) and
    # must still raise, never silently misdecode
    with pytest.raises(ValueError, match="Se = 0"):
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # extended-sequential (SOF1) stays honestly unsupported
    with pytest.raises(ValueError, match="SOF0"):
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc1", 1))
    with pytest.raises(ValueError):
        decode_jpeg(good[:-20])
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"BM no jpeg here.....")
    # 3x1 subsampling in SOF0 -> unsupported (factors <= 2 only; 2x1
    # et al. are REAL profiles since the round-12 MCU walk)
    bad = bytearray(good)
    i = bad.find(b"\xff\xc0")
    bad[i + 11] = 0x31  # sampling byte: comp id at i+10, sampling i+11
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg(bytes(bad))


def test_jpeg_420_mcu_interleave_spec_bytes():
    """The §A.2 4:2:0 MCU walk against a HAND-ASSEMBLED stream whose
    four Y blocks per MCU carry DISTINCT DC levels: a 32x16 image (2
    MCUs across, 1 down) with Y quadrant levels (10,20,30,40) in MCU 0
    and (50,60,70,80) in MCU 1, Cb=100, Cr=200 everywhere. Any wrong
    interleave — column-major Y blocks, chroma before the 4th Y block,
    MCUs in column order — lands a level in the wrong quadrant; DC
    prediction must also chain CORRECTLY across blocks of the same
    component (the diffs here are all nonzero)."""
    import struct as _struct

    from pantasia_db_sync_spark.operators.multimodal import (
        _AC_CODES,
        _BitWriter,
        _DC_CODES,
        _dht_segment,
        _AC_SYMS,
        _DC_SYMS,
        decode_jpeg,
    )

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc0" + _struct.pack(">H", 17) + b"\x08"
        + _struct.pack(">HH", 16, 32) + b"\x03"
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
    )
    out += _dht_segment(0, 0, _DC_SYMS, 4)
    out += _dht_segment(1, 0, sorted(_AC_SYMS), 8)
    out += b"\xff\xda" + _struct.pack(">H", 12) + b"\x03" + bytes(
        [1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]
    )
    w = _BitWriter()

    def put_block(level: int, pred: int) -> int:
        dc = round(8.0 * (level - 128))
        diff = dc - pred
        t = abs(diff).bit_length()
        code, ln = _DC_CODES[t]
        w.put(code, ln)
        if t:
            bits = diff if diff > 0 else diff + (1 << t) - 1
            w.put(bits & ((1 << t) - 1), t)
        code, ln = _AC_CODES[0x00]
        w.put(code, ln)
        return dc

    y_levels = [[10, 20, 30, 40], [50, 60, 70, 80]]  # per-MCU raster TL,TR,BL,BR
    preds = [0, 0, 0]
    for mcu in range(2):
        for lvl in y_levels[mcu]:
            preds[0] = put_block(lvl, preds[0])
        preds[1] = put_block(100, preds[1])
        preds[2] = put_block(200, preds[2])
    out += w.flush() + b"\xff\xd9"

    d = decode_jpeg(bytes(out))
    assert (d["width"], d["height"], d["channels"]) == (32, 16, 3)
    yplane, ystride = d["planes"][0], d["plane_strides"][0]

    def quadrant_mean(x0: int, y0: int) -> float:
        tot = 0.0
        for yy in range(y0, y0 + 8):
            tot += sum(yplane[yy * ystride + x0 : yy * ystride + x0 + 8])
        return tot / 64.0

    # MCU 0 occupies x 0..15, MCU 1 x 16..31; quadrants are 8x8 blocks
    assert quadrant_mean(0, 0) == 10.0
    assert quadrant_mean(8, 0) == 20.0
    assert quadrant_mean(0, 8) == 30.0
    assert quadrant_mean(8, 8) == 40.0
    assert quadrant_mean(16, 0) == 50.0
    assert quadrant_mean(24, 0) == 60.0
    assert quadrant_mean(16, 8) == 70.0
    assert quadrant_mean(24, 8) == 80.0
    # chroma planes: 16x8 each (subsampled dims), solid levels
    assert d["comp_dims"] == [(32, 16), (16, 8), (16, 8)]
    assert d["mean_cb"] == 100.0 and d["mean_cr"] == 200.0
    assert d["mean_y"] == sum(sum(q) for q in y_levels) / 8.0


def test_jpeg_420_solid_roundtrip_bit_exact():
    """encode_jpeg_color_420 -> decode_jpeg is BIT-EXACT across edge
    dims: sub-MCU images, partial Y and partial chroma blocks."""
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_color_420,
    )

    for (w, h) in [(1, 1), (16, 16), (17, 16), (16, 17), (37, 29),
                   (8, 3), (15, 31), (9, 9)]:
        y, cb, cr = (w * 11) % 256, (h * 5) % 256, (w * h * 7) % 256
        d = decode_jpeg(encode_jpeg_color_420(w, h, y, cb, cr))
        assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
        assert d["mean_y"] == float(y), (w, h, d["mean_y"], y)
        assert d["mean_cb"] == float(cb)
        assert d["mean_cr"] == float(cr)


def test_bmp_decoder_parses_spec_bytes():
    """decode_bmp against hand-written spec bytes — proves the decoder
    reads the REAL layout, independent of our own encoder."""
    from pantasia_db_sync_spark.operators.multimodal import decode_bmp

    d = decode_bmp(_SPEC_BMP_2X2)
    assert (d["width"], d["height"], d["bpp"], d["channels"]) == (2, 2, 24, 3)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (127.5, 127.5, 127.5)
    assert d["byte_len"] == 70


def test_bmp_encoder_emits_spec_bytes():
    """encode_bmp's header layout matches the hand-written spec bytes
    (raster differs only by fill color)."""
    from pantasia_db_sync_spark.operators.multimodal import encode_bmp

    b = encode_bmp(2, 2, (1, 2, 3))
    assert b[:2] == _SPEC_BMP_2X2[:2]
    assert b[10:34] == _SPEC_BMP_2X2[10:34]  # offset + dims/planes/bpp
    assert len(b) == len(_SPEC_BMP_2X2)


@settings(**SETTINGS)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 20),
    rgb=st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
)
def test_bmp_roundtrip(w, h, rgb):
    from pantasia_db_sync_spark.operators.multimodal import decode_bmp, encode_bmp

    d = decode_bmp(encode_bmp(w, h, rgb))
    assert (d["width"], d["height"]) == (w, h)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == tuple(float(x) for x in rgb)


def test_bmp_decoder_rejects_garbage():
    import pytest as _pytest

    from pantasia_db_sync_spark.operators.multimodal import decode_bmp

    with _pytest.raises(ValueError):
        decode_bmp(b"not a bitmap at all........................................")
    with _pytest.raises(ValueError):
        decode_bmp(_SPEC_BMP_2X2[:40])


def test_bmp_decoder_rejects_degenerate_dims():
    """Header-valid but dimension-degenerate streams must raise the
    documented ValueError — never ZeroDivisionError or silent garbage."""
    import struct

    import pytest as _pytest

    from pantasia_db_sync_spark.operators.multimodal import decode_bmp, encode_bmp

    good = bytearray(encode_bmp(2, 2, (0, 0, 0)))
    for w, h in [(0, 2), (2, 0), (-2, 2)]:
        bad = bytearray(good)
        struct.pack_into("<ii", bad, 18, w, h)
        with _pytest.raises(ValueError):
            decode_bmp(bytes(bad))


_PER_BLOB_SCHEMA = "doc_id bigint, n int, half double"


def test_per_blob_keeps_exactly_the_rows_the_codec_yields(spark):
    """``_per_blob`` with a codec that yields no row for some blobs
    (and two for others) returns exactly the rows yielded, ``doc_id``
    filled in and typed per the schema. A key outside the schema (an
    object Arrow cannot encode) never reaches Arrow, and batches whose
    blobs all yield nothing still carry the schema's columns."""
    from pantasia_db_sync_spark.operators.multimodal import _per_blob

    df = spark.createDataFrame(
        [(i, bytes([i]) * i) for i in range(6)], "doc_id int, content binary"
    )

    def rows(i: int, blob: bytes) -> list[dict]:
        return [{"n": len(blob), "half": len(blob) // 2, "extra": object()}] * (i % 3)

    out = _per_blob(df, "doc_id", "content", rows, _PER_BLOB_SCHEMA)
    assert out.dtypes == [("doc_id", "bigint"), ("n", "int"), ("half", "double")]
    assert sorted(map(tuple, out.collect())) == [
        (1, 1, 0.0), (2, 2, 1.0), (2, 2, 1.0), (4, 4, 2.0), (5, 5, 2.0), (5, 5, 2.0),
    ]
    none = _per_blob(df, "doc_id", "content", lambda i, b: [], _PER_BLOB_SCHEMA).toPandas()
    assert len(none) == 0 and list(none.columns) == ["doc_id", "n", "half"]


def test_per_id_and_per_blob_on_empty_input(spark):
    """No input rows: both helpers give a 0-row frame with the schema's
    columns."""
    from pantasia_db_sync_spark.operators.multimodal import _per_blob, _per_id

    empty = spark.createDataFrame([], "doc_id bigint, content binary")
    ids = _per_id(empty, "doc_id", lambda i: b"x").toPandas()
    assert len(ids) == 0 and list(ids.columns) == ["doc_id", "content"]
    blobs = _per_blob(
        empty, "doc_id", "content", lambda i, b: [{"n": 1, "half": 0.5}], _PER_BLOB_SCHEMA
    ).toPandas()
    assert len(blobs) == 0 and list(blobs.columns) == ["doc_id", "n", "half"]


def test_lsh_signature_null_vector_propagates(spark):
    """A NULL embedding yields a NULL signature (not a crashed batch),
    and >2^53 signatures survive exactly (no float round-trip)."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.similarity import lsh_signature, lsh_weights

    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, None), (3, [-1.0] * 64)], "id int, v array<double>"
    )
    got = {
        r["id"]: r["s"]
        for r in df.withColumn(
            "s", lsh_signature(F.col("v"), lsh_weights(60, 64))
        ).collect()
    }
    assert got[2] is None
    assert got[1] is not None and got[3] is not None
    assert max(abs(got[1]), abs(got[3])) > 2**53


# ---------------------------------------------------------------------------
# PNG codec (compressed wire format; stdlib zlib only)
# ---------------------------------------------------------------------------


def _spec_png_2x2() -> bytes:
    """Hand-built 2x2 truecolor PNG, constructed chunk-by-chunk from the
    spec (RFC 2083) WITHOUT encode_png: row 0 unfiltered (red, green),
    row 1 Paeth-filtered (blue, white) — the filter our encoder never
    emits, so decoder coverage cannot come from encoder symmetry."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    row0 = bytes([0, 255, 0, 0, 0, 255, 0])  # None: red, green
    # Paeth, row 1 targets blue(0,0,255), white(255,255,255).
    # px0: a=0,c=0 => pred=up=(255,0,0) => delta=(1,0,255)
    # px1: a=(0,0,255), b=(0,255,0), c=(255,0,0):
    #  r: p=0+0-255=-255 -> pc smallest? pa=|p-a|=255,pb=255,pc=510 -> a=0 => delta 255
    #  g: p=0+255-0=255 -> pa=255,pb=0,pc=255 -> b=255 => delta 0
    #  b: p=255+0-0=255 -> pa=0 -> a=255 => delta 0
    row1 = bytes([4, 1, 0, 255, 255, 0, 0])
    raw = row0 + row1
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_parses_spec_bytes():
    """decode_png against hand-assembled spec bytes with a Paeth row —
    proves inflate + unfiltering read the REAL layout, independent of
    our own encoder (which never emits Paeth)."""
    from pantasia_db_sync_spark.operators.multimodal import decode_png

    d = decode_png(_spec_png_2x2())
    assert (d["width"], d["height"], d["bit_depth"], d["color_type"]) == (2, 2, 8, 2)
    # pixels: red, green / blue, white
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (127.5, 127.5, 127.5)


@settings(**SETTINGS)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 20),
    rgb=st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
)
def test_png_roundtrip(w, h, rgb):
    """encode→decode identity across the None/Sub/Up filter cycle and
    every width (compression makes byte_len vary; raster must not)."""
    from pantasia_db_sync_spark.operators.multimodal import decode_png, encode_png

    d = decode_png(encode_png(w, h, rgb))
    assert (d["width"], d["height"]) == (w, h)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == tuple(float(x) for x in rgb)


def test_png_decoder_rejects_corruption():
    import struct

    import pytest as _pytest

    from pantasia_db_sync_spark.operators.multimodal import decode_png, encode_png

    with _pytest.raises(ValueError):
        decode_png(b"not a png stream..............................")
    good = bytearray(encode_png(3, 3, (9, 9, 9)))
    # flip one IDAT payload byte -> CRC must catch it
    bad = bytearray(good)
    bad[8 + 25 + 8 + 2] ^= 0xFF  # inside IDAT data (after sig+IHDR chunk)
    with _pytest.raises(ValueError):
        decode_png(bytes(bad))
    # unsupported profile: grayscale color type
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    import zlib as _z

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", _z.crc32(typ + data) & 0xFFFFFFFF)
        )

    gray = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(b"\x00\x01\x02" + b"\x00\x03\x04"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError):
        decode_png(gray)
    # spec strictness: IHDR must be the FIRST chunk ...
    sig, rest = bytes(good[:8]), bytes(good[8:])
    reordered = sig + chunk(b"tEXt", b"k\x00v") + rest
    with _pytest.raises(ValueError, match="not IHDR"):
        decode_png(reordered)
    # ... IEND must be present ...
    with _pytest.raises(ValueError, match="IEND"):
        decode_png(bytes(good)[: -len(chunk(b"IEND", b""))])
    # ... and must terminate the stream (no trailing bytes)
    with _pytest.raises(ValueError, match="trailing"):
        decode_png(bytes(good) + b"\x00")
    with _pytest.raises(ValueError, match="trailing"):
        decode_png(bytes(good) + chunk(b"tEXt", b"k\x00v"))


def test_lit_double_sql_form_is_bitwise_identical(spark):
    """lit_double_vec / lit_double_matrix ship doubles as SQL source in
    ONE py4j call (the fit loop rebuilt per-element literals every
    iteration, ~0.45 s of pure driver time per expression). The parsed
    doubles must be BITWISE identical to the F.lit path — repr() is the
    shortest round-trip string and both parsers honor it — including
    signed zero, subnormals, and exponent-free reprs."""
    import struct

    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.similarity import (
        lit_double_matrix,
        lit_double_vec,
    )

    vals = [
        0.0, -0.0, 1.0, -1.5, 1e-300, 5e-324, 1.7976931348623157e308,
        123456789.123456789, 0.1 + 0.2, -2.2250738585072014e-308,
        3.141592653589793, 1 / 3,
    ]
    mat = [vals, [x * 7 / 9 for x in vals]]
    row = (
        spark.range(1)
        .select(
            F.lit(vals).alias("a"),
            lit_double_vec(vals).alias("b"),
            F.lit(mat).alias("ma"),
            lit_double_matrix(mat).alias("mb"),
        )
        .collect()[0]
    )
    for x, y in zip(row["a"], row["b"]):
        assert struct.pack("<d", x) == struct.pack("<d", y)
    for ra, rb in zip(row["ma"], row["mb"]):
        for x, y in zip(ra, rb):
            assert struct.pack("<d", x) == struct.pack("<d", y)


def test_kmeans_assign_broadcast_equals_literal_path(spark):
    """The data-driven broadcast assign (large-k shape) must agree with
    the literal CASE-chain assign cell-for-cell at k=8, and its plan
    must shuffle nothing (one broadcast of one row, map-only over the
    vectors)."""
    from pantasia_db_sync_spark.operators.similarity import (
        kmeans_assign,
        kmeans_assign_broadcast,
        kmeans_fit,
    )
    import os

    from pantasia_db_sync_spark.sources.catalog import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    e = load_table(spark, sf, "embeddings").limit(600)
    cents = kmeans_fit(e, k=8, iters=2)
    lit = kmeans_assign(e, cents).select("vec_id", "cell")
    bc = kmeans_assign_broadcast(e, cents).select("vec_id", "cell")
    assert lit.exceptAll(bc).count() == 0
    assert bc.exceptAll(lit).count() == 0
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan and "Exchange rangepartitioning" not in plan


@settings(**SETTINGS)
@given(
    threshold=st.floats(0.1, 0.9),
    max_hashes=st.integers(8, 128),
)
def test_recommended_minhash_params_invariants(threshold, max_hashes):
    """The tuned banding stays within budget and its S-curve inflection
    lands near the verify threshold (within 0.12 for any budget ≥ 8
    hashes — the curve is discrete in (b, r))."""
    from pantasia_db_sync_spark.operators.dedup import (
        minhash_candidate_prob,
        recommended_minhash_params,
    )

    num_hashes, bands = recommended_minhash_params(threshold, max_hashes)
    assert 1 <= bands <= num_hashes <= max_hashes
    assert num_hashes % bands == 0
    r = num_hashes // bands
    inflection = (1.0 / bands) ** (1.0 / r)
    assert abs(inflection - threshold) < 0.12
    # the curve actually separates: well above threshold → likely
    # candidate; well below → unlikely
    hi = min(0.99, threshold + 0.25)
    lo = max(0.01, threshold - 0.25)
    assert minhash_candidate_prob(hi, num_hashes, bands) > minhash_candidate_prob(
        lo, num_hashes, bands
    )


def test_ivf_nprobe_full_probe_equals_bruteforce(spark):
    """ivf_topk_nprobe with nprobe = k_cells must equal brute-force
    top-k exactly (probing every cell = scanning everything), and
    nprobe=1 must equal the single-cell ivf_topk on the same
    assignment — the recall knob's two endpoints."""
    import os

    from pantasia_db_sync_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_nprobe,
        kmeans_assign,
        kmeans_fit,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    e = load_table(spark, sf, "embeddings").limit(400)
    cents = kmeans_fit(e, k=4, iters=2)
    assigned = kmeans_assign(e, cents)
    q = e.where(F.col("vec_id") < 5)

    full = ivf_topk_nprobe(assigned, q, cents, nprobe=len(cents), k=3)
    brute = brute_force_topk(e, q, k=3)
    assert full.exceptAll(brute).count() == 0
    assert brute.exceptAll(full).count() == 0

    one = ivf_topk_nprobe(assigned, q, cents, nprobe=1, k=3)
    single = ivf_topk(assigned, kmeans_assign(q, cents), cell_col="cell", k=3)
    assert one.exceptAll(single).count() == 0
    assert single.exceptAll(one).count() == 0


def test_rowlocal_minhash_equals_batch_signatures(spark):
    """The streaming path's row-local MinHash signatures are
    bit-identical to the batch explode+groupBy form (including the
    exclusion of empty-shingle docs)."""
    import os

    from pantasia_db_sync_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_rowlocal,
        shingle_arrays,
        shingle_frame,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = load_table(spark, sf, "documents")
    batch = minhash_signatures(shingle_frame(d, "doc_id", "text", 3), "doc_id", 16)
    rowlocal = minhash_signatures_rowlocal(
        shingle_arrays(d, "doc_id", "text", 3), "doc_id", 16
    ).drop("__sh")
    assert batch.exceptAll(rowlocal).count() == 0
    assert rowlocal.exceptAll(batch).count() == 0


def test_exploded_arrays_equals_shingle_frame(spark):
    """The single-evaluation MinHash shape (round 16) derives the
    exploded inverted index from the materialized ``shingle_arrays``
    column instead of running ``shingle_frame`` a second time; the two
    must emit the same (id, shingle) MULTISET — equal distinct rows is
    not enough, since signature min-hashing and band hashing consume
    every row."""
    import os

    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.dedup import (
        shingle_arrays,
        shingle_frame,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    d = load_table(spark, sf, "documents")
    frame = shingle_frame(d, "doc_id", "text", 3)
    derived = shingle_arrays(d, "doc_id", "text", 3).select(
        F.col("doc_id"), F.explode("__sh").alias("shingle")
    )
    assert frame.exceptAll(derived).count() == 0
    assert derived.exceptAll(frame).count() == 0


def test_dense_ids_footer_counts_fusion(spark, monkeypatch):
    """rowgroup_stats fusion: when parquet footers prove per-bucket
    counts, the counts job disappears (no HashAggregate in the plan);
    when a row group straddles a boundary the operator silently falls
    back to the counts pass. Ids identical to 'checkpoint' either way."""
    from pantasia_db_sync_spark.operators import surrogate

    monkeypatch.setattr(surrogate, "_TARGET_ROWS_PER_BUCKET", 100)
    rows = [(i, i * 7 % 1000) for i in range(400)]
    df = spark.createDataFrame(rows, "k int, v int")
    expected = sorted(
        (r["id"], r["k"])
        for r in with_dense_ids(df, ["k", "v"], id_col="id", start=5).collect()
    )

    def plan(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    # exact path: 4 row groups, each entirely inside one uniform bucket
    # (bounds from range (0,399) at 4 buckets: {99, 199, 299})
    exact_rg = [(99, 0, 98, 0), (100, 99, 198, 0), (100, 199, 298, 0), (101, 299, 399, 0)]
    fused = with_dense_ids(
        df, ["k", "v"], id_col="id", start=5, strategy="sample", rowgroup_stats=exact_rg
    )
    assert "HashAggregate" not in plan(fused)
    assert sorted((r["id"], r["k"]) for r in fused.collect()) == expected

    # straddling row groups: counts can't come from footers -> counts job
    straddle_rg = [(200, 0, 399, 0), (200, 0, 399, 0)]
    fb = with_dense_ids(
        df, ["k", "v"], id_col="id", start=5, strategy="sample",
        rowgroup_stats=straddle_rg,
    )
    assert "HashAggregate" in plan(fb)
    assert sorted((r["id"], r["k"]) for r in fb.collect()) == expected

    # unknown null counts -> fallback too
    fb2 = with_dense_ids(
        df, ["k", "v"], id_col="id", start=5, strategy="sample",
        rowgroup_stats=[(400, 0, 399, None)],
    )
    assert sorted((r["id"], r["k"]) for r in fb2.collect()) == expected

    # single footer-proven bucket: no counts job AND no join at all
    monkeypatch.setattr(surrogate, "_TARGET_ROWS_PER_BUCKET", 100_000)
    lone = with_dense_ids(
        df, ["k", "v"], id_col="id", start=5, strategy="sample",
        rowgroup_stats=[(400, 0, 399, 0)],
    )
    p = plan(lone)
    assert "HashAggregate" not in p and "Join" not in p
    assert sorted((r["id"], r["k"]) for r in lone.collect()) == expected


def test_ivf_index_matches_inline_and_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted IVF index returns exactly the inline nprobe result,
    and its scan lists ONLY the probed cells' partition directories
    (static partition pruning — the point of partitioning by cell)."""
    from pantasia_db_sync_spark.operators.ivf_index import (
        build_ivf_index,
        ivf_index_topk,
        load_ivf_index,
    )
    from pantasia_db_sync_spark.operators.similarity import (
        ivf_topk_nprobe,
        kmeans_assign,
        kmeans_fit,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf")
    cents = build_ivf_index(e, idx, k=8, iters=3)

    inline_cents = kmeans_fit(e, k=8, iters=3)
    assert cents == inline_cents  # build persists the same deterministic fit
    inline = ivf_topk_nprobe(
        kmeans_assign(e, inline_cents), queries, inline_cents, nprobe=2, k=5
    )
    from_index = ivf_index_topk(spark, queries, idx, nprobe=2, k=5)
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, inline.collect())
    )

    # partition pruning: with 2 queries (at most 4 probe cells of 8) the
    # assignments scan must carry a STATIC `cell IN (...)` partition
    # filter over a strict subset of cells. inputFiles() lists the
    # pre-pruning FileIndex, so assert on the executed plan instead.
    import re

    narrow = ivf_index_topk(
        spark, e.where(F.col("vec_id") < 2), idx, nprobe=2, k=5
    )
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    read_cells = {int(c) for c in m.group(1).split(",")}
    all_cells = {cid for cid, _ in cents}
    assert read_cells < all_cells and len(read_cells) <= 4


def test_bloom_no_false_negatives_and_exact_join(spark):
    """bloom_might_contain admits every inserted key (no false
    negatives — the bloom invariant), and bloom_semi_join equals the
    plain semi join exactly (false positives are removed by the
    trailing exact join)."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.bloom import (
        bloom_might_contain,
        bloom_semi_join,
        build_bloom_words,
    )

    dim = spark.range(0, 500, 7).select((F.col("id") * 13 % 997).alias("k")).distinct()
    big = spark.range(0, 3000).select((F.col("id") % 1500).alias("k"), F.col("id").alias("v"))

    words = build_bloom_words(dim, "k")
    # no false negatives: every dim key passes its own filter
    misses = dim.where(~bloom_might_contain(F.col("k"), words)).count()
    assert misses == 0

    got = bloom_semi_join(big, dim, "k", "k")
    want = big.join(dim, "k", "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bloom_prunes_before_join(spark):
    """The bloom predicate actually prunes: with a selective dim, the
    pre-join survivor count is far below the big side's row count and
    at least the true match count (pruning happens map-side, before
    the join's exchange)."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom_words,
    )

    dim = spark.range(0, 20).select(F.col("id").alias("k"))
    big = spark.range(0, 20000).select((F.col("id") % 2000).alias("k"))
    words = build_bloom_words(dim, "k")
    survivors = big.where(bloom_might_contain(F.col("k"), words)).count()
    true_matches = big.join(dim, "k", "left_semi").count()
    assert true_matches <= survivors  # never drops a real match
    assert survivors < 20000 * 0.2  # >80% of the big side pruned pre-shuffle


def test_bucketed_join_has_no_join_shuffle(spark, sf_dir, tmp_path):
    """Co-located bucketed join: with equal bucket counts on the join
    key, the join plans with zero shuffle exchanges; the same join on
    plain parquet reads shuffles both sides."""
    from pantasia_db_sync_spark.operators.bucketed import (
        colocated_join,
        count_shuffle_exchanges,
        write_bucketed,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    try:
        write_bucketed(li, "t_li_bkt", str(tmp_path / "li"), "l_orderkey", 4)
        write_bucketed(o, "t_o_bkt", str(tmp_path / "o"), "o_orderkey", 4)
        bkt = colocated_join(spark, "t_li_bkt", "t_o_bkt", "l_orderkey", "o_orderkey")
        assert count_shuffle_exchanges(bkt) == 0
        # negative control: the same join without the bucketed layout
        # (merge hint rules out a broadcast at test scale — at 100 TB
        # neither fact side would broadcast anyway)
        plain = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
        assert count_shuffle_exchanges(plain) >= 1
        # identical results, layout is transparent to semantics
        assert bkt.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bkt")
        spark.sql("DROP TABLE IF EXISTS t_o_bkt")


def test_cms_estimate_dominates_exact(spark, sf_dir):
    """Count-Min guarantee: the sketch estimate is >= the exact count
    for every probed token (over-count only, never under)."""
    from pantasia_db_sync_spark.plans import QUERIES

    out = QUERIES["text_cms_heavyhitters"](spark, sf_dir).collect()
    assert len(out) == 20
    assert all(r["cms_est"] >= r["exact_cnt"] for r in out)


def test_gif_lzw_roundtrip_and_edges():
    """From-scratch GIF LZW: round trip across alphabets, lengths, and
    the run-heavy KwKwK + width-boundary cases; dictionary reset past
    4096 entries."""
    import random as _random

    from pantasia_db_sync_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = _random.Random(7)
    for mcs in (2, 4, 8):
        for n in (0, 1, 100, 30000):
            data = bytes(rng.randrange(1 << mcs) for _ in range(n))
            assert _lzw_decode(_lzw_encode(data, mcs), mcs) == data
    # all-same-byte runs hit every width-growth edge incl. the final
    # code (the decoder adds one entry per code READ, not per encoder
    # assignment — the edge that desyncs naive implementations)
    for n in range(1, 600):
        data = b"\x00" * n
        assert _lzw_decode(_lzw_encode(data, 2), 2) == data


def test_gif_decode_spec_vector_and_real_files():
    """Independent decoder evidence: the canonical 43-byte 1x1 GIF89a
    (transparent-pixel vector, exercises extension skipping) and — when
    present — the Python distribution's own standard-encoder icon GIFs
    (width-bump convention must match real encoders, not just ours)."""
    import glob as _glob

    from pantasia_db_sync_spark.operators.multimodal import decode_gif

    tiny = bytes.fromhex(
        "474946383961010001008000"
        "00ffffff00000021f90401000000002c"
        "00000000010001000002024401003b"
    )
    d = decode_gif(tiny)
    assert (d["width"], d["height"]) == (1, 1)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (255.0, 255.0, 255.0)

    real = _glob.glob("/usr/lib/python3*/idlelib/Icons/*.gif") + _glob.glob(
        "/root/.pyenv/versions/*/lib/python3*/idlelib/Icons/*.gif"
    )
    decoded = 0
    for p in real:
        try:
            with open(p, "rb") as f:
                decode_gif(f.read())
            decoded += 1
        except ValueError:
            pass  # interlaced / multi-image icons are out of profile
    if real:
        assert decoded >= 1, "no real GIF decoded"


def test_gif_decode_rejects_corruption():
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )
    import pytest as _pytest

    good = encode_gif(5, 4, (10, 20, 30))
    with _pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + good[7:])
    with _pytest.raises(ValueError):
        decode_gif(good + b"\x00")  # trailing bytes after trailer
    # truncate mid-LZW: index stream can't cover the raster
    with _pytest.raises(ValueError):
        decode_gif(good[: len(good) - 4] + b"\x00\x3b")


def test_gif_decode_rejects_truncated_local_color_table():
    """A stream cut inside the LOCAL color table must raise like the
    global-table case (round-6 advisor): a short LCT would silently
    shrink the palette before the index bound check."""
    import struct

    import pytest as _pytest

    from pantasia_db_sync_spark.operators.multimodal import decode_gif

    # header + LSD with NO global color table
    head = b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x00, 0, 0)
    # image descriptor declaring a 2-entry (6-byte) local color table,
    # then only 4 bytes of it before the stream ends
    img = b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0x80)
    with _pytest.raises(ValueError, match="local color table"):
        decode_gif(head + img + b"\x01\x02\x03\x04")


def test_levenshtein_prefix_core_equals_bruteforce(spark):
    """The round-16 templated-key blocking (strip the corpus-wide
    common prefix/suffix, verify-early FastSS on the cores) equals
    brute force at radius 2 — on a templated fixture WITH a shared
    suffix too (both affixes stripped), including ins/del edits that
    shift the core, and on a template-free corpus (fallback path =
    plain FastSS)."""
    import random as _random

    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.dedup import (
        levenshtein_pairs_prefix_core,
    )

    rng = _random.Random(97)
    digits = "0123456789"
    cores = {"".join(rng.choice(digits) for _ in range(rng.randint(4, 7)))
             for _ in range(40)}
    extra = set()
    for s in list(cores):
        i = rng.randrange(len(s))
        extra.add(s[:i] + s[i + 1:])            # deletion
        extra.add(s[:i] + rng.choice(digits) + s[i:])  # insertion
        extra.add(s[:i] + rng.choice(digits) + s[i + 1:])  # sub
    strings = sorted("ITEM#" + c + "-END" for c in cores | extra)
    df = spark.createDataFrame(list(enumerate(strings)), ["id", "s"])

    def brute(d):
        a = d.select(F.col("id").alias("ia"), F.col("s").alias("sa"))
        b = d.select(F.col("id").alias("ib"), F.col("s").alias("sb"))
        return {
            (r["ia"], r["ib"], r["d"])
            for r in a.crossJoin(b)
            .where(F.col("ia") < F.col("ib"))
            .select("ia", "ib", F.levenshtein("sa", "sb").alias("d"))
            .where(F.col("d") <= 2)
            .collect()
        }

    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in levenshtein_pairs_prefix_core(
            df, "id", "s", max_dist=2
        ).collect()
    }
    assert got == brute(df) and got  # non-vacuous
    # template-free corpus: the fallback path must ALSO be exact
    rows2 = [(i, "".join(rng.choice("abcdefgh") for _ in range(6)))
             for i in range(60)]
    df2 = spark.createDataFrame(rows2, ["id", "s"]).dropDuplicates(["s"])
    got2 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in levenshtein_pairs_prefix_core(
            df2, "id", "s", max_dist=2
        ).collect()
    }
    assert got2 == brute(df2)


def test_levenshtein_fastss_equals_bruteforce_with_indels(spark):
    """The customer-name fixture only exercises SUBSTITUTIONS (fixed-
    width ids); FastSS completeness must also hold for insertions and
    deletions. Random strings with single-char inserts/deletes/subs
    seeded around common stems: indexed pairs == brute-force pairs."""
    import random as _random

    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.dedup import levenshtein_pairs_fastss

    rng = _random.Random(421)
    alpha = "abcdef"
    stems = ["".join(rng.choice(alpha) for _ in range(rng.randint(3, 9)))
             for _ in range(20)]
    strings = set(stems)
    for s in stems:
        for _ in range(3):
            i = rng.randrange(len(s) + 1)
            op = rng.choice(["ins", "del", "sub"])
            if op == "ins":
                strings.add(s[:i] + rng.choice(alpha) + s[i:])
            elif op == "del" and len(s) > 1 and i < len(s):
                strings.add(s[:i] + s[i + 1:])
            elif i < len(s):
                strings.add(s[:i] + rng.choice(alpha) + s[i + 1:])
    rows = [(i, s) for i, s in enumerate(sorted(strings))]
    df = spark.createDataFrame(rows, ["id", "s"])

    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in levenshtein_pairs_fastss(df, "id", "s", max_dist=1).collect()
    }
    a = df.select(F.col("id").alias("ia"), F.col("s").alias("sa"))
    b = df.select(F.col("id").alias("ib"), F.col("s").alias("sb"))
    want = {
        (r["ia"], r["ib"], r["d"])
        for r in a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.levenshtein("sa", "sb").alias("d"))
        .where(F.col("d") <= 1)
        .collect()
    }
    assert want, "fixture produced no close pairs — broken generator"
    assert got == want


def test_pq_rerank_recall_beats_adc(spark, sf_dir):
    """PQ sanity on the fixture corpus: (a) the exact-rerank step lifts
    recall@5 vs exact L2 search substantially above ADC-only, and (b)
    reranked recall clears a floor (measured 0.78 at m=8,k=8,pool=50 —
    pinned at 0.55 for margin). Guards against a regression that
    silently degrades the codebooks or the ADC scoring while parity
    (which pins the PROCEDURE, not the quality) stays green."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.similarity import (
        as_double_vec,
        pq_rerank_topk,
        pq_topk,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), as_double_vec("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"), as_double_vec("embedding").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("cand_id").asc())
    exact = (
        q.crossJoin(c)
        .where(F.col("q_id") != F.col("cand_id"))
        .select("q_id", "cand_id", d2.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )
    want = {(r["q_id"], r["cand_id"]) for r in exact.collect()}

    adc = pq_topk(e, "vec_id", "embedding", m=8, k=8, iters=2,
                  query_pred=F.col("q_id") < 10, topk=5)
    got_adc = {(r["q_id"], r["cand_id"]) for r in adc.collect()}
    rer = pq_rerank_topk(e, "vec_id", "embedding", m=8, k=8, iters=2,
                         query_pred=F.col("q_id") < 10, pool_size=50, topk=5)
    got_rer = {(r["q_id"], r["cand_id"]) for r in rer.collect()}

    r_adc = len(got_adc & want) / len(want)
    r_rer = len(got_rer & want) / len(want)
    assert r_rer >= 0.55, (r_adc, r_rer)
    assert r_rer > r_adc, (r_adc, r_rer)


def test_triangle_count_matches_python_bruteforce(spark):
    """Independent evidence for graph_triangle_count's oriented wedge
    join: the oracle uses the same join shape, so this test counts
    triangles with a plain Python triple loop on a small random graph
    and compares per-node counts."""
    import itertools
    import random as _random

    from pyspark.sql import functions as F

    rng = _random.Random(97)
    nodes = list(range(18))
    edges = {
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if rng.random() < 0.3
    }
    # python brute force: count triangles per corner
    want = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in edges and (b, c) in edges and (a, c) in edges:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert want, "fixture graph has no triangles — broken generator"

    e = spark.createDataFrame(sorted(edges), ["u", "v"])
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    closing = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(closing, ["a", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    got = {
        r["node"]: r["n"]
        for r in corners.groupBy("node").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_containment_dominates_jaccard_and_detects_subsets(spark):
    """Containment C = |A∩B|/min ≥ Jaccard for every pair, and a doc
    whose shingle set is a strict subset of another's scores C = 1.0
    even when Jaccard is far below any near-dup threshold — the case
    the asymmetric rule exists for."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.dedup import (
        _pair_jaccard,
        containment_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"tok{i}" for i in range(40))
    other = "one two three four five six seven"
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, other)], ["doc_id", "text"]
    )
    cont = {
        (r["id_a"], r["id_b"]): (r["containment"], r["contained_id"])
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    }
    assert (1, 2) in cont
    c, contained = cont[(1, 2)]
    assert c == 1.0 and contained == 1
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in _pair_jaccard(df, "doc_id", "text", n=3).collect()
    }
    assert jac[(1, 2)] < 0.5  # jaccard misses what containment catches
    for pair, j in jac.items():
        if pair in cont:
            assert cont[pair][0] >= j


# ---------------------------------------------------------------------------
# WAV codec (RIFF/PCM)
# ---------------------------------------------------------------------------

# Hand-assembled canonical WAV: 8000 Hz mono 16-bit, 4 frames
# [100, -100, 30000, -30000] — written from the RIFF spec, NOT by our
# encoder, so encoder and decoder can't share a hidden layout bug.
_SPEC_WAV = bytes(
    [
        0x52, 0x49, 0x46, 0x46,  # "RIFF"
        0x2C, 0x00, 0x00, 0x00,  # riff size = 44 (4 + 24 + 16)
        0x57, 0x41, 0x56, 0x45,  # "WAVE"
        0x66, 0x6D, 0x74, 0x20,  # "fmt "
        0x10, 0x00, 0x00, 0x00,  # fmt size 16
        0x01, 0x00,              # PCM
        0x01, 0x00,              # mono
        0x40, 0x1F, 0x00, 0x00,  # 8000 Hz
        0x80, 0x3E, 0x00, 0x00,  # byte rate 16000
        0x02, 0x00,              # block align
        0x10, 0x00,              # 16 bits
        0x64, 0x61, 0x74, 0x61,  # "data"
        0x08, 0x00, 0x00, 0x00,  # data size 8
        0x64, 0x00,              # 100
        0x9C, 0xFF,              # -100
        0x30, 0x75,              # 30000
        0xD0, 0x8A,              # -30000
    ]
)


def test_wav_decoder_parses_spec_bytes():
    from pantasia_db_sync_spark.operators.multimodal import decode_wav

    d = decode_wav(_SPEC_WAV)
    assert (d["sample_rate"], d["channels"], d["bits"], d["n_frames"]) == (8000, 1, 16, 4)
    assert d["peak"] == 30000 and d["mean"] == 0.0
    assert abs(d["rms"] - ((100**2 + 30000**2) / 2) ** 0.5) < 1e-9
    assert d["duration_ms"] == 0.5


@settings(**SETTINGS)
@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    ch=st.integers(1, 2),
    nf=st.integers(1, 200).map(lambda n: n * 2),
    amp=st.integers(1, 32000),
)
def test_wav_roundtrip(rate, ch, nf, amp):
    from pantasia_db_sync_spark.operators.multimodal import decode_wav, encode_wav

    d = decode_wav(encode_wav(rate, ch, nf, amp))
    assert (d["sample_rate"], d["channels"], d["n_frames"]) == (rate, ch, nf)
    assert d["rms"] == float(amp) and d["peak"] == amp and d["mean"] == 0.0


def test_wav_decoder_rejects_garbage_and_nonpcm():
    import pytest as _pytest

    from pantasia_db_sync_spark.operators.multimodal import decode_wav, encode_wav

    with _pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE" + b"\x00" * 40)
    b = bytearray(encode_wav(8000, 1, 4, 100))
    b[20] = 3  # IEEE-float format tag
    with _pytest.raises(ValueError):
        decode_wav(bytes(b))
    with _pytest.raises(ValueError):
        decode_wav(_SPEC_WAV[:30])  # truncated inside fmt chunk


def test_wav_decoder_skips_unknown_chunks():
    """encode_wav plants a LIST chunk between fmt and data — the spec
    test proves decode walks chunks instead of assuming 44-byte layout."""
    from pantasia_db_sync_spark.operators.multimodal import decode_wav, encode_wav

    b = encode_wav(16000, 1, 10, 500)
    assert b"LIST" in b
    assert decode_wav(b)["n_frames"] == 10


# ---------------------------------------------------------------------------
# Image perceptual hash (dHash)
# ---------------------------------------------------------------------------


def test_dhash_matches_grid_arithmetic():
    """Hash from the real decode path equals the hash computed straight
    from the source grid — the BMP round trip is pixel-lossless and the
    bit packing (hi/lo uint32 halves) is exact."""
    from pantasia_db_sync_spark.operators.multimodal import encode_bmp_gray, image_dhash

    for seed in (0, 7, 42, 99):
        grid = [
            [((seed % 100 + 1) * (x + 3) * (y + 7) * 13 + seed // 100) % 256
             for x in range(9)]
            for y in range(8)
        ]
        w, h, hi, lo = image_dhash(encode_bmp_gray(grid))
        bits = 0
        for y in range(8):
            for x in range(8):
                if grid[y][x + 1] > grid[y][x]:
                    bits |= 1 << (y * 8 + x)
        assert (w, h, hi, lo) == (9, 8, bits >> 32, bits & 0xFFFFFFFF)


def test_dhash_downsamples_larger_images():
    """A 2x-upscaled image (each cell duplicated) box-averages back to
    the same hash — dHash is resolution-invariant, which is the whole
    point of a perceptual hash."""
    from pantasia_db_sync_spark.operators.multimodal import encode_bmp_gray, image_dhash

    grid = [[(11 * (x + 3) * (y + 7)) % 256 for x in range(9)] for y in range(8)]
    big = [[grid[y // 2][x // 2] for x in range(18)] for y in range(16)]
    assert image_dhash(encode_bmp_gray(grid)) [2:] == image_dhash(encode_bmp_gray(big))[2:]


def test_dhash_brightness_shift_invariance():
    """Uniform brightness drift (the planted near-dup construction)
    leaves the hash ~unchanged: hamming <= 3 for +2 drift."""
    from pantasia_db_sync_spark.operators.multimodal import encode_bmp_gray, image_dhash

    base = [[(37 * (x + 3) * (y + 7)) % 256 for x in range(9)] for y in range(8)]
    shifted = [[(v + 2) % 256 for v in row] for row in base]
    _, _, hi1, lo1 = image_dhash(encode_bmp_gray(base))
    _, _, hi2, lo2 = image_dhash(encode_bmp_gray(shifted))
    ham = bin((hi1 ^ hi2)).count("1") + bin((lo1 ^ lo2)).count("1")
    assert ham <= 3


def test_audio_spectrum_matches_analytic_dft():
    """The rfft path against a waveform whose DFT is known in closed
    form — a pure cosine at bin k has |X[k]| = a*N/2 (not the square
    wave the fixtures use, so operator and oracle can't share a bug)."""
    import numpy as np

    from pantasia_db_sync_spark.operators.multimodal import (
        encode_wav, wav_meta_and_samples,
    )

    meta, samples = wav_meta_and_samples(encode_wav(8000, 2, 64, 1000))
    assert meta == {"sample_rate": 8000, "channels": 2, "bits": 16}
    ch0 = samples[::2]
    # square wave: all energy at Nyquist bin N/2 with magnitude a*N
    spec = np.abs(np.fft.rfft(ch0))
    assert int(np.argmax(spec)) == 32
    assert abs(spec[32] - 1000 * 64) < 1e-6
    # hand-built cosine at bin 5: energy splits to a*N/2
    n = 64
    cos5 = np.round(500 * np.cos(2 * np.pi * 5 * np.arange(n) / n)).astype("<i2")
    spec2 = np.abs(np.fft.rfft(cos5.astype(np.float64)))
    assert int(np.argmax(spec2)) == 5
    assert abs(spec2[5] - 500 * n / 2) < n  # rounding of samples, not fft


def test_pca_power_matches_numpy_eigenvector(spark, sf_dir):
    """Power iteration against numpy's exact eigendecomposition.

    Two regimes: (a) a well-conditioned synthetic table (one planted
    dominant direction) must converge to the true component in 3
    iterations (|cosine| > 0.99); (b) the stock fixture's spectrum is
    nearly flat (lambda2/lambda1 ~ 0.93 — adversarial for power
    iteration by construction), so there the contract is the Rayleigh
    quotient: v'Cv within 20% of the true top eigenvalue and the
    eigval column equal to that Rayleigh estimate."""
    import numpy as np

    from pantasia_db_sync_spark.operators.similarity import pca_power_top_component
    from pantasia_db_sync_spark.sources.catalog import load_table

    # (a) planted dominant component
    rng = np.random.default_rng(7)
    u = rng.normal(size=16)
    u /= np.linalg.norm(u)
    Xs = rng.normal(size=(400, 1)) * 3.0 @ u[None, :] + rng.normal(size=(400, 16)) * 0.1
    sdf = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(Xs)],
        "vec_id bigint, embedding array<double>",
    )
    out = pca_power_top_component(sdf, "embedding", dim=16, iters=3).collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim_idx"])])
    assert abs(float(v @ u)) > 0.99

    # (b) flat-spectrum fixture: Rayleigh-quotient contract
    e = load_table(spark, sf_dir, "embeddings")
    out = pca_power_top_component(e, "embedding", dim=64, iters=3).collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim_idx"])])
    X = np.array(
        [r["embedding"] for r in e.select("embedding").collect()], dtype=np.float64
    )
    C = np.cov(X, rowvar=False, bias=True)
    w = np.linalg.eigvalsh(C)
    ray = float(v @ C @ v)
    assert ray > 0.8 * w[-1], (ray, w[-1])


def test_animated_gif_roundtrip_and_rejects():
    """Multi-frame GIF89a: frame count, per-frame GCE delays, palette
    means and stream-order indices all survive the encode/decode walk;
    truncation and missing trailer are rejected, matching the
    single-image decoder's policy."""
    import pytest as _pytest

    from pantasia_db_sync_spark.operators.multimodal import (
        decode_gif_frames, encode_gif_animated,
    )

    pal = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (250, 251, 252)]
    b = encode_gif_animated(6, 4, pal, [3, 0, 2], 40)
    fr = decode_gif_frames(b)
    assert [f["frame_idx"] for f in fr] == [0, 1, 2]
    assert all(f["delay_cs"] == 40 for f in fr)
    assert (fr[0]["mean_r"], fr[0]["mean_g"], fr[0]["mean_b"]) == (250.0, 251.0, 252.0)
    assert (fr[1]["mean_r"], fr[2]["mean_b"]) == (1.0, 9.0)
    with _pytest.raises(ValueError):
        decode_gif_frames(b[:-1])  # trailer cut off
    with _pytest.raises(ValueError):
        decode_gif_frames(b[:30])  # truncated mid-stream
    # single-frame animated stream still decodes via the frames API
    assert len(decode_gif_frames(encode_gif_animated(2, 2, pal, [1], 0))) == 1


def test_knn_graph_cell_local_path(spark, sf_dir):
    """The IVF-restricted knn-graph phase: every edge is intra-cell
    (the restriction is real), every edge common with the brute-force
    graph carries the identical rounded cosine (the scoring is the
    same arithmetic), and the graph is canonical (a < b, no dups)."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.similarity import knn_graph_mutual
    from pantasia_db_sync_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    cl = knn_graph_mutual(e, k=5, cell_col="label").cache()
    labels = e.select(F.col("vec_id").alias("a"), F.col("label").alias("la"))
    lb = e.select(F.col("vec_id").alias("b"), F.col("label").alias("lb"))
    cross_cell = (
        cl.join(labels, "a").join(lb, "b").where(F.col("la") != F.col("lb")).count()
    )
    assert cross_cell == 0
    rows = cl.collect()
    assert all(r["a"] < r["b"] for r in rows)
    assert len({(r["a"], r["b"]) for r in rows}) == len(rows)
    bf = knn_graph_mutual(e, k=5)
    j = bf.alias("x").join(cl.alias("y"), ["a", "b"])
    diff = j.where(F.col("x.cos") != F.col("y.cos")).count()
    assert diff == 0
    cl.unpersist()


def test_simhash_survives_huge_document_under_ansi(spark):
    """ANSI-mode overflow regression (review finding): the lane-packed
    vote sum must never overflow a signed 64-bit accumulator, even for
    a pathological 40k-distinct-token document (a 4x16-bit layout put
    counts >= 32768 in the sign-bit lane and ARITHMETIC_OVERFLOW'd the
    whole stage; 3x16-bit lanes bound the sum below 2^49)."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.dedup import simhash_signatures

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    big = spark.range(1).select(
        F.lit(0).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(40000)),
                lambda i: F.concat(F.lit("tok"), i.cast("string")),
            ),
        ).alias("text"),
    )
    row = simhash_signatures(big, "doc_id", "text", bits=48).collect()[0]
    assert row["simhash"] != 0


@settings(**SETTINGS)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=60,
    ),
    n_buckets=st.integers(1, 8),
)
def test_skyline_2d_matches_naive_dominance(spark, pts, n_buckets):
    """Bucketed prefix-max skyline ≡ the NOT EXISTS dominance scan,
    including duplicate points (mutual non-dominance keeps ALL copies)
    and all-same-x / all-same-y degenerate inputs."""
    from pantasia_db_sync_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id int, x double, y double",
    )
    got = sorted(
        (r["id"], r["x"], r["y"])
        for r in skyline_2d(df, "x", "y", n_buckets=n_buckets).collect()
    )
    want = sorted(
        (i, float(x), float(y))
        for i, (x, y) in enumerate(pts)
        if not any(
            (qx <= x and qy >= y and (qx < x or qy > y)) for qx, qy in pts
        )
    )
    assert got == want


def test_incremental_dedup_consistent_with_self_join_lsh(spark, sf_dir):
    """Two algorithms, one truth: every odd-even near-dup pair the
    SELF-join LSH finds must be flagged by the batch-vs-corpus
    incremental dedup (same banding => identical candidate generation
    restricted to cross-parity pairs), and vice versa: every flagged
    new doc must have at least one odd-even LSH pair."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_pairs,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.5
    )
    cross_parity = {
        (int(r.id_a), int(r.id_b))
        for r in pairs.collect()
        if (r.id_a % 2) != (r.id_b % 2)
    }
    expected_dup_new = {a if a % 2 == 1 else b for a, b in cross_parity}
    inc = incremental_minhash_dedup(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
        "doc_id",
        "text",
        n=3,
        num_hashes=16,
        bands=4,
        threshold=0.5,
    ).collect()
    flagged = {int(r.doc_id) for r in inc if r.is_dup}
    assert flagged == expected_dup_new
    # matched_id is the minimum qualifying corpus doc
    best = {}
    for a, b in cross_parity:
        new, old = (a, b) if a % 2 == 1 else (b, a)
        best[new] = min(best.get(new, old), old)
    got = {int(r.doc_id): int(r.matched_id) for r in inc if r.is_dup}
    assert got == best


def test_label_propagation_converges_to_component_min(spark, sf_dir):
    """Min-label propagation run to the graph's diameter must agree
    with connected_components' min-id labels — the bounded-round
    operator's fixed point IS full connectivity."""
    from pyspark.sql import functions as F

    from pantasia_db_sync_spark.operators.components import (
        connected_components,
    )
    from pantasia_db_sync_spark.sources.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    und = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = und.select(F.col("src").alias("node")).distinct()
    labels = {int(r.node): int(r.node) for r in nodes.collect()}
    adj = {}
    for r in und.collect():
        adj.setdefault(int(r.src), []).append(int(r.dst))
    # synchronous min-label rounds in plain Python until fixed point
    # (mirrors the registered query's per-round dataflow exactly)
    changed = True
    while changed:
        changed = False
        new = dict(labels)
        for v, ns in adj.items():
            m = min([labels[v]] + [labels[u] for u in ns])
            if m != new[v]:
                new[v] = m
                changed = True
        labels = new
    comp = connected_components(
        e, nodes
    )
    comp_min = {
        int(r.node): int(r.component_id) for r in comp.collect()
    }
    assert labels == comp_min


def test_rolling_corr_matches_numpy(spark, sf_dir):
    """The component-sum Pearson form must equal numpy.corrcoef on
    every trailing frame (exact definition check, independent of the
    DuckDB oracle's identical formula)."""
    import numpy as np

    from pantasia_db_sync_spark.plans import QUERIES
    from pantasia_db_sync_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    out = {
        (int(r.user_id), int(r.event_id)): (
            r.n_window,
            r.trend_corr,
        )
        for r in QUERIES["window_rolling_corr"](spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("value").cast("double").alias("v")
    )
    by_user = {}
    for r in e.collect():
        by_user.setdefault(int(r.user_id), []).append(r)
    checked = 0
    for uid, rows in list(by_user.items())[:20]:
        rows.sort(key=lambda r: (r.ts, r.event_id))
        ys = [r.v for r in rows]
        for i, r in enumerate(rows):
            lo = max(0, i - 9)
            frame = ys[lo : i + 1]
            xs = list(range(lo + 1, i + 2))
            n, corr = out[(uid, int(r.event_id))]
            assert n == len(frame)
            if len(frame) >= 2 and len(set(frame)) > 1:
                expect = float(np.corrcoef(xs, frame)[0, 1])
                assert corr is not None
                assert abs(corr - expect) < 1e-5, (uid, r.event_id)
                checked += 1
    assert checked > 50


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    parts=st.integers(1, 8),
)
def test_prefix_sums_match_serial_cumsum(spark, vals, parts):
    """with_prefix_sums (range partition + partition-local window +
    offset collect) equals a serial Python cumulative sum over the
    total order, for ANY values and ANY partition count — including
    more partitions than rows (empty partitions must contribute zero
    offsets, not crash)."""
    from pantasia_db_sync_spark.operators.prefix import with_prefix_sums

    df = spark.createDataFrame(vals, "k long, a long, b long")
    out = {
        r["k"]: (r["cum_a"], r["cum_b"])
        for r in with_prefix_sums(df, "k", ["a", "b"], num_partitions=parts).collect()
    }
    ca = cb = 0
    for k, a, b in sorted(vals):
        ca += a
        cb += b
        assert out[k] == (ca, cb), (k, out[k], (ca, cb))


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=16),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(1, 4),
)
def test_bpe_train_matches_python_replica(spark, docs, k):
    """bpe_train ≡ a serial pure-Python trainer with the SAME pinned
    replace-pass semantics (str.replace continues after the inserted
    replacement — the engine-shared behavior the module docstring
    documents), for any corpus including degenerate same-char runs
    ('aaaa') and early exhaustion (all words single-char)."""
    from collections import Counter

    from pantasia_db_sync_spark.operators.bpe import bpe_train

    freq = Counter(w for t in docs for w in t.strip().split(" ") if w)
    sym = {w: " " + " ".join(list(w)) + " " for w in freq}
    expect = []
    for rank in range(1, k + 1):
        pc: Counter = Counter()
        for w, f in freq.items():
            s = sym[w].strip().split(" ")
            for a, b in zip(s, s[1:]):
                pc[a + " " + b] += f
        if not pc:
            break
        pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = pair.replace(" ", "")
        expect.append((rank, *pair.split(" ", 1), merged, cnt))
        for w in sym:
            sym[w] = sym[w].replace(f" {pair} ", f" {merged} ")

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(df, "text", num_merges=k).collect()]
    assert got == expect, (got, expect)


@settings(**SETTINGS)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "upsert"]),
            st.lists(
                st.tuples(st.integers(0, 6), st.integers(0, 99)),
                min_size=1,
                max_size=4,
                unique_by=lambda t: t[0],
            ),
        ),
        min_size=1,
        max_size=5,
    ),
)
def test_change_feed_replay_reconstructs_state(spark, tmp_path_factory, ops):
    """The lakehouse audit property: folding read_facts_changes'
    insert/delete events in commit order under the Iceberg sequence
    rule (a delete at commit d kills earlier-commit rows of that key)
    reconstructs read_facts EXACTLY, for ANY sequence of appends,
    equality deletes, and one-commit upserts. This ties merge-on-read,
    the atomic upsert, and the change feed to one another — if any of
    the three drifts, the fold and the read disagree."""
    from pantasia_db_sync_spark.pipeline.store import TableStore

    store = TableStore(str(tmp_path_factory.mktemp("cdf_prop")))
    cid = 0
    for kind, rows in ops:
        cid += 1
        df = spark.createDataFrame(rows, "k long, val long")
        if kind == "append":
            store.append("t", df, commit_id=cid)
        elif kind == "delete":
            store.delete_facts("t", df.select("k"), commit_id=cid)
        else:
            store.upsert_facts("t", df, ["k"], commit_id=cid)
        store.commit_append("t", cid)

    feed = store.read_facts_changes(spark, "t", since=0)
    # a table that only ever saw deletes has no data root: feed and
    # read are both None (no schema exists to surface)
    events = sorted(
        (r["_commit"], r["_change_type"], r["k"], r["val"])
        for r in (feed.collect() if feed is not None else [])
    )
    # fold: state maps key -> list of (commit, val) live versions
    state: dict[int, list[tuple[int, int]]] = {}
    for commit, kind, k, val in events:
        if kind == "insert":
            state.setdefault(k, []).append((commit, val))
        else:  # delete kills versions strictly below its commit
            state[k] = [
                (c, v) for c, v in state.get(k, []) if c >= commit
            ]
    expect = sorted(
        (k, v) for k, versions in state.items() for _, v in versions
    )
    read = store.read_facts(spark, "t")
    got = sorted((r["k"], r["val"]) for r in read.collect()) if read is not None else []
    assert got == expect, (got, expect, events)


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, 8), st.integers(0, 8), st.integers(0, 20)
        ),
        min_size=1,
        max_size=15,
    ),
    rounds=st.integers(1, 4),
)
def test_shortest_paths_matches_bellman_ford(spark, edges, rounds):
    """shortest_paths ≡ serial synchronous Bellman-Ford capped at the
    same round count (= exact min over ≤rounds-edge paths), for any
    undirected weighted multigraph including self-loops, parallel
    edges with different weights, and zero weights."""
    from pantasia_db_sync_spark.operators.components import shortest_paths

    edges = [(u, v, w) for u, v, w in edges]
    src = min(min(u, v) for u, v, _ in edges)
    # serial synchronous relaxation over the symmetric edge list
    dist = {src: 0}
    for _ in range(rounds):
        nd = dict(dist)
        for u, v, w in edges:
            for a, b in ((u, v), (v, u)):
                if a in dist:
                    c = dist[a] + w
                    if b not in nd or c < nd[b]:
                        nd[b] = c
        dist = nd
    nodes = {n for u, v, _ in edges for n in (u, v)}
    expect = {n: dist.get(n) for n in nodes}

    df = spark.createDataFrame(edges, "u long, v long, w long")
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(df, src=src, rounds=rounds).collect()
    }
    assert got == expect, (got, expect)


@settings(**SETTINGS)
@given(
    n_seg=st.integers(1, 5),
    seg_blocks=st.integers(1, 4),
    gap_blocks=st.integers(1, 3),
    amp=st.integers(1, 30000),
    tail=st.integers(0, 63),
    channels=st.integers(1, 2),
)
def test_audio_segments_exact_for_block_aligned_and_robust_to_tail(
    n_seg, seg_blocks, gap_blocks, amp, tail, channels
):
    """The VAD's exactness contract on block-aligned clips — segment
    count, voiced/silence frame totals, boundary checksum — plus
    robustness off the happy path: a silent TAIL shorter than one
    window must not invent a segment, and stereo input mixes down
    instead of doubling the track length."""
    import struct

    import numpy as np

    from pantasia_db_sync_spark.operators.multimodal import (
        audio_segments,
        encode_wav_gapped,
    )

    W = 64
    seg, gap = seg_blocks * W, gap_blocks * W
    clip = encode_wav_gapped(16000, n_seg, seg, gap, amp)
    d = audio_segments(clip, window=W, threshold=0.5)
    total = n_seg * seg + (n_seg - 1) * gap
    assert d["n_segments"] == n_seg
    assert d["voiced_frames"] == n_seg * seg
    assert d["silence_frames"] == total - n_seg * seg
    assert d["seg_start_sum"] == (seg + gap) * n_seg * (n_seg - 1) // 2

    # append a silent sub-window tail by hand-building the sample track
    frames = np.zeros(seg + tail, dtype="<i2")
    burst = np.empty(seg, dtype="<i2")
    burst[0::2] = amp
    burst[1::2] = -amp
    frames[:seg] = burst
    data = np.repeat(frames, channels).tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, 16000, 16000 * 2 * channels, 2 * channels, 16
    )
    raw = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + 16 + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    d2 = audio_segments(raw, window=W, threshold=0.5)
    assert d2["n_segments"] == 1
    assert d2["seg_start_sum"] == 0
    assert d2["silence_frames"] == tail  # the tail counts as silence


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=20,
    ),
    k=st.integers(1, 4),
    rounds=st.integers(1, 4),
)
def test_kcore_matches_serial_peeling(spark, edges, k, rounds):
    """kcore ≡ serial round-synchronous peeling (delete degree<k nodes
    + their edges per round, then the final degree≥k select), for any
    multigraph including self-loops and duplicate edges — and equals
    the TRUE k-core whenever the rounds suffice to converge."""
    from pantasia_db_sync_spark.operators.components import kcore

    sym = [(u, v) for u, v in edges] + [(v, u) for u, v in edges]
    cur = sym
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for a, _b in cur:
            deg[a] = deg.get(a, 0) + 1
        keep = {a for a, d in deg.items() if d >= k}
        cur = [(a, b) for a, b in cur if a in keep and b in keep]
    deg = {}
    for a, _b in cur:
        deg[a] = deg.get(a, 0) + 1
    expect = {a: d for a, d in deg.items() if d >= k}

    df = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["degree"] for r in kcore(df, k=k, rounds=rounds).collect()}
    assert got == expect, (got, expect)


def test_span_extend_reports_maximal_repeats_at_full_length(spark, tmp_path):
    """dedup_span_extend's contract (the round-9 verdict's property
    pin): every maximal repeated substring of >= k tokens that seeds
    at k=8 fixed windows is reported as ONE segment of exactly its
    full length — cross-document and within-document — and unique
    text yields no segments. Cross-checked against the DuckDB oracle
    on the same synthetic corpus."""
    import duckdb

    from pantasia_db_sync_spark.plans.registry import ORACLES, QUERIES

    def words(prefix, n):
        return [f"{prefix}{i}" for i in range(n)]

    rep = [f"rep{i}" for i in range(20)]     # 20-token cross-doc repeat
    q8 = [f"q{i}" for i in range(8)]         # exactly-k within-doc repeat
    docs = [
        (100, " ".join(words("a", 30) + rep + words("b", 25))),
        (101, " ".join(words("c", 10) + rep + words("d", 40))),
        (102, " ".join(q8 + words("e", 42) + q8 + words("f", 10))),
        (103, " ".join(words("g", 60))),     # fully unique
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    path = str(tmp_path / "corpus")
    df.coalesce(1).write.parquet(path + "/tmp")
    import glob
    import os
    import shutil

    os.makedirs(path, exist_ok=True)
    shutil.move(glob.glob(path + "/tmp/part-*.parquet")[0],
                path + "/documents.parquet")

    out = sorted(
        tuple(r) for r in QUERIES["dedup_span_extend"](spark, path).collect()
    )
    assert out == [
        (100, 30, 49, 20),   # full 20-token length, not the 8-grid chop
        (101, 10, 29, 20),
        (102, 0, 7, 8),      # within-doc repeat, both occurrences
        (102, 50, 57, 8),
    ], out

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{path}/documents.parquet'"
    )
    oracle = sorted(con.execute(ORACLES["dedup_span_extend"]).fetchall())
    assert oracle == out


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b"]), min_size=1, max_size=24),
        min_size=1,
        max_size=6,
    )
)
def test_span_scrub_matches_python_model(spark, tmp_path, docs):
    """dedup_span_scrub against a BRUTE-FORCE Python model on random
    two-letter corpora (dense 8-gram collisions, heavy within-doc
    repeats — the regime where islands merge and canonical selection
    interact): a position is cut iff it lies inside the interval union
    of non-canonical duplicated windows, canonical = the globally
    first (doc_id, pos) occurrence. The island/gap formulation in the
    operator must equal this direct interval union exactly."""
    import glob
    import os
    import shutil
    import uuid
    from collections import Counter

    from pantasia_db_sync_spark.plans.registry import QUERIES

    k = 8
    corpus = {100 + i: t for i, t in enumerate(docs)}

    # --- model ---
    wins = []
    for d in sorted(corpus):
        t = corpus[d]
        for i in range(len(t) - k + 1):
            wins.append((d, i, tuple(t[i : i + k])))
    cnt = Counter(sp for _, _, sp in wins)
    first = {}
    for d, i, sp in wins:  # wins already in (doc_id, pos) order
        first.setdefault(sp, (d, i))
    expected = {}
    for d in sorted(corpus):
        t = corpus[d]
        covered = set()
        for dd, i, sp in wins:
            if dd == d and cnt[sp] >= 2 and first[sp] != (d, i):
                covered.update(range(i, i + k))
        kept = [tok for p, tok in enumerate(t) if p not in covered]
        expected[d] = (len(t), len(covered), " ".join(kept))

    # --- operator ---
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in corpus.items()],
        "doc_id long, text string",
    )
    path = str(tmp_path / ("corpus_" + uuid.uuid4().hex[:8]))
    df.coalesce(1).write.parquet(path + "/tmp")
    os.makedirs(path, exist_ok=True)
    shutil.move(
        glob.glob(path + "/tmp/part-*.parquet")[0],
        path + "/documents.parquet",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["cut_tokens"], r["scrubbed_text"])
        for r in QUERIES["dedup_span_scrub"](spark, path).collect()
    }
    shutil.rmtree(path, ignore_errors=True)
    assert got == expected, (got, expected)


def test_span_scrub_keeps_one_canonical_and_rerun_is_clean(spark, tmp_path):
    """dedup_span_scrub's contract (the round-10 verdict's ask): the
    EARLIEST occurrence of every repeated segment survives intact,
    every later occurrence is cut at its full merged length, unique
    docs pass through untouched — and the scrubbed corpus re-run
    through dedup_span_extend reports ZERO duplicated segments (this
    corpus splices no new k-windows across cut boundaries; in general
    the re-run is near-zero, not identically zero)."""
    import glob
    import os
    import shutil

    from pantasia_db_sync_spark.plans.registry import QUERIES

    def words(prefix, n):
        return [f"{prefix}{i}" for i in range(n)]

    rep = [f"rep{i}" for i in range(20)]     # 20-token cross-doc repeat
    q8 = [f"q{i}" for i in range(8)]         # exactly-k within-doc repeat
    docs = {
        100: words("a", 30) + rep + words("b", 25),
        101: words("c", 10) + rep + words("d", 40),
        102: q8 + words("e", 42) + q8 + words("f", 10),
        103: words("g", 60),                 # fully unique
    }

    def write_corpus(rows, sub):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        path = str(tmp_path / sub)
        df.coalesce(1).write.parquet(path + "/tmp")
        os.makedirs(path, exist_ok=True)
        shutil.move(glob.glob(path + "/tmp/part-*.parquet")[0],
                    path + "/documents.parquet")
        return path

    path = write_corpus(
        [(i, " ".join(t)) for i, t in docs.items()], "corpus"
    )
    out = {
        r["doc_id"]: r
        for r in QUERIES["dedup_span_scrub"](spark, path).collect()
    }
    # canonical (earliest) occurrence kept whole; later ones cut whole
    assert out[100]["cut_tokens"] == 0
    assert out[100]["scrubbed_text"] == " ".join(docs[100])
    assert out[101]["cut_tokens"] == 20
    assert out[101]["scrubbed_text"] == " ".join(
        words("c", 10) + words("d", 40)
    )
    assert out[102]["cut_tokens"] == 8
    assert out[102]["scrubbed_text"] == " ".join(
        q8 + words("e", 42) + words("f", 10)
    )
    assert out[103]["cut_tokens"] == 0
    assert out[103]["scrubbed_text"] == " ".join(docs[103])

    # fixpoint check: the scrubbed corpus has no duplicated segments
    scrubbed = write_corpus(
        [(i, r["scrubbed_text"]) for i, r in out.items()], "scrubbed"
    )
    assert QUERIES["dedup_span_extend"](spark, scrubbed).count() == 0


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.text(alphabet="abx c", min_size=1, max_size=16),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(1, 5),
    m=st.integers(2, 5),
)
@example(docs=["aacba"], k=3, m=2)  # round-10 hole: batch filled before M set
@example(docs=["ca", "bbb"], k=2, m=2)  # round-11 hole: self-overlap (b,b)
@example(docs=["xabxab", "abz"], k=4, m=3)
def test_bpe_batched_identical_to_serial(spark, docs, k, m):
    """batch_merges > 1 must be OUTPUT-IDENTICAL to the serial
    trainer for any corpus (the round-9 verdict's property pin). The
    prefix rule + strict-M guard in _select_batch is what makes this
    exact — plain pairwise disjointness is NOT enough, because a
    merge creates new pairs containing the merged symbol that can
    outrank a later batch member (see the trap test below)."""
    from pantasia_db_sync_spark.operators.bpe import bpe_train

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    serial = [
        tuple(r) for r in bpe_train(df, "text", num_merges=k).collect()
    ]
    batched = [
        tuple(r)
        for r in bpe_train(df, "text", num_merges=k, batch_merges=m).collect()
    ]
    assert batched == serial, (batched, serial)


def test_bpe_batched_created_pair_trap(spark):
    """The adversarial case that breaks naive skip-rule batching:
    corpus 'xab'x100 + 'cd'x60. Round 1 merges (a,b) -> creating pair
    (x,ab) with count 100, which must WIN rank 2 over the untouched
    (c,d):60. A batcher that had greedily pulled (c,d) into round 1's
    batch (it is symbol-disjoint from (a,b)!) would emit the wrong
    rank order; the strict-M prefix guard defers it."""
    from pantasia_db_sync_spark.operators.bpe import bpe_train

    rows = [(i, "xab") for i in range(100)] + [
        (1000 + i, "cd") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [
        tuple(r)
        for r in bpe_train(df, "text", num_merges=3, batch_merges=4).collect()
    ]
    assert out == [
        (1, "a", "b", "ab", 100),
        (2, "x", "ab", "xab", 100),
        (3, "c", "d", "cd", 60),
    ], out


def test_kcore_fixpoint_peels_cascades_and_matches_capped(spark):
    """kcore(rounds=None) peels to the true fixpoint: a pendant chain
    hung off a clique cascades one node per round (depth 3 here), so a
    1-round cap keeps chain remnants while the fixpoint sheds them
    all; a cap >= the cascade depth equals the fixpoint exactly; and
    every surviving node's REPORTED degree is its degree in the
    induced surviving subgraph, all >= k. The fixpoint's edge counts
    ride the checkpoint jobs, the initial freeze's too: building it
    runs 21 jobs (23 when the initial count was a job of its own)."""
    from pantasia_db_sync_spark.operators.components import kcore

    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    chain = [(0, 7), (7, 6), (6, 5)]  # 5 peels r1, 6 peels r2, 7 peels r3
    df = spark.createDataFrame(clique + chain, "u long, v long")

    tracker = spark.sparkContext.statusTracker()

    def last_job_id() -> int:
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job_id()
    fixpoint = kcore(df, k=2, rounds=None)
    assert last_job_id() - before <= 21
    fix = {r.node: r.degree for r in fixpoint.collect()}
    assert fix == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}, fix

    # cascade unfinished after 1 round: node 7 still reports degree 2
    # (edges to 0 and to not-yet-peeled 6); the output's final
    # degree>=k filter already hides 6 itself
    shallow = {r.node for r in kcore(df, k=2, rounds=1).collect()}
    assert shallow == {0, 1, 2, 3, 4, 7}, shallow

    capped = {r.node: r.degree for r in kcore(df, k=2, rounds=6).collect()}
    assert capped == fix

    # induced-degree invariant on the fixpoint output
    surv = set(fix)
    induced = {}
    for u, v in clique + chain:
        if u in surv and v in surv:
            induced[u] = induced.get(u, 0) + 1
            induced[v] = induced.get(v, 0) + 1
    assert induced == fix
    assert all(d >= 2 for d in fix.values())


@settings(**SETTINGS)
@given(
    n=st.integers(20, 120),
    seed=st.integers(0, 2**31 - 1),
    parts=st.integers(1, 7),
)
def test_logistic_irls_matches_serial_replica(spark, n, seed, parts):
    """The distributed IRLS fit is BIT-IDENTICAL to the serial
    pure-Python replica on any dataset and ANY partition count — the
    integer micro-unit sums are order-free, so partitioning cannot
    move the result (the property that makes the DuckDB oracle valid).
    """
    import random

    from pantasia_db_sync_spark.operators.logistic import (
        logistic_irls_fit,
        python_replica_fit,
    )

    rng = random.Random(seed)
    rows = [
        (
            round(rng.uniform(0.0, 5.0), 3),
            round(rng.uniform(0.0, 2.4), 3),
            float(rng.random() < 0.3),
        )
        for _ in range(n)
    ]
    df = spark.createDataFrame(
        rows, "x1 double, x2 double, y double"
    ).repartition(parts)
    feats = df.selectExpr("CAST(1.0 AS DOUBLE) AS x0", "x1", "x2", "y")
    got, n_got = logistic_irls_fit(feats, iters=3)
    want = python_replica_fit(rows, iters=3)
    assert n_got == n
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# Exif / TIFF metadata codec (operators/multimodal.py encode_exif/decode_exif)
# ---------------------------------------------------------------------------

def _spec_exif_ii() -> bytes:
    """Hand-assembled little-endian Exif blob, INDEPENDENT of
    encode_exif: inline ASCII Make (4 bytes, exercises the inline path
    the encoder never emits), an unknown UNDEFINED-type tag the parser
    must skip, and the out-of-line data area in REVERSED order
    (DateTime before XResolution) so only true offset-following parses
    it."""
    import struct as _s

    tiff = (
        b"II" + _s.pack("<H", 42) + _s.pack("<I", 8)
        + _s.pack("<H", 5)
        + _s.pack("<HHI", 0x010F, 2, 4) + b"Zed\x00"
        + _s.pack("<HHI", 0x0112, 3, 1) + _s.pack("<H", 6) + b"\x00\x00"
        + _s.pack("<HHI", 0x011A, 5, 1) + _s.pack("<I", 94)
        + _s.pack("<HHI", 0x0132, 2, 20) + _s.pack("<I", 74)
        + _s.pack("<HHI", 0x9999, 7, 4) + b"\xde\xad\xbe\xef"
        + _s.pack("<I", 0)
        + b"2023:12:31 23:59:58\x00"
        + _s.pack("<II", 300, 2)
    )
    return b"Exif\x00\x00" + tiff


def test_exif_parser_reads_spec_bytes():
    from pantasia_db_sync_spark.operators.multimodal import decode_exif

    d = decode_exif(_spec_exif_ii())
    assert d["byte_order"] == "II"
    assert d["n_entries"] == 5
    assert d["make"] == "Zed"  # inline ASCII value
    assert d["orientation"] == 6
    assert (d["xres_num"], d["xres_den"]) == (300, 2)
    assert d["datetime"] == "2023:12:31 23:59:58"


@settings(**SETTINGS)
@given(
    mk=st.integers(0, 9),
    ori=st.integers(1, 8),
    num=st.integers(1, 10**6),
    den=st.integers(1, 10**4),
    day=st.integers(1, 28),
    big=st.booleans(),
)
def test_exif_roundtrip_both_endians(mk, ori, num, den, day, big):
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_exif,
        encode_exif,
    )

    dt = f"2024:01:{day:02d} 12:00:00"
    d = decode_exif(
        encode_exif(f"CAM{mk}", ori, (num, den), dt, big_endian=big)
    )
    assert d["byte_order"] == ("MM" if big else "II")
    assert d["make"] == f"CAM{mk}"
    assert d["orientation"] == ori
    assert (d["xres_num"], d["xres_den"]) == (num, den)
    assert d["datetime"] == dt


def test_exif_parser_rejects_garbage():
    import pytest as _pytest

    from pantasia_db_sync_spark.operators.multimodal import decode_exif

    with _pytest.raises(ValueError):
        decode_exif(b"JFIF\x00\x00II*\x00")
    with _pytest.raises(ValueError):
        decode_exif(b"Exif\x00\x00XX\x2a\x00")  # bad byte-order mark
    with _pytest.raises(ValueError):
        decode_exif(b"Exif\x00\x00II\x2b\x00\x08\x00\x00\x00")  # magic != 42


def test_gradient_bmp_spec_bytes_and_entropy():
    """encode_bmp_gradient emits a spec-valid raster (hand-checked
    bottom-up layout with padding) and bmp_entropy_features' term
    arithmetic matches the closed form for the uniform case."""
    import math

    from pantasia_db_sync_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp_gradient,
    )

    b = encode_bmp_gradient(2, 2)
    # pixel indices walk top-left -> right -> down; storage is
    # bottom-up: last row (p=2,3) first. Row stride 2*3=6 + 2 pad.
    assert b[10:14] == b"\x36\x00\x00\x00"  # data offset 54
    raster = b[54:]
    assert raster[:6] == bytes((2, 2, 2, 3, 3, 3))  # bottom row p=2,3
    assert raster[8:14] == bytes((0, 0, 0, 1, 1, 1))  # top row p=0,1
    d = decode_bmp(b)  # the independent decoder still parses it
    assert (d["width"], d["height"]) == (2, 2)
    assert d["mean_b"] == (0 + 1 + 2 + 3) / 4.0

    # n <= 256 => all counts 1 => entropy = ln(n) via the same
    # nano-unit term arithmetic the operator and the oracle share
    n = 4
    expect = sum(
        math.floor(-(1 / n) * math.log(1 / n) * 1e9 + 0.5) for _ in range(n)
    ) / 1e9
    assert abs(expect - math.log(n)) < 1e-6


def test_multi_bfs_matches_serial_bfs(spark):
    """multi_bfs_distances ≡ a serial per-seed BFS on adversarial
    shapes: a path (deep), a star (wide), a disconnected pair, and a
    triangle with a pendant — covering hop-cap truncation, unreachable
    nodes, and seeds in different components."""
    from collections import deque

    from pantasia_db_sync_spark.operators.components import multi_bfs_distances

    graphs = {
        "path": [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6)],
        "star": [(0, i) for i in range(1, 8)],
        "split": [(0, 1), (1, 2), (10, 11)],
        "pendant": [(0, 1), (1, 2), (2, 0), (2, 3)],
    }
    hops = 4
    for name, edges in graphs.items():
        adj: dict = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        seeds = sorted(adj)[:3]

        def serial(src):
            dist = {src: 0}
            q = deque([src])
            while q:
                u = q.popleft()
                if dist[u] >= hops:
                    continue
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        q.append(w)
            return dist

        want = {
            (s, node, d) for s in seeds for node, d in serial(s).items()
        }
        edf = spark.createDataFrame(edges, "u int, v int")
        got = {
            (r["seed"], r["node"], r["dist"])
            for r in multi_bfs_distances(edf, seeds=seeds, hops=hops).collect()
        }
        assert got == want, (name, got ^ want)


def test_multi_bfs_seed_absent_from_graph(spark):
    """A seed id with no edges still yields its (seed, seed, 0) row —
    the frontier is built from the seeds list, not by filtering the
    graph's node set, so an isolated vertex is never silently dropped
    from a downstream centrality (r12 ADVICE contract gap)."""
    from pantasia_db_sync_spark.operators.components import multi_bfs_distances

    edf = spark.createDataFrame([(0, 1), (1, 2)], "u int, v int")
    got = {
        (r["seed"], r["node"], r["dist"])
        for r in multi_bfs_distances(edf, seeds=[0, 99, 99], hops=2).collect()
    }
    assert (99, 99, 0) in got  # absent seed: distance 0 to itself
    assert {t for t in got if t[0] == 99} == {(99, 99, 0)}
    assert {t for t in got if t[0] == 0} == {(0, 0, 0), (0, 1, 1), (0, 2, 2)}


def test_jpeg_progressive_solid_roundtrip_bit_exact():
    """encode_jpeg_gray_progressive -> decode_jpeg is BIT-EXACT for
    solid images across partial edge blocks and multi-block rasters
    (the four-scan DC-first / AC-first / DC-refine / AC-refine script,
    EOBn runs with r > 0 included for every raster above 1 block), and
    agrees exactly with the baseline twin of the same pixels."""
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    for w, h, g in [(1, 1, 0), (8, 8, 255), (21, 13, 137), (100, 40, 77)]:
        d = decode_jpeg(encode_jpeg_gray_progressive(w, h, g))
        assert (d["width"], d["height"], d["channels"]) == (w, h, 1)
        assert d["progressive"] is True
        assert d["mean_gray"] == float(g), (w, h, g, d["mean_gray"])
        db = decode_jpeg(encode_jpeg_gray(w, h, g))
        assert db["mean_gray"] == d["mean_gray"]


def test_jpeg_progressive_spec_bytes_matches_baseline_pixels():
    """HAND-ASSEMBLED two-block progressive stream vs a hand-assembled
    BASELINE stream carrying the same final coefficients: planes must
    be IDENTICAL floats. Pins the parts the solid fixtures cannot see:
    spectral-band AC-first coding at Al=1, refinement correction bits
    on nonzero-history coefficients, a NEWLY-nonzero insert during
    refinement (run skip over zero-history positions), an EOB run
    closing a refinement block, per-block DC successive approximation
    with negative DC, and the non-interleaved block raster."""
    import struct as _struct

    from pantasia_db_sync_spark.operators.multimodal import (
        _AC_CODES,
        _AC_SYMS,
        _BitWriter,
        _DC_CODES,
        _DC_SYMS,
        _EOB_CODES,
        _EOB_SYMS,
        _dht_segment,
        decode_jpeg,
    )

    # final coefficients (zigzag order), 16x8 image = 2 blocks
    # block 0: DC=24, zz1=+5, zz3=-1 ; block 1: DC=-17, zz2=+3
    def header(sof_marker: bytes) -> bytearray:
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
        out += (
            sof_marker + _struct.pack(">H", 11) + b"\x08"
            + _struct.pack(">HH", 8, 16) + b"\x01" + bytes([1, 0x11, 0])
        )
        out += _dht_segment(0, 0, _DC_SYMS, 4)
        return out

    def put_dc_diff(w, diff):
        t = abs(diff).bit_length()
        code, ln = _DC_CODES[t]
        w.put(code, ln)
        if t:
            bits = diff if diff > 0 else diff + (1 << t) - 1
            w.put(bits & ((1 << t) - 1), t)

    def sos1(ss, se, ah, al) -> bytes:
        return b"\xff\xda" + _struct.pack(">H", 8) + b"\x01" + bytes(
            [1, 0x00, ss, se, (ah << 4) | al]
        )

    # --- baseline reference stream -------------------------------------
    base = header(b"\xff\xc0")
    base += _dht_segment(1, 0, sorted(_AC_SYMS), 8)
    base += sos1(0, 63, 0, 0)
    w = _BitWriter()
    put_dc_diff(w, 24)                      # block 0 DC
    code, ln = _AC_CODES[0x03]              # run 0, size 3 -> +5
    w.put(code, ln); w.put(5, 3)
    code, ln = _AC_CODES[0x11]              # run 1, size 1 -> skip zz2, -1
    w.put(code, ln); w.put(0, 1)            # negative: complement bits
    code, ln = _AC_CODES[0x00]; w.put(code, ln)   # EOB
    put_dc_diff(w, -17 - 24)                # block 1 DC diff
    code, ln = _AC_CODES[0x12]              # run 1, size 2 -> skip zz1, +3
    w.put(code, ln); w.put(3, 2)
    code, ln = _AC_CODES[0x00]; w.put(code, ln)   # EOB
    base += w.flush() + b"\xff\xd9"
    db = decode_jpeg(bytes(base))

    # --- progressive stream, same final coefficients --------------------
    # AC table: EOBn symbols + (run, size=1) inserts + (run, size) firsts
    ac_syms = sorted(set(_EOB_SYMS) | {0x01, 0x11, 0x12, 0x02})
    ac_codes = {sym: (i, 8) for i, sym in enumerate(ac_syms)}
    prog = header(b"\xff\xc2")
    prog += _dht_segment(1, 0, ac_syms, 8)
    # scan 1: DC first, Al=1 — sends dc >> 1 per block as diffs
    prog += sos1(0, 0, 0, 1)
    w = _BitWriter()
    put_dc_diff(w, 24 >> 1)                 # block 0: 12
    put_dc_diff(w, (-17 >> 1) - (24 >> 1))  # block 1: -9 - 12
    prog += w.flush()
    # scan 2: AC first, band 1..63, Al=1 — sends magnitude >> 1
    prog += sos1(1, 63, 0, 1)
    w = _BitWriter()
    code, ln = ac_codes[0x02]               # block 0: zz1 = +5>>1 = 2
    w.put(code, ln); w.put(2, 2)
    code, ln = ac_codes[0x00]; w.put(code, ln)    # EOB (zz3's |-1| < 2)
    code, ln = ac_codes[0x11]               # block 1: skip zz1, zz2 = +3>>1
    w.put(code, ln); w.put(1, 1)
    code, ln = ac_codes[0x00]; w.put(code, ln)    # EOB
    prog += w.flush()
    # scan 3: DC refine, Al=0 — raw low bits: 24&1=0, -17&1=1
    prog += sos1(0, 0, 1, 0)
    w = _BitWriter()
    w.put(0, 1); w.put(1, 1)
    prog += w.flush()
    # scan 4: AC refine, band 1..63, Al=0
    prog += sos1(1, 63, 1, 0)
    w = _BitWriter()
    # block 0: insert -1 after skipping ONE zero-history coeff (zz2);
    # on the way, zz1 (history 4) takes correction bit 1 -> 5
    code, ln = ac_codes[0x11]
    w.put(code, ln)
    w.put(0, 1)        # sign bit of the new coefficient: 0 -> -(1<<0)
    w.put(1, 1)        # correction bit for zz1: 4 -> 5
    code, ln = ac_codes[0x00]; w.put(code, ln)  # EOB closes block 0
    # block 1: pure EOB run; zz2 (history 2) corrects 2 -> 3 inside it
    code, ln = ac_codes[0x00]; w.put(code, ln)
    w.put(1, 1)        # correction bit for zz2
    prog += w.flush() + b"\xff\xd9"
    dp = decode_jpeg(bytes(prog))

    assert dp["progressive"] is True
    assert (dp["width"], dp["height"]) == (16, 8)
    assert dp["planes"][0] == db["planes"][0]  # EXACT float equality
    assert dp["mean_gray"] == db["mean_gray"]


def test_jpeg_progressive_three_component_interleaved_dc():
    """Progressive COLOR: hand-assembled 3-component stream whose DC
    first scan is INTERLEAVED (one MCU walk, per-component predictors,
    §G + §A.2) and whose AC scans are per-component (spec: Ss>0 scans
    are non-interleaved). Solid R=G=B=v -> Y=v, Cb=Cr=128 under BT.601,
    so chroma DCs are zero and all three plane means are exact."""
    import struct as _struct

    from pantasia_db_sync_spark.operators.multimodal import (
        _BitWriter,
        _DC_CODES,
        _DC_SYMS,
        _EOB_CODES,
        _EOB_SYMS,
        _dht_segment,
        _eobrun_segment,
        decode_jpeg,
    )

    v = 200
    dc_y = round(8.0 * (v - 128))
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc2" + _struct.pack(">H", 17) + b"\x08"
        + _struct.pack(">HH", 10, 12) + b"\x03"
        + bytes([1, 0x11, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
    )
    out += _dht_segment(0, 0, _DC_SYMS, 4)
    out += _dht_segment(1, 0, sorted(_EOB_SYMS), 8)

    def put_dc_diff(w, diff):
        t = abs(diff).bit_length()
        code, ln = _DC_CODES[t]
        w.put(code, ln)
        if t:
            bits = diff if diff > 0 else diff + (1 << t) - 1
            w.put(bits & ((1 << t) - 1), t)

    # scan 1: interleaved DC first (Al=1) over 2x2 MCUs, 3 components
    out += b"\xff\xda" + _struct.pack(">H", 12) + b"\x03" + bytes(
        [1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x01]
    )
    w = _BitWriter()
    preds = [0, 0, 0]
    dcs_hi = [dc_y >> 1, 0, 0]
    for _ in range(4):
        for ci in range(3):
            put_dc_diff(w, dcs_hi[ci] - preds[ci])
            preds[ci] = dcs_hi[ci]
    out += w.flush()
    # per-component AC first scans (all-zero band as one EOBn run)
    for cid in (1, 2, 3):
        out += b"\xff\xda" + _struct.pack(">H", 8) + b"\x01" + bytes(
            [cid, 0x00, 1, 63, 0x01]
        )
        out += _eobrun_segment(4, _EOB_CODES)
    # scan: interleaved DC refine (Ah=1, Al=0) — raw bits
    out += b"\xff\xda" + _struct.pack(">H", 12) + b"\x03" + bytes(
        [1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x10]
    )
    w = _BitWriter()
    for _ in range(4):
        for ci, dc in enumerate((dc_y, 0, 0)):
            w.put(dc & 1, 1)
    out += w.flush()
    # per-component AC refinement scans (zero history: EOBn runs)
    for cid in (1, 2, 3):
        out += b"\xff\xda" + _struct.pack(">H", 8) + b"\x01" + bytes(
            [cid, 0x00, 1, 63, 0x10]
        )
        out += _eobrun_segment(4, _EOB_CODES)
    out += b"\xff\xd9"

    d = decode_jpeg(bytes(out))
    assert (d["width"], d["height"], d["channels"]) == (12, 10, 3)
    assert d["progressive"] is True
    assert d["mean_y"] == float(v)
    assert d["mean_cb"] == 128.0 and d["mean_cr"] == 128.0


def test_mp4_box_walk_spec_bytes():
    """HAND-ASSEMBLED ISO-BMFF stream pinning the box grammar
    independently of encode_mp4_meta's composition: a version-1 mvhd
    (64-bit times/duration — the encoder only writes version 0), a
    size==0 final box (extends to EOF), an unknown top-level box
    skipped by size, and a largesize trak. Also: malformed sizes and
    a missing mvhd must raise."""
    import struct as _struct

    import pytest

    from pantasia_db_sync_spark.operators.multimodal import (
        _box,
        decode_mp4_meta,
    )

    # version-1 mvhd: verflags + u64 times + u32 timescale + u64 dur
    mvhd_v1 = _box(
        b"mvhd",
        _struct.pack(">B3x", 1)
        + _struct.pack(">QQ", 5, 6)
        + _struct.pack(">I", 90000)          # timescale 90 kHz
        + _struct.pack(">Q", 270000)         # duration = 3000 ms
        + b"\x00" * 80,
    )
    tkhd = _box(
        b"tkhd",
        _struct.pack(">B3b", 0, 0, 0, 7)
        + _struct.pack(">II", 0, 0)
        + _struct.pack(">I", 1)
        + b"\x00" * 4
        + _struct.pack(">I", 270000)
        + b"\x00" * 8
        + _struct.pack(">hhhh", 0, 0, 0, 0)
        + _struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + _struct.pack(">II", 640 << 16, 360 << 16),
    )
    hdlr = _box(
        b"hdlr",
        _struct.pack(">B3x", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 13,
    )
    trak = _box(b"trak", tkhd + _box(b"mdia", hdlr), large=True)
    unknown = _box(b"zzzz", b"junk-to-skip")
    # final mdat with size==0: extends to end of file
    mdat0 = _struct.pack(">I", 0) + b"mdat" + b"\x00" * 5
    stream = (
        _box(b"ftyp", b"mp42" + _struct.pack(">I", 0) + b"mp42isom")
        + unknown
        + _box(b"moov", mvhd_v1 + trak)
        + mdat0
    )
    d = decode_mp4_meta(stream)
    assert d["major_brand"] == "mp42"
    assert d["timescale"] == 90000
    assert d["duration_ms"] == 3000   # (270000 * 1000) // 90000
    assert d["n_tracks"] == 1
    assert (d["video_width"], d["video_height"]) == (640, 360)
    assert d["handlers"] == "vide"

    with pytest.raises(ValueError, match="bad box size"):
        decode_mp4_meta(_struct.pack(">I", 5) + b"ftyp" + b"\x00" * 20)
    with pytest.raises(ValueError, match="not a playable MP4"):
        decode_mp4_meta(_box(b"free", b"\x00" * 16))
    with pytest.raises(ValueError, match="not an MP4"):
        decode_mp4_meta(b"\x00\x00")


def test_ktruss_matches_serial_peeling(spark):
    """ktruss ≡ a serial per-round truss peel on adversarial shapes: a
    clique (nothing peels at low k), a clique + pendant spokes (spokes
    die round 1), two triangles sharing an edge, and a triangle-free
    star (everything dies)."""
    from itertools import combinations

    from pantasia_db_sync_spark.operators.components import ktruss

    def serial(edges, k, rounds):
        es = {tuple(sorted(e)) for e in edges}
        sup = {}
        for _ in range(rounds):
            adj = {}
            for u, v in es:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
            sup = {}
            for u, v in es:
                sup[(u, v)] = len(adj[u] & adj[v])
            es = {e for e, s in sup.items() if s >= k - 2}
        return {e: s for e, s in sup.items() if s >= k - 2}

    k5 = list(combinations(range(5), 2))
    graphs = {
        "clique5": k5,
        "clique+spokes": k5 + [(0, 10), (1, 11), (2, 12)],
        "bowtie": [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3)],
        "star": [(0, i) for i in range(1, 6)],
    }
    for name, edges in graphs.items():
        # k=2 keeps triangle-free edges (support >= 0 — the whole
        # graph); higher k peels (round-13 review finding)
        for k in (2, 3, 4, 5):
            want = serial(edges, k, rounds=2)
            edf = spark.createDataFrame(edges, "u int, v int")
            got = {
                (r["u"], r["v"]): r["support"]
                for r in ktruss(edf, k=k, rounds=2).collect()
            }
            assert got == want, (name, k, got, want)


def test_personalized_pagerank_matches_serial(spark):
    """personalized_pagerank ≡ a serial integer replica (floor-divided
    shares, restart at the seed, sparse zero-drop) on a path, a star
    centered on the seed, and a star NOT containing the seed's mass."""
    from pantasia_db_sync_spark.operators.components import personalized_pagerank

    def serial(edges, seed, rounds, micro=1_000_000):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        deg = {n: len(vs) for n, vs in adj.items()}
        r = {seed: micro}
        for _ in range(rounds):
            nxt = {}
            for u, ru in r.items():
                share = (85 * ru) // (100 * deg[u])
                for w in adj[u]:
                    nxt[w] = nxt.get(w, 0) + share
            nxt[seed] = nxt.get(seed, 0) + 150000
            r = {n: x for n, x in nxt.items() if x > 0}
        return r

    graphs = {
        "path": ([(0, 1), (1, 2), (2, 3)], 0),
        "star-seeded": ([(5, i) for i in range(4)], 5),
        "star-offside": ([(5, i) for i in range(4)] + [(0, 9)], 9),
    }
    for name, (edges, seed) in graphs.items():
        want = serial(edges, seed, rounds=4)
        edf = spark.createDataFrame(edges, "u int, v int")
        got = {
            r["node"]: r["rank_micro"]
            for r in personalized_pagerank(edf, seed=seed, rounds=4).collect()
        }
        assert got == want, (name, got, want)


def test_brandes_dependency_matches_serial(spark):
    """brandes_dependency ≡ a serial floored Brandes on shapes with
    real path multiplicity: a diamond (two shortest paths meet), a
    ladder, and a broom (hub funnels all deep mass)."""
    from collections import deque

    from pantasia_db_sync_spark.operators.components import brandes_dependency

    def serial(edges, seed, hops, micro=1_000_000):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        dist = {seed: 0}
        sigma = {seed: 1}
        q = deque([seed])
        order = [seed]
        while q:
            u = q.popleft()
            if dist[u] >= hops:
                continue
            for w in sorted(adj[u]):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0
                    q.append(w)
                    order.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        delta = {n: 0 for n in dist}
        for u in reversed(order):
            for w in adj[u]:
                if w in dist and dist[w] == dist[u] + 1:
                    delta[u] += (sigma[u] * (micro + delta[w])) // sigma[w]
        return {n: (dist[n], sigma[n], delta[n]) for n in dist}

    graphs = {
        "diamond": [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)],
        "ladder": [(0, 1), (0, 2), (1, 3), (2, 4), (3, 5), (4, 5)],
        "broom": [(0, 1), (1, 2), (2, 3), (2, 4), (2, 5)],
    }
    for name, edges in graphs.items():
        want = serial(edges, seed=0, hops=3)
        edf = spark.createDataFrame(edges, "u int, v int")
        got = {
            r["node"]: (r["dist"], r["sigma"], r["delta_micro"])
            for r in brandes_dependency(edf, seed=0, hops=3).collect()
        }
        assert got == want, (name, got, want)


def test_hits_micro_matches_serial(spark):
    """graph_hits_micro's integer rounds ≡ a serial replica on a
    bipartite graph with asymmetric degrees (one customer dominating,
    one supplier shared by all) — pins the half-step order
    (hub-from-authority first), the sum normalization, and the floor
    division."""
    from pantasia_db_sync_spark.plans.extras import _PR_OFFSET  # noqa: F401

    # serial replica of two rounds over explicit bipartite edges
    edges = [(1, 101), (1, 102), (1, 103), (2, 101), (3, 101), (3, 104)]
    micro = 1_000_000

    def serial(rounds=2):
        sup = sorted({s for _, s in edges})
        a = {s: micro for s in sup}
        h = {}
        for _ in range(rounds):
            h = {}
            for c, s in edges:
                h[c] = h.get(c, 0) + a[s]
            tot = sum(h.values())
            h = {c: (v * micro) // tot for c, v in h.items()}
            a = {}
            for c, s in edges:
                a[s] = a.get(s, 0) + h[c]
            tot = sum(a.values())
            a = {s: (v * micro) // tot for s, v in a.items()}
        return h, a

    # drive the same arithmetic through the Spark shape used by the
    # registered query (score join + groupBy + one-row sum cross)
    from pyspark.sql import functions as F

    e = spark.createDataFrame(edges, "c int, s int").localCheckpoint(eager=True)
    a = e.select(F.col("s").alias("node")).distinct().select(
        "node", F.lit(micro).cast("bigint").alias("score")
    )
    h = None
    for _ in range(2):
        hraw = (
            e.join(a.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("c").alias("node"))
            .agg(F.sum("score").cast("bigint").alias("raw"))
        )
        h = hraw.crossJoin(F.broadcast(hraw.agg(F.sum("raw").alias("tot")))).select(
            "node", F.expr(f"CAST(raw * {micro} div tot AS BIGINT)").alias("score")
        )
        araw = (
            e.join(h.withColumnRenamed("node", "c"), "c")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("score").cast("bigint").alias("raw"))
        )
        a = araw.crossJoin(F.broadcast(araw.agg(F.sum("raw").alias("tot")))).select(
            "node", F.expr(f"CAST(raw * {micro} div tot AS BIGINT)").alias("score")
        )
    want_h, want_a = serial()
    got_h = {r["node"]: r["score"] for r in h.collect()}
    got_a = {r["node"]: r["score"] for r in a.collect()}
    assert got_h == want_h and got_a == want_a, (got_h, want_h, got_a, want_a)


def test_mp4_malformed_bodies_raise_valueerror(spark=None):
    """Malformed box BODIES (not just headers) surface as ValueError —
    never struct.error / ZeroDivisionError leaking out of the walk
    (round-13 review finding): zero timescale, truncated mvhd body
    inside a well-sized enclosing box."""
    import struct as _struct

    import pytest

    from pantasia_db_sync_spark.operators.multimodal import (
        _box,
        decode_mp4_meta,
    )

    ftyp = _box(b"ftyp", b"isom" + _struct.pack(">I", 0) + b"isom")
    # timescale 0
    mvhd0 = _box(
        b"mvhd",
        _struct.pack(">B3x", 0) + _struct.pack(">II", 0, 0)
        + _struct.pack(">II", 0, 100) + b"\x00" * 80,
    )
    with pytest.raises(ValueError, match="timescale 0"):
        decode_mp4_meta(ftyp + _box(b"moov", mvhd0))
    # mvhd body shorter than the version-0 fixed layout
    mvhd_short = _box(b"mvhd", _struct.pack(">B3x", 0) + b"\x00" * 4)
    with pytest.raises(ValueError, match="malformed box body"):
        decode_mp4_meta(ftyp + _box(b"moov", mvhd_short))


def test_mp4_mjpeg_sample_decode_roundtrip():
    """MJPEG-in-MP4: the sample-table chain (stsd/stts/stsc/stsz/stco)
    resolves every frame's byte range and each sample decodes through
    the repo's own baseline-JPEG machinery to the EXACT encoded gray —
    including partial edge blocks (non-multiple-of-8 dims) and
    variable-size samples (different grays entropy-code to different
    lengths)."""
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_meta,
        decode_mp4_samples,
        encode_mp4_mjpeg,
    )

    for i in (0, 1, 7, 20, 254, 1233):
        w, h = i % 21 + 1, i % 13 + 1
        grays = [(i * 11 + 29 * k) % 256 for k in range(i % 3 + 2)]
        frames = decode_mp4_samples(encode_mp4_mjpeg(w, h, grays))
        assert [f["mean_gray"] for f in frames] == [float(g) for g in grays]
        assert all(f["width"] == w and f["height"] == h for f in frames)
        assert all(f["duration_ms"] == 40 for f in frames)
        assert [f["frame_idx"] for f in frames] == list(range(len(grays)))


def test_mp4_mjpeg_blob_also_parses_as_metadata():
    """The MJPEG fixture is a well-formed container: the metadata
    walker (decode_mp4_meta) reads the same blob's brand, track count,
    handler, and tkhd 16.16 display dims."""
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_meta,
        encode_mp4_mjpeg,
    )

    meta = decode_mp4_meta(encode_mp4_mjpeg(20, 12, [5, 105, 205]))
    assert meta["major_brand"] == "isom"
    assert meta["n_tracks"] == 1
    assert meta["handlers"] == "vide"
    assert (meta["video_width"], meta["video_height"]) == (20, 12)
    assert meta["duration_ms"] == 120  # 3 frames x 40 ms


def test_mp4_hevc_sample_entry_raises_not_implemented():
    """An HEVC sample entry must hit the ONE remaining honest video
    gate — the H.265 bitstream — not a silent wrong decode; and an
    avc1 entry with no avcC config is malformed-ValueError, not a
    crash (round 15: avc1 itself now decodes through operators/h264)."""
    import pytest

    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_samples,
        encode_mp4_mjpeg,
    )

    blob = encode_mp4_mjpeg(16, 16, [100])
    idx = blob.rindex(b"jpeg")  # the stsd sample-entry fourcc (in moov)
    with pytest.raises(NotImplementedError, match="hev1"):
        decode_mp4_samples(blob[:idx] + b"hev1" + blob[idx + 4 :])
    with pytest.raises(ValueError, match="avcC"):
        decode_mp4_samples(blob[:idx] + b"avc1" + blob[idx + 4 :])


def test_mp4_mjpeg_multi_sample_chunks():
    """The stsc resolver handles the GENERAL chunk map, not just
    one-sample-per-chunk: hand-rebuild the fixture's sample tables into
    a single chunk holding all samples and re-decode — same frames."""
    import struct as _s

    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_samples,
        encode_mp4_mjpeg,
    )

    blob = bytearray(encode_mp4_mjpeg(9, 9, [10, 60, 110]))

    def find_box(typ: bytes) -> int:
        i = blob.index(typ) - 4
        return i

    # rewrite stsc: entry_count 1, (first_chunk 1, samples_per_chunk 3, sdi 1)
    p = find_box(b"stsc")
    size = _s.unpack_from(">I", blob, p)[0]
    assert size == 8 + 8 + 12
    _s.pack_into(">III", blob, p + 16, 1, 3, 1)
    # rewrite stco to a single offset (the first sample's)
    p = find_box(b"stco")
    size = _s.unpack_from(">I", blob, p)[0]
    first_off = _s.unpack_from(">I", blob, p + 16)[0]
    new_stco = (
        _s.pack(">I", 8 + 8 + 4)
        + b"stco"
        + _s.pack(">B3xI", 0, 1)
        + _s.pack(">I", first_off)
    )
    old_end = p + size
    new_blob = bytes(blob[:p]) + new_stco + bytes(blob[old_end:])
    # shrink the enclosing stbl/minf/mdia/trak/moov sizes by the delta
    delta = size - len(new_stco)
    out = bytearray(new_blob)
    for typ in (b"stbl", b"minf", b"mdia", b"trak", b"moov"):
        q = out.index(typ) - 4
        _s.pack_into(">I", out, q, _s.unpack_from(">I", out, q)[0] - delta)
    frames = decode_mp4_samples(bytes(out))
    assert [f["mean_gray"] for f in frames] == [10.0, 60.0, 110.0]


def test_h264_codebooks_prefix_free_and_roundtrip():
    """Every CAVLC codebook (coeff_token ctx0 + chroma-DC, all
    total_zeros tables, run_before) is prefix-free with no duplicate
    codewords, and the ctx0 Kraft sum is the documented 1 - 5/65536 —
    a single wrong bit in any transcribed row breaks one of these."""
    from fractions import Fraction

    from pantasia_db_sync_spark.operators import h264

    def assert_prefix_free(name, codes):
        codes = list(codes)
        assert len(set(codes)) == len(codes), f"{name}: duplicate codes"
        for a in codes:
            for b in codes:
                assert a == b or not b.startswith(a), (
                    f"{name}: {a!r} prefixes {b!r}"
                )

    assert_prefix_free("ctx0", h264._COEFF_TOKEN_CTX0.values())
    assert_prefix_free("ctx1", h264._COEFF_TOKEN_CTX1.values())
    assert_prefix_free("ctx2", h264._COEFF_TOKEN_CTX2.values())
    assert_prefix_free("chromaDC", h264._COEFF_TOKEN_CHROMA_DC.values())
    # all 62 (t1, tc) rows present in every full-block context
    expect_keys = {(0, 0)} | {
        (t1, tc) for tc in range(1, 17) for t1 in range(min(3, tc) + 1)
    }
    assert set(h264._COEFF_TOKEN_CTX1) == expect_keys
    assert set(h264._COEFF_TOKEN_CTX2) == expect_keys
    # Kraft structure pins: ctx1 leaves two 14-bit leaves unused,
    # ctx2 exactly one 10-bit leaf (0000000000), chroma-DC is complete
    kraft1 = sum(
        Fraction(1, 2 ** len(v)) for v in h264._COEFF_TOKEN_CTX1.values()
    )
    assert kraft1 == 1 - Fraction(1, 8192)
    kraft2 = sum(
        Fraction(1, 2 ** len(v)) for v in h264._COEFF_TOKEN_CTX2.values()
    )
    assert kraft2 == 1 - Fraction(1, 1024)
    assert "0000000000" not in set(h264._COEFF_TOKEN_CTX2.values())
    kraftc = sum(
        Fraction(1, 2 ** len(v))
        for v in h264._COEFF_TOKEN_CHROMA_DC.values()
    )
    assert kraftc == 1
    for tc, tab in h264._TOTAL_ZEROS_4x4.items():
        assert_prefix_free(f"tz4x4[{tc}]", tab)
        assert len(tab) == 16 - tc + 1
    for tc, tab in h264._TOTAL_ZEROS_CDC.items():
        assert_prefix_free(f"tzCDC[{tc}]", tab)
        assert len(tab) == 4 - tc + 1
    for zl, tab in h264._RUN_BEFORE.items():
        assert_prefix_free(f"run[{zl}]", tab)
        assert len(tab) == zl + 1
    kraft = sum(
        Fraction(1, 2 ** len(v)) for v in h264._COEFF_TOKEN_CTX0.values()
    )
    assert kraft == 1 - Fraction(5, 65536)


def test_h264_cavlc_block_roundtrip_exhaustive_tokens():
    """CAVLC residual block encode->decode is the identity for every
    (TrailingOnes, TotalCoeff) row of ALL FOUR coeff_token contexts
    (ctx0, the round-16 ctx1/ctx2 dense-neighbor columns, chroma-DC)
    plus the nC>=8 fixed-length form, for levels spanning the
    suffix-adaptation ladder and the big-level escape (prefix >= 16),
    and for randomized sparse patterns hitting total_zeros and
    run_before."""
    import random

    from pantasia_db_sync_spark.operators import h264

    rng = random.Random(7)

    def roundtrip(coeffs, nC, max_coeffs):
        bw = h264._BitWriter()
        h264._encode_residual_block(bw, list(coeffs), nC, max_coeffs)
        bw.rbsp_trailing()
        br = h264._BitReader(bw.tobytes())
        got = h264._decode_residual_block(br, nC, max_coeffs)
        assert got == list(coeffs), (coeffs, got, nC)

    for max_coeffs, nC in (
        (16, 0), (16, 1), (16, 2), (16, 3), (16, 4), (16, 7), (16, 9),
        (4, -1),
    ):
        table = (
            h264._COEFF_TOKEN_CHROMA_DC if nC == -1 else
            h264._COEFF_TOKEN_CTX2 if 4 <= nC < 8 else
            h264._COEFF_TOKEN_CTX1 if 2 <= nC < 4 else
            h264._COEFF_TOKEN_CTX0
        )
        for (t1, tc) in table:
            if tc > max_coeffs:
                continue
            for trial in range(4):
                # tc nonzero positions, the last t1 of them +/-1
                pos = sorted(rng.sample(range(max_coeffs), tc))
                coeffs = [0] * max_coeffs
                for rank, p in enumerate(pos):
                    tail = tc - 1 - rank < t1
                    if tail:
                        coeffs[p] = rng.choice((1, -1))
                    else:
                        lvl = rng.choice(
                            (2, -2, 3, 7, -19, 64, 900, -33000, 2 ** 17)
                        )
                        coeffs[p] = lvl
                # the token's TrailingOnes must match construction:
                # ensure the non-tail coeffs are not +/-1 (they aren't)
                # and at most 3 tail ones
                roundtrip(coeffs, nC, max_coeffs)


def test_h264_exp_golomb_and_rbsp_roundtrip():
    from pantasia_db_sync_spark.operators import h264

    bw = h264._BitWriter()
    vals = [0, 1, 2, 3, 7, 8, 254, 255, 9999, 2 ** 20]
    svals = [0, 1, -1, 2, -2, 63, -64, 4096, -9999]
    for v in vals:
        bw.ue(v)
    for v in svals:
        bw.se(v)
    bw.rbsp_trailing()
    br = h264._BitReader(bw.tobytes())
    assert [br.ue() for _ in vals] == vals
    assert [br.se() for _ in svals] == svals
    # RBSP escaping: zero runs that would alias start codes survive
    for payload in (
        b"\x00\x00\x00\x00\x01\x02\x03",
        b"\x00\x00\x01",
        b"\x00\x00\x02",
        b"\x00\x00\x03\x00\x00\x03",
        bytes(64),
    ):
        nal = h264.rbsp_to_nal(payload)
        assert b"\x00\x00\x00" not in nal and b"\x00\x00\x01" not in nal
        assert h264.nal_to_rbsp(nal) == payload


def test_h264_gray_sweep_bit_exact():
    """Container-to-pixels: every gray 0..255 reconstructs EXACTLY
    through SPS/PPS/IDR + CAVLC + Intra_16x16 DC + dequant/IDCT, on a
    cropped (non-multiple-of-16) frame."""
    from pantasia_db_sync_spark.operators import h264

    for g in range(256):
        sps, pps, idrs = h264.encode_avc_stream(18, 10, [g])
        data = b"\x00\x00\x00\x01".join([b"", sps, pps, idrs[0]])
        f = h264.decode_annexb(data)[0]
        assert (f["width"], f["height"], f["mean_gray"]) == (18, 10, float(g))


def test_h264_shapes_multi_mb_and_pcm():
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    for (w, h) in [(2, 2), (16, 16), (20, 14), (48, 32), (34, 18)]:
        sps, pps, idrs = h264.encode_avc_stream(w, h, [37, 201])
        data = b"\x00\x00\x00\x01".join([b"", sps, pps] + idrs)
        frames = h264.decode_annexb(data)
        assert [(f["width"], f["height"], f["mean_gray"]) for f in frames] == [
            (w, h, 37.0),
            (w, h, 201.0),
        ]
    # I_PCM: arbitrary content, bit-exact by construction
    rng = np.random.RandomState(3)
    y = rng.randint(0, 256, (32, 48)).astype(np.uint8)
    cb = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    cr = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    data = b"\x00\x00\x00\x01".join(
        [
            b"",
            h264._encode_sps(48, 32),
            h264._encode_pps(12),
            h264.encode_pcm_idr(y, cb, cr),
        ]
    )
    f = h264.decode_annexb(data)[0]
    assert f["mean_gray"] == float(np.mean(y.astype(np.float64)))
    assert f["cb_mean"] == float(np.mean(cb.astype(np.float64)))


def test_h264_dense_cavlc_pattern_plane_exact():
    """Multi-coefficient luma-DC blocks (random per-4x4-block grays):
    the decoded plane equals the encoder's spec-arithmetic expectation
    BIT-FOR-BIT — this path drives coeff_token rows beyond (0,0)/(1,1)
    plus total_zeros and run_before on real macroblocks."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    rng = np.random.RandomState(42)
    for _ in range(4):
        w_mbs, h_mbs = int(rng.randint(1, 4)), int(rng.randint(1, 4))
        bv = rng.randint(0, 256, (h_mbs * 4, w_mbs * 4))
        nal, expected = h264.encode_pattern_idr(w_mbs, h_mbs, bv)
        nals = h264.split_annexb(
            b"\x00\x00\x00\x01".join(
                [b"", h264._encode_sps(w_mbs * 16, h_mbs * 16),
                 h264._encode_pps(12), nal]
            )
        )
        sps = h264.parse_sps(h264.nal_to_rbsp(nals[0][1:]))
        pps = h264.parse_pps(h264.nal_to_rbsp(nals[1][1:]))
        y, _, _ = h264.decode_idr_planes(
            h264.nal_to_rbsp(nals[2][1:]), sps, pps, 5, 3
        )
        assert np.array_equal(y, expected)


def test_h264_honest_gates_and_malformed():
    """Unsupported features raise NotImplementedError naming the gate;
    malformed bitstreams raise ValueError (the corpus-scan contract)."""
    import pytest

    from pantasia_db_sync_spark.operators import h264

    sps, pps, idrs = h264.encode_avc_stream(16, 16, [100])
    # CABAC flag in PPS
    bw = h264._BitWriter()
    bw.ue(0); bw.ue(0); bw.u(1, 1)
    bw.rbsp_trailing()
    with pytest.raises(NotImplementedError, match="CABAC"):
        h264.parse_pps(bw.tobytes())
    # B slice is still a gate; P without a reference picture is a
    # loud ValueError (round 16: single-ref P slices DECODE)
    bw = h264._BitWriter()
    bw.ue(0); bw.ue(1)  # first_mb, slice_type B
    bw.rbsp_trailing()
    with pytest.raises(NotImplementedError, match="slice_type"):
        h264.decode_idr_planes(
            bw.tobytes(),
            h264.parse_sps(h264.nal_to_rbsp(sps[1:])),
            h264.parse_pps(h264.nal_to_rbsp(pps[1:])),
            5, 3,
        )
    bw = h264._BitWriter()
    bw.ue(0); bw.ue(0)  # first_mb, slice_type P
    bw.rbsp_trailing()
    with pytest.raises(ValueError, match="reference"):
        h264.decode_idr_planes(
            bw.tobytes(),
            h264.parse_sps(h264.nal_to_rbsp(sps[1:])),
            h264.parse_pps(h264.nal_to_rbsp(pps[1:])),
            1, 2,
        )
    # truncated IDR -> ValueError
    with pytest.raises(ValueError):
        h264.decode_annexb(
            b"\x00\x00\x00\x01".join([b"", sps, pps, idrs[0][:8]])
        )
    # garbage (no start codes)
    with pytest.raises(ValueError, match="start code"):
        h264.decode_annexb(b"\x12\x34\x56\x78" * 8)


def test_h264_i4x4_gray_and_per_block_exact():
    """I_NxN (Intra_4x4) macroblocks: solid grays reconstruct exactly
    through per-4x4 DC prediction + the Table 9-4 me(v) CBP (cropped
    frame included), and per-block-random targets reconstruct
    BIT-EXACTLY (the encoder's exact-level search through the
    8.5.12.1 full-block dequant) — which drives the CBP groups, the
    most-probable-mode flags and live nC bookkeeping on every MB."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    assert sorted(h264._CBP_INTRA_FROM_CODE) == list(range(48))
    for g in (0, 1, 127, 128, 200, 255):
        data = b"\x00\x00\x00\x01".join(
            [b"", h264._encode_sps(18, 10), h264._encode_pps(12),
             h264.encode_i4x4_idr(18, 10, g)]
        )
        f = h264.decode_annexb(data)[0]
        assert (f["width"], f["height"], f["mean_gray"]) == (18, 10, float(g))
    rng = np.random.RandomState(5)
    for _ in range(3):
        w_mbs, h_mbs = int(rng.randint(1, 4)), int(rng.randint(1, 4))
        bv = rng.randint(0, 256, (h_mbs * 4, w_mbs * 4))
        nals = h264.split_annexb(
            b"\x00\x00\x00\x01".join(
                [b"", h264._encode_sps(w_mbs * 16, h_mbs * 16),
                 h264._encode_pps(12),
                 h264.encode_i4x4_idr(w_mbs * 16, h_mbs * 16, 0, per_block=bv)]
            )
        )
        sps = h264.parse_sps(h264.nal_to_rbsp(nals[0][1:]))
        pps = h264.parse_pps(h264.nal_to_rbsp(nals[1][1:]))
        y, _, _ = h264.decode_idr_planes(
            h264.nal_to_rbsp(nals[2][1:]), sps, pps, 5, 3
        )
        exp = np.repeat(np.repeat(bv, 4, axis=0), 4, axis=1)
        assert np.array_equal(y.astype(int), exp)


def test_h264_intra4x4_prediction_modes():
    """The nine Intra_4x4 prediction modes against analytically-exact
    expectations: constant neighborhoods predict the constant (all
    modes); even-slope linear ramps continue EXACTLY through the
    spec's (a+2b+c+2)>>2 / (a+b+1)>>1 filters (DDL along x+y, V down
    columns, H across rows, HU saturating to the last left sample);
    and the top-right substitution rule (unavailable -> replicate
    p[3,-1]) changes DDL's right corner accordingly."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    plane = np.full((12, 12), 77, dtype=np.uint8)
    for mode in range(9):
        out = h264._pred_4x4(mode, plane, 4, 4, True, True, True, True)
        assert (out == 77).all(), mode

    # linear top ramp t[k] = 10 + 2k (b=2 even -> exact filters)
    plane = np.zeros((8, 16), dtype=np.int64)
    plane[3, :] = [10 + 2 * k for k in range(16)]
    # x0=4: t[j] = plane[3, 4+j] = 18 + 2j
    out = h264._pred_4x4(3, plane, 4, 4, False, True, False, True)  # DDL
    for y in range(4):
        for x in range(4):
            assert out[y, x] == 18 + 2 * (x + y + 1), (x, y, out)
    out = h264._pred_4x4(0, plane, 4, 4, False, True, False, False)  # V
    assert (out == np.array([18, 20, 22, 24])).all()
    # top-right substitution: without TR, t[4..7] = t[3] = 24
    out = h264._pred_4x4(3, plane, 4, 4, False, True, False, False)
    assert out[3, 3] == (24 + 3 * 24 + 2) >> 2 == 24
    # left ramp for H / HU: l[i] = 50 + 4i
    plane2 = np.zeros((12, 8), dtype=np.int64)
    plane2[4:8, 3] = [50 + 4 * i for i in range(4)]
    out = h264._pred_4x4(1, plane2, 4, 4, True, False, False, False)  # H
    assert (out[:, 0] == np.array([50, 54, 58, 62])).all()
    out = h264._pred_4x4(8, plane2, 4, 4, True, False, False, False)  # HU
    # z = x + 2y > 5 saturates to l[3] = 62; z even interpolates
    assert out[3, 3] == 62 and out[0, 0] == (50 + 54 + 1) >> 1


def test_h264_i4x4_mode_parse_vertical_over_pcm():
    """A hand-written bitstream exercising the NON-most-probable-mode
    path: an I_PCM macroblock holding a column gradient, then below it
    an I_NxN macroblock whose 16 blocks each code rem=0 -> Vertical
    (MPM is DC=2 since all neighbor modes default to 2). With cbp=0
    the decoded second MB must replicate the PCM macroblock's bottom
    row down every column."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    y = np.tile(np.arange(16, dtype=np.uint8) * 3 + 17, (16, 1))
    cb = np.full((8, 8), 128, dtype=np.uint8)
    bw = h264._BitWriter()
    bw.ue(0); bw.ue(7); bw.ue(0); bw.u(4, 0); bw.ue(0)
    bw.u(1, 0); bw.u(1, 0); bw.se(0); bw.ue(1)
    # MB0: I_PCM
    bw.ue(25)
    while len(bw.bits) % 8:
        bw.u(1, 0)
    for v in y.reshape(-1):
        bw.u(8, int(v))
    for v in list(cb.reshape(-1)) + list(cb.reshape(-1)):
        bw.u(8, int(v))
    # MB1 (below): I_NxN, every block Vertical (mode 0), cbp 0. The
    # most-probable mode EVOLVES as earlier blocks take mode 0 (MPM =
    # min(left, top) with non-I4x4 neighbors counting as DC=2), so the
    # encoder side of this test tracks it: once MPM becomes 0 the flag
    # path encodes Vertical, otherwise rem=0 (< MPM) does.
    bw.ue(0)
    grid = {}
    for idx in range(16):
        quad, sub = divmod(idx, 4)
        bx = (quad % 2) * 2 + sub % 2
        by = (quad // 2) * 2 + sub // 2
        ma = grid.get((bx - 1, by), 2)
        mb_ = grid.get((bx, by - 1), 2)
        mpm = min(ma, mb_)
        if mpm == 0:
            bw.u(1, 1)  # prev flag: take the MPM (Vertical)
        else:
            bw.u(1, 0)
            bw.u(3, 0)  # rem 0 < MPM -> mode 0 (Vertical)
        grid[(bx, by)] = 0
    bw.ue(0)  # chroma DC
    bw.ue(h264._CBP_INTRA_TO_CODE[0])
    bw.rbsp_trailing()
    nal = b"\x65" + h264.rbsp_to_nal(bw.tobytes())
    sps = h264.parse_sps(h264.nal_to_rbsp(h264._encode_sps(16, 32)[1:]))
    pps = h264.parse_pps(h264.nal_to_rbsp(h264._encode_pps(12)[1:]))
    dec_y, _, _ = h264.decode_idr_planes(
        h264.nal_to_rbsp(nal[1:]), sps, pps, 5, 3
    )
    assert np.array_equal(dec_y[:16], y)
    assert np.array_equal(dec_y[16:], np.tile(y[15], (16, 1)))


def test_h264_dequant_absolute_scale_conformance():
    """Pin the ABSOLUTE dequantization scale, not just self
    round-trip (round-15 ADVICE: encoder+decoder sharing one wrong
    scale is invisible to round-trip tests). No external H.264
    encoder exists in this container, so the pin is the strongest
    available substitute: (a) the pre-FRExt 2003-edition ladders for
    luma DC (8.5.10: qp>=12 pure shift by qp/6-2, else rounding-add
    >> (2-qp/6)) and chroma DC (8.5.11: << qp/6 then >> 1), written
    HERE independently with the V-only normAdjust table, must agree
    bit-for-bit with the decoder's FRExt-form implementation for
    every qp 0..51 and a signed sweep of levels; (b) both spec
    editions fix the DC:AC dequant ratio at 4:1 (luma) and 2:1
    (chroma DC) for an equal level at the (0,0) position — asserted
    across the full qp ladder; (c) hand-computed absolute values are
    pinned as constants."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    V = [10, 11, 13, 14, 16, 18]  # normAdjust(m, class 0) — Table 8-15
    levels = np.array([-4000, -257, -16, -3, -1, 0, 1, 2, 5, 17, 255,
                       813, 4095], dtype=np.int64)
    for qp in range(52):
        m, qp6 = qp % 6, qp // 6
        # 2003-edition luma DC (V-only LevelScale)
        if qp >= 12:
            exp_luma = (levels * V[m]) << (qp6 - 2)
        else:
            exp_luma = (levels * V[m] + (1 << (1 - qp6))) >> (2 - qp6)
        got_luma = h264._dequant_luma_dc(levels.copy(), qp)
        assert np.array_equal(got_luma, exp_luma), f"luma DC qp={qp}"
        # 2003-edition chroma DC
        exp_chroma = ((levels * V[m]) << qp6) >> 1
        got_chroma = h264._dequant_chroma_dc(levels.copy(), qp)
        assert np.array_equal(got_chroma, exp_chroma), f"chroma DC qp={qp}"
        # DC:AC ratios — AC at raster (0,0) is position-class 0
        one = np.ones((4, 4), dtype=np.int64)
        ac00 = int(h264._dequant_ac(one, qp)[0, 0])
        dc = int(h264._dequant_luma_dc(np.array([1], dtype=np.int64), qp)[0])
        cdc = int(h264._dequant_chroma_dc(np.array([1], dtype=np.int64), qp)[0])
        # rounding makes low-qp DC inexact by < 1 output unit
        assert abs(dc - ac00 / 4) <= 1, (qp, dc, ac00)
        assert abs(cdc - ac00 / 2) <= 1, (qp, cdc, ac00)
    # hand-computed absolute pins (LevelScale = 16*V with FRExt shifts)
    dq = lambda lv, qp: int(
        h264._dequant_luma_dc(np.array([lv], dtype=np.int64), qp)[0]
    )
    assert dq(1, 0) == 3       # (160 + 32) >> 6
    assert dq(1, 12) == 10     # (160 + 8) >> 4  (== V[0] << 0)
    assert dq(1, 36) == 160    # (1*160) << (6-6) (== V[0] << 4)
    assert dq(1, 51) == 896    # (1*224) << 2    (== V[3] << 6)
    cq = lambda lv, qp: int(
        h264._dequant_chroma_dc(np.array([lv], dtype=np.int64), qp)[0]
    )
    assert cq(1, 12) == 20     # ((160) << 2) >> 5 (== V[0] << 2 >> 1)
    # fixture-encoder sanity: the DC level for the max gray step at
    # qp 12 lands at ~813 (16x-inflated pre-fix levels were ~13000)
    assert 810 <= h264._dc_level_for_residual(127, 12) <= 815


def test_h264_qp_sweep_and_mb_qp_delta():
    """Exact solid-gray reconstruction across the whole QP ladder —
    both luma-DC dequant branches (qP < 36 rounding-add form and the
    qP >= 36 pure-shift form) — and a hand-written nonzero mb_qp_delta
    (the decoder's (qp + delta + 52) % 52 wrap feeding the level
    chosen for the POST-delta qp)."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    for qp in (0, 5, 12, 23, 30, 36, 40, 47, 51):
        step = h264._dequant_luma_dc(
            np.array([1], dtype=np.int64), qp
        )[0] / 64.0  # gray units per DC level at this qp
        for g in (0, 77, 255):
            sps, pps, idrs = h264.encode_avc_stream(16, 16, [g], qp=qp)
            data = b"\x00\x00\x00\x01".join([b"", sps, pps, idrs[0]])
            f = h264.decode_annexb(data)[0]
            if step <= 1.0:  # every residual exactly representable
                assert f["mean_gray"] == float(g), (qp, g, f)
            else:  # coarse qp: nearest level, and decode must be
                # bit-exact vs the encoder's tracked reconstruction
                nal, plane = h264.encode_gray_idr(
                    16, 16, g, qp=qp, return_plane=True
                )
                sps_d = h264.parse_sps(h264.nal_to_rbsp(sps[1:]))
                pps_d = h264.parse_pps(h264.nal_to_rbsp(pps[1:]))
                y, _, _ = h264.decode_idr_planes(
                    h264.nal_to_rbsp(nal[1:]), sps_d, pps_d, 5, 3
                )
                assert np.array_equal(y, plane), (qp, g)
                assert abs(f["mean_gray"] - g) <= step / 2 + 1, (qp, g, f)
    # mb_qp_delta: PPS init qp 20, MB codes delta -3 -> effective 17
    bw = h264._BitWriter()
    bw.ue(0); bw.ue(7); bw.ue(0); bw.u(4, 0); bw.ue(0)
    bw.u(1, 0); bw.u(1, 0); bw.se(0); bw.ue(1)
    bw.ue(3)   # Intra_16x16 DC, cbp 0/0
    bw.ue(0)   # chroma DC
    bw.se(-3)  # mb_qp_delta
    lvl = h264._dc_level_for_residual(90 - 128, 17)
    scan = [0] * 16
    scan[0] = lvl
    h264._encode_residual_block(bw, scan, 0, 16)
    bw.rbsp_trailing()
    nal = b"\x65" + h264.rbsp_to_nal(bw.tobytes())
    sps = h264.parse_sps(h264.nal_to_rbsp(h264._encode_sps(16, 16)[1:]))
    pps = h264.parse_pps(h264.nal_to_rbsp(h264._encode_pps(20)[1:]))
    y, _, _ = h264.decode_idr_planes(h264.nal_to_rbsp(nal[1:]), sps, pps, 5, 3)
    assert (y == 90).all()


def test_h264_intra16x16_ac_and_chroma_residual_paths():
    """The two residual paths the gray fixtures never drive: an
    Intra_16x16 macroblock with CBP luma 15 carrying ONE AC
    coefficient (mb_type 15; a (0,1)-frequency residual must decode to
    the hand-derived column pattern +2,+1,-1,-2 around the DC
    prediction), and CBP chroma 1 carrying a Cb DC coefficient
    (mb_type 7; all four chroma quadrants shift by the same
    hand-derived +4 while Cr stays flat)."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    sps = h264.parse_sps(h264.nal_to_rbsp(h264._encode_sps(16, 16)[1:]))
    pps = h264.parse_pps(h264.nal_to_rbsp(h264._encode_pps(12)[1:]))

    # --- AC path: mb_type 15 = Intra_16x16, DC pred, cbpC 0, cbpL 15
    bw = h264._BitWriter()
    bw.ue(0); bw.ue(7); bw.ue(0); bw.u(4, 0); bw.ue(0)
    bw.u(1, 0); bw.u(1, 0); bw.se(0); bw.ue(1)
    bw.ue(15)
    bw.ue(0)   # chroma DC
    bw.se(0)   # mb_qp_delta
    h264._encode_residual_block(bw, [0] * 16, 0, 16)  # luma DC: empty
    luma_tc = np.zeros((4, 4), dtype=np.int64)
    for idx in range(16):
        bx, by = h264._z_luma(idx)
        nc = h264._nc_from_neighbors(luma_tc, bx, by, False, False)
        ac = [0] * 15
        if idx == 0:
            ac[0] = 3  # scan position 1 -> raster (0,1), class-2 LS
        h264._encode_residual_block(bw, ac, nc, 15)
        luma_tc[by, bx] = 1 if idx == 0 else 0
    bw.rbsp_trailing()
    nal = b"\x65" + h264.rbsp_to_nal(bw.tobytes())
    y, cb, cr = h264.decode_idr_planes(
        h264.nal_to_rbsp(nal[1:]), sps, pps, 5, 3
    )
    # V = 3 * LS(12%6=0, class2=13) << 2 = 156; horizontal butterfly of
    # (0,V,0,0) -> f = (V, V/2, -V/2, -V); vertical pass replicates row
    # 0 down columns; r = (f+32)>>6 = (2, 1, -1, -2); pred is DC 128
    exp0 = np.tile(np.array([130, 129, 127, 126]), (4, 1))
    assert np.array_equal(y[0:4, 0:4].astype(int), exp0)
    assert (y[:, 4:] == 128).all() and (y[4:, :] == 128).all()

    # --- chroma path: mb_type 7 = Intra_16x16, DC pred, cbpC 1, cbpL 0
    bw = h264._BitWriter()
    bw.ue(0); bw.ue(7); bw.ue(0); bw.u(4, 0); bw.ue(0)
    bw.u(1, 0); bw.u(1, 0); bw.se(0); bw.ue(1)
    bw.ue(7)
    bw.ue(0)
    bw.se(0)
    h264._encode_residual_block(bw, [0] * 16, 0, 16)  # luma DC empty
    cbdc = [0] * 4
    cbdc[0] = 12  # Cb DC: f=12 all quadrants; ((12*160)<<2)>>5 = 240
    h264._encode_residual_block(bw, cbdc, -1, 4)
    h264._encode_residual_block(bw, [0] * 4, -1, 4)  # Cr DC empty
    bw.rbsp_trailing()
    nal = b"\x65" + h264.rbsp_to_nal(bw.tobytes())
    y, cb, cr = h264.decode_idr_planes(
        h264.nal_to_rbsp(nal[1:]), sps, pps, 5, 3
    )
    # r = (240+32)>>6 = 4 on every chroma sample
    assert (y == 128).all()
    assert (cb == 132).all()
    assert (cr == 128).all()


def test_h264_avc3_inband_parameter_sets():
    """avc3 sample entries (no avcC child): SPS/PPS ride IN-BAND in
    the first sync sample and must PERSIST across samples — the second
    sample carries only its IDR NAL."""
    import struct as _s

    from pantasia_db_sync_spark.operators import h264
    from pantasia_db_sync_spark.operators.multimodal import (
        _box,
        _mp4_container,
        decode_mp4_samples,
    )

    sps, pps, idrs = h264.encode_avc_stream(20, 12, [44, 199])
    lp = lambda n: _s.pack(">I", len(n)) + n
    samples = [lp(sps) + lp(pps) + lp(idrs[0]), lp(idrs[1])]
    entry = _box(
        b"avc3",
        b"\x00" * 6 + _s.pack(">H", 1) + b"\x00" * 16
        + _s.pack(">HH", 20, 12)
        + _s.pack(">II", 0x00480000, 0x00480000) + b"\x00" * 4
        + _s.pack(">H", 1) + bytes(32) + _s.pack(">H", 24)
        + _s.pack(">h", -1),  # NO avcC child
    )
    blob = _mp4_container(20, 12, samples, entry, 1000, 40)
    frames = decode_mp4_samples(blob)
    assert [f["mean_gray"] for f in frames] == [44.0, 199.0]


def test_h264_textured_all_coeff_token_contexts_bit_exact():
    """The round-16 textured I_NxN fixture: every 4x4 block carries a
    multi-coefficient CAVLC residual, neighbor bookkeeping drives
    coeff_token through ALL FOUR contexts (asserted, not assumed),
    and the decoded luma plane is BIT-EXACT against the encoder's
    spec-arithmetic expectation across seeds, geometries (multi-MB,
    cropped) and the MP4 container chain."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_samples,
        encode_mp4_avc,
    )

    allctx = set()
    for seed in range(6):
        for (w, h) in ((16, 16), (48, 32), (20, 12), (34, 22)):
            nal, plane, ctxs = h264.encode_textured_i4x4_idr(w, h, seed)
            allctx |= ctxs
            sps = h264.parse_sps(
                h264.nal_to_rbsp(h264._encode_sps(w, h)[1:])
            )
            pps = h264.parse_pps(h264.nal_to_rbsp(h264._encode_pps(12)[1:]))
            y, cb, cr = h264.decode_idr_planes(
                h264.nal_to_rbsp(nal[1:]), sps, pps, 5, 3
            )
            y2, _, _ = h264._crop_planes(y, cb, cr, sps)
            assert np.array_equal(y2, plane), (seed, w, h)
    assert allctx == {"ctx0", "ctx1", "ctx2", "flc"}
    # the container chain end to end (the registry-query shape)
    for i in (3, 77, 123):
        w, h = 2 * (i % 12 + 1), 2 * (i % 9 + 1)
        seeds = [i * 11 + k for k in range(i % 3 + 2)]
        blob = encode_mp4_avc(w, h, seeds, coding="textured")
        frames = decode_mp4_samples(blob)
        assert len(frames) == len(seeds)
        for k, fr in enumerate(frames):
            _, expected, _ = h264.encode_textured_i4x4_idr(w, h, seeds[k])
            assert np.array_equal(fr["y"], expected), (i, k)


def test_h264_deblocking_edge_vectors_hand_derived():
    """Clause 8.7 core filter arithmetic against HAND-DERIVED vectors
    (independent of the implementation): bS=4 strong and weak luma
    shapes, bS=3 tc-clipped deltas with the p1/q1 nudge, the chroma
    p0/q0-only form, and the alpha gate. index 32: alpha=32, beta=9,
    tc0(bS=3)=4."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    def edge(pvals, qvals, bs, idx_a, idx_b, luma):
        p = np.array([[v] for v in pvals], dtype=np.int64)
        q = np.array([[v] for v in qvals], dtype=np.int64)
        h264._deblock_edge(p, q, bs, idx_a, idx_b, luma)
        return [int(v[0]) for v in p], [int(v[0]) for v in q]

    # bS=4 weak (|p0-q0|=20 >= (32>>2)+2=10): only p0/q0 move
    p, q = edge([60, 60, 60, 60], [80, 80, 80, 80], 4, 32, 32, True)
    # p0' = (2*60 + 60 + 80 + 2) >> 2 = 65 ; q0' = (2*80 + 80 + 60 + 2) >> 2 = 75
    assert p == [65, 60, 60, 60] and q == [75, 80, 80, 80]
    # bS=4 strong (step 4 < 10, ap/aq true): 3 samples each side
    p, q = edge([60, 60, 60, 60], [64, 64, 64, 64], 4, 32, 32, True)
    # p0' = (60+120+120+128+64+4)>>3 = 62 ; p1' = (60+60+60+64+2)>>2 = 61
    # p2' = (120+180+60+60+64+4)>>3 = 61
    # q0' = (64+128+128+120+60+4)>>3 = 63 ; q1' = (64+64+64+60+2)>>2 = 63
    # q2' = (128+192+64+64+60+4)>>3 = 64
    assert p == [62, 61, 61, 60] and q == [63, 63, 64, 64]
    # alpha gate: |p0-q0| = 40 >= alpha 32 -> untouched
    p, q = edge([60, 60, 60, 60], [100, 100, 100, 100], 4, 32, 32, True)
    assert p == [60, 60, 60, 60] and q == [100, 100, 100, 100]
    # bS=3: tc0=4, ap=aq=1 -> tc=6; delta = ((8<<2) + (60-68) + 4)>>3 = 3
    # p1' = 60 + clip((60 + ((60+68+1)>>1) - 120)>>1, +-4) = 62
    # q1' = 68 + clip((68 + 64 - 136)>>1, +-4) = 66
    p, q = edge([60, 60, 60, 60], [68, 68, 68, 68], 3, 32, 32, True)
    assert p == [63, 62, 60, 60] and q == [65, 66, 68, 68]
    # chroma bS=4: p0/q0 only, no strong/weak split
    p, q = edge([60, 60, 60, 60], [80, 80, 80, 80], 4, 32, 32, False)
    assert p == [65, 60, 60, 60] and q == [75, 80, 80, 80]
    # chroma bS=3: tc = tc0+1 = 5; delta = clip(3, +-5) = 3; p1 untouched
    p, q = edge([60, 60, 60, 60], [68, 68, 68, 68], 3, 32, 32, False)
    assert p == [63, 60, 60, 60] and q == [65, 68, 68, 68]
    # flat content is invariant under the whole frame filter
    y = np.full((32, 32), 77, dtype=np.uint8)
    c = np.full((16, 16), 128, dtype=np.uint8)
    qpm = np.full((2, 2), 30, dtype=np.int64)
    y2, cb2, cr2 = h264._deblock_frame(y, c, c.copy(), qpm, 0, 0, 0)
    assert (y2 == 77).all() and (cb2 == 128).all() and (cr2 == 128).all()


def test_h264_deblocking_enabled_streams_bit_exact():
    """Streams signaling disable_deblocking_filter_idc=0 (and a PPS
    with no deblocking-control flag at all) now DECODE, with the 8.7
    filter demonstrably changing pixels at active QP, bit-exact
    against the encoder-tracked filtered plane, through the MP4
    container chain too."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_samples,
        encode_mp4_avc,
    )

    changed = 0
    for seed in range(4):
        for (w, h) in ((32, 16), (48, 32), (34, 22)):
            for qp in (24, 30, 36):
                nal, plane, _ = h264.encode_textured_i4x4_idr(
                    w, h, seed, qp=qp, deblock=True
                )
                sps = h264.parse_sps(
                    h264.nal_to_rbsp(h264._encode_sps(w, h)[1:])
                )
                pps = h264.parse_pps(
                    h264.nal_to_rbsp(h264._encode_pps(qp)[1:])
                )
                y, cb, cr = h264.decode_idr_planes(
                    h264.nal_to_rbsp(nal[1:]), sps, pps, 5, 3
                )
                y2, _, _ = h264._crop_planes(y, cb, cr, sps)
                assert np.array_equal(y2, plane), (seed, w, h, qp)
                _, raw, _ = h264.encode_textured_i4x4_idr(
                    w, h, seed, qp=qp, deblock=False
                )
                changed += int(not np.array_equal(raw, plane))
    assert changed == 36  # the filter moved pixels in EVERY frame
    # container chain at the registry-fixture geometry
    for i in (5, 88, 131):
        w, h = 2 * (i % 14 + 4), 2 * (i % 10 + 2)
        seeds = [i * 7 + k for k in range(i % 3 + 2)]
        blob = encode_mp4_avc(w, h, seeds, coding="deblocked")
        frames = decode_mp4_samples(blob)
        assert len(frames) == len(seeds)
        for k, fr in enumerate(frames):
            _, expected, _ = h264.encode_textured_i4x4_idr(
                w, h, seeds[k], 30, deblock=True
            )
            assert np.array_equal(fr["y"], expected), (i, k)


def test_h264_inter_interpolation_hand_vectors():
    """Clause 8.4.2.2 sample interpolation against HAND-DERIVED
    values: the 6-tap (1,-5,20,20,-5,1) half-pel on a linear ramp and
    a step edge, quarter-pel averaging, the chroma 1/8-pel bilinear
    formula, constant-plane invariance at every fractional position,
    and edge replication for out-of-picture motion."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    ramp = np.tile(np.arange(0, 160, 10, dtype=np.uint8), (8, 1))
    # G at (2,2)=20, H=30; b1 = 0-50+400+600-200+50 = 800 -> (816)>>5=25
    b = h264._interp_luma_block(ramp, 2, 2, 1, 1, 2, 0)
    assert int(b[0, 0]) == 25
    # quarter a = (G + b + 1) >> 1 = (20 + 25 + 1) >> 1 = 23
    a = h264._interp_luma_block(ramp, 2, 2, 1, 1, 1, 0)
    assert int(a[0, 0]) == 23
    # quarter c = (H + b + 1) >> 1 = (30 + 25 + 1) >> 1 = 28
    c = h264._interp_luma_block(ramp, 2, 2, 1, 1, 3, 0)
    assert int(c[0, 0]) == 28
    # step edge: E..J = 0,0,0,100,100,100 -> b1 = 2000-500+100 = 1600
    # -> (1616)>>5 = 50
    step = np.tile(
        np.array([0, 0, 0, 100, 100, 100, 100, 100], dtype=np.uint8),
        (8, 1),
    )
    b = h264._interp_luma_block(step, 2, 2, 1, 1, 2, 0)
    assert int(b[0, 0]) == 50
    # constant plane: every (xf, yf) returns the constant
    flat = np.full((16, 16), 77, dtype=np.uint8)
    for mvx in range(4):
        for mvy in range(4):
            out = h264._interp_luma_block(flat, 4, 4, 4, 4, mvx, mvy)
            assert (out == 77).all(), (mvx, mvy)
    # edge replication: mv far outside the picture clamps
    out = h264._interp_luma_block(flat, 0, 0, 4, 4, -400, -400)
    assert (out == 77).all()
    # chroma bilinear: A=0 B=80 C=40 D=120 at xf=3, yf=5 ->
    # (15*0 + 9*80 + 25*40 + 15*120 + 32) >> 6 = 3552 >> 6 = 55
    cref = np.array([[0, 80], [40, 120]], dtype=np.uint8)
    cc = h264._interp_chroma_block(cref, 0, 0, 1, 1, 3, 5)
    assert int(cc[0, 0]) == 55
    # inter CBP column is a permutation of 0..47
    assert sorted(h264._CBP_INTER_FROM_CODE) == list(range(48))


def test_h264_mv_prediction_hand_cases():
    """8.4.1.3 median mv prediction: hand-built neighbor grids pin
    the median, the exactly-one-matching-reference shortcut, the
    top-row mvA fallback, the 16x8/8x16 directional hints, and the
    P_Skip zero-motion rule."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264

    def grid(entries, w4=12, h4=8):
        ref4 = np.full((h4, w4), h264._REF_UNAVAIL, dtype=np.int64)
        mv4 = np.zeros((2, h4, w4), dtype=np.int64)
        for (gx, gy), (mvx, mvy, r) in entries.items():
            ref4[gy, gx] = r
            mv4[0, gy, gx] = mvx
            mv4[1, gy, gx] = mvy
        return mv4, ref4

    # median of three inter neighbors: A=(4,0) B=(0,4) C=(8,8)
    mv4, ref4 = grid({
        (3, 4): (4, 0, 0), (4, 3): (0, 4, 0), (8, 3): (8, 8, 0),
    })
    assert h264._mvp_median(mv4, ref4, 4, 4, 4, 4) == (4, 4)
    # exactly one neighbor with the matching reference: its mv wins
    mv4, ref4 = grid({
        (3, 4): (6, 2, 0), (4, 3): (9, 9, -1), (8, 3): (7, 7, -1),
    })
    assert h264._mvp_median(mv4, ref4, 4, 4, 4, 4) == (6, 2)
    # top picture row: B, C, D unavailable -> mvA verbatim
    mv4, ref4 = grid({(3, 0): (3, 1, 0)})
    assert h264._mvp_median(mv4, ref4, 4, 0, 4, 4) == (3, 1)
    # 16x8 'top' hint: B matches -> mvB even though median differs
    mv4, ref4 = grid({
        (3, 4): (9, 9, 0), (4, 3): (1, 2, 0), (8, 3): (5, 5, 0),
    })
    assert h264._mvp_median(
        mv4, ref4, 4, 4, 4, 2, part_hint="top"
    ) == (1, 2)
    # P_Skip: zero-motion refIdx-0 top neighbor forces (0,0)
    mv4, ref4 = grid({
        (3, 4): (9, 9, 0), (4, 3): (0, 0, 0), (8, 3): (5, 5, 0),
    })
    assert h264._mv_skip(mv4, ref4, 4, 4) == (0, 0)
    # P_Skip with real motion on both sides: the median applies
    mv4, ref4 = grid({
        (3, 4): (4, 4, 0), (4, 3): (2, 6, 0), (8, 3): (6, 2, 0),
    })
    assert h264._mv_skip(mv4, ref4, 4, 4) == (4, 4)


def test_h264_p_slices_ipp_bit_exact():
    """Single-reference P slices (round 16): IPPP groups mixing
    P_Skip runs, P_L0_16x16 +/- residual, 16x8/8x16 partitions and
    intra islands decode BIT-EXACT against the encoder-tracked
    expected planes — with in-loop deblocking both off and on (the
    inter boundary strengths 2/1/0) — through raw Annex-B and the
    full MP4 container chain with cross-sample reference chaining."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_samples,
        encode_mp4_avc,
    )

    for num_refs in (1, 2):
        for seed in range(3):
            for (w, h) in ((32, 32), (48, 32), (34, 22)):
                for deblock, qp in ((False, 12), (True, 30)):
                    sps, pps, nals, planes = h264.encode_ipp_stream(
                        w, h, seed, 4, qp=qp, deblock=deblock,
                        num_refs=num_refs,
                    )
                    data = b"\x00\x00\x00\x01".join(
                        [b""] + [sps, pps] + nals
                    )
                    frames = h264.decode_annexb(data)
                    assert len(frames) == 4
                    for k, fr in enumerate(frames):
                        assert np.array_equal(fr["y"], planes[k]), (
                            num_refs, seed, w, h, deblock, k
                        )
    # two-reference streams genuinely use the second picture: the
    # bitstreams diverge from the third frame on (te() ref_idx bits +
    # mv16ref1 macroblocks predicting two frames back)
    s1 = h264.encode_ipp_stream(48, 32, 1, 5, num_refs=1)[2]
    s2 = h264.encode_ipp_stream(48, 32, 1, 5, num_refs=2)[2]
    assert s1[2] != s2[2]
    # explicit weighted prediction: bit-exact and pixel-different
    for num_refs in (1, 2):
        sps, pps, nals, planes = h264.encode_ipp_stream(
            34, 22, 2, 4, qp=30, deblock=True, num_refs=num_refs,
            weighted=True,
        )
        data = b"\x00\x00\x00\x01".join([b""] + [sps, pps] + nals)
        frames = h264.decode_annexb(data)
        for k, fr in enumerate(frames):
            assert np.array_equal(fr["y"], planes[k]), (num_refs, k)
        up = h264.encode_ipp_stream(
            34, 22, 2, 4, qp=30, deblock=True, num_refs=num_refs
        )[3]
        assert not np.array_equal(planes[2], up[2])
    # hand pin: pred 100, w 70, denom 6, offset -4 ->
    # ((100*70 + 32) >> 6) - 4 = 105
    out = h264._apply_weight(np.array([[100]], dtype=np.int64), (70, -4), 6)
    assert int(out[0, 0]) == 105
    # container chain at the registry-fixture geometry
    for i in (4, 61, 137):
        w, h = 2 * (i % 13 + 3), 2 * (i % 8 + 2)
        seeds = [i * 19 + k for k in range(i % 3 + 2)]
        blob = encode_mp4_avc(w, h, seeds, coding="ipp")
        frames = decode_mp4_samples(blob)
        assert len(frames) == len(seeds)
        expected = h264.encode_ipp_stream(
            w, h, seeds[0], len(seeds), qp=30, deblock=True, num_refs=2,
            weighted=True,
        )[3]
        for k, fr in enumerate(frames):
            assert np.array_equal(fr["y"], expected[k]), (i, k)


def test_h264_multislice_pictures_bit_exact():
    """Multi-slice pictures (round 16): 2-5 contiguous raster slices
    tile one picture; first_mb_in_slice > 0 parses; intra prediction
    and CAVLC nC treat other-slice neighbors as unavailable (6.4.8);
    deblocking honors per-slice idc with idc=2 skipping
    slice-boundary edges. Pinned bit-exact against the encoder's
    slice-aware expected plane AND differentially: the availability
    cut and the idc-2 skip each demonstrably change pixels."""
    import numpy as np

    from pantasia_db_sync_spark.operators import h264
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_samples,
        encode_mp4_avc,
    )

    for seed in range(3):
        for (w, h) in ((48, 32), (64, 48), (34, 22)):
            for n_slices in (2, 3, 5):
                for idc in (1, 0, 2):
                    qp = 12 if idc == 1 else 30
                    nals, plane, _ = h264.encode_textured_multislice_idr(
                        w, h, seed, n_slices, qp=qp, deblock_idc=idc
                    )
                    sps = h264._encode_sps(w, h)
                    pps = h264._encode_pps(qp)
                    data = b"\x00\x00\x00\x01".join(
                        [b""] + [sps, pps] + nals
                    )
                    frames = h264.decode_annexb(data)
                    assert len(frames) == 1
                    total = ((w + 15) // 16) * ((h + 15) // 16)
                    assert frames[0]["n_slices"] == min(n_slices, total)
                    assert np.array_equal(frames[0]["y"], plane), (
                        seed, w, h, n_slices, idc
                    )
    # differential pins: the slice cut and the idc-2 skip both matter
    a0 = h264.encode_textured_multislice_idr(64, 48, 1, 3, 30, 0)[1]
    a2 = h264.encode_textured_multislice_idr(64, 48, 1, 3, 30, 2)[1]
    s0 = h264.encode_textured_multislice_idr(64, 48, 1, 1, 30, 0)[1]
    assert not np.array_equal(a0, a2)  # boundary edges skipped
    assert not np.array_equal(a0, s0)  # availability cut changes pred
    # slices must tile in raster order — a gap is a loud error
    nals, _, _ = h264.encode_textured_multislice_idr(48, 32, 0, 3)
    sps_d = h264.parse_sps(h264.nal_to_rbsp(h264._encode_sps(48, 32)[1:]))
    pps_d = h264.parse_pps(h264.nal_to_rbsp(h264._encode_pps(12)[1:]))
    with _np_raises(ValueError, "slice first_mb"):
        h264.decode_picture_slices(
            [h264.nal_to_rbsp(nals[0][1:]), h264.nal_to_rbsp(nals[2][1:])],
            sps_d, pps_d, 5, 3,
        )
    # MP4: one multi-slice picture per sample (the registry fixture)
    for i in (7, 42, 115):
        w, h = 2 * (i % 10 + 8), 2 * (i % 9 + 8)
        params = [i * 23, i % 4 + 2, 2 * (i % 2)]
        blob = encode_mp4_avc(w, h, params, coding="multislice")
        frames = decode_mp4_samples(blob)
        assert len(frames) == 1
        _, expected, _ = h264.encode_textured_multislice_idr(
            w, h, params[0], params[1], qp=30, deblock_idc=params[2]
        )
        assert np.array_equal(frames[0]["y"], expected), i


def _np_raises(exc, match):
    import pytest as _pt

    return _pt.raises(exc, match=match)


def test_h264_mp4_co64_offsets_and_multislice_contract():
    """Round-15 ADVICE items: (a) co64 64-bit chunk offsets (the
    >4 GiB container form) resolve samples identically to stco;
    (b) a sample carrying TWO coded slices is rejected loudly
    (NotImplementedError) instead of silently returning the last
    slice's stats."""
    import struct as _s

    import pytest as _pt

    from pantasia_db_sync_spark.operators import h264
    from pantasia_db_sync_spark.operators.multimodal import (
        _box,
        _mp4_container,
        decode_mp4_samples,
    )

    sps, pps, idrs = h264.encode_avc_stream(20, 12, [44, 199])
    lp = lambda n: _s.pack(">I", len(n)) + n
    samples = [lp(sps) + lp(pps) + lp(idrs[0]), lp(idrs[1])]
    entry = _box(
        b"avc3",
        b"\x00" * 6 + _s.pack(">H", 1) + b"\x00" * 16
        + _s.pack(">HH", 20, 12)
        + _s.pack(">II", 0x00480000, 0x00480000) + b"\x00" * 4
        + _s.pack(">H", 1) + bytes(32) + _s.pack(">H", 24)
        + _s.pack(">h", -1),
    )
    blob = _mp4_container(20, 12, samples, entry, 1000, 40, use_co64=True)
    frames = decode_mp4_samples(blob)
    assert [f["mean_gray"] for f in frames] == [44.0, 199.0]
    # multi-slice sample: two IDR NALs in ONE sample must be rejected
    bad = [lp(sps) + lp(pps) + lp(idrs[0]) + lp(idrs[1])]
    blob2 = _mp4_container(20, 12, bad, entry, 1000, 40)
    with _pt.raises(NotImplementedError, match="multiple coded slices"):
        decode_mp4_samples(blob2)


def test_h264_avc_in_mp4_roundtrip():
    """The full container chain: avc1 sample entry + avcC config,
    length-prefixed samples, stsc/stsz/stco resolution, per-frame
    decode to the exact encoded grays — the fixture family behind the
    multimodal_mp4_avc_frames registry query."""
    from pantasia_db_sync_spark.operators.multimodal import (
        decode_mp4_meta,
        decode_mp4_samples,
        encode_mp4_avc,
    )

    for i in (0, 1, 5, 123, 254, 299):
        w, h = 2 * (i % 10 + 1), 2 * (i % 7 + 1)
        grays = [(i * 13 + 37 * k) % 256 for k in range(i % 3 + 2)]
        blob = encode_mp4_avc(w, h, grays)
        frames = decode_mp4_samples(blob)
        assert [f["mean_gray"] for f in frames] == [float(g) for g in grays]
        assert all(f["width"] == w and f["height"] == h for f in frames)
        assert all(f["duration_ms"] == 40 for f in frames)
        assert decode_mp4_meta(blob)["handlers"] == "vide"


def test_sampled_betweenness_rank_corr(spark):
    """Brandes–Pich rank fidelity (round-15, VERDICT r14 next-round
    #5): the production estimator (uniform seeds, |V|/K rescale —
    operators/components.py betweenness_sampled_uniform) must
    reproduce the exact-Brandes RANKING. Fixture: two 6-rings joined
    by a 2-node bridge path — every node relays SOME shortest paths
    (ring members for their neighbors, bridge nodes for all
    cross-traffic), so exact betweenness is graded across all 14
    nodes. Across 3 independent seed draws at K=8 of |V|=14, the
    Spearman rank correlation vs exact (all-sources) Brandes on
    positive-centrality nodes must clear 0.8, and a bridge node must
    rank in the estimated top-3 every draw."""
    import numpy as np
    import pandas as pd

    from pantasia_db_sync_spark.operators.components import (
        betweenness_sampled_uniform,
        brandes_dependency_multi,
    )

    # ring A 0..5, ring B 8..13, bridge 0-6-7-8
    edges = [(i, (i + 1) % 6) for i in range(6)]
    edges += [(8 + i, 8 + (i + 1) % 6) for i in range(6)]
    edges += [(0, 6), (6, 7), (7, 8)]
    e = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "u bigint, v bigint"
    )
    hops = 10  # covers the diameter -> exact Brandes

    exact = (
        brandes_dependency_multi(e, list(range(14)), hops=hops)
        .where(F.col("dist") > 0)
        .groupBy("node")
        .agg(F.sum("delta_micro").alias("bc"))
        .toPandas()
        .set_index("node")["bc"]
    )
    pos = exact[exact > 0]
    assert len(pos) >= 8  # the grading the rank test rides on

    corrs = []
    for seed in (1, 2, 3):
        est = (
            betweenness_sampled_uniform(e, k=8, hops=hops, seed=seed)
            .toPandas()
            .set_index("node")["bc_est_micro"]
        )
        both = pd.DataFrame(
            {"exact": pos, "est": est.reindex(pos.index).fillna(0)}
        )
        rho = np.corrcoef(
            both["exact"].rank().values, both["est"].rank().values
        )[0, 1]
        corrs.append(rho)
        # the bridge center (6 or 7) must be in the estimated top-3
        top3 = set(both["est"].nlargest(3).index)
        assert top3 & {6, 7}, (seed, top3)
    assert sum(corrs) / len(corrs) >= 0.8, corrs


def test_hyperanf_sketch_tolerance_in_estimation_regime(spark):
    """The attributable sketch-accuracy gate (round-15, VERDICT r14
    ADVICE): force the HLL sketches OUT of their coupon-exact stage
    with lgk=4 (promotion at ~12 items) on a graph whose balls exceed
    that, and assert the HyperANF neighborhood function and HyperBall
    harmonic estimates stay within estimation-regime tolerance of the
    exact values. If Spark ever changes its Datasketches defaults or
    estimator, THIS test fails with a readable message — instead of
    the registry queries' whole-row hash going dark."""
    from pantasia_db_sync_spark.operators.components import (
        hyperanf_rounds,
        hyperball_harmonic,
    )

    # deterministic graph, ~48 nodes: ring + chords so 3-balls are big
    n = 48
    edges = [(i, (i + 1) % n) for i in range(n)]
    edges += [(i, (i + 7) % n) for i in range(0, n, 2)]
    e = spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in edges], "u bigint, v bigint"
    ).distinct()

    # exact neighborhood function + per-node distance counts in Python
    adj = {i: set() for i in range(n)}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    import collections

    dist_counts = {}
    nf = collections.Counter()
    for s in range(n):
        d = {s: 0}
        q = collections.deque([s])
        while q:
            x = q.popleft()
            if d[x] >= 3:
                continue
            for y in adj[x]:
                if y not in d:
                    d[y] = d[x] + 1
                    q.append(y)
        cnt = collections.Counter(d.values())
        dist_counts[s] = cnt
        for t in range(4):
            nf[t] += sum(v for k, v in cnt.items() if k <= t)

    est = {
        int(r.t): float(r.est_pairs)
        for r in hyperanf_rounds(e, rounds=3, lgk=4).collect()
    }
    in_estimation_regime = any(est[t] != nf[t] for t in range(1, 4))
    assert in_estimation_regime, (
        "lgk=4 sketches unexpectedly exact — the estimation-regime "
        "lever no longer works; check Spark's hll_sketch_agg lgk "
        "handling"
    )
    for t in range(1, 4):
        rel = abs(est[t] - nf[t]) / nf[t]
        assert rel <= 0.35, (
            f"HyperANF N({t}) estimate {est[t]} vs exact {nf[t]}: "
            f"{rel:.1%} off — Spark's HLL estimator drifted beyond the "
            "lgk=4 estimation-regime tolerance"
        )

    hb = {
        int(r.node): float(r.harmonic_est)
        for r in hyperball_harmonic(e, rounds=3, lgk=4).collect()
    }
    worst = 0.0
    for s in range(n):
        exact_h = sum(
            v / k for k, v in dist_counts[s].items() if k > 0
        )
        worst = max(worst, abs(hb[s] - exact_h) / exact_h)
    assert worst <= 0.60, (
        f"HyperBall per-node harmonic worst-case {worst:.1%} off exact "
        "— beyond the lgk=4 estimation-regime tolerance"
    )


def test_brandes_multi_equals_single_seed_runs(spark):
    """brandes_dependency_multi over K seeds must equal the UNION of K
    single-seed brandes_dependency runs row-for-row — the composite-key
    chaining is a scheduling change, never a semantics change. Graph: a
    broom (path 0-1-2 fanning to leaves 3,4,5 at node 2) plus a
    detached triangle (10,11,12), so seeds see asymmetric frontiers,
    multiple shortest paths, and unreachable regions."""
    from pantasia_db_sync_spark.operators.components import (
        brandes_dependency,
        brandes_dependency_multi,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (2, 4), (2, 5), (10, 11), (11, 12), (10, 12)],
        "u bigint, v bigint",
    )
    seeds = [0, 2, 10]
    multi = sorted(
        tuple(r)
        for r in brandes_dependency_multi(edges, seeds, hops=3).collect()
    )
    single = sorted(
        (s,) + tuple(r)
        for s in seeds
        for r in brandes_dependency(edges, seed=s, hops=3).collect()
    )
    assert multi == single


def test_hyperanf_and_hyperball_exact_on_tiny_graph(spark):
    """At tiny cardinalities the Datasketches HLL is exact, so the
    sketch loops must reproduce the true ball sizes: hyperanf_rounds'
    N(t) equals the exact pair counts and hyperball_harmonic equals the
    exact per-node harmonic on a 5-node path graph (whose balls and
    distances are hand-computable)."""
    from pantasia_db_sync_spark.operators.components import (
        hyperanf_rounds,
        hyperball_harmonic,
    )

    # path 0-1-2-3-4
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "u bigint, v bigint"
    )
    anf = {int(r.t): round(float(r.est_pairs)) for r in hyperanf_rounds(
        edges, rounds=3
    ).collect()}
    # exact pair counts within distance t on the 5-path:
    # t=0: 5 self-pairs; t=1: +2 per edge = 13; t=2: +2*3 = 19; t=3: +2*2 = 23
    assert anf == {0: 5, 1: 13, 2: 19, 3: 23}
    hb = {
        int(r.node): round(float(r.harmonic_est), 6)
        for r in hyperball_harmonic(edges, rounds=3).collect()
    }
    # node 0: d(1)=1, d(2)=2, d(3)=3 -> 1 + 1/2 + 1/3
    assert hb[0] == round(1 + 0.5 + 1 / 3, 6)
    # node 2 (center): two at d=1, two at d=2 -> 2 + 1
    assert hb[2] == 3.0
    # node 1: neighbors 0,2 at 1; 3 at 2; 4 at 3 -> 2 + 0.5 + 1/3
    assert hb[1] == round(2 + 0.5 + 1 / 3, 6)
