"""Banded range (theta) join via bucketed equi-join.

Engine extension (SURVEY.md §2.C). A raw ``l.v BETWEEN r.v - w AND
r.v + w`` predicate has no equi-key, so Spark plans BroadcastNestedLoop
(O(|L|·|R|) compares) — fatal at 100 TB. Bucketing by ``floor(v / w)``
turns it into an equi-join: each right row joins at most 3 adjacent
buckets, so the planner gets a shuffled hash/sort-merge join and the
band predicate is applied residually. Cost drops to O(|L|+|R|) shuffle
plus short per-bucket scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    band: float,
    extra_keys: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join rows where ``abs(left_val - right_val) <= band``.

    ``extra_keys`` are additional equi-join keys (same name both sides),
    which co-partition the shuffle further.
    """
    if band <= 0:
        raise ValueError("band must be positive")
    extra_keys = extra_keys or []

    def bucket(col: Column) -> Column:
        return F.floor(col / F.lit(band)).cast("long")

    l = left.withColumn("__bkt", bucket(F.col(left_val)))
    # Each right row is replicated into its own bucket ±1 so every pair
    # within `band` lands in at least one shared bucket.
    r = right.withColumn(
        "__bkt", F.explode(F.array(*[bucket(F.col(right_val)) + F.lit(d) for d in (-1, 0, 1)]))
    )
    full = l["__bkt"] == r["__bkt"]
    for k in extra_keys:
        full = full & (l[k] == r[k])
    band_pred = F.abs(l[left_val] - r[right_val]) <= F.lit(band)
    joined = l.join(r, full & band_pred, how)

    keep = [l[c] for c in left.columns] + [
        r[c] for c in right.columns if c not in set(extra_keys)
    ]
    return joined.select(*keep)


def interval_overlap_counts(
    iv: DataFrame,
    key_col: str = "k",
    id_col: str = "uid",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Per-key count of overlapping interval PAIRS — sweep-line rewrite
    that never materializes a pair row.

    The binned pair join (plans/relational.py join_interval_overlap) is
    the right shape when the caller needs the PAIRS, but its cost — and
    the answer itself — is quadratic in the number of co-temporal
    intervals per key: a hot key owning 20% of the corpus inside a few
    bins is a genuine cliff (measured in round 8: README §Measured
    scale growth, interval-overlap hot-key skew). COUNTING overlaps needs none of that: each interval
    contributes a +1 event at its start and a -1 event just after its
    end; a per-key running sum over event order gives the active count,
    and at each START event ``active - 1`` counts exactly the
    earlier-started, not-yet-ended intervals. Every overlapping pair is
    counted once — at the later start (inclusive bounds: overlap iff
    later.s <= earlier.e). O(m log m) per key, one shuffle on the key,
    linear output — immune to the hot-key quadratic cliff.

    Event encoding: start at t = 2s (even), end at t = 2e + 1 (odd), so
    an interval ending at e still covers a start at s = e (2e < 2e+1)
    and never covers s = e + 1 (2e+2 > 2e+1); same-t start ties order
    by id, counting each tied pair once at the second of the two.

    Pair identity matches the theta join's ``a.id < b.id``: rows that
    SHARE an id (the fixtures carry duplicate natural keys) never form
    a pair, so a second running sum per (key, id) counts the active
    same-id intervals and ``act − act_same`` drops them (and the self
    row) from each start's tally. Under exact (t, id) ties the ROWS
    frame splits arbitrarily, making per-row values order-dependent —
    but each tied pair contributes to exactly one of its two rows, so
    the per-key SUM is deterministic.
    """
    from pyspark.sql.window import Window

    starts = iv.select(
        F.col(key_col).alias("k"),
        (F.col(start_col) * 2).alias("t"),
        F.col(id_col).alias("tie"),
        F.lit(1).alias("d"),
    )
    ends = iv.select(
        F.col(key_col).alias("k"),
        (F.col(end_col) * 2 + 1).alias("t"),
        F.col(id_col).alias("tie"),
        F.lit(-1).alias("d"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_same = (
        Window.partitionBy("k", "tie")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    active = (
        starts.unionByName(ends)
        .withColumn("act_same", F.sum("d").over(w_same))
        .withColumn("act", F.sum("d").over(w))
    )
    per_start = active.where(F.col("d") == 1).select(
        "k", (F.col("act") - F.col("act_same")).alias("ov")
    )
    return (
        per_start.groupBy("k")
        .agg(F.sum("ov").cast("bigint").alias("n_overlaps"))
        .where(F.col("n_overlaps") > 0)
    )
