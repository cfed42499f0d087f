"""Dense, gap-free surrogate keys without a single-partition window.

The reference assigns surrogate ids with driver-side counters seeded
from ``SELECT id ... ORDER BY id DESC LIMIT 1``
(``/root/reference/app/main.py:33-38``, ``app/db/postgres.py:251-260``).
The naive Spark translation — ``row_number() OVER (ORDER BY ...)`` —
funnels every row through ONE partition: a non-starter at 100 TB.

Technique (SURVEY.md §4 custom-work item 1): split the data into
order-aligned buckets, number rows *within* each bucket in parallel,
then add per-bucket offsets (the cumulative row counts of the buckets
before it). No global sort bottleneck, ids are dense and start at
``start``.

The freezing ``checkpoint`` strategy collects the
per-bucket counts DURING the freeze (an Observation on the freezing
job, ≤ num_buckets rows) and fold the offsets in as an
``element_at(<array literal>, bucket + 1)`` projection: the ids are a
plain projection over the frozen blocks, so every downstream action
re-reads those blocks and nothing else — no counts subplan, no offsets
join. The lazy ``sample`` strategy keeps a counts aggregate + broadcast
offsets join unless parquet footers prove the counts.

The correctness hazard all strategies guard: the per-bucket counts and
the final numbering must see every row in the same bucket with the same
within-bucket rank — either by freezing the bucketed data once
(``checkpoint``) or by deriving the bucket from the row's own values
(``sample``).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from .ckpt import freeze

#: first-order-column dtypes with an order-preserving numeric projection,
#: enabling single-job approx_percentile boundaries in strategy="sample"
#: and statistics-derived (``first_col_range``) buckets in every strategy.
_NUMERIC_BOUNDARY_TYPES = {
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
    "date",
    "timestamp",
    "timestamp_ntz",
}


#: "sample"-strategy bucket sizing when footer row counts are known:
#: aim for this many rows per bucket (a ~250k-row per-task sort is
#: cheap), capped by num_partitions so big inputs still fan out wide.
_TARGET_ROWS_PER_BUCKET = 250_000


def with_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    start: int = 1,
    num_partitions: int | None = None,
    strategy: str = "checkpoint",
    first_col_range: tuple | None = None,
    rowgroup_stats: list | None = None,
    totals: list | None = None,
    split: tuple[str, int] | None = None,
) -> DataFrame:
    """Assign dense ids ``start, start+1, ...`` in ``order_cols`` order.

    ``order_cols`` should be a deterministic total order (include a
    unique tie-break column) so ids are reproducible run-to-run — the
    idempotence property the reference's IdIndex protects
    (``app/db/id_index.py:22-25``).

    Strategies (pick by what the *input* costs to recompute):

    - ``"checkpoint"`` (default, safe everywhere): bucket, rank within
      bucket, ``ckpt.freeze`` ONCE; the per-bucket counts ride that
      job. The blocks double as a cache for downstream consumers: the
      result is a projection over them, so it is readable only while
      the freeze's scope is open (``operators/ckpt.py``; outside any
      scope the ContextCleaner frees them). Cost: one full write of the
      frame to block storage.
    - ``"sample"``: never materializes anything. Order-aligned buckets
      are derived from the row's own ``order_cols`` values against
      boundary keys collected once (one tiny column-pruned job), so
      every stage is freely recomputable and the full plan stays
      visible to Catalyst and the plan-shape gates. At 100 TB this is
      the shape you want — the frame is scanned twice (columnar, the
      counts pass prunes to ``order_cols``) and shuffled once, but
      never written to block storage. Requires ``order_cols`` to be a
      null-free unique key (recomputation must not reorder ties).
      ``rowgroup_stats=[(num_rows, min, max, null_count), ...]`` (per
      parquet row group of the first order column) fuses footer ROW
      COUNTS in too: bucket count is sized to ``_TARGET_ROWS_PER_BUCKET``
      from the known total (capped at ``num_partitions``, so 100 TB
      inputs still fan out to the full width), and when no row group
      straddles a bucket boundary the per-bucket counts are EXACT from
      the footers alone — the counts pass disappears and the offsets
      are a driver-side literal: ONE data pass total.

    ``first_col_range=(lo, hi)`` (numeric/date/timestamp first column
    only) supplies the first column's value range from what the caller
    already knows — table STATISTICS such as parquet footer min/max, or
    a range it built itself (a period's time window, ``[1, n]`` of an
    earlier dense numbering). Buckets are then uniform boundaries over
    it, derived driver-side: no sampling job (the ``checkpoint`` range
    shuffle otherwise runs its whole input once more to sample bounds)
    and no boundary job (``sample``). Balance depends
    on the column being roughly uniform over the range; correctness
    never does.

    ``totals`` (``checkpoint`` only): a list the number of
    rows numbered is appended to — known driver-side once the freeze
    has run, so the caller needs no count job.

    ``split=(col, k)`` (``checkpoint`` only): ``col`` holds
    ints in ``[0, k)`` that never decrease along ``order_cols`` (a
    period index over a time order). Each bucket is subdivided by it
    (still order-aligned), so the freeze's counts also give the rows per
    ``col`` value: ``totals`` receives those k counts instead of one.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    if strategy == "sample":
        if totals is not None or split is not None:
            raise ValueError("totals/split need the freezing strategy (checkpoint)")
        return _dense_ids_by_sampled_bounds(
            df, order_cols, id_col, start, num_partitions, first_col_range,
            rowgroup_stats,
        )
    if strategy != "checkpoint":
        raise ValueError(f"unknown strategy {strategy!r}")

    numbered, counts = _freeze_ranked(
        _bucketed(df, order_cols, num_partitions, first_col_range, split),
        [],
        order_cols,
    )
    per_bucket = dict(counts)
    if totals is not None:
        totals.extend(_split_totals(per_bucket, split))
    return _number_buckets(
        numbered,
        "__pid",
        order_cols,
        id_col,
        start,
        has_rank=True,
        literal_counts=[per_bucket.get(b, 0) for b in range(_n_buckets(per_bucket))],
    )


def _bucketed(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int,
    first_col_range: tuple | None,
    split: tuple[str, int] | None = None,
) -> DataFrame:
    """``df`` plus an order-aligned bucket id ``__pid``: uniform bounds
    over a caller-known ``first_col_range``, else a sampled range
    shuffle's partition id; with ``split=(col, k)``, ``bucket * k + col``
    (order-aligned too, as both terms never decrease along the order)."""
    if first_col_range is not None:
        first = order_cols[0]
        proxy, to_num = _numeric_proxy(dict(df.dtypes)[first], first)
        if proxy is None:
            raise ValueError(
                f"first_col_range needs a numeric/date/timestamp first order column, got {first!r}"
            )
        lo, hi = (to_num(v) for v in first_col_range)
        pid = _bucket_expr(proxy, _uniform_bounds(lo, hi, num_partitions))
    else:
        df = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        pid = F.spark_partition_id()
    if split is not None:
        col, k = split
        pid = pid * k + F.col(col)
    return df.withColumn("__pid", pid)


def _split_totals(per_bucket: dict, split: tuple[str, int] | None) -> list[int]:
    """Rows numbered: ``[total]``, or one count per ``split`` value."""
    k = 1 if split is None else split[1]
    out = [0] * k
    for b, n in per_bucket.items():
        out[b % k] += n
    return out


def _freeze_ranked(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
) -> tuple[DataFrame, list[tuple]]:
    """Rank rows within (``__pid``, *group_cols) as ``__rn``, freeze
    ONCE, and return the frozen frame with its per-(bucket, *group)
    row counts ``[(bucket, *group, n), ...]``.

    Freeze before branching: AQE may coalesce a range shuffle into a
    different partition layout per job, and upstream shuffles make input
    row order (hence the range sampler's boundaries) nondeterministic —
    ``spark_partition_id`` must be observed once, not recomputed
    (otherwise ids duplicate/skip). The counts ride the freezing job as
    an Observation: a full-frame count in the SAME window spec as the
    rank (one Window operator, no extra sort), reported once per bucket
    by its first row."""
    keys = ["__pid", *group_cols]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    obs = Observation()
    numbered = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(whole))
        .observe(
            obs,
            F.collect_list(
                F.when(F.col("__rn") == 1, F.struct(*keys, "__cnt"))
            ).alias("counts"),
        )
        .drop("__cnt")
    )
    numbered = freeze(numbered)
    return numbered, [tuple(r) for r in obs.get["counts"]]


def _n_buckets(per_bucket) -> int:
    """Offset-array length: buckets 0..max seen (≥ 1 so an empty input
    still types as array<bigint>)."""
    return max(per_bucket, default=0) + 1


def _offset_array(counts: list[int], base: int):
    """``array(base, base + c0, base + c0 + c1, ...)`` as ONE SQL
    literal expression (one py4j call, not one ``F.lit`` per bucket)."""
    offs, acc = [], base
    for c in counts:
        offs.append(acc)
        acc += c
    return F.expr(f"array({', '.join(f'{o}L' for o in offs)})")


def _number_buckets(
    df: DataFrame,
    bucket_col: str,
    order_cols: list[str],
    id_col: str,
    start: int,
    has_rank: bool = False,
    literal_counts: list[int] | None = None,
) -> DataFrame:
    """row_number within bucket + cumulative bucket offsets.

    ``has_rank`` is an explicit contract (the freezing strategies
    compute ``__rn`` before freezing) — never inferred from the column
    list, so a caller frame that happens to carry a ``__rn`` column
    can't smuggle stale ranks in.

    ``literal_counts[i]`` = exact row count of bucket i (observed by
    the freeze, or proven from parquet row-group footers): the offsets
    are an ``element_at`` over a driver-side array literal, so the ids
    are a pure projection — no counts job, no join. Without them the
    output stays LAZY: downstream actions re-run a counts aggregate and
    a broadcast join against the ≤num_buckets-row offsets frame.
    """
    if has_rank:
        numbered = df
    else:
        w = Window.partitionBy(bucket_col).orderBy(*[F.col(c).asc() for c in order_cols])
        numbered = df.withColumn("__rn", F.row_number().over(w))
    if literal_counts is not None:
        off = F.element_at(
            _offset_array(literal_counts, start - 1), F.col(bucket_col) + 1
        )
        return numbered.withColumn(
            id_col, (F.col("__rn") + off).cast("long")
        ).drop(bucket_col, "__rn")
    counts = numbered.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("__cnt"))
    # ≤num_buckets rows from here on: coalesce(1) makes the cumsum
    # window's AllTuples requirement already-satisfied (CoalesceExec
    # reports SinglePartition), deleting the Exchange(SinglePartition)
    # stage the planner otherwise inserts — one fewer sequential stage
    # boundary on an operator whose cost at small SF is pure scheduling.
    w_off = Window.orderBy(bucket_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.coalesce(1).withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
    ).select(bucket_col, "__off")
    return (
        numbered.join(F.broadcast(offsets), bucket_col)
        .withColumn(id_col, (F.col("__rn") + F.col("__off") + F.lit(start - 1)).cast("long"))
        .drop(bucket_col, "__rn", "__off")
    )


def with_dense_ids_grouped(
    df: DataFrame,
    order_cols: list[str],
    group_col: str,
    starts: dict,
    id_col: str = "id",
    num_partitions: int | None = None,
    first_col_range: tuple | None = None,
    totals: dict | None = None,
    split: tuple[str, int] | None = None,
) -> DataFrame:
    """SEVERAL independent dense-id sequences from ONE bucketing and
    ONE freeze: group g's rows get ``starts[g], starts[g]+1, ...`` in
    ``order_cols`` order. Output-equivalent to calling
    ``with_dense_ids`` once per group over the filtered subsets
    (property-pinned), but the (often wide) frame is materialized to
    checkpoint blocks ONCE instead of once per group — the sync
    pipeline's mint/transfer fact split pays one checkpoint here where
    two half-frame checkpoints (same total bytes, twice the jobs and
    shuffles) used to run.

    Shape: the same order-aligned buckets as ``with_dense_ids`` (group
    membership does NOT partition the buckets — ids of every group stay
    globally order-aligned; ``first_col_range`` works as there), ranks
    from a window over (bucket, group), per-(bucket, group) counts
    observed by the freeze, and one offsets array per group (its seed
    folded in) picked by group and indexed by bucket. ``group_col``
    values must all be keys of ``starts``; ``totals``, when given, is
    filled with the row count per group (with ``split``, the list of
    counts per split value). ``split`` works as in ``with_dense_ids``."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    numbered, counts = _freeze_ranked(
        _bucketed(df, order_cols, num_partitions, first_col_range, split),
        [group_col],
        order_cols,
    )
    per = {g: {} for g in starts}
    for b, g, n in counts:
        per[g][b] = n
    nb = _n_buckets({b for b, _, _ in counts})
    if totals is not None:
        for g in starts:
            t = _split_totals(per[g], split)
            totals[g] = t if split is not None else t[0]
    offsets = F.create_map(
        *[
            x
            for g, s in starts.items()
            for x in (
                F.lit(g),
                _offset_array([per[g].get(b, 0) for b in range(nb)], s - 1),
            )
        ]
    )
    off = F.element_at(offsets[F.col(group_col)], F.col("__pid") + 1)
    return numbered.withColumn(id_col, (F.col("__rn") + off).cast("long")).drop(
        "__pid", "__rn"
    )


def _numeric_proxy(dtype: str, first: str):
    """``(proxy column, to_num)`` for an order-preserving numeric
    projection of column ``first`` (``to_num`` maps a Python value of
    the column — e.g. a footer statistic — into the proxy's domain), or
    ``(None, None)`` when the dtype has none."""
    if dtype not in _NUMERIC_BOUNDARY_TYPES:
        return None, None
    if dtype == "date":

        def to_num(v):
            import datetime

            return (
                (v - datetime.date(1970, 1, 1)).days
                if isinstance(v, datetime.date)
                else v
            )

        return F.unix_date(F.col(first)), to_num
    if dtype.startswith("timestamp"):

        def to_num(v):
            # Footer stats arrive as datetimes; the proxy compares
            # against unix_micros under the UTC-pinned session, so
            # naive stats must be interpreted as UTC — a bare
            # .timestamp() would apply the HOST timezone and shift
            # every bucket boundary by the UTC offset, silently
            # corrupting the footer-proved literal bucket counts
            # (duplicate/gapped ids) on any non-UTC machine.
            import datetime

            if isinstance(v, datetime.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=datetime.timezone.utc)
                return int(v.timestamp() * 1_000_000)
            return v

        return F.unix_micros(F.col(first).cast("timestamp")), to_num
    return F.col(first), lambda v: v


def _uniform_bounds(lo, hi, num_buckets: int) -> list:
    """Boundary keys splitting ``[lo, hi]`` into ``num_buckets`` equal
    widths (fewer when the range is too narrow)."""
    if num_buckets <= 1 or hi <= lo:
        return []
    width = (hi - lo) / num_buckets
    return sorted({int(lo + i * width) for i in range(1, num_buckets)})


def _bucket_expr(proxy, bounds: list):
    """bucket(v) = #bounds <= v, as a plain ``+``-chain of WHENs
    (whole-stage-codegen'd), NOT a higher-order ``F.aggregate`` lambda
    (interpreted per row — measured ~7× slower on 150k rows)."""
    if not bounds:
        return F.lit(0)
    return functools.reduce(
        operator.add,
        [F.when(proxy >= F.lit(b), 1).otherwise(0) for b in bounds],
    )


def _dense_ids_by_sampled_bounds(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    start: int,
    num_partitions: int,
    first_col_range: tuple | None = None,
    rowgroup_stats: list | None = None,
) -> DataFrame:
    """Fully-lazy dense ids: value-derived order-aligned buckets.

    Bucketing by the FIRST order column is order-aligned for the
    composite order too (rows sharing a first-column value always share
    a bucket — coarser, still monotone), which unlocks a single-job
    ``approx_percentile`` boundary computation whenever that column has
    an order-preserving numeric projection. Otherwise fall back to a
    count + collect-sample of the composite key. Either way the bucket
    is a pure expression over the row's own values — deterministic
    under recomputation with no persist, no checkpoint, and no reliance
    on ``spark_partition_id``.
    """
    first = order_cols[0]
    proxy, to_num = _numeric_proxy(dict(df.dtypes)[first], first)

    bucket = None
    literal_counts = None
    if proxy is not None:
        rg = None
        if rowgroup_stats:
            rg = [
                (n, to_num(lo_), to_num(hi_), nulls)
                for (n, lo_, hi_, nulls) in rowgroup_stats
            ]
            # footer row counts size the buckets: small inputs collapse
            # to few (often one) buckets instead of defaultParallelism
            # near-empty ones; large inputs stay at full width
            total = sum(n for n, _, _, _ in rg)
            num_partitions = max(
                1, min(num_partitions, -(-total // _TARGET_ROWS_PER_BUCKET))
            )
            if first_col_range is None and all(
                lo_ is not None and hi_ is not None for _, lo_, hi_, _ in rg
            ):
                first_col_range = (
                    min(lo_ for _, lo_, _, _ in rg),
                    max(hi_ for _, _, hi_, _ in rg),
                )
        if first_col_range is not None:
            # table statistics supplied: uniform boundaries, ZERO jobs
            lo, hi = (to_num(v) for v in first_col_range)
            bounds = _uniform_bounds(lo, hi, num_partitions)
        elif num_partitions > 1:
            fractions = [i / num_partitions for i in range(1, num_partitions)]
            row = df.select(
                F.percentile_approx(proxy, fractions, 10_000).alias("b")
            ).first()
            bounds = sorted(set(row["b"] or []))
        else:
            bounds = []
        if bounds:
            bucket = _bucket_expr(proxy, bounds)
        if rg is not None:
            # EXACT per-bucket counts from footers alone, possible iff no
            # row group straddles a boundary (trivially true for a single
            # bucket). bucket(v) = #bounds <= v = bisect_right(bounds, v);
            # stats cover non-null values only, so any nulls (bucket 0 via
            # the WHEN's otherwise) must be absent or exactly counted.
            import bisect

            counts = [0] * (len(bounds) + 1)
            for n, lo_, hi_, nulls in rg:
                if nulls is None:
                    counts = None
                    break
                if n == nulls:  # all-null group: every row → bucket 0
                    counts[0] += n
                    continue
                if lo_ is None or hi_ is None:
                    counts = None
                    break
                b1 = bisect.bisect_right(bounds, lo_)
                b2 = bisect.bisect_right(bounds, hi_)
                if b1 != b2:
                    counts = None
                    break
                counts[b1] += n - nulls
                counts[0] += nulls
            literal_counts = counts
    elif num_partitions > 1:
        key = F.struct(*[F.col(c).alias(c) for c in order_cols])
        n = df.count()
        if n > 0:
            frac = min(1.0, (100 * num_partitions) / n)
            sample = [
                tuple(r[c] for c in order_cols)
                for r in df.select(*order_cols).sample(False, frac, seed=42).collect()
            ]
            sample.sort()
            step = max(1, len(sample) // num_partitions)
            bounds = sample[step::step][: num_partitions - 1]
            if bounds:
                bucket = functools.reduce(
                    operator.add,
                    [
                        F.when(
                            key
                            >= F.struct(
                                *[F.lit(v).alias(c) for v, c in zip(b, order_cols)]
                            ),
                            1,
                        ).otherwise(0)
                        for b in bounds
                    ],
                )
    if bucket is None:
        bucket = F.lit(0)
    return _number_buckets(
        df.withColumn("__b", bucket),
        "__b",
        order_cols,
        id_col,
        start,
        literal_counts=literal_counts,
    )
