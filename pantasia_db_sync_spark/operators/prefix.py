"""Distributed prefix sums over a global order — without a global
window.

The naive cumulative sum (`Window.orderBy(col)` with no partition key)
funnels the whole dataset through ONE partition — the single-partition
exchange the plan gate bans. The classic two-pass shape used here keeps
every stage parallel:

1. range-repartition on the order column and sort within partitions
   (one shuffle; partitions hold disjoint, globally ordered ranges);
2. per-partition running sums via a window PARTITIONED BY the physical
   partition id (partition-local, no exchange);
3. per-partition totals — #partitions rows, a scalar probe — collected
   and turned into exclusive prefix OFFSETS per partition;
4. offset + running sum = the exact global cumulative value.

The frame is frozen (lazy localCheckpoint) before steps 2/3 because
range partitioning SAMPLES its boundaries: the offsets from pass 3 must
describe the SAME physical partitioning pass 2 reads, and two
independent executions could legally choose different boundaries.

Reference analogue: none (the reference has no analytic cumulative
operators); this is the standard parallel scan from the PRAM
literature (Blelloch 1990) expressed in DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ckpt import freeze

__all__ = ["with_prefix_sums"]


def with_prefix_sums(
    df: DataFrame,
    order_by: str | list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
    prefix: str = "cum_",
) -> DataFrame:
    """Append ``prefix + c`` = inclusive cumulative sum of ``c`` in the
    total order of ``order_by``, for each ``c`` in ``sum_cols``.

    CONTRACT: the ``order_by`` key is unique per row (pre-aggregate to
    distinct keys first — ties would make "inclusive prefix" ambiguous
    across engines anyway). Cost: one range shuffle + one partition-
    local sort/window + one #partitions-row collect; no stage sees more
    than its share of rows, so the shape survives any scale the range
    shuffle itself survives.
    """
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    if num_partitions is None:
        rg = df.repartitionByRange(*order_cols)
    else:
        rg = df.repartitionByRange(num_partitions, *order_cols)
    rg = rg.sortWithinPartitions(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # freeze: the per-partition totals below and the window read the
    # SAME sampled range partitioning (see module docstring)
    rg = freeze(rg, eager=False)

    totals = (
        rg.groupBy("__pid")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    per_pid = {int(r["__pid"]): r for r in totals}
    pids = sorted(per_pid)
    offsets: dict[int, list] = {}
    run = [0] * len(sum_cols)
    for p in pids:
        offsets[p] = list(run)
        for i, c in enumerate(sum_cols):
            run[i] += per_pid[p][c] or 0

    spark = df.sparkSession
    off_rows = [(p, *offsets[p]) for p in pids]
    off_schema = ", ".join(
        ["__pid int"] + [f"__off_{i} bigint" for i in range(len(sum_cols))]
    )
    off = spark.createDataFrame(off_rows, off_schema)

    w = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = rg.join(F.broadcast(off), "__pid")
    for i, c in enumerate(sum_cols):
        out = out.withColumn(
            prefix + c,
            (F.col(f"__off_{i}") + F.sum(c).over(w)).cast("bigint"),
        )
    return out.drop("__pid", *[f"__off_{i}" for i in range(len(sum_cols))])
