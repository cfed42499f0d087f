"""Registry pairing each PySpark query with its DuckDB oracle SQL.

Contract (driver, ``__spark_entry__.py``): the Spark callable and the
oracle SQL must produce identical row counts, column names, and
order-insensitive values at sf=0.01. Queries whose semantics are not
ANSI-SQL-expressible (streaming state, approximate sketches) register
with ``oracle=None`` and get the driver's weaker rows-only check.

Cross-engine parity rules encoded here once so every query obeys them:
- alias every computed column identically on both sides;
- ``ROUND(x, n)`` any float aggregate on both sides (summation order
  differs between engines in the last ulps);
- cast DuckDB integer sums to BIGINT (DuckDB ``sum(int)`` → HUGEINT,
  Spark → LongType);
- deterministic tie-breaks on every top-k / offset query.

This module is also the one place that runs a query the two ways its
users need: timed through the noop sink (``run_query``, ``timed_runs``)
and checked against its oracle (``parity_failure``).
"""

from __future__ import annotations

import decimal
import math
import os
import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..functions.rounding import fround, sql_round  # noqa: F401  (re-export)
from ..operators.ckpt import scope
from ..sources.catalog import TABLES

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with an optional DuckDB oracle.

    Guards against the decorator-stacking bug class that shipped in round 9
    (commit 58844c6): an ``@register`` line separated from its intended
    ``def`` silently binds the key to the *neighboring* function.  Neither
    name collides, so the duplicate-key check never fires.  Two structural
    assertions close that hole:

    1. the decorated function must not already be registered under another
       key (one function object == one query), and
    2. ``fn.__name__`` must match the repo-wide convention — ``name`` or
       ``name + "_q"`` — so a decorator that drifted onto a neighbor fails
       loudly at import time instead of at oracle-sweep time.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        for other, existing in QUERIES.items():
            if existing is fn:
                raise ValueError(
                    f"function {fn.__name__!r} already registered as {other!r}; "
                    f"refusing to also bind it to {name!r} (decorator likely "
                    "attached to the wrong def)"
                )
        if fn.__name__ not in (name, name + "_q"):
            raise ValueError(
                f"register({name!r}) decorates {fn.__name__!r}: function name "
                f"must be {name!r} or '{name}_q' (decorator likely attached "
                "to the wrong def)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def local_result(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Re-wrap already-collected result rows as a DataFrame with a
    partition count sized to the DATA, not to defaultParallelism.

    The tempdir-backed queries (store_*, ann_ivf_index_topk, ...) must
    materialize before their fixture dir vanishes and hand back a
    local-relation frame. ``spark.createDataFrame(rows)`` parallelizes
    to defaultParallelism slices — on local[32] every downstream
    materialization of a 12-row result runs a 32-task job (31 empty);
    measured ~0.4 s of pure task-launch overhead per noop sink vs a
    born-single-partition frame. Slices scale with the row count
    (results are driver-resident by construction, so 64k rows/slice
    keeps tasks meaningful at any plausible result size)."""
    slices = max(1, min(spark.sparkContext.defaultParallelism, len(rows) // 65536 + 1))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)


def materialize(df: DataFrame) -> None:
    """Execute ``df``'s whole plan through the noop sink: every column
    of every row is computed, nothing is written."""
    df.write.format("noop").mode("overwrite").save()


def run_query(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Wall seconds to build query ``name`` on ``sf_dir`` and
    materialize it. Its jobs carry ``name`` as their description. The
    query runs in its own ``ckpt.scope()``, and the timer stops before
    the scope closes, so releasing its blocks is not timed."""
    spark.sparkContext.setJobDescription(name)
    with scope():
        t0 = time.perf_counter()
        materialize(QUERIES[name](spark, sf_dir))
        return time.perf_counter() - t0


def timed_runs(spark: SparkSession, name: str, sf_dir: str, reps: int) -> list[float]:
    """``reps`` walls of ``run_query``, sorted. A full JVM GC runs
    before each, outside the timer, so every run starts from a
    comparable heap (a long session's accumulated state otherwise
    pushes GC into later runs). Callers wanting a warm-up call
    ``run_query`` once first."""
    walls = []
    for _ in range(reps):
        spark.sparkContext._jvm.System.gc()
        walls.append(run_query(spark, name, sf_dir))
    return sorted(walls)


class ParityFailure(NamedTuple):
    """Which parts of a query's result differ from its oracle's;
    ``message`` names the query and the first difference."""

    columns_match: bool
    rows_match: bool
    values_match: bool
    message: str


def _norm_cell(v):
    # NaN never equals itself, -0.0 prints apart from 0.0, and DuckDB
    # returns DECIMAL where Spark returns double
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _norm_rows(cols: list[str], rows) -> list[tuple]:
    """Cells in column-name order, rows sorted: the order-insensitive
    form both results are compared in."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)


def parity_failure(spark: SparkSession, name: str, sf_dir: str) -> ParityFailure | None:
    """Run query ``name`` and its DuckDB oracle over the parquet tables
    in ``sf_dir``; None when the column names, the row count and the
    order-insensitive values (compared by ``repr``, so an int never
    equals a float) all match.

    Each call opens its own DuckDB connection, so calls may run on
    concurrent threads. Only the catalog tables present under
    ``sf_dir`` get a view, so a directory may hold just the tables its
    queries read."""
    import duckdb  # registry users that never check parity do not load it

    sdf = QUERIES[name](spark, sf_dir)
    s_cols = list(sdf.columns)
    s_rows = _norm_rows(s_cols, sdf.collect())
    with duckdb.connect() as con:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        res = con.execute(ORACLES[name])
        d_cols = [d[0] for d in res.description]
        d_rows = _norm_rows(d_cols, res.fetchall())

    columns = sorted(s_cols) == sorted(d_cols)
    rows = len(s_rows) == len(d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if repr(a) != repr(b)
    ]
    if columns and rows and not mismatches:
        return None
    if not columns:
        message = f"{name}: column mismatch {sorted(s_cols)} vs {sorted(d_cols)}"
    elif not rows:
        message = f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    else:
        message = f"{name}: first mismatches {mismatches[:3]}"
    return ParityFailure(columns, rows, rows and not mismatches, message)
