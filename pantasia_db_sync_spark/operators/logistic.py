"""Distributed logistic regression via IRLS (Newton-Raphson), built
for EXACT cross-engine parity.

Each Newton step needs only nine sufficient statistics — the upper
triangle of X'WX (3x3 symmetric) and the gradient X'(y - mu) — so one
combinable aggregation per iteration is the whole distributed job: the
classic "statistical queries" decomposition (the same shape MLlib's
L-BFGS aggregators use), never a per-row model state.

Exactness discipline (the corpus_temperature_mix micro-unit rule):
every per-row contribution is floored into integer MICRO-UNITS before
summation, so the order-sensitive double accumulation over rows never
happens — integer sums are order-free and identical on any partitioning
and in any engine. The per-row doubles feeding the floor (x products,
exp/sigmoid) are IEEE-identical across engines given identical inputs,
up to a ~1-ulp libm exp() difference that the rounding absorbs except
at astronomically unlikely half-boundary hits (the repo's accepted ln()
risk class). The Newton solve itself is a handful of scalar double ops
(Cramer's rule on the 3x3 from the integer sums) executed in the SAME
literal order driver-side and in the oracle's SQL — bit-identical.

Magnitude bound: with features scaled to O(1..5) and micro-unit
contributions |c| <= 2.5e7, a 1e8-row corpus sums to < 2.5e15 < 2^53,
so the integer totals survive the cast back to double exactly. At
larger scales drop the scale factor to 1e3.

Reference analogue: none (north-star §2.I quality-model surface — the
trainer behind quality_model_score's frozen weights).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ckpt import freeze

_ENTRIES = [
    ("a00", 0, 0), ("a01", 0, 1), ("a02", 0, 2),
    ("a11", 1, 1), ("a12", 1, 2), ("a22", 2, 2),
]
_GRAD = [("g0", 0), ("g1", 1), ("g2", 2)]


def _solve_update(b: list[float], s: dict[str, float]) -> list[float]:
    """One Newton step from the integer sufficient statistics — the
    EXACT operation order here is mirrored token-for-token in
    irls_oracle_sql(), which is what makes driver-side and SQL-side
    betas bit-identical."""
    a00, a01, a02 = float(s["a00"]), float(s["a01"]), float(s["a02"])
    a11, a12, a22 = float(s["a11"]), float(s["a12"]), float(s["a22"])
    g0, g1, g2 = float(s["g0"]), float(s["g1"]), float(s["g2"])
    det = (
        a00 * (a11 * a22 - a12 * a12)
        - a01 * (a01 * a22 - a12 * a02)
        + a02 * (a01 * a12 - a11 * a02)
    )
    return [
        b[0]
        + (
            g0 * (a11 * a22 - a12 * a12)
            - a01 * (g1 * a22 - a12 * g2)
            + a02 * (g1 * a12 - a11 * g2)
        )
        / det,
        b[1]
        + (
            a00 * (g1 * a22 - g2 * a12)
            - g0 * (a01 * a22 - a12 * a02)
            + a02 * (a01 * g2 - g1 * a02)
        )
        / det,
        b[2]
        + (
            a00 * (a11 * g2 - a12 * g1)
            - a01 * (a01 * g2 - g1 * a02)
            + g0 * (a01 * a12 - a11 * a02)
        )
        / det,
    ]


def logistic_irls_fit(
    feats: DataFrame, iters: int = 4
) -> tuple[list[float], int]:
    """Fit y ~ sigmoid(b0*x0 + b1*x1 + b2*x2) by ``iters`` Newton
    steps from beta = 0. ``feats`` needs double columns x0, x1, x2, y
    (y in {0.0, 1.0}). Returns (betas, n_rows).

    One combinable aggregation job per iteration (a 10-value collect —
    the bounded driver probe the BPE/k-means trainers also use); the
    input frame is frozen once so the K passes share the scan."""
    feats = freeze(feats, eager=False)
    xs = [F.col("x0"), F.col("x1"), F.col("x2")]
    b = [0.0, 0.0, 0.0]
    n = 0
    for _ in range(iters):
        eta = F.lit(b[0]) * xs[0] + F.lit(b[1]) * xs[1] + F.lit(b[2]) * xs[2]
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = mu * (F.lit(1.0) - mu)

        def micro(expr):
            return F.floor(expr * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")

        aggs = [
            F.sum(micro(xs[i] * xs[j] * w)).alias(name)
            for name, i, j in _ENTRIES
        ] + [
            F.sum(micro(xs[i] * (F.col("y") - mu))).alias(name)
            for name, i in _GRAD
        ] + [F.count(F.lit(1)).cast("bigint").alias("n")]
        row = feats.agg(*aggs).collect()[0]
        n = int(row["n"])
        b = _solve_update(b, {k: row[k] for k, *_ in _ENTRIES + _GRAD})
    return b, n


def irls_oracle_sql(feats_cte: str, iters: int = 4) -> str:
    """Generate the DuckDB oracle: the same ``iters`` Newton steps
    unrolled as chained CTEs over ``feats_cte`` (which must define
    ``feats(x0, x1, x2, y)``), each step one integer-scaled aggregate
    plus the identical Cramer update."""
    mu = "(1.0 / (1.0 + exp(-(b0 * x0 + b1 * x1 + b2 * x2))))"
    w = f"({mu} * (1.0 - {mu}))"

    def c(expr: str) -> str:
        return f"CAST(floor({expr} * 1000000.0 + 0.5) AS BIGINT)"

    sums = ", ".join(
        f"CAST(sum({c(f'x{i} * x{j} * {w}')}) AS DOUBLE) AS {name}"
        for name, i, j in _ENTRIES
    )
    sums += ", " + ", ".join(
        f"CAST(sum({c(f'x{i} * (y - {mu})')}) AS DOUBLE) AS {name}"
        for name, i in _GRAD
    )
    sums += ", CAST(count(*) AS BIGINT) AS n"
    det = (
        "(a00*(a11*a22-a12*a12) - a01*(a01*a22-a12*a02)"
        " + a02*(a01*a12-a11*a02))"
    )
    parts = [
        f"WITH {feats_cte},",
        "bI0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0,"
        " CAST(0.0 AS DOUBLE) AS b1, CAST(0.0 AS DOUBLE) AS b2)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f", itI{k} AS (SELECT {sums} FROM feats, bI{k - 1})"
            f", bI{k} AS (SELECT itI{k}.n AS n,"
            f" b0 + (g0*(a11*a22-a12*a12) - a01*(g1*a22-a12*g2)"
            f" + a02*(g1*a12-a11*g2)) / {det} AS b0,"
            f" b1 + (a00*(g1*a22-g2*a12) - g0*(a01*a22-a12*a02)"
            f" + a02*(a01*g2-g1*a02)) / {det} AS b1,"
            f" b2 + (a00*(a11*g2-a12*g1) - a01*(a01*g2-g1*a02)"
            f" + g0*(a01*a12-a11*a02)) / {det} AS b2"
            f" FROM itI{k}, bI{k - 1})"
        )
    parts.append(
        f"SELECT n, floor(b0 * 1000000 + 0.5) / 1000000 AS beta0,"
        f" floor(b1 * 1000000 + 0.5) / 1000000 AS beta1,"
        f" floor(b2 * 1000000 + 0.5) / 1000000 AS beta2 FROM bI{iters}"
    )
    return "\n".join(parts)


def python_replica_fit(rows, iters: int = 4) -> list[float]:
    """Serial pure-Python IRLS with the same integer-scaled sums —
    the property-test ground truth (rows: (x1, x2, y) floats)."""
    b = [0.0, 0.0, 0.0]
    for _ in range(iters):
        s = {k: 0 for k, *_ in _ENTRIES + _GRAD}
        for x1, x2, y in rows:
            eta = b[0] * 1.0 + b[1] * x1 + b[2] * x2
            mu = 1.0 / (1.0 + math.exp(-eta))
            w = mu * (1.0 - mu)
            xv = (1.0, x1, x2)
            for name, i, j in _ENTRIES:
                s[name] += math.floor(xv[i] * xv[j] * w * 1000000.0 + 0.5)
            for name, i in _GRAD:
                s[name] += math.floor(xv[i] * (y - mu) * 1000000.0 + 0.5)
        b = _solve_update(b, s)
    return b
