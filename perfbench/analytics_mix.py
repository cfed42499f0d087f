"""Workload ``analytics_mix``: a fixed mix of registry queries.

Part of the mix is driver-bound (most of the wall is eager jobs while
the plan is built: the store queries commit to a real ``TableStore``),
part is execution-bound (most of the wall runs after the DataFrame is
returned). The two stress the ``plans`` and ``operators`` layers in
opposite ways, so a driver-side gain that costs execution shows here,
and the sync workload never touches ``plans``.

Inputs come from ``perfbench.tables`` (seeded, ``SF``). The timed loop
is closed with one client: ``PASSES`` passes over the mix, each in a
seed-permuted order, each query built through ``queries()[name]`` and
materialized through the ``noop`` sink. Every run does the same passes,
whatever the speed of the code under test. The first pass is cold (first
plans, code generation, JIT): it counts in ``timed_cpu_s``, while each
query's per-op figure is its median over the warm passes.
The retained heap is sampled after each query of the last pass; its
maximum is the run's figure, so state a query holds until the next one
runs shows, whatever the order. After the passes, outside the timing,
each query is built once more, its result collected and compared with
DuckDB running ``oracle_sql()[name]`` on the same files: row count and
an order-insensitive hash of the values.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import random
import statistics
import sys
import time
import traceback
from functools import partial

from . import tables
from .trace import CpuTimes, describe, geomean, tree_cpu_s

SF = 0.01
GENERATE_REPEATS = 3
PASSES = 2
# store_incremental_agg (driver-bound like store_change_feed, but slower
# and more variable: 3-5 s warm, up to 12 s cold) is left out to keep a
# run of both workloads within the benchmark's time budget
DRIVER_BOUND = ("store_change_feed",)
EXEC_BOUND = ("flagship_extraction", "tpch_q9_product_type_profit", "text_tfidf")
MIX = DRIVER_BOUND + EXEC_BOUND


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0  # folds -0.0 into 0.0
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def digest(cols, rows) -> tuple[list[str], int, str]:
    """Sorted column names, row count and an order-insensitive hash of
    the values (columns taken in name order, rows sorted)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted((repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256("\n".join(normed).encode()).hexdigest()
    return sorted(cols), len(normed), h


def _duckdb(sf_dir: str):
    import duckdb

    from pantasia_db_sync_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def _matches_oracle(name, build, con, oracle_sql: str) -> bool:
    """Row count and value hash of the query's result against DuckDB."""
    try:
        df = build()
        got = digest(df.columns, [tuple(r) for r in df.collect()])
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return False
    res = con.execute(oracle_sql)
    want = digest([d[0] for d in res.description], res.fetchall())
    if got != want:
        print(f"analytics_mix: {name} differs from its DuckDB oracle "
              f"(rows {got[1]} vs {want[1]})", file=sys.stderr)
    return got == want


def run(b) -> dict:
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = os.path.join(b.work, "sf")
    gen_s = []
    for _ in range(GENERATE_REPEATS):
        t = time.perf_counter()
        with b.tracer.span("inputs.generate"):
            tables.generate(sf_dir, sf=SF, seed=b.seed)
        gen_s.append(time.perf_counter() - t)

    rng = random.Random(b.seed)
    ops: list[dict] = []
    raised = 0
    measured = 0.0
    measured_cpu = CpuTimes(0.0, 0.0, 0.0)
    for pass_no in range(PASSES):
        for name in rng.sample(MIX, len(MIX)):
            j0 = b.job_id() if b.trace else 0
            b.tracer.op_id = len(ops)
            c0 = tree_cpu_s()
            start = time.time()
            try:
                with b.tracer.span("plans.build", query=name):
                    df = queries[name](b.spark, sf_dir)
                built = time.time()
                j1 = b.job_id() if b.trace else 0
                with b.tracer.span("plans.exec", query=name):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                raised += 1
                measured += time.time() - start
                measured_cpu += tree_cpu_s() - c0
                continue
            finally:
                b.tracer.op_id = None
            end = time.time()
            cpu = tree_cpu_s() - c0
            measured += end - start
            measured_cpu += cpu
            ops.append({"query": name, "start": start, "built": built, "end": end, "cpu": cpu,
                        "build_jobs": j1 - j0, "warm": pass_no > 0})
            b.op_done()
            del df
            if pass_no == PASSES - 1:
                b.sample_heap()
                print(f"analytics_mix heap after {name}: {b.heap_samples_mb[-1]:.1f} MB",
                      file=sys.stderr)
    b.after_ops()

    # after the heap samples: collecting a result leaves driver heap in
    # use for a while (tens of MB after text_tfidf), which would be
    # counted against whichever query ran next
    con = _duckdb(sf_dir)
    checks = {q: _matches_oracle(q, partial(queries[q], b.spark, sf_dir), con, oracles[q])
              for q in MIX}
    con.close()

    warm = [o for o in ops if o["warm"]]
    per_query = {q: [o["end"] - o["start"] for o in warm if o["query"] == q] for q in MIX}
    medians = {q: statistics.median(w) for q, w in per_query.items() if w}
    cpu_medians = {q: statistics.median(o["cpu"].work for o in warm if o["query"] == q)
                   for q in medians}
    for q in MIX:
        walls = [o["end"] - o["start"] for o in ops if o["query"] == q]
        cpus = [o["cpu"].work for o in ops if o["query"] == q]
        print(f"analytics_mix {q} walls (first one cold): "
              f"{', '.join(f'{w:.3f}' for w in walls)}; warm {describe(per_query[q] or [0.0])}; "
              f"CPU seconds, JIT excluded {', '.join(f'{c:.2f}' for c in cpus)}",
              file=sys.stderr)

    def half(names):
        vals = [medians[q] for q in names if q in medians]
        return geomean(vals) if vals else 0.0

    n = max(len(warm), 1)
    e2e = {
        "setup_s": b.session_start_s + statistics.median(gen_s),
        "timed_cpu_s": measured_cpu.work,
    }
    layers = {
        "fixtures.generate_s": statistics.median(gen_s),
        "op.cpu_s": geomean(cpu_medians.values()) if cpu_medians else 0.0,
        "wall.op_s": geomean(medians.values()) if medians else 0.0,
        "wall.timed_s": measured,
        "cpu.python_driver_s": sum(o["cpu"].driver for o in warm) / n,
        "cpu.jvm_and_workers_s": sum(o["cpu"].spark for o in warm) / n,
        "cpu.jit_s": sum(o["cpu"].jit for o in warm) / n,
        "cpu.timed_jit_s": measured_cpu.jit,
        "plans.build_s": sum(o["built"] - o["start"] for o in warm) / n,
        "plans.exec_s": sum(o["end"] - o["built"] for o in warm) / n,
        "plans.build_jobs": sum(o["build_jobs"] for o in warm) / n,
        "plans.driver_bound_s": half(DRIVER_BOUND),
        "plans.exec_bound_s": half(EXEC_BOUND),
    }
    return {"e2e": e2e, "layers": layers,
            "attempted": len(ops) + raised + len(checks),
            "failed": raised + sum(not ok for ok in checks.values()),
            "n_ops": len(ops),
            "op_windows": [(o["start"], o["end"]) for o in warm],
            "finish": lambda log: {}}
