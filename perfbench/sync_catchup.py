"""Workload ``sync_catchup``: the daemon's backfill after a restart.

A fresh process generates the cardano-shaped source
(``pipeline.fixtures.generate(scale=0.2, seed)``, about 11 hours of
chain), opens an empty ``TableStore`` and makes ONE
``SyncEngine.run_sync(max_periods=PERIODS)`` call with 60-minute
periods, as ``run_daemon`` does when it finds the tip ahead of the
sink. The loop is closed and has one client: the engine commits one
period at a time. Every run commits the same ``PERIODS`` periods,
whatever the speed of the code under test. The first period runs in a
cold JVM, as it does after every daemon restart; it is paid for in
``timed_cpu_s`` (CPU of the whole call), while the per-period figures
are taken from the warm periods after it.

Correctness, outside the timed region: the six store tables must equal
``pipeline.golden.replay`` over the synced range.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from datetime import datetime
from decimal import Decimal

from .eventlog import job_intervals
from .trace import (
    clip,
    clip_to_windows,
    describe,
    timed_subclass,
    tree_cpu_s,
    union_length,
)

SCALE = 0.2
PERIOD_MINUTES = 60
PERIODS = 2
GENERATE_REPEATS = 3

# store method -> metric group (outermost call wins, see CallTimer)
# (vacuum and compact_facts never run here: the catch-up engine keeps
# the default retention and compaction settings)
STORE_GROUPS = {
    "stage": "stage", "append": "append", "repoint": "repoint",
    "commit_append": "commit_append", "read": "read",
    "current_version": "meta", "facts_stats": "meta", "dim_stats": "meta",
    "dim_max": "meta",
}
ENGINE_SPANS = ("period_list", "cardano_tip", "pantasia_tip",
                "ensure_bootstrap", "extract")

TABLE_COLS = {
    "wallet": ["id", "address", "address_type"],
    "collection": ["id", "policy_id"],
    "asset": ["id", "collection_id", "hash", "name", "fingerprint", "current_wallet_id"],
    "asset_tx": ["id", "asset_id", "wallet_id", "quantity", "tx_hash", "tx_time"],
    "asset_mint_tx": ["id", "asset_id", "wallet_id", "quantity", "tx_hash",
                      "tx_time", "image", "metadata", "files"],
    "asset_ext": ["id", "asset_id", "latest_mint_tx_id", "latest_tx_id"],
}
FACTS = ("asset_tx", "asset_mint_tx")
JSON_COLS = {"metadata", "files"}


def _norm(col: str, v):
    if v is None:
        return None
    if col in JSON_COLS and isinstance(v, str):
        return json.dumps(json.loads(v), sort_keys=True)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    return v


def check_against_golden(spark, store, source_dir: str, hi) -> dict[str, bool]:
    """Per table: do the committed rows equal the golden replay of the
    reference's row loop over (genesis, hi]?"""
    from pantasia_db_sync_spark.pipeline import golden
    from pantasia_db_sync_spark.pipeline.fixtures import GENESIS

    want = golden.replay(source_dir, GENESIS, hi)
    ok = {}
    for table, cols in TABLE_COLS.items():
        df = (store.read_facts(spark, table) if table in FACTS
              else store.read(spark, table))
        got = [] if df is None else [tuple(_norm(c, r[c]) for c in cols)
                                     for r in df.select(*cols).collect()]
        exp = [tuple(_norm(c, v) for c, v in zip(cols, row)) for row in want[table]]
        ok[table] = sorted(got, key=repr) == sorted(exp, key=repr)
    return ok


def _store_footprint(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def run(b) -> dict:
    from pantasia_db_sync_spark.pipeline import fixtures
    from pantasia_db_sync_spark.pipeline.store import TableStore
    from pantasia_db_sync_spark.pipeline.sync import SyncEngine

    src = os.path.join(b.work, "cardano")
    gen_s = []
    for _ in range(GENERATE_REPEATS):
        shutil.rmtree(src, ignore_errors=True)
        t = time.perf_counter()
        with b.tracer.span("fixtures.generate"):
            fixtures.generate(src, scale=SCALE, seed=b.seed)
        gen_s.append(time.perf_counter() - t)

    store_dir = os.path.join(b.work, "store")
    store_cls = timed_subclass(TableStore, b.timer, STORE_GROUPS) if b.trace else TableStore
    store = store_cls(store_dir)
    engine = SyncEngine(b.spark, src, store, time_interval_minutes=PERIOD_MINUTES)

    periods: list[dict] = []
    inner = engine.process_period

    def process_period(lo, hi, commit_id):
        j0 = b.job_id() if b.trace else 0
        b.tracer.op_id = len(periods)
        c0 = tree_cpu_s()
        start = time.time()
        with b.tracer.span("sync.process_period"):
            stats = inner(lo, hi, commit_id)
        end = time.time()
        cpu = tree_cpu_s() - c0
        periods.append({"hi": hi, "start": start, "end": end, "stats": stats, "cpu": cpu,
                        "jobs": b.job_id() - j0 if b.trace else 0})
        b.tracer.op_id = None
        b.op_done()
        return stats

    engine.process_period = process_period
    for m in ENGINE_SPANS:
        b.tracer.wrap(engine, m, f"sync.{m}")

    raised = 0
    cpu0 = tree_cpu_s()
    t0 = time.time()
    try:
        with b.tracer.span("sync.run_sync"):
            engine.run_sync(max_periods=PERIODS)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        raised = 1
    t1 = time.time()
    timed_cpu = tree_cpu_s() - cpu0
    b.timer.enabled = False
    b.after_ops()
    b.sample_heap()

    walls = [p["end"] - p["start"] for p in periods]
    cpus = [p["cpu"].work for p in periods]
    print(f"sync_catchup period walls (first one cold): "
          f"{', '.join(f'{w:.3f}' for w in walls)}; warm {describe(walls[1:] or [0.0])}; "
          f"records {', '.join(str(p['stats']['records']) for p in periods)}",
          file=sys.stderr)
    jits = [p["cpu"].jit for p in periods]
    print(f"sync_catchup period CPU seconds, JIT excluded: {', '.join(f'{c:.2f}' for c in cpus)} "
          f"(JIT {', '.join(f'{j:.2f}' for j in jits)}); run_sync wall "
          f"{t1 - t0:.3f} s, CPU {timed_cpu.work:.2f} s (JIT {timed_cpu.jit:.2f})", file=sys.stderr)
    if len(periods) != PERIODS:
        print(f"sync_catchup: {len(periods)} periods committed, {PERIODS} expected",
              file=sys.stderr)
    checks = {}
    if periods:
        checks = check_against_golden(b.spark, store, src, periods[-1]["hi"])
    for table, ok in checks.items():
        if not ok:
            print(f"sync_catchup: {table} differs from the golden replay",
                  file=sys.stderr)
    # periods not committed, at least one if run_sync raised
    failed = max(raised, PERIODS - len(periods)) + sum(not ok for ok in checks.values())
    attempted = PERIODS + len(checks)

    warm = periods[1:]
    n = max(len(warm), 1)
    e2e = {
        "setup_s": b.session_start_s + statistics.median(gen_s),
        "timed_cpu_s": timed_cpu.work,
    }
    files, size = _store_footprint(store_dir)
    layers = {"fixtures.generate_s": statistics.median(gen_s),
              "op.cpu_s": statistics.median(cpus[1:]) if warm else 0.0,
              "wall.op_s": statistics.median(walls[1:]) if warm else 0.0,
              "wall.timed_s": t1 - t0,
              "cpu.python_driver_s": sum(p["cpu"].driver for p in warm) / n,
              "cpu.jvm_and_workers_s": sum(p["cpu"].spark for p in warm) / n,
              "cpu.jit_s": sum(p["cpu"].jit for p in warm) / n,
              "cpu.timed_jit_s": timed_cpu.jit,
              "store.files_live": files, "store.bytes_live": size}
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "n_ops": len(periods),
            "op_windows": [(p["start"], p["end"]) for p in warm],
            "finish": lambda log: _sync_layers(b, log, periods, t0, t1)}


def _sync_layers(b, log, periods, t0, t1) -> dict:
    """Layer figures of the traced run; ``log`` is the parsed event log.

    Per-period figures are means over the warm periods (all but the
    first), the ones ``op.cpu_s`` is taken from. Spans and store
    calls are clipped to those periods' windows, so set-up work of the
    ``run_sync`` call (bootstrap, tip discovery) counts only in
    ``sync.poll_overhead_s`` and the ``sync.<step>_s`` spans around it."""
    warm = periods[1:]
    n = max(len(warm), 1)
    windows = [(p["start"], p["end"]) for p in warm]

    out = {
        "sync.period_s": sum(hi - lo for lo, hi in windows) / n,
        "sync.jobs_per_period": sum(p["jobs"] for p in warm) / n,
        "sync.records_per_period": sum(p["stats"]["records"] for p in warm) / n,
        "sync.poll_overhead_s": (t1 - t0) - sum(p["end"] - p["start"] for p in periods),
        "sync.extract_build_s": union_length(
            clip_to_windows(b.tracer.intervals("sync.extract"), windows)) / n,
    }
    for m in ("cardano_tip", "pantasia_tip", "ensure_bootstrap", "period_list"):
        out[f"sync.{m}_s"] = union_length(b.tracer.intervals(f"sync.{m}"))
    for group in sorted(set(STORE_GROUPS.values())):
        ivs = clip_to_windows(b.timer.calls.get(group, []), windows)
        out[f"store.{group}.calls"] = len(ivs) / n
        out[f"store.{group}.busy_s"] = union_length(ivs) / n
    # time in a period when neither a Spark job nor a store call ran:
    # driver-side planning and Python between them
    store_ivs = b.timer.intervals()
    gap = 0.0
    for lo, hi in windows:
        covered = union_length(clip(store_ivs, lo, hi) + job_intervals(log, lo, hi))
        gap += (hi - lo) - covered
    out["sync.unattributed_s"] = gap / n
    return out
