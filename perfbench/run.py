"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_catchup --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. It builds nothing: the program is the
``pantasia_db_sync_spark`` package and ``__spark_entry__.py`` beside
this directory. Everything the run writes stays under ``.perfbench/``
in the checkout: inputs, the store, Spark scratch space and temp files
under ``.perfbench/work`` (removed at exit), spans of a traced run under
``.perfbench/out``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. Human-readable notes go to standard error.

Each workload does a fixed amount of work (a fixed number of sync
periods or query passes), so a faster program is measured on the same
ops rather than on more of them. ``--seconds`` is accepted for the
command-line contract and otherwise unused; ``run_seconds`` in
``BENCHMARK.json`` states about how long the fixed work takes.

The ops are timed in CPU seconds of the program's processes (the
Python driver, the Spark JVM and its Python workers), which leave out
time the hypervisor gives to other guests; their wall times are
per-layer figures of the traced run, and every run prints them on
standard error.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("sync_catchup", "analytics_mix")
HEAP_GC_ROUNDS = 4


class Bench:
    """What a workload needs from the harness: the session, the seed, the
    tracer and store timer, and the probes (job ids, checkpoint state,
    retained heap) whose own cost is kept apart as ``bookkeeping_s``."""

    def __init__(self, args, work: str) -> None:
        from perfbench.trace import CallTimer, Tracer

        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.trace)
        self.timer = CallTimer()
        self.spark = None
        self.session_start_s = 0.0
        self.bookkeeping_s = 0.0
        self.ckpt: tuple[int, float] = (0, 0.0)
        self.heap_samples_mb: list[float] = []
        self.steal_s = -host_steal_s()

    def _probe(self, fn):
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.bookkeeping_s += time.perf_counter() - t

    def job_id(self) -> int:
        from perfbench.trace import last_job_id

        return self._probe(lambda: last_job_id(self.spark.sparkContext.statusTracker()))

    def _ckpt_state(self) -> tuple[int, float]:
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return jsc.getPersistentRDDs().size(), mb

    def op_done(self) -> None:
        """After each op of a traced run: persistent RDDs and their storage."""
        if self.trace:
            self.ckpt = self._probe(self._ckpt_state)

    def after_ops(self) -> None:
        """At the end of the timed loop: checkpoint state and host steal."""
        self.op_done()
        self.steal_s += host_steal_s()

    def sample_heap(self) -> None:
        """Record the JVM heap still in use once garbage is collected.
        Nothing of the program's is unpersisted or destroyed first: what
        it keeps shows here."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        # Python first: a DataFrame caught in a reference cycle keeps its
        # JVM peer alive until Python's cycle collector happens to run
        gc.collect()
        # Spark frees blocks of unreachable RDDs and broadcasts from its
        # own cleaner thread after a GC finds them, and only the next GC
        # returns that memory: a fixed number of GC rounds lets the
        # reading settle on what the program still holds
        jvm = self.spark._jvm
        for _ in range(HEAP_GC_ROUNDS):
            jvm.java.lang.System.gc()
            time.sleep(0.2)
        usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.heap_samples_mb.append(usage.getUsed() / 2**20)


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (Linux ``steal``),
    summed over all CPUs: when it grows, walls grow for reasons outside
    the program."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def start_session(work: str, trace: bool):
    """The engine's own ``get_spark``, as ``local[nproc]``, with every
    scratch path inside the checkout. The traced run adds a plain-JSON
    event log."""
    from pantasia_db_sync_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work} -XX:-UsePerfData "
            # compiler threads that exit take their CPU time out of the
            # per-thread sum that separates JIT time (trace.tree_cpu_s)
            "-XX:-UseDynamicNumberOfCompilerThreads"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _spark_per_op(log, windows) -> dict[str, float]:
    from perfbench.eventlog import op_figures

    n = max(len(windows), 1)
    total: dict[str, float] = {}
    for lo, hi in windows:
        for k, v in op_figures(log, lo, hi).items():
            total[k] = total.get(k, 0) + v
    return {f"spark.{k}": v / n for k, v in total.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pantasia_db_sync_spark", "__init__.py")):
        print(f"no pantasia_db_sync_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench", "work")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    import importlib

    workload = importlib.import_module(f"perfbench.{args.workload}")
    b = Bench(args, work)
    t = time.perf_counter()
    with b.tracer.span("session.start"):
        b.spark = start_session(work, b.trace)
    b.session_start_s = time.perf_counter() - t
    try:
        res = workload.run(b)
    finally:
        stop_session(b.spark)

    e2e = dict(res["e2e"], heap_retained_mb=max(b.heap_samples_mb, default=0.0))
    print(f"host steal during the run: {b.steal_s:.1f} CPU-s", file=sys.stderr)
    if args.trace:
        from perfbench.eventlog import parse

        log = parse(os.path.join(work, "eventlog"))
        n_ops = max(res["n_ops"], 1)
        values = dict(res["layers"])
        values.update(res["finish"](log))
        values.update(_spark_per_op(log, res["op_windows"]))
        values.update({
            "session.start_s": b.session_start_s,
            "ckpt.persistent_rdds": b.ckpt[0],
            "ckpt.storage_mb": b.ckpt[1],
            "trace.bookkeeping_s": b.bookkeeping_s / n_ops,
            "trace.timed_cpu_s": e2e["timed_cpu_s"],
            "host.steal_s": b.steal_s,
        })
        b.tracer.write(os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.json"))
    else:
        values = e2e
    names = {m["name"]: m["unit"] for m in declared}
    unknown = sorted(set(values) - set(names))
    if unknown:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {unknown}")
    idle = sorted(set(names) - set(values))
    if idle:
        print(f"not exercised by {args.workload} (reported as 0): {', '.join(idle)}",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values.get(n, 0), "unit": u} for n, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
