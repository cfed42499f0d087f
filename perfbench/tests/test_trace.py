"""Tests for the benchmark's measurement helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import subprocess
import sys
import threading
import time

import pytest

from perfbench.eventlog import op_figures
from perfbench.trace import (
    CallTimer,
    Tracer,
    clip_to_windows,
    last_job_id,
    tail_percentile,
    timed_subclass,
    tree_cpu_s,
    union_length,
)


def test_union_length_merges_overlapping_threads():
    # three writers: [0,4] and [1,3] overlap, [3.5,6] chains on, [8,9] apart
    ivs = [(1.0, 3.0), (0.0, 4.0), (8.0, 9.0), (3.5, 6.0)]
    assert union_length(ivs) == pytest.approx(7.0)
    assert union_length([]) == 0.0
    assert union_length([(2.0, 2.0)]) == 0.0


def test_calls_between_periods_drop_out_of_period_figures():
    # two periods [10,20] and [30,40]; a bootstrap call before the first,
    # a tip probe between them, a write straddling the second's start
    calls = [(0.0, 7.0), (22.0, 25.0), (12.0, 14.0), (28.0, 31.0), (35.0, 36.0)]
    inside = clip_to_windows(calls, [(10.0, 20.0), (30.0, 40.0)])
    assert sorted(inside) == [(12.0, 14.0), (30.0, 31.0), (35.0, 36.0)]
    assert union_length(inside) == pytest.approx(4.0)
    assert clip_to_windows(calls, []) == []


def test_union_length_of_real_concurrent_calls():
    timer = CallTimer()

    def work():
        with timer.timed("stage"):
            time.sleep(0.2)

    threads = [threading.Thread(target=work) for _ in range(6)]
    t0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    wall = time.time() - t0
    ivs = timer.calls["stage"]
    assert len(ivs) == 6
    assert sum(e - s for s, e in ivs) > 1.0  # summed, they overstate
    assert 0.19 < union_length(ivs) <= wall


class FakeStore:
    def stage(self, table):
        time.sleep(0.01)
        return 1

    def append(self, table):
        self.stage(table)  # a timed method reaching another one
        self.current_version(table)
        time.sleep(0.01)

    def current_version(self, table):
        return 0


def test_outermost_store_call_is_timed_once():
    timer = CallTimer()
    groups = {"stage": "stage", "append": "append", "current_version": "meta"}
    store = timed_subclass(FakeStore, timer, groups)()
    assert isinstance(store, FakeStore)
    store.append("t")
    assert set(timer.calls) == {"append"}
    assert len(timer.calls["append"]) == 1
    store.stage("t")
    store.current_version("t")
    assert len(timer.calls["stage"]) == 1 and len(timer.calls["meta"]) == 1
    timer.enabled = False
    store.append("t")
    assert len(timer.calls["append"]) == 1


def test_outermost_rule_is_per_thread():
    timer = CallTimer()
    store = timed_subclass(FakeStore, timer, {"stage": "stage", "append": "append"})()
    barrier = threading.Barrier(2)

    def outer():
        with timer.timed("append"):
            barrier.wait(timeout=5)  # the other thread calls while we are inside
            barrier.wait(timeout=5)

    t = threading.Thread(target=outer)
    t.start()
    barrier.wait(timeout=5)
    store.stage("t")  # another thread: its own outermost call
    barrier.wait(timeout=5)
    t.join(timeout=5)
    assert not t.is_alive()
    assert len(timer.calls["stage"]) == 1 and len(timer.calls["append"]) == 1


class FakeTracker:
    """Spark's status tracker keeps only the newest ``retained`` job ids."""

    def __init__(self, retained: int = 1000) -> None:
        self.retained = retained
        self.started = 0

    def run_jobs(self, n: int) -> None:
        self.started += n

    def getJobIdsForGroup(self, group):
        lo = max(0, self.started - self.retained)
        return list(range(self.started - 1, lo - 1, -1))  # unordered in Spark too


def test_job_id_delta_across_the_retained_job_wrap():
    tr = FakeTracker()
    assert last_job_id(tr) == -1
    tr.run_jobs(990)
    before, before_len = last_job_id(tr), len(tr.getJobIdsForGroup(None))
    tr.run_jobs(111)  # passes the 1000-job cap
    assert last_job_id(tr) - before == 111
    # what counting list lengths would have said
    assert len(tr.getJobIdsForGroup(None)) - before_len == 10
    tr.run_jobs(700)
    b2 = last_job_id(tr)
    tr.run_jobs(5)
    assert last_job_id(tr) - b2 == 5


BURN = """
import sys, time
t = time.process_time()
while time.process_time() - t < 0.4:
    pass
print("burnt", flush=True)
time.sleep(60)
"""


def test_tree_cpu_counts_a_child_alive_and_after_it_is_reaped():
    base = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline() == "burnt\n"
        alive = tree_cpu_s() - base
    finally:
        child.kill()
        child.wait()
        child.stdout.close()
    reaped = tree_cpu_s() - base
    # the child's time shows under the descendants while it runs ...
    assert alive.spark >= 0.35
    # ... and stays counted, in this process's reaped-children time, after it ends
    assert reaped.work >= 0.35
    assert reaped.spark == pytest.approx(0.0, abs=0.05)
    assert alive.jit == reaped.jit == 0.0


def _fake_proc(root, procs):
    """A /proc tree: ``procs`` maps pid -> (ppid, comm, utime, cutime,
    {tid: (thread comm, utime)}), times in clock ticks."""
    for pid, (ppid, comm, utime, cutime, threads) in procs.items():
        d = root / str(pid)
        (d / "task").mkdir(parents=True)
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), "0", str(cutime), "0"] + ["0"] * 5
        (d / "stat").write_text(f"{pid} ({comm}) {' '.join(rest)}\n")
        for tid, (tcomm, tutime) in threads.items():
            (d / "task" / str(tid)).mkdir()
            trest = ["S", str(ppid)] + ["0"] * 9 + [str(tutime), "0", "0", "0"] + ["0"] * 5
            (d / "task" / str(tid) / "stat").write_text(f"{tid} ({tcomm}) {' '.join(trest)}\n")


def test_tree_cpu_splits_the_jvm_compiler_threads_off(tmp_path):
    import os

    tck = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, {
        10: (1, "python3", 2 * tck, 1 * tck, {10: ("python3", 2 * tck)}),
        # the JVM; its own total covers every thread, live or exited
        11: (10, "java", 30 * tck, 0, {11: ("java", 1 * tck),
                                       12: ("C2 CompilerThre", 8 * tck),
                                       13: ("C1 CompilerThre", 2 * tck),
                                       14: ("Executor task l", 15 * tck)}),
        # a Python worker, grandchild of the driver, with a ) in its name
        12: (11, "pyspark (w)", 3 * tck, 0, {12: ("pyspark (w)", 3 * tck)}),
        99: (1, "java", 50 * tck, 0, {99: ("C2 CompilerThre", 40 * tck)}),  # not ours
    })
    got = tree_cpu_s(root=10, proc=str(tmp_path))
    assert got.driver == pytest.approx(3.0)  # own 2 s + 1 s of reaped children
    assert got.jit == pytest.approx(10.0)
    assert got.spark == pytest.approx(30.0 + 3.0 - 10.0)
    assert got.work == pytest.approx(26.0)
    assert (got - got).work == 0.0
    assert (got + got).jit == pytest.approx(20.0)  # sums, not tuple concatenation


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_percentile_rule_needs_ten_samples_beyond(n, expected):
    got = tail_percentile(range(n))
    if expected is None:
        assert got is None
        return
    p, value = got
    assert p == expected
    assert sum(1 for x in range(n) if x > value) >= 10


def test_percentile_value_is_a_sample():
    samples = [0.5 + i / 7 for i in range(50)]
    p, v = tail_percentile(samples)
    assert p == 75.0 and v in samples


def test_tracer_records_parent_and_op_and_noops_when_disabled():
    tr = Tracer(enabled=True)
    tr.op_id = 3
    with tr.span("outer"):
        with tr.span("inner", query="q"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["op"] == 3 and inner["query"] == "q"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]

    off = Tracer(enabled=False)

    class Obj:
        def f(self):
            return 1

    o = Obj()
    off.wrap(o, "f", "x")
    assert "f" not in vars(o) and o.f() == 1 and off.spans == []
    tr.wrap(o, "f", "x")
    assert o.f() == 1 and tr.spans[-1]["name"] == "x"


def test_op_figures_attribute_jobs_by_submission_window():
    log = {
        "jobs": {0: {"start": 10.0, "end": 11.0}, 1: {"start": 10.5, "end": 12.0},
                 2: {"start": 20.0, "end": 21.0}},
        "stage_job": {0: 0, 1: 1, 2: 1, 3: 2},
        "stages_done": {0, 1, 3},  # stage 2 was skipped
        "per_stage": {
            0: {"tasks": 4, "cpu_s": 1.0, "gc_s": 0.1, "shuffle_write_bytes": 100, "spill_bytes": 0},
            1: {"tasks": 2, "cpu_s": 0.5, "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 7},
            3: {"tasks": 9, "cpu_s": 9.0, "gc_s": 9.0, "shuffle_write_bytes": 9, "spill_bytes": 9},
        },
    }
    f = op_figures(log, 9.0, 15.0)
    assert f["jobs"] == 2 and f["stages"] == 2 and f["tasks"] == 6
    assert f["job_busy_s"] == pytest.approx(2.0)
    assert f["driver_idle_s"] == pytest.approx(4.0)
    assert f["executor_cpu_s"] == pytest.approx(1.5)
    assert f["shuffle_write_bytes"] == 100 and f["spill_bytes"] == 7
