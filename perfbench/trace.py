"""Measurement helpers: spans, interval unions, outermost-call timing,
Spark job-id deltas, process-tree CPU time and the percentile rule.

Everything here is plain Python so the tests in ``perfbench/tests`` run
without a Spark session. The benchmark records from outside the
program: it wraps the public calls of each layer and never edits the
program's modules.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import NamedTuple


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals.

    Busy time of a layer that several threads enter at once (the six
    concurrent writes of a sync period) is the union of its call
    intervals, not their sum."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def clip_to_windows(intervals, windows) -> list[tuple[float, float]]:
    """The parts of ``intervals`` inside any of the disjoint ``windows``:
    calls made between ops drop out, calls that straddle an op's edge
    keep only their part inside it."""
    return [c for lo, hi in windows for c in clip(intervals, lo, hi)]


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(samples) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_PERCENTILES`` that has at least
    ten samples beyond it, as ``(percentile, value)``; ``None`` when
    there are too few samples even for p75 (fewer than 40).

    The value is the nearest-rank sample, so it is a measured time,
    never an interpolation."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(round(p * n / 100.0, 9))  # 1-based nearest rank
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1]
    return None


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def describe(samples) -> str:
    """``median, highest supported percentile, sample count`` as text."""
    tail = tail_percentile(samples)
    tail_txt = f"p{tail[0]:g}={tail[1]:.4f}" if tail else "no tail percentile (n<40)"
    return f"p50={statistics.median(samples):.4f} {tail_txt} n={len(samples)}"


class Tracer:
    """In-memory spans: name, start, end, parent span and op id.

    ``enabled=False`` makes every span a no-op so the end-to-end runs pay
    nothing for the hooks; the spans are written out once, at exit."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "op": self.op_id, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (an instance attribute, so calls through
        ``self`` inside the program see it) with a spanned version; a
        disabled tracer leaves the object untouched."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, method, spanned)

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CallTimer:
    """Times the OUTERMOST call into a group of methods, per thread.

    A public method that calls another timed method of the same object
    (say ``append`` reaching ``stage``) counts once, under the outer
    name, so busy times of the groups never double count one interval.
    Calls from different threads are recorded independently; their
    overlap is removed later by ``union_length``."""

    def __init__(self) -> None:
        self.enabled = True
        self.calls: dict[str, list[tuple[float, float]]] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def timed(self, group: str):
        depth = getattr(self._local, "depth", 0)
        if depth or not self.enabled:
            self._local.depth = depth + 1
            try:
                yield
            finally:
                self._local.depth = depth
            return
        self._local.depth = 1
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._local.depth = 0
            with self._lock:
                self.calls.setdefault(group, []).append((start, end))

    def intervals(self, groups=None) -> list[tuple[float, float]]:
        return [iv for g, ivs in self.calls.items()
                if groups is None or g in groups for iv in ivs]


def timed_subclass(base: type, timer: CallTimer, groups: dict[str, str]) -> type:
    """A subclass of ``base`` whose methods named in ``groups`` (method →
    group) run inside ``timer.timed(group)``."""

    def make(method: str, group: str):
        inner = getattr(base, method)

        def timed_method(self, *a, **kw):
            with timer.timed(group):
                return inner(self, *a, **kw)

        timed_method.__name__ = method
        return timed_method

    ns = {m: make(m, g) for m, g in groups.items()}
    return type(f"Timed{base.__name__}", (base,), ns)


def last_job_id(status_tracker) -> int:
    """Highest job id Spark has handed out so far (-1 before the first).

    Job ids only grow, so the difference of two readings is the number
    of jobs started in between. The retained-job list itself is capped
    (``spark.ui.retainedJobs``, 1000 by default) and drops old ids, so
    a difference of list LENGTHS goes wrong, even negative, once a run
    passes the cap."""
    return max(status_tracker.getJobIdsForGroup(None), default=-1)


_CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>" (the kernel keeps the first 15 characters)
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


class CpuTimes(NamedTuple):
    """CPU seconds (user + system) of a process tree, split three ways."""

    driver: float  # the root: the benchmark's process, the program's Python driver
    spark: float   # its descendants (the Spark JVM, its Python workers), JIT excluded
    jit: float     # the descendants' JIT compiler threads

    def __add__(self, other: "CpuTimes") -> "CpuTimes":
        return CpuTimes(*(a + b for a, b in zip(self, other)))

    def __sub__(self, other: "CpuTimes") -> "CpuTimes":
        return CpuTimes(*(a - b for a, b in zip(self, other)))

    @property
    def work(self) -> float:
        """The program's own work: everything but JIT compilation."""
        return self.driver + self.spark


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # exited while we looked
        return None
    # "pid (comm) state ppid ... utime stime cutime cstime ..."
    return stat[stat.find("(") + 1:stat.rfind(")")], stat[stat.rfind(")") + 2:].split()


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> CpuTimes:
    """CPU seconds used so far by process ``root`` (this one by default)
    and by all its descendants.

    Each process counts its own time plus that of the children it has
    reaped, so a Python worker that exits between two readings stays
    counted, under its parent. The JVM's JIT compiler threads are
    counted apart: compilation is warm-up, it falls in whichever op is
    running when the compiler gets to it, and a long-lived process
    stops paying it. The JVM must keep its compiler threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the time of a thread
    that has exited stays in its process's total but drops out of the
    per-thread sum.

    The difference of two readings is the CPU the program spent in
    between on every core. Unlike a wall time it leaves out time the
    host's hypervisor gave to other guests: a Linux guest books that
    as ``steal``, not as the process's."""
    root = os.getpid() if root is None else root
    cpu: dict[int, float] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        got = _stat_fields(f"{proc}/{name}/stat")
        if got is None:
            continue
        _, fields = got
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15]) / _CLK_TCK
    below = jit = 0.0
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        below += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, []))
        try:
            tids = os.listdir(f"{proc}/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            got = _stat_fields(f"{proc}/{pid}/task/{tid}/stat")
            if got is not None and got[0].startswith(JIT_THREAD_PREFIXES):
                jit += (int(got[1][11]) + int(got[1][12])) / _CLK_TCK
    return CpuTimes(cpu.get(root, 0.0), below - jit, jit)
