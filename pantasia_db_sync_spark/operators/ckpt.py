"""One owner for checkpoint and broadcast lifetimes.

A ``localCheckpoint``'s blocks are its frame's only copy (the lineage
is cut), and nothing frees them when the frame dies: they stay pinned
until the JVM happens to GC the RDD object and the ContextCleaner
notices (``sc.persistentRdds`` is a weak-value map). A
``sparkContext.broadcast`` is pinned the same way. In a long-lived
session (the sync daemon, a bench loop) that accumulation degrades
later queries: a 7-query loop re-run without cleanup measured 3-5x
slower by its second pass (round 16).

Every freeze and broadcast in the package goes through ``freeze`` and
``broadcast`` here, which register the checkpointed RDD's JVM handle or
the broadcast with the innermost open ``scope()``. Closing a scope,
normally or by exception, releases what it holds (non-blocking); a
nested scope holds only its own. The innermost scope lives in a
``ContextVar``: ``ThreadPoolExecutor`` workers start with an empty
context, so a freeze made on one belongs to a scope opened there or to
nobody. With no scope open, the ContextCleaner frees blocks as it
always did (the external driver of ``__spark_entry__``,
``scripts/leak_loop.py``). A ``Scope`` can also be held across calls —
``active()`` registers into it, ``close()`` releases — as the sync's
catch-up batch does.

The rule: open a scope only where every consumer of its freezes runs
before it closes. An action that reads a frame after its scope closed
fails with Spark's "checkpoint block … not found" (for a broadcast,
"Failed to get broadcast"), far from the cause.

``LoopCheckpointer`` owns a loop's generations: each ``step`` freezes
the next one, and once more than ``keep`` are live the oldest is
unpersisted and dropped from its scope. ``keep=2`` (default) suits
every loop here: each derives round t+1 from round t only, or probes
round t after round t+1 exists (convergence counts, the truss support
frame). Loops that route helper freezes through the same tracker
(truss peeling's per-round oriented triangles) widen ``keep`` to match.
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

_SCOPE: contextvars.ContextVar[Scope | None] = contextvars.ContextVar(
    "ckpt_scope", default=None
)


def _rdd(df: DataFrame):
    """JVM handle of the RDD behind a checkpointed frame: its analyzed
    plan IS a ``LogicalRDD`` over it (py4j calls, no block scan)."""
    return df._jdf.queryExecution().analyzed().rdd()


class Scope:
    """Owner of the checkpoint RDDs and broadcasts registered while it
    is innermost (module docstring has the rules)."""

    def __init__(self) -> None:
        self._held: list = []  # JVM RDD handles and Broadcasts

    def __len__(self) -> int:
        return len(self._held)

    @contextmanager
    def active(self):
        """Make this scope innermost for the ``with`` body; it stays
        open afterwards, for its holder to ``close``."""
        token = _SCOPE.set(self)
        try:
            yield self
        finally:
            _SCOPE.reset(token)

    def discard(self, handle) -> None:
        self._held = [h for h in self._held if h is not handle]

    def close(self) -> None:
        held, self._held = self._held, []
        for h in held:
            if isinstance(h, Broadcast):
                h.destroy()
            else:
                h.unpersist(False)


@contextmanager
def scope():
    """A fresh innermost ``Scope``, closed when the block exits."""
    s = Scope()
    try:
        with s.active():
            yield s
    finally:
        s.close()


def _freeze(df: DataFrame, eager: bool, track: bool = False):
    """(frozen frame, RDD handle, owning scope); the handle is looked up
    only when a scope owns it or ``track`` asks for it."""
    out = df.localCheckpoint(eager=eager)
    owner = _SCOPE.get()
    h = _rdd(out) if track or owner is not None else None
    if owner is not None:
        owner._held.append(h)
    return out, h, owner


def freeze(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, owned by the innermost scope.
    Every action on the result must run before that scope closes, or it
    fails with "checkpoint block … not found"."""
    return _freeze(df, eager)[0]


def broadcast(spark, value) -> Broadcast:
    """``sparkContext.broadcast(value)``, owned (and destroyed on close)
    by the innermost scope."""
    bc = spark.sparkContext.broadcast(value)
    owner = _SCOPE.get()
    if owner is not None:
        owner._held.append(bc)
    return bc


class LoopCheckpointer:
    """Freeze successive generations of a loop's state, freeing
    superseded ones (module docstring has the design). A generation
    more than ``keep`` steps old is unpersisted at once, so reading it
    later (a lazy frame still over it, a probe of an old round) fails
    with "checkpoint block … not found": a loop may read only its last
    ``keep`` generations, counting every frame it routes through
    ``step``."""

    def __init__(self, keep: int = 2) -> None:
        if keep < 1:
            raise ValueError("keep must be >= 1")
        self._keep = keep
        self._gens: list = []  # (RDD handle, owning scope or None)

    def step(self, df: DataFrame, eager: bool = True) -> DataFrame:
        out, h, owner = _freeze(df, eager, track=True)
        self._gens.append((h, owner))
        while len(self._gens) > self._keep:
            h, owner = self._gens.pop(0)
            if owner is not None:
                owner.discard(h)
            h.unpersist(False)
        return out
