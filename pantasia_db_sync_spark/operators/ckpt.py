"""Loop-checkpoint hygiene: unpersist superseded localCheckpoint blocks.

The iterative operators (connected components, PageRank, BFS, k-core,
truss peeling, …) ``localCheckpoint`` their evolving state every round
to cut the growing lineage. ``DataFrame.localCheckpoint`` persists the
materialized RDD in the block manager and NOTHING frees those blocks
when the round's frame is superseded — the blocks of round t are dead
the moment round t+1 is eagerly materialized, yet they stay pinned
until either the SparkContext dies or the JVM happens to GC the RDD
object and the ContextCleaner notices (opportunistic, load-dependent —
``sc.persistentRdds`` is a weak-value map, so the blocks can outlive
any handle that could still unpersist them). In a long-lived session
(a Thrift server, the sync daemon, a bench loop) that accumulation
degrades later queries: a 7-query loop re-run without cleanup measured
3-5x slower by its second pass on a memory-pressured host (round 16),
because dead checkpoint blocks squeeze the storage/execution memory
every subsequent job wants.

``LoopCheckpointer`` fixes this at the source, deterministically. Each
``step`` checkpoints the next generation of the loop's state and keeps
a DIRECT handle to the checkpointed RDD (the ``LogicalRDD`` the
Dataset wraps — two py4j calls, no block-manager scans); once more
than ``keep`` generations are live, the oldest handle is unpersisted
(non-blocking). Correctness never depends on the unpersist — the
frames are dead by construction when their generation falls out of the
window — so a missed unpersist degrades memory, never results.

``keep=2`` (default) retains the current and previous generation:
every loop here either derives round t+1 only from round t (keep=1
would do) or probes/consumes round t after round t+1 exists
(convergence counts, the truss support frame) — keep=2 is safe for
both shapes by construction. Loops whose steps interleave lazily
checkpointed helper frames with the state (truss peeling's per-round
oriented-triangle freeze) route those through the same tracker and
widen ``keep`` accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_rdd(df: DataFrame):
    """JVM handle of the persisted RDD behind a ``localCheckpoint``-ed
    frame: the checkpointed Dataset's analyzed plan IS a ``LogicalRDD``
    over it. Holding the handle lets its owner free the blocks with
    ``unpersist(False)`` even after every other reference is gone (the
    weak-map hazard above)."""
    return df._jdf.queryExecution().analyzed().rdd()


class LoopCheckpointer:
    """Checkpoint successive generations of a loop's state, freeing
    superseded generations' blocks (module docstring has the design)."""

    def __init__(self, keep: int = 2) -> None:
        if keep < 1:
            raise ValueError("keep must be >= 1")
        self._keep = keep
        self._gens: list = []  # JVM handles of the checkpointed RDDs

    def step(self, df: DataFrame, eager: bool = True) -> DataFrame:
        out = df.localCheckpoint(eager=eager)
        self._gens.append(checkpoint_rdd(out))
        while len(self._gens) > self._keep:
            self._gens.pop(0).unpersist(False)
        return out
