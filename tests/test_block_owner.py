"""The block owner (operators/ckpt.py): every checkpoint and broadcast
goes through ``freeze``/``broadcast``, and a scope releases what was
registered while it was innermost.

The guard walks the package's AST (no Spark session): a raw
``localCheckpoint``, ``sparkContext.broadcast`` or ``checkpoint_rdd``
call outside ``operators/ckpt.py``, or a session-global temp view
under ``plans/`` (which races under the threaded parity sweeps), fails
it. The other tests drive the owner on the test session.
"""

from __future__ import annotations

import ast
import pathlib
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from pantasia_db_sync_spark.operators import ckpt
from tests.conftest import SF_DIR

PKG = pathlib.Path(__file__).resolve().parents[1] / "pantasia_db_sync_spark"
OWNER = "operators/ckpt.py"
TEMP_VIEWS = {
    "createTempView",
    "createOrReplaceTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
}


def _raw_sites() -> list[tuple[str, int, str]]:
    """(module, line, kind) for each raw lifetime or temp-view call."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            kind = None
            if isinstance(f, ast.Attribute):
                if f.attr == "localCheckpoint":
                    kind = "localCheckpoint"
                elif f.attr == "broadcast" and (
                    isinstance(f.value, ast.Attribute) and f.value.attr == "sparkContext"
                ):
                    kind = "sparkContext.broadcast"
                elif f.attr in TEMP_VIEWS and rel.startswith("plans/"):
                    kind = "temp view"
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "checkpoint_rdd":
                kind = "checkpoint_rdd"
            if kind is not None and not (rel == OWNER and kind != "temp view"):
                out.append((rel, n.lineno, kind))
    return out


def test_lifetimes_have_one_owner_and_plans_make_no_temp_views():
    assert _raw_sites() == []


def _persistent_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


def _rdd_id(df) -> int:
    return ckpt._rdd(df).id()


def test_scope_releases_on_exit_and_on_exception(spark):
    before = _persistent_ids(spark)
    with ckpt.scope() as s:
        a = ckpt.freeze(spark.range(10))
        b = ckpt.freeze(spark.range(5), eager=False)
        bc = ckpt.broadcast(spark, b"mask")
        assert (a.count(), b.count(), bc.value) == (10, 5, b"mask")
        assert len(s) == 3
        assert _persistent_ids(spark) - before == {_rdd_id(a), _rdd_id(b)}
    assert len(s) == 0
    assert _persistent_ids(spark) <= before
    assert not bc._jbroadcast.isValid()

    with pytest.raises(RuntimeError, match="boom"):
        with ckpt.scope():
            c = ckpt.freeze(spark.range(3))
            bc = ckpt.broadcast(spark, 1)
            assert _rdd_id(c) in _persistent_ids(spark)
            raise RuntimeError("boom")
    assert _persistent_ids(spark) <= before
    assert not bc._jbroadcast.isValid()


def test_nested_scope_releases_only_its_own(spark):
    before = _persistent_ids(spark)
    with ckpt.scope() as outer:
        a = ckpt.freeze(spark.range(4))
        with ckpt.scope() as inner:
            b = ckpt.freeze(spark.range(6))
            assert (len(outer), len(inner)) == (1, 1)
        live = _persistent_ids(spark)
        assert _rdd_id(a) in live and _rdd_id(b) not in live
        assert a.count() == 4  # the outer scope's blocks are intact
        # a worker thread starts with an empty context: its freeze has
        # no owner, so the outer scope does not take it
        with ThreadPoolExecutor(1) as pool:
            unowned = pool.submit(lambda: ckpt._rdd(ckpt.freeze(spark.range(2)))).result()
        assert len(outer) == 1
    assert _persistent_ids(spark) - before == {unowned.id()}
    unowned.unpersist(False)


def test_loop_checkpointer_in_scope_holds_only_live_generations(spark):
    from pyspark.sql import functions as F

    before = _persistent_ids(spark)
    with ckpt.scope() as s:
        ck = ckpt.LoopCheckpointer(keep=2)
        df = spark.range(3)
        gens = []
        for _ in range(5):
            df = ck.step(df.select((F.col("id") + 1).alias("id")))
            gens.append(_rdd_id(df))
        assert len(s) == 2
        assert _persistent_ids(spark) - before == set(gens[-2:])
        assert sorted(r.id for r in df.collect()) == [5, 6, 7]
    assert _persistent_ids(spark) <= before


def test_decontaminate_bloom_under_scope_leaves_no_blocks(spark):
    """The bloom probe's bitmask is a ``ckpt.broadcast``: a scope around
    the query destroys it, so neither a broadcast nor a checkpoint block
    of the query outlives the scope."""
    from pyspark.broadcast import Broadcast

    from pantasia_db_sync_spark.plans import QUERIES, materialize

    jvm = spark.sparkContext._jvm
    bm = jvm.org.apache.spark.SparkEnv.get().blockManager()
    before = _persistent_ids(spark)
    with ckpt.scope() as s:
        materialize(QUERIES["corpus_decontaminate_bloom"](spark, SF_DIR))
        held = list(s._held)
    bcs = [h for h in held if isinstance(h, Broadcast)]
    rdds = {h.id() for h in held if not isinstance(h, Broadcast)}
    assert bcs
    assert all(not b._jbroadcast.isValid() for b in bcs)
    assert _persistent_ids(spark) <= before

    def leftovers():
        blocks = [
            jvm.org.apache.spark.storage.BroadcastBlockId(b._jbroadcast.id(), "")
            for b in bcs
        ]
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return [b for b in blocks if not bm.getStatus(b).isEmpty()] + [
            i.id() for i in infos if i.id() in rdds
        ]

    # release is non-blocking: the block manager drops the blocks
    # asynchronously, within milliseconds in local mode
    deadline = time.monotonic() + 10
    while leftovers() and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not leftovers()
