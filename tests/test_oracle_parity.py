"""Local mirror of the driver's DuckDB-oracle differential check.

For every registered query with an oracle, ``plans.parity_failure``
runs the Spark DataFrame and the DuckDB SQL over the same parquet
tables, then compares row count, column names, and order-insensitive
values (floats exact — queries are designed to round on both sides;
see plans/registry.py rules).
"""

from __future__ import annotations

import pytest

from pantasia_db_sync_spark.plans import ORACLES, QUERIES, parity_failure

from conftest import SF_DIR


@pytest.fixture(scope="module")
def parity_results(spark):
    """All 350+ parity checks computed ONCE on a driver thread pool.

    The per-query test nodes below keep their identity (one pass/fail
    per query, same assertion text), but the work — build + collect the
    Spark frame, run the DuckDB oracle, normalize, compare — runs 8
    queries at a time: Spark's driver schedules concurrent jobs and
    each worker owns a private DuckDB connection, so the sweep is
    embarrassingly parallel. Serial it was the second-largest module
    wall (~4.5 min); pooled it fits the external test window."""
    from concurrent.futures import ThreadPoolExecutor

    def check(name: str):
        try:
            failure = parity_failure(spark, name, SF_DIR)
            return name, None if failure is None else failure.message
        except Exception as e:  # surface build/run crashes as failures
            return name, f"{name}: {type(e).__name__}: {e}"

    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(pool.map(check, sorted(ORACLES)))


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(parity_results, name):
    assert parity_results[name] is None, parity_results[name]


def test_all_queries_have_entries():
    # pinned to the real registry size so an accidental deregistration
    # (or key rename — the driver's hard signal depends on stable keys)
    # fails loudly; raise the floor when adding queries.
    assert len(QUERIES) >= 289, len(QUERIES)
    missing_oracle = set(QUERIES) - set(ORACLES)
    # every registered query carries a DuckDB oracle (agg_approx_distinct
    # became hash-checkable via its tolerance-predicate reshape)
    assert missing_oracle == set(), missing_oracle


def test_register_rejects_rebound_function():
    # the r9 decorator-stacking bug class (commit 58844c6): an @register
    # separated from its def silently binds the key to the neighboring
    # function — no name collides, so the duplicate-key check never fires.
    import pytest

    from pantasia_db_sync_spark.plans.registry import register

    victim = next(iter(QUERIES))
    fn = QUERIES[victim]
    with pytest.raises(ValueError, match="already registered"):
        register("some_new_key_q_never_used")(fn)
    assert "some_new_key_q_never_used" not in QUERIES


def test_register_rejects_name_convention_violation():
    import pytest

    from pantasia_db_sync_spark.plans.registry import register

    def wrong_name(spark, sf_dir):  # pragma: no cover - never called
        raise AssertionError

    with pytest.raises(ValueError, match="function name"):
        register("guard_probe_key")(wrong_name)
    assert "guard_probe_key" not in QUERIES


def test_register_name_convention_holds_for_all_entries():
    bad = [
        (name, fn.__name__)
        for name, fn in QUERIES.items()
        if fn.__name__ not in (name, name + "_q")
    ]
    assert bad == [], bad


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) == 13
