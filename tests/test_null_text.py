"""NULL/empty-text parity guards (round-6 advisor finding).

Spark's ``size(split(NULL))`` is -1, so an unguarded quality rule flags
a NULL-text document `too_short` while SQL NULL predicates exclude it —
a parity break waiting on the first fixture with null text. The fixed
queries exclude NULL text explicitly on BOTH sides; these tests run the
Spark query and the DuckDB oracle over a doctored documents table that
actually contains a NULL-text and an empty-text row, proving the parity
holds where the stock fixtures can't exercise it.
"""

from __future__ import annotations

import os

import pytest

from pantasia_db_sync_spark.plans import QUERIES, parity_failure

from conftest import SF_DIR


@pytest.fixture(scope="module")
def null_text_dir(tmp_path_factory):
    """sf0.001 documents + one NULL-text row + one empty-text row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("nulltext")
    base = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    extra = pa.table(
        {
            "doc_id": pa.array([10_000_001, 10_000_002], pa.int64()),
            "text": pa.array([None, ""], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["synthetic", "synthetic"], pa.string()),
            "n_chars": pa.array([0, 0], pa.int64()),
        }
    ).select(base.column_names)
    pq.write_table(
        pa.concat_tables([base, extra.cast(base.schema)]),
        str(d / "documents.parquet"),
    )
    return str(d)


@pytest.mark.parametrize("name", ["quality_filter_verdict", "corpus_prepare"])
def test_null_text_parity(spark, name, null_text_dir):
    failure = parity_failure(spark, name, null_text_dir)
    assert failure is None, failure.message

    # the NULL-text doc is excluded by rule, not misclassified;
    # the EMPTY-text doc stays in scope (it's a real too-short doc)
    ids = {r["doc_id"] for r in QUERIES[name](spark, null_text_dir).collect()}
    assert 10_000_001 not in ids
    assert 10_000_002 in ids


@pytest.fixture(scope="module")
def bad_events_dir(tmp_path_factory):
    """sf0.001 events + four doctored rows: a duplicate event_id, a NULL
    user_id, a negative value, an out-of-domain type + stale ts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("badevents")
    base = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    first_id = base.column("event_id")[0].as_py()
    import datetime

    extra = pa.table(
        {
            "event_id": pa.array(
                [first_id, 90_000_001, 90_000_002, 90_000_003], pa.int64()
            ),
            "ts": pa.array(
                [datetime.datetime(2024, 6, 1)] * 3
                + [datetime.datetime(2020, 1, 1)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1, None, 2, 3], pa.int64()),
            "event_type": pa.array(["click", "click", "click", "bogus"], pa.string()),
            "value": pa.array([1.0, 1.0, -5.0, 1.0], pa.float64()),
            "props": pa.array(['{"k": 1}'] * 4, pa.string()),
        }
    ).select(base.column_names)
    pq.write_table(
        pa.concat_tables([base, extra.cast(base.schema)]),
        str(d / "events.parquet"),
    )
    return str(d)


def test_dq_expectations_detect_planted_violations(spark, bad_events_dir):
    """The expectation suite is not vacuous: every check fires on a
    doctored table (the stock fixtures are clean, so parity alone
    proves only the zero case); the DuckDB oracle agrees on the
    violation counts."""
    got = {
        r["check_name"]: r["n_violations"]
        for r in QUERIES["dq_expectations"](spark, bad_events_dir).collect()
    }
    assert got == {
        "event_id_unique": 1,
        "user_id_not_null": 1,
        "value_non_negative": 1,
        "event_type_in_domain": 1,
        "ts_in_range": 1,
    }, got
    failure = parity_failure(spark, "dq_expectations", bad_events_dir)
    assert failure is None, failure.message


@pytest.fixture(scope="module")
def boundary_ts_dir(tmp_path_factory):
    """sf0.001 events + planted timestamp edge cases for the
    second-granularity frame/gap queries: a pair 3600.85s apart (whole-
    second diff exactly 3600), a same-second pair, and a NULL user_id
    row for the salted-distinct NULL rule."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("boundaryts")
    base = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    t0 = datetime.datetime(2024, 6, 1, 10, 0, 0, 50_000)
    extra = pa.table(
        {
            "event_id": pa.array([91_000_000 + i for i in range(5)], pa.int64()),
            "ts": pa.array(
                [
                    t0,
                    t0 + datetime.timedelta(seconds=3600, microseconds=850_000),
                    t0 + datetime.timedelta(microseconds=200_000),  # same second
                    t0 + datetime.timedelta(seconds=3599, microseconds=150_000),
                    t0,
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([777, 777, 777, 778, None], pa.int64()),
            "event_type": pa.array(["click"] * 5, pa.string()),
            "value": pa.array([1.0, 2.0, 3.0, 4.0, 5.0], pa.float64()),
            "props": pa.array(['{"k": 1}'] * 5, pa.string()),
        }
    ).select(base.column_names)
    pq.write_table(
        pa.concat_tables([base, extra.cast(base.schema)]),
        str(d / "events.parquet"),
    )
    return str(d)


@pytest.mark.parametrize(
    "name", ["window_range_frame", "events_gap_histogram", "agg_salted_distinct"]
)
def test_second_granularity_parity_on_boundary_timestamps(spark, name, boundary_ts_dir):
    """Review-finding regression: frame membership and gap bucketing
    must agree between engines even when sub-second parts straddle an
    hour boundary, events share a calendar second, or a user_id is
    NULL — cases the stock fixtures never exercise."""
    failure = parity_failure(spark, name, boundary_ts_dir)
    assert failure is None, failure.message
