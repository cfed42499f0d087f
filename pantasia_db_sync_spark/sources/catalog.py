"""Table catalog over the parquet fixture tables.

The reference's source access is two psycopg2 connections with embedded
SQL (``/root/reference/app/db/postgres.py:16-60``); our equivalent is a
declarative catalog: each table is a parquet directory (columnar, an
upgrade over the row store) read through the DataFrame API so Catalyst
gets pushdown/pruning for free. Production would swap `read.parquet`
for `read.format("jdbc")` (see sources/jdbc.py) or a lakehouse table —
the query plans above this layer do not change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    int64 nanos (``spark.sql.legacy.parquet.nanosAsLong``); we restore
    TimestampType at micros precision, matching DuckDB's ns→µs read."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # Spark-written tables are directories of part files with one
        # schema; probing any part file is enough.
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    schema = pq.read_schema(path)
    cols = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            cols.append(field.name)
    return cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        # Must work on ANY caller-provided session (the driver builds its
        # own): nanosAsLong is a runtime-settable SQL conf, and UTC keeps
        # collected wall times identical to the DuckDB oracle's.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS BIGINT))"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# ---------------------------------------------------------------------------
# landing-zone formats: CSV / JSONL ingest + export
# ---------------------------------------------------------------------------

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
# TIMESTAMP_NTZ columns are governed by a SEPARATE option
# (timestampNTZFormat, default millis) — without it µs fractions are
# silently truncated on write. No offset: NTZ has no zone to print.
_TS_NTZ_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def write_table_as(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Export a table to a landing-zone format.

    CSV/JSONL are how raw data usually ARRIVES at a lakehouse; the
    engine reads them once, then operates on parquet. Timestamps are
    written as ISO-8601 with explicit offset so the round trip is
    timezone-exact; Spark's shortest-round-trippable float printing
    keeps doubles bit-exact through text."""
    w = df.write.mode(mode)
    if fmt == "csv":
        w.option("header", True).option("timestampFormat", _TS_FMT).option(
            "timestampNTZFormat", _TS_NTZ_FMT
        ).csv(path)
    elif fmt == "json":
        w.option("timestampFormat", _TS_FMT).option(
            "timestampNTZFormat", _TS_NTZ_FMT
        ).json(path)
    elif fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        # ORC ships in Spark's JVM (no extra package) and round-trips
        # the full type surface like parquet — the interchange format
        # for Hive-era lakehouses.
        w.orc(path)
    elif fmt == "text":
        # One document per line — the classic raw-corpus landing shape
        # (e.g. one-sentence-per-line dumps). Single string column only:
        # the writer refuses anything wider rather than silently
        # flattening, so the caller decides the serialization.
        if len(df.columns) != 1:
            raise ValueError(
                f"text format needs exactly one string column, got {df.columns}"
            )
        w.text(path)
    elif fmt == "xml":
        # Native in Spark 4 (the former spark-xml package moved into
        # core) — the enterprise-feed landing shape. Same explicit
        # timestamp discipline as CSV/JSONL.
        w.format("xml").option("rowTag", "row").option(
            "timestampFormat", _TS_FMT
        ).option("timestampNTZFormat", _TS_NTZ_FMT).save(path)
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def load_table_as(
    spark: SparkSession, path: str, fmt: str, schema=None
) -> DataFrame:
    """Read a landing-zone table with an EXPLICIT schema (inference is
    both slow — an extra full pass at 100 TB — and lossy: CSV infers
    long-ish strings, JSON infers int64 for everything). Pass the
    target schema; the reader enforces it at scan time."""
    if fmt == "csv":
        r = (
            spark.read.option("header", True)
            .option("timestampFormat", _TS_FMT)
            .option("timestampNTZFormat", _TS_NTZ_FMT)
            .option("mode", "FAILFAST")
        )
        return r.csv(path, schema=schema) if schema is not None else r.csv(
            path, inferSchema=True
        )
    if fmt == "json":
        r = (
            spark.read.option("timestampFormat", _TS_FMT)
            .option("timestampNTZFormat", _TS_NTZ_FMT)
            .option("mode", "FAILFAST")
        )
        return r.json(path, schema=schema) if schema is not None else r.json(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt == "text":
        # value: string — one row per line; schema param intentionally
        # ignored (the format defines it)
        return spark.read.text(path)
    if fmt == "xml":
        r = (
            spark.read.format("xml")
            .option("rowTag", "row")
            .option("timestampFormat", _TS_FMT)
            .option("timestampNTZFormat", _TS_NTZ_FMT)
            .option("mode", "FAILFAST")
        )
        if schema is not None:
            r = r.schema(schema)
        return r.load(path)
    raise ValueError(f"unsupported format {fmt!r}")
