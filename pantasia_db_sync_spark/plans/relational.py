"""Relational operator library — one registered query per SURVEY.md §2 row.

Each query is the Spark-first re-expression of an operator the reference
executes either as embedded Postgres SQL or as driver-side Python
(citations into /root/reference in each docstring), transposed onto the
driver's TPC-H-ish fixture tables. Each carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import asof_join, band_join, latest_state, new_dimension_rows, with_dense_ids
from ..sources.catalog import load_table
from .registry import fround, local_result, register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A/B: scans, filters, projections, scalar expressions
# ---------------------------------------------------------------------------


@register(
    "scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B2 — projection with computed column over a pushed-down range scan
    (reference: per-leg 9-column projections, app/db/postgres.py:334-342)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")).select(
        "l_orderkey",
        "l_linenumber",
        fround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
    )


@register(
    "filter_time_range",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def filter_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — the half-open period predicate `b.time > lo AND b.time <= hi`
    (app/db/postgres.py:348-349,365-366), pushed to the parquet scan."""
    o = _t(spark, sf_dir, "orders")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    return o.where((F.col("o_orderdate") > lo) & (F.col("o_orderdate") <= hi)).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


@register(
    "filter_quantity",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem WHERE l_quantity < 5
    """,
)
def filter_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 — the burn filter `mtm.quantity < 0` (app/db/postgres.py:347)
    transposed to a quantity threshold."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity") < 5).select("l_orderkey", "l_partkey", "l_quantity")


@register(
    "func_hex_lower",
    oracle="SELECT c_custkey, lower(hex(c_name)) AS name_hex FROM customer",
)
def func_hex_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 — Postgres `encode(col,'hex')` parity (app/db/postgres.py:335,371):
    Postgres hex is lowercase, Spark/DuckDB hex() uppercase → lower()."""
    c = _t(spark, sf_dir, "customer")
    return c.select("c_custkey", F.lower(F.hex(F.col("c_name"))).alias("name_hex"))


@register(
    "func_hex_roundtrip",
    oracle="SELECT c_custkey, decode(unhex(lower(hex(c_name)))) AS name_rt FROM customer",
)
def func_hex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 — hex→string decode (`hex_to_string`, app/misc.py:15-23) using
    JVM built-ins instead of a per-row Python UDF."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.decode(F.unhex(F.lower(F.hex(F.col("c_name")))), "UTF-8").alias("name_rt"),
    )


@register(
    "func_concat_key",
    oracle="SELECT p_partkey, concat_ws('.', p_brand, p_type) AS asset_hash FROM part",
)
def func_concat_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 — the `policy_id || '.' || asset_name` composite natural key
    (app/main.py:216-217)."""
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", F.concat_ws(".", "p_brand", "p_type").alias("asset_hash"))


@register(
    "func_case_classify",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'ENTERPRISE' ELSE 'STAKE' END AS address_type,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE CAST(c_nationkey AS INTEGER) END AS wallet_ref
    FROM customer
    """,
)
def func_case_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11/B12 — address-type classification and NULL routing for burns
    (app/main.py:117-165) as `when/otherwise` expressions."""
    c = _t(spark, sf_dir, "customer")
    is_ent = F.col("c_acctbal") < 0
    return c.select(
        "c_custkey",
        F.when(is_ent, "ENTERPRISE").otherwise("STAKE").alias("address_type"),
        F.when(is_ent, F.lit(None)).otherwise(F.col("c_nationkey")).cast("int").alias("wallet_ref"),
    )


@register(
    "func_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def func_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 — JSON path navigation (`tm.json -> ... ->> 'image'`,
    app/db/postgres.py:384-386) with a literal path."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k"),
    )


@register(
    "func_json_map_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL AS has_k
    FROM events
    """,
)
def func_json_map_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 (dynamic keys) — `from_json` into MapType + getItem, the route
    required when the JSON path key is itself data (SURVEY.md §4 item 4)."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return e.select(
        "event_id",
        m.getItem("k").try_cast("int").alias("k"),
        m.getItem("k").isNotNull().alias("has_k"),
    )


# ---------------------------------------------------------------------------
# C: joins
# ---------------------------------------------------------------------------


@register(
    "join_inner_facts",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate,
           floor((l.l_extendedprice * (1 - l.l_discount)) * 100 + 0.5) / 100 AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def join_inner_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2 — fact⋈fact inner equi-join (`ma_tx_mint ⋈ tx ⋈ block`,
    app/db/postgres.py:344-345); sort-merge/shuffled-hash under AQE."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "o_orderdate",
        fround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
    )


@register(
    "join_broadcast_dims",
    oracle="""
    SELECT n.n_name AS nation, floor((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100 + 0.5) / 100 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/C6/C10 — fact stream joined to a chain of broadcast dimension
    tables (the Spark form of IdIndex probes + `⋈ multi_asset`,
    app/db/id_index.py:27-73, app/db/postgres.py:346). TPC-H Q5 shape."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey,
           CAST(COALESCE(e.evt_cnt, 0) AS BIGINT) AS evt_cnt,
           e.last_evt_ts
    FROM customer c
    LEFT JOIN (
      SELECT user_id, CAST(count(*) AS BIGINT) AS evt_cnt, max(ts) AS last_evt_ts
      FROM events GROUP BY user_id
    ) e ON c.c_custkey = e.user_id
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 — left outer join with NULL-producing unmatched side
    (`tx_out ⟕ stake_address`, app/db/postgres.py:364)."""
    c = _t(spark, sf_dir, "customer")
    e = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("evt_cnt"), F.max("ts").alias("last_evt_ts"))
    )
    return c.join(e, c.c_custkey == e.user_id, "left").select(
        "c_custkey",
        F.coalesce(F.col("evt_cnt"), F.lit(0)).cast("bigint").alias("evt_cnt"),
        "last_evt_ts",
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — left-semi join (membership probe, the read half of
    the IdIndex `get()` path, app/db/id_index.py:54-73)."""
    c = _t(spark, sf_dir, "customer")
    e = _t(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — the "new natural keys" half of dimension dedup: left-anti join
    replacing the dict-membership test (app/main.py:124-138)."""
    c = _t(spark, sf_dir, "customer")
    e = _t(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey"))
    return new_dimension_rows(c, e, "c_custkey").select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — cross join of two tiny relations."""
    r = _t(spark, sf_dir, "region").select("r_name")
    s = _t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


@register(
    "join_range_band",
    oracle="""
    SELECT s.s_suppkey, c.c_custkey, s.s_acctbal, c.c_acctbal
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey
     AND abs(s.s_acctbal - c.c_acctbal) <= 10.0
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — banded range join, bucketed into an equi-join so the
    planner never falls back to a nested-loop (operators/rangejoin.py)."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal", F.col("s_nationkey").alias("nk"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", F.col("c_nationkey").alias("nk"))
    out = band_join(s, c, "s_acctbal", "c_acctbal", 10.0, extra_keys=["nk"])
    return out.select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
           ) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — as-of join via the scalable union+window technique
    (operators/asof.py): for each purchase, the latest click at-or-before."""
    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", value_cols=[])
    return out.select("event_id", "user_id", "ts", F.col("asof_ts").alias("last_click_ts"))


@register(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT min(c.ts) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts >= p.ts
           ) AS next_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — forward as-of (pandas merge_asof
    direction='forward'): for each purchase, the earliest click
    at-or-after. Same one-shuffle union+window pass, descending time."""
    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=[], direction="forward",
    )
    return out.select("event_id", "user_id", "ts", F.col("asof_ts").alias("next_click_ts"))


@register(
    "join_asof_nearest",
    oracle="""
    SELECT event_id, user_id, ts,
           CASE WHEN b IS NULL THEN f
                WHEN f IS NULL THEN b
                WHEN ts - b <= f - ts THEN b
                ELSE f END AS nearest_click_ts
    FROM (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT max(c.ts) FROM events c
               WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts) AS b,
             (SELECT min(c.ts) FROM events c
               WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts >= p.ts) AS f
      FROM events p WHERE p.event_type = 'purchase'
    )
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — nearest as-of (ties to the backward match): two
    window phases over ONE shuffle (re-sort within partitions, no
    second exchange)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=[], direction="nearest",
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_ts").alias("nearest_click_ts")
    )


@register(
    "join_lateral_meta",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(COALESCE(m.signup_cnt, 0) AS BIGINT) AS signup_cnt,
           m.user_id IS NOT NULL AS has_meta
    FROM orders o
    LEFT JOIN (
      SELECT user_id, CAST(count(*) AS BIGINT) AS signup_cnt
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ) m ON o.o_custkey = m.user_id
    """,
)
def join_lateral_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 — the decorrelated form of the reference's LEFT LATERAL metadata
    subquery with its `tm.key = 721` filter and `is_mint_tx` flag
    (app/db/postgres.py:381-391): pre-aggregate the correlated side, left
    join, coalesce the match flag."""
    o = _t(spark, sf_dir, "orders")
    m = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("signup_cnt"))
    )
    return o.join(F.broadcast(m), o.o_custkey == m.user_id, "left").select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.col("signup_cnt"), F.lit(0)).cast("bigint").alias("signup_cnt"),
        F.col("user_id").isNotNull().alias("has_meta"),
    )


# ---------------------------------------------------------------------------
# D: aggregation, distinct, ranking, windows
# ---------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
           floor((SUM(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
           floor((SUM(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
           floor((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100 + 0.5) / 100 AS sum_charge,
           floor((AVG(l_quantity)) * 100 + 0.5) / 100 AS avg_qty,
           floor((AVG(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price,
           floor((AVG(l_discount)) * 10000 + 0.5) / 10000 AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 + §2.D extension — hash aggregation with partial (map-side)
    combine; TPC-H Q1 shape. The reference has no GROUP BY at all (its one
    count is driver-side `len(records)`, app/main.py:94-105)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        fround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        fround(F.sum(disc_price), 2).alias("sum_disc_price"),
        fround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        fround(F.avg("l_quantity"), 2).alias("avg_qty"),
        fround(F.avg("l_extendedprice"), 2).alias("avg_price"),
        fround(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS nations,
           CAST(count(*) AS BIGINT) AS customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — exact distinct aggregation (expand+two-phase in
    Spark; no driver-side sets, unlike the reference's dict dedup)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("nations"),
        F.count(F.lit(1)).alias("customers"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT true AS within_tol,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
    FROM lineitem
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — HyperLogLog++ distinct sketch: the 100 TB substitute
    for exact distinct when a ±2% answer is enough. Sketch values are
    engine-specific (DuckDB's approx_count_distinct uses a different
    sketch), so the hash-checkable contract is the accuracy GUARANTEE:
    the sketch estimate must land within 3·rsd of the exact count, plus
    the exact count itself."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    ).select(
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 3 * 0.02 * F.col("exact_parts")
        ).alias("within_tol"),
        F.col("exact_parts").cast("long").alias("exact_parts"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           floor((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — hierarchical ROLLUP with grouping ids."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
           CAST(count(*) AS BIGINT) AS cnt,
           floor((SUM(o_totalprice)) * 100 + 0.5) / 100 AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — CUBE over two categorical dimensions."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        fround(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT o_orderstatus,
           floor((MIN(o_totalprice)) * 100 + 0.5) / 100 AS min_price,
           floor((MAX(o_totalprice)) * 100 + 0.5) / 100 AS max_price,
           floor((AVG(o_totalprice)) * 100 + 0.5) / 100 AS avg_price,
           floor((stddev_samp(o_totalprice)) * 100 + 0.5) / 100 AS sd_price,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — statistical aggregates (min/max/avg/stddev)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        fround(F.min("o_totalprice"), 2).alias("min_price"),
        fround(F.max("o_totalprice"), 2).alias("max_price"),
        fround(F.avg("o_totalprice"), 2).alias("avg_price"),
        fround(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "window_latest_state",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey, o_orderdate AS latest_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def window_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — argmax per key: the reference's current-owner / latest-tx
    tracking (app/main.py:226-248,290-315) as a window rank instead of an
    ordered replay (operators/argmax.py)."""
    o = _t(spark, sf_dir, "orders")
    out = latest_state(
        o,
        keys="o_custkey",
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
        keep=["o_orderkey", "o_orderdate"],
    )
    return out.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderdate").alias("latest_orderdate"),
    )


@register(
    "window_dense_ids",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) + 999 AS BIGINT) AS id
    FROM orders
    """,
)
def window_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 — dense gap-free surrogate ids seeded from a stored max
    (app/main.py:33-38): per-partition-offset technique, NOT a
    single-partition global window (operators/surrogate.py)."""
    o = _t(spark, sf_dir, "orders")
    # "sample" strategy: the input is a cheap recomputable parquet scan,
    # so value-derived buckets beat freezing the whole frame in the
    # block manager (see operators/surrogate.py strategy docs). The
    # bucket boundaries AND per-bucket row counts come from parquet
    # FOOTER statistics (a driver-side metadata read, no Spark job) —
    # the table-stats fast path a real deployment gets from its
    # catalog. When no row group straddles a bucket boundary the counts
    # pass disappears entirely (offsets are a driver-side literal) and
    # the operator is a single data pass.
    out = with_dense_ids(
        o,
        ["o_orderdate", "o_orderkey"],
        id_col="id",
        start=1000,
        strategy="sample",
        # first_col_range intentionally omitted: with_dense_ids derives
        # it from the same row-group stats, so passing both walked every
        # footer twice for identical bounds
        rowgroup_stats=_parquet_rowgroup_stats(sf_dir, "orders", "o_orderdate"),
    )
    return out.select("o_orderkey", "id")


def _parquet_paths(sf_dir: str, table: str) -> list[str]:
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return [path]


def _parquet_rowgroup_stats(sf_dir: str, table: str, col: str):
    """[(num_rows, min, max, null_count)] per row group for ``col``, or
    None when any footer lacks them — feeds the with_dense_ids
    footer-counts fusion (operators/surrogate.py)."""
    try:
        import pyarrow.parquet as pq

        out = []
        for p in _parquet_paths(sf_dir, table):
            md = pq.ParquetFile(p).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                st = g.column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                out.append((g.num_rows, st.min, st.max, st.null_count))
        return out or None
    except Exception:
        return None


@register(
    "window_running_sum",
    oracle="""
    SELECT o_orderkey, o_custkey,
           floor((SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS cum_spend
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — running total with an explicit ROWS frame."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey", "o_custkey", fround(F.sum("o_totalprice").over(w), 2).alias("cum_spend")
    )


@register(
    "window_lag_delta",
    oracle="""
    SELECT o_orderkey, o_custkey,
           floor((o_totalprice - lag(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) * 100 + 0.5) / 100 AS delta_prev
    FROM orders
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — lag/lead analytics."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        fround(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
    )


@register(
    "window_topn_per_group",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.D extension — top-N per group with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 3)
        .select("o_orderstatus", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "tip_offset_limit",
    oracle="""
    SELECT ts AS tip_ts, event_id
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 1 OFFSET 3
    """,
)
def tip_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/G1 — the source-tip probe with its 3-row safety buffer
    (`ORDER BY b.time DESC LIMIT 1 OFFSET 3`, app/db/postgres.py:264-272)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .select(F.col("ts").alias("tip_ts"), "event_id")
        .offset(3)
        .limit(1)
    )


# ---------------------------------------------------------------------------
# E/F: set operations, sort/limit
# ---------------------------------------------------------------------------


@register(
    "set_union_legs",
    oracle="""
    SELECT l_orderkey AS ref_id, l_shipdate AS ts, l_quantity AS amount, 'OUT' AS leg
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
    UNION ALL
    SELECT event_id AS ref_id, ts, value AS amount, 'MINT' AS leg
    FROM events WHERE event_type = 'purchase'
    """,
)
def set_union_legs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — UNION ALL of two heterogeneous legs aligned to one projection
    (mint leg ∪ output leg, app/db/postgres.py:350). Filters stay inside
    each leg so Catalyst pushes them below the union."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp")
    )
    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    leg_out = li.select(
        F.col("l_orderkey").alias("ref_id"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_quantity").alias("amount"),
        F.lit("OUT").alias("leg"),
    )
    leg_mint = e.select(
        F.col("event_id").alias("ref_id"),
        F.col("ts"),
        F.col("value").alias("amount"),
        F.lit("MINT").alias("leg"),
    )
    return leg_out.unionByName(leg_mint)


@register(
    "set_intersect",
    oracle="""
    SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
    INTERSECT
    SELECT DISTINCT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.E extension — INTERSECT (distinct)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("int").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
    SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
    EXCEPT
    SELECT DISTINCT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.E extension — EXCEPT (distinct)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("int").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nationkey"))
    return c.distinct().subtract(s.distinct())


@register(
    "sort_order_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
)
def sort_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 — global top-k: Spark plans TakeOrderedAndProject (per-partition
    heaps + driver merge), never a full global sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(20)
    )


@register(
    "join_bloom_pruned",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = o.o_custkey
        AND c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 5000
    )
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — semi join with an explicit bloom runtime filter:
    the selective dim predicate (segment + balance) is turned into a
    4 KiB broadcast bitmask tested map-side on the fact scan, so the
    join's exchange only carries fact rows that can possibly match
    (operators/bloom.py has the full 100 TB rationale). The trailing
    exact semi join removes bloom false positives, so the result is
    identical to the plain semi join — which is exactly what the
    oracle runs. Reference analogue: the pre-write id-index membership
    probe (/root/reference/app/db/id_index.py, get())."""
    from ..operators.bloom import bloom_semi_join

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    )
    return bloom_semi_join(o, c, "o_custkey", "c_custkey").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           floor((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100 + 0.5) / 100
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — fact ⋈ fact with ZERO join-time shuffle via
    bucketed storage layout: both tables are written `bucketBy` the
    join key with equal bucket counts, so the join's required hash
    distribution is satisfied by the files themselves and each task
    joins bucket i of both sides locally (operators/bucketed.py; the
    plan property is pinned by tests/test_properties.py). At 100 TB
    this converts every repeated orderkey join from two full exchanges
    into a one-time write-side cost. Result is the plain join+agg the
    oracle runs."""
    import shutil
    import tempfile
    import uuid

    from ..operators.bucketed import colocated_join, write_bucketed

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="bucketed_")
    # per-invocation unique catalog names: the session catalog is shared,
    # so fixed names would collide across concurrent invocations and
    # could clobber a user's own table of the same name
    tok = uuid.uuid4().hex[:12]
    lt, rt = f"li_bkt_{tok}", f"o_bkt_{tok}"
    try:
        write_bucketed(li, lt, f"{d}/li", "l_orderkey", 8)
        write_bucketed(o, rt, f"{d}/o", "o_orderkey", 8)
        joined = colocated_join(spark, lt, rt, "l_orderkey", "o_orderkey")
        disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        out = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            fround(F.sum(disc_price), 2).alias("revenue"),
        )
        # materialize before the external tables' files disappear
        rows = out.collect()
        return local_result(spark, rows, out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")
        shutil.rmtree(d, ignore_errors=True)


_IV_EPOCH = "1992-01-01"
_IV_BIN_DAYS = 16  # bin width ≥ max interval length (15d) → ≤2 bins/interval
# ground-truth theta join, shared by BOTH interval-overlap queries: the
# binned pair join and the sweep-line counter are two independent
# algorithms re-proved against the same oracle
_IV_ORACLE = f"""
    WITH iv AS (
      SELECT l_suppkey AS k,
             l_orderkey * 100 + l_linenumber AS uid,
             datediff('day', DATE '{_IV_EPOCH}', CAST(l_shipdate AS DATE)) AS s,
             datediff('day', DATE '{_IV_EPOCH}', CAST(l_shipdate AS DATE))
               + 1 + CAST(l_quantity AS INTEGER) % 14 AS e
      FROM lineitem
    )
    SELECT a.k AS suppkey, CAST(count(*) AS BIGINT) AS n_overlaps
    FROM iv a JOIN iv b
      ON a.k = b.k AND a.uid < b.uid AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1
    """


def _iv_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    day = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit(_IV_EPOCH).cast("date")
    )
    dur = 1 + F.col("l_quantity").cast("int") % 14
    return li.select(
        F.col("l_suppkey").alias("k"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("uid"),
        day.alias("s"),
        (day + dur).alias("e"),
    )


@register("join_interval_overlap", oracle=_IV_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP JOIN — per supplier, how many pairs of its
    shipment transit windows [ship_day, ship_day + 1 + qty%14] overlap
    in time (a shipping-concurrency audit). The naive formulation is a
    per-key theta join (inequality on BOTH bounds — no equi key), which
    Spark can only run as BroadcastNestedLoop/cartesian-per-key: O(m²)
    comparisons per supplier.

    Scale shape — GRID BINNING, the standard distributed interval-join
    rewrite: each interval lands in ⌈len/W⌉ ≤ 2 bins of width W ≥ max
    interval length, candidates come from an EQUI-join on
    (key, bin) — overlapping intervals MUST share a bin when W bounds
    the length, so the rewrite is exact, re-proved by hash parity
    against the theta-join oracle. Distinct-pair dedup happens before
    the verify; the verify itself is two integer comparisons in
    day-space (engine-portable; no date arithmetic in the predicate).
    At 100 TB: one shuffle on (key, bin) instead of per-key cartesian;
    W is the knob balancing bin fan-out (2× here) against candidate
    density per bin. Hot-key caveat: pair cost (and the pair SET
    itself) is quadratic in co-temporal intervals per key — when only
    the COUNT is needed, `interval_overlap_count_sweep` is the
    skew-immune shape (measured in round 8: README §Measured scale
    growth, interval-overlap hot-key skew)."""
    iv = _iv_intervals(spark, sf_dir)
    binned = iv.select(
        "k", "uid", "s", "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _IV_BIN_DAYS),
                F.floor(F.col("e") / _IV_BIN_DAYS),
            )
        ).alias("bin"),
    )
    a = binned.select(
        F.col("k"), F.col("bin"),
        F.col("uid").alias("uid_a"), F.col("s").alias("sa"), F.col("e").alias("ea"),
    )
    b = binned.select(
        F.col("k"), F.col("bin"),
        F.col("uid").alias("uid_b"), F.col("s").alias("sb"), F.col("e").alias("eb"),
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), ["k", "bin"])
        .where(F.col("uid_a") < F.col("uid_b"))
        # a pair sharing TWO bins must be counted once: keep it only in
        # the later start's bin — a cheap row-local filter instead of a
        # full `.distinct()` shuffle of the candidate set (round-8 fix;
        # overlapping pairs always co-occupy that bin, so no pair is
        # lost — the theta-join oracle re-proves it)
        .where(
            F.floor(F.greatest("sa", "sb") / _IV_BIN_DAYS) == F.col("bin")
        )
        .where((F.col("sa") <= F.col("eb")) & (F.col("sb") <= F.col("ea")))
    )
    return pairs.groupBy(F.col("k").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlaps")
    )


@register("interval_overlap_count_sweep", oracle=_IV_ORACLE)
def interval_overlap_count_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP COUNT, sweep-line shape (operators/rangejoin.py
    interval_overlap_counts): +1/-1 events, per-key running sum, count
    earlier-active intervals at each start. Same theta-join oracle as
    `join_interval_overlap` — two independent algorithms, one ground
    truth. O(m log m) per key with NO pair materialization, so a hot
    key owning 20% of the corpus costs one larger sort, not a
    quadratic candidate explosion (measured in round 8: README
    §Measured scale growth, interval-overlap hot-key skew)."""
    from ..operators.rangejoin import interval_overlap_counts

    return interval_overlap_counts(_iv_intervals(spark, sf_dir)).select(
        F.col("k").alias("suppkey"), "n_overlaps"
    )


@register(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id
               AND c.ts <= p.ts
               AND c.ts >= p.ts - INTERVAL 6 HOUR
           ) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.C extension — as-of join with a TOLERANCE (pandas
    merge_asof(tolerance=...)): the latest click at-or-before each
    purchase, but only within 6 hours — matches farther back are
    nulled. This is the knob that stops stale state leaking across
    quiet periods (yesterday's click does not explain today's
    purchase). Costs one row-local comparison after the same
    one-shuffle union+window carry (operators/asof.py)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=[], tolerance=F.expr("INTERVAL 6 HOURS"),
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("asof_ts").alias("last_click_ts")
    )
