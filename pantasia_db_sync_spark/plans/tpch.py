"""The remaining TPC-H shapes: Q1, Q2, Q4, Q9, Q11, Q12, Q15, Q16,
Q20, Q21 — completing all 22 recognizable-workload rows (Q3/Q5/Q6/Q7/
Q8/Q10/Q13/Q14/Q17/Q18/Q19/Q22 live in plans/extras.py).

The fixture schema is a reduced TPC-H: no partsupp table, no
l_shipmode / l_commitdate / l_receiptdate / p_container columns. Each
query keeps the ORIGINAL'S PLAN SHAPE (the thing being graded — the
join topology, the subquery class, the aggregation structure) and
adapts only the predicate columns, documented per query:

- partsupp is derived as the DISTINCT (l_partkey, l_suppkey) pairs of
  lineitem, with cost/availqty stand-ins computed from lineitem — the
  same table every real deployment would derive it from;
- "late" (commitdate < receiptdate) becomes
  l_shipdate > o_orderdate + K days — same row-level non-equi
  predicate class against the same two tables.

Cross-engine float discipline (registry docstring): any sum that feeds
an EQUALITY or knife-edge comparison rides as exact integer micro
units (floor(x * 10^k + 0.5) per ROW, summed as BIGINT) on BOTH
engines, so summation order can never flip a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ckpt import freeze
from ..sources.catalog import load_table
from .registry import fround, register


def _micro(col, scale: int):
    """Exact per-row integer micro-units: floor(col*10^scale + 0.5) as
    BIGINT — identical arithmetic on both engines, associative sum."""
    return F.floor(col * (10 ** scale) + F.lit(0.5)).cast("bigint")


@register(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           floor(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 100.0 * 100 + 0.5) / 100 AS sum_base_price,
           floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                                + 0.5) AS BIGINT)) / 10000.0 * 100 + 0.5)
             / 100 AS sum_disc_price,
           floor(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * (1 + l_tax) * 1000000 + 0.5) AS BIGINT))
                 / 1000000.0 * 100 + 0.5) / 100 AS sum_charge,
           floor(sum(CAST(l_quantity AS BIGINT)) * 1.0 / count(*) * 10000
                 + 0.5) / 10000 AS avg_qty,
           floor(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 100.0 / count(*) * 10000 + 0.5) / 10000 AS avg_price,
           floor(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                 / 100.0 / count(*) * 10000 + 0.5) / 10000 AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-08-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): THE scan-heavy aggregation
    benchmark — one pass over ~all of lineitem, 8 aggregates over 6
    distinct expressions, 4 tiny groups. Everything is map-side
    combinable; the shipdate predicate pushes to the scan; no joins.
    All money sums ride as exact integer micro-units (quantity is
    integer-valued, price has 2 decimals, disc·price 4, charge 6), so
    both engines sum the same integers and the averages divide the
    same exact totals — no summation-order knife edges."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= "2001-08-01"
    )
    qty = F.col("l_quantity").cast("bigint")
    cents = _micro(F.col("l_extendedprice"), 2)
    disc_m = _micro(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    charge_m = _micro(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
        6,
    )
    disc_c = _micro(F.col("l_discount"), 2)
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("sq"),
        F.sum(cents).alias("sc"),
        F.sum(disc_m).alias("sd"),
        F.sum(charge_m).alias("sch"),
        F.sum(disc_c).alias("sdc"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sq").cast("bigint").alias("sum_qty"),
        fround(F.col("sc") / 100.0, 2).alias("sum_base_price"),
        fround(F.col("sd") / 10000.0, 2).alias("sum_disc_price"),
        fround(F.col("sch") / 1000000.0, 2).alias("sum_charge"),
        fround(F.col("sq") * 1.0 / F.col("n"), 4).alias("avg_qty"),
        fround(F.col("sc") / 100.0 / F.col("n"), 4).alias("avg_price"),
        fround(F.col("sdc") / 100.0 / F.col("n"), 4).alias("avg_disc"),
        F.col("n").cast("bigint").alias("count_order"),
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(CAST(floor(l_extendedprice * 10000 / l_quantity + 0.5)
                      AS BIGINT)) AS cost_micro
      FROM lineitem GROUP BY 1, 2
    ),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
             cost_micro
      FROM part JOIN ps ON p_partkey = ps_partkey
      JOIN eu ON ps_suppkey = s_suppkey
      WHERE p_size <= 10 AND p_type = 'LARGE'
    )
    SELECT floor(s_acctbal * 100 + 0.5) / 100 AS s_acctbal, s_name,
           n_name, p_partkey, p_name,
           floor(cost_micro / 10000.0 * 100 + 0.5) / 100 AS supply_cost
    FROM cand
    WHERE cost_micro = (SELECT min(cost_micro) FROM cand c2
                        WHERE c2.p_partkey = cand.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): the CORRELATED MIN subquery —
    for each part, the suppliers matching that part's regional minimum
    cost. Adapted: partsupp derives from lineitem's distinct
    (partkey, suppkey) pairs with cost = min observed unit price
    (exact micro-unit integers, so the min and the equality are
    order-free on both engines). Decorrelated Spark-first: the
    candidate frame (already filtered to one p_size/p_type and one
    region — tiny) is frozen once, its per-part min computed by one
    combinable groupBy, and the equality applied via broadcast join —
    no per-row re-aggregation. supplier/nation/region and the filtered
    part dim all broadcast; the only fact-scale work is the pair
    aggregation, one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.floor(
                F.col("l_extendedprice") * 10000 / F.col("l_quantity") + F.lit(0.5)
            ).cast("bigint")
        ).alias("cost_micro")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 10) & (F.col("p_type") == "LARGE")
    )
    cand = (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
            "n_name", "cost_micro",
        )
    )
    cand = freeze(cand, eager=False)  # consumed by both branches
    best = cand.groupBy(F.col("p_partkey").alias("b_partkey")).agg(
        F.min("cost_micro").alias("best_micro")
    )
    hit = cand.join(
        F.broadcast(best),
        (F.col("p_partkey") == F.col("b_partkey"))
        & (F.col("cost_micro") == F.col("best_micro")),
    )
    return hit.select(
        fround(F.col("s_acctbal"), 2).alias("s_acctbal"),
        "s_name", "n_name", "p_partkey", "p_name",
        fround(F.col("cost_micro") / 10000.0, 2).alias("supply_cost"),
    ).orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey").limit(100)


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): EXISTS with a row-level
    NON-EQUI condition against the outer row — a semi join whose
    predicate references both sides. Adapted: "late" is
    l_shipdate > o_orderdate + 90 days (the fixture has no
    commitdate/receiptdate), the same predicate class. The quarter
    filter pushes to the orders scan; the semi join shuffles both
    sides on orderkey once and keeps each order at most once no
    matter how many late lines it has."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q9_product_type_profit",
    oracle="""
    SELECT nation, o_year,
           floor(sum(amount_micro) / 10000.0 * 100 + 0.5) / 100 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(floor((l_extendedprice * (1 - l_discount)
                         - p_retailprice * 0.6 * l_quantity) * 10000
                        + 0.5) AS BIGINT) AS amount_micro
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): the 5-way join grouped by the
    SUPPLIER's nation and order year. Adapted: supply cost is
    p_retailprice·0.6 per unit (no partsupp in the fixture), and the
    part filter is the name-substring LIKE of the original. Profit
    rides as signed micro-units (floor is toward -inf on both engines,
    so negative amounts round identically). part/supplier/nation
    broadcast after the name filter; the lineitem-orders chain
    shuffles on orderkey once."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    amount = _micro(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.6 * F.col("l_quantity"),
        4,
    )
    return (
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount_micro"),
        )
        .groupBy("nation", "o_year")
        .agg(fround(F.sum("amount_micro") / 10000.0, 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                            + 0.5) AS BIGINT)) AS val_micro
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_5', 'NATION_6', 'NATION_7')
      GROUP BY 1
    )
    SELECT ps_partkey,
           floor(val_micro / 10000.0 * 100 + 0.5) / 100 AS value
    FROM ps, (SELECT sum(val_micro) AS total FROM ps)
    WHERE val_micro > 0.001 * total
    ORDER BY value DESC, ps_partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): HAVING against an
    UNCORRELATED scalar subquery — parts whose inventory value exceeds
    a fraction of the grand total. Adapted: value is the summed
    discounted revenue of the part's lineitems through suppliers of a
    3-nation group (no partsupp). Exact integer micro sums make the
    threshold comparison order-free. The scalar total rides as a
    one-row broadcast aggregate crossed onto the per-part frame (the
    in-plan scalar pattern — whitelisted, no driver collect); the
    nation-filtered supplier dim broadcasts; one fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_5", "NATION_6", "NATION_7")
    )
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey"
    )
    ps = (
        li.join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(
            F.sum(
                _micro(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            ).alias("val_micro")
        )
    )
    ps = freeze(ps, eager=False)  # consumed by both branches
    total = ps.agg(F.sum("val_micro").alias("total"))
    return (
        ps.join(F.broadcast(total))
        .where(F.col("val_micro") > 0.001 * F.col("total"))
        .select(
            "ps_partkey",
            fround(F.col("val_micro") / 10000.0, 2).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


@register(
    "tpch_q12_shipping_priority_classes",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'N')
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q12_shipping_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): join + dual
    conditional counts. Adapted: l_returnflag stands in for the
    missing l_shipmode as the two-value line class, and "received
    late" is l_shipdate > o_orderdate + 60 days. The year and class
    predicates push to the lineitem scan; the lateness predicate is a
    join residual (it references both sides); the counts are one
    combinable pass."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "N")
        & (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    j = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("ship_class")
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                            + 0.5) AS BIGINT)) AS total_micro
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           floor(total_micro / 10000.0 * 100 + 0.5) / 100 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_micro = (SELECT max(total_micro) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a VIEW aggregated twice — once for the
    global max, once to find who achieves it. Exact integer micro sums
    make the equality order-free (the original's floating revenue
    equality is exactly the cross-engine knife edge the registry
    forbids). The per-supplier frame is frozen once; the max rides as
    a one-row broadcast aggregate crossed back on (whitelisted in-plan
    scalar); supplier broadcasts onto the tiny winners frame."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            _micro(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        ).alias("total_micro")
    )
    rev = freeze(rev, eager=False)  # consumed by both branches
    best = rev.agg(F.max("total_micro").alias("best_micro"))
    winners = rev.join(F.broadcast(best)).where(
        F.col("total_micro") == F.col("best_micro")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        winners.join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            fround(F.col("total_micro") / 10000.0, 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM lineitem) ps
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): COUNT DISTINCT grouped
    by part attributes, with a NOT-IN exclusion list. Adapted:
    partsupp is lineitem's distinct pairs, and negative account
    balance stands in for the original's complaint-comment filter —
    the exclusion stays a broadcast ANTI join. The pair-distinct and
    the count-distinct are the same two-level shuffle Catalyst plans
    for distinct aggregation; the filtered part dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    j = pairs.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey")).join(
        F.broadcast(bad), F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20_part_promotion",
    oracle="""
    SELECT s_name, floor(s_acctbal * 100 + 0.5) / 100 AS s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT ps_suppkey FROM (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                           AND l_shipdate < TIMESTAMP '1998-01-01'
                          THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                   AS qty_1997,
                 sum(CAST(l_quantity AS BIGINT)) AS qty_total
          FROM lineitem GROUP BY 1, 2)
        WHERE ps_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND qty_1997 * 2 > qty_total)
    ORDER BY s_name
    """,
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): the nested IN-chain —
    suppliers having a qualifying (part, supplier) pair, pairs
    qualified by comparing one aggregate to a scaled second aggregate
    over the same pair. Adapted: availqty > ½·shipped-qty becomes
    1997-shipped > ½·lifetime-shipped (both from lineitem; exact
    BIGINT sums, one conditional + one plain, in ONE combinable
    pass). The part name filter semi-joins the pair frame broadcast;
    both IN's are semi joins; supplier/nation broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    in_97 = (F.col("l_shipdate") >= "1997-01-01") & (
        F.col("l_shipdate") < "1998-01-01"
    )
    qty = F.col("l_quantity").cast("bigint")
    pairs = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum(F.when(in_97, qty).otherwise(F.lit(0).cast("bigint"))).alias(
            "qty_1997"
        ),
        F.sum(qty).alias("qty_total"),
    )
    red = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    good = (
        pairs.join(
            F.broadcast(red), F.col("ps_partkey") == F.col("p_partkey"), "left_semi"
        )
        .where(F.col("qty_1997") * 2 > F.col("qty_total"))
        .select("ps_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(good, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", fround(F.col("s_acctbal"), 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "tpch_q21_suppliers_who_kept_waiting",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_2'
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def tpch_q21_suppliers_who_kept_waiting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): the triple
    self-reference — a late line whose order HAS another supplier but
    has NO OTHER late supplier. Adapted lateness: l_shipdate >
    o_orderdate + 90 days (no receipt/commit dates). Spark-first
    rewrite: instead of EXISTS + NOT EXISTS (two more joins against
    lineitem), ONE aggregation per order computes #distinct suppliers,
    #distinct late suppliers, the sole late supplier, and its late-line
    count; orders with ≥2 suppliers and exactly 1 late supplier blame
    that supplier for their late lines — algebraically identical to
    the textbook form the oracle replays, but one fact shuffle instead
    of three. nation-filtered supplier broadcasts at the end."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    per_order = j.groupBy("o_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("blamed"),
        F.count(F.when(late, F.lit(1))).alias("late_lines"),
    )
    blamed = per_order.where(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", "s_name"
    )
    return (
        blamed.join(F.broadcast(sn), F.col("blamed") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
