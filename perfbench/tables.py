"""Seeded generator for the analytics tables the query registry reads.

Writes the ten tables of ``sources.catalog.TABLES`` with the column
names, types, row counts and value distributions of the project's sf
test tables (TPC-H-like star schema, an ``events`` stream, ``documents``
text drawn from a 30-word vocabulary with one document in twenty a copy
of another plus a ``dup`` token, and unit-length 64-dimensional
``embeddings`` with random labels). ``sf=0.01`` gives 60,000 lineitem
rows. The same seed writes the same bytes, so the Spark run and the
DuckDB oracle read identical inputs.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "cold", "hot", "large", "small", "new", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
         "spark line sort window join small big data column query customer "
         "stream order group filter vector").split()

US_PER_DAY = 86_400_000_000


def _days(rng, lo: datetime, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype(
        "timedelta64[us]")


def generate(out_dir: str, sf: float = 0.01, seed: int = 42) -> dict[str, int]:
    """Write the ten tables as parquet under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(50, int(50_000 * sf))
    counts: dict[str, int] = {}

    def write(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    o_date = _days(rng, datetime(1995, 1, 1), 2400, n_ord)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    # lines pick their order, line number and ship date independently,
    # as in the sf test tables (so some orders have no lines)
    n_li = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[f] for f in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, datetime(1995, 1, 2), 2500, n_li),
                               pa.timestamp("us")),
    })
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events))
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us")
                       + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_events),
                            pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 100, n_docs)]
    # one document in twenty is another one plus a "dup" token, so the
    # near-duplicate queries have pairs to find
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + int(rng.integers(1, n_docs))) % n_docs] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_vecs)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return counts
