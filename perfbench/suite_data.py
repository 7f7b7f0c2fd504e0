"""Seeded star-schema tables for the operator-query suite.

Same table names, columns, types and value vocabularies as the harness
testdata the registry queries are written against (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), generated at a chosen size so the benchmark carries its own
inputs. ``documents`` plants near-duplicate pairs so the dedup queries
have work to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
ADJECTIVES = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DIM = 64

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out: str, seed: int, orders: int, docs: int, vectors: int) -> dict[str, int]:
    """Write the ten tables as ``<out>/<name>.parquet``; returns row counts.
    ``orders`` sets the TPC-H tables (about 4 line items per order),
    ``docs`` the text tables and ``vectors`` the embedding table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    customers, suppliers, parts = orders // 10, max(orders // 150, 10), orders // 8
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": rng.integers(0, 25, customers, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": rng.choice(SEGMENTS, customers),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": rng.integers(0, 25, suppliers, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, suppliers),
    })
    pk = np.arange(parts, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, parts),
                                               rng.choice(NOUNS, parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
        "p_type": rng.choice(PART_TYPES, parts),
        "p_size": rng.integers(1, 51, parts, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    order_day = rng.integers(0, 2404, orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, orders),
        "o_orderstatus": rng.choice(["O", "F", "P"], orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
        "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, orders),
    })
    lines_per_order = rng.integers(1, 8, orders)
    n = int(lines_per_order.sum())
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines_per_order)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines_per_order) - lines_per_order,
                                          lines_per_order) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, parts, n),
        "l_suppkey": rng.integers(0, suppliers, n),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts(EPOCH_1995 + (np.repeat(order_day, lines_per_order)
                                         + rng.integers(1, 122, n)) * DAY_US),
    })
    events = orders * 2 // 3
    tables["events"] = pa.table({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, events))),
        "user_id": rng.integers(0, max(events // 60, 10), events),
        "event_type": rng.choice(EVENT_TYPES, events),
        "value": _money(rng, 0.01, 490.0, events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    })
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, vectors, dtype=np.int32)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (vectors, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })

    for name, table in tables.items():
        pq.write_table(table, f"{out}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
