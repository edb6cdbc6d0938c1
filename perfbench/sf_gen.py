"""Deterministic star-schema test tables for the query-mix benchmark.

Writes the ten single-file parquet tables the registered queries read
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the column names, types and value shapes
of the engine's reference test data, scaled by ``scale`` (1.0 gives
60 000 lineitem rows). Values come from ``numpy.random.default_rng``
seeded by the workload seed, so the same seed gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("red", "blue", "small", "large", "hot", "old", "green", "cold")
_PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _ts(days: np.ndarray, base: str) -> pa.Array:
    us = (np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def write_tables(out: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out``; return the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(int(100 * scale), 10), int(2000 * scale)
    n_orders, n_events = int(15000 * scale), int(10000 * scale)
    n_docs, n_emb, n_users = int(500 * scale), int(500 * scale), max(int(150 * scale), 10)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_orders)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(order_days, "1995-01-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
    n_lines = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    l_part = rng.integers(0, n_part, n_lines)
    _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (l_part % 1000) * 0.1) * rng.uniform(0.95, 1.05, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_lines),
        "l_linestatus": rng.choice(("F", "O"), n_lines),
        "l_shipdate": _ts(order_days[l_order] + rng.integers(1, 122, n_lines), "1995-01-01"),
    })
    ev_seconds = np.sort(rng.uniform(0, 30 * 86400, n_events))
    ev_us = np.datetime64("2024-01-01", "us") + (ev_seconds * 1e6).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:  # planted near-duplicate of an earlier document
            words = texts[i - 10].split()
            words[rng.integers(0, len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.integers(8, 90))))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_orders, "lineitem": n_lines, "events": n_events,
        "documents": n_docs, "embeddings": n_emb,
    }
