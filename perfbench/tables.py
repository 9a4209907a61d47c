"""Seeded TPC-H-like tables for the ``query_mix`` workload.

Writes the ten parquet tables the ``__spark_entry__.queries()`` operators
read (``region nation customer supplier part orders lineitem events
documents embeddings``), with the column names, physical types and value
domains those queries filter on: market segments, region names, order and
ship dates around the queries' cut-off dates, ``purchase``/``click``
events with ``{"k": n}`` JSON props, and documents drawn from the small
vocabulary the retrieval and dedup queries search for.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["small", "red", "blue", "hot", "old", "large", "green", "cold"],
              ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut",
               "spring"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()

ORDERS = 6000                   # lineitem ≈ 24k rows, a warm pass ≈ 5 s
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000       # 1995-01-01 in epoch µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000     # 2024-01-01 in epoch µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<table>.parquet``; returns
    the row count per table. ``ORDERS`` sets the scale (4 lineitems per
    order on average, one customer per 10 orders)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = ORDERS // 10, 100, 2000
    n_line, n_events, n_docs, n_vecs = ORDERS * 4, 10_000, 500, 500
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = PART_WORDS
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})

    o_days = rng.integers(0, 2405, ORDERS)          # 1995-01-01 .. 2001-08
    # the last twentieth of customers never orders, so the anti join has rows
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust * 19 // 20, ORDERS),
                              pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": _money(rng, 1000, 500_000, ORDERS),
        "o_orderdate": _ts(_EPOCH_1995 + o_days * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, ORDERS)})
    l_order = rng.integers(0, ORDERS, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (o_days[l_order]
                                         + rng.integers(1, 122, n_line))
                          * _DAY_US)})

    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = [" ".join(rng.choice(VOCAB, n)) for n in
             rng.integers(8, 96, n_docs)]
    # near-duplicates: a tenth of the documents copy an earlier one with
    # one word changed, so the dedup operators find pairs and clusters
    for i in range(n_docs // 10, n_docs, 10):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(words)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
