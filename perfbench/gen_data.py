#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schemas, value domains and row-count scaling of the
engine's reference test data, so every query and oracle runs unchanged on
them. The same (scale, seed) always gives byte-identical files.
`run.py` calls `generate` with its fixed scale and seed.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]

ORDER_FIRST = dt.date(1995, 1, 1)
ORDER_LAST = dt.date(2001, 8, 1)
SHIP_FIRST = dt.date(1995, 1, 2)
SHIP_LAST = dt.date(2001, 11, 4)
EVENTS_FROM = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30


def day_micros(rng, first, last, n):
    """n uniform dates in [first, last] as epoch micros (midnight)."""
    base = (first - dt.date(1970, 1, 1)).days
    days = rng.integers(0, (last - first).days + 1, n) + base
    return days.astype(np.int64) * 86_400_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_col(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def generate(scale, seed, out):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_orders = int(1_500_000 * scale)
    n_items = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": ts_col(day_micros(rng, ORDER_FIRST, ORDER_LAST, n_orders)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]})

    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_items).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_items),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
        "l_shipdate": ts_col(day_micros(rng, SHIP_FIRST, SHIP_LAST, n_items))})

    start = int(EVENTS_FROM.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ev_ts = np.sort(rng.integers(start, start + EVENTS_DAYS * 86_400_000_000, n_events))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts_col(ev_ts),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # 5% of documents are near-duplicates: another document's text + " dup"
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 101, n_docs)]
    dup = rng.random(n_docs) < 0.05
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})

    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))

