"""Seeded input tables for the `queries` workload.

The queries read four tables of a TPC-H-like star schema (nation,
customer, orders, part) and a documents, an events and an embeddings
table. This writes the seven with the
column names, types and value shapes of the repository's test data, at
roughly its sf0.01 row counts, generated from the seed alone.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "orders": 15000, "part": 2000, "documents": 500,
        "events": 10000, "embeddings": 500}

WORDS = ["key", "agg", "scan", "slow", "table", "part", "a", "merge",
         "window", "order", "column", "join", "vector", "fast", "spark",
         "line", "small", "customer", "group", "value", "hash", "batch",
         "sort", "data", "big", "filter", "row", "the", "query", "stream"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate"]
PART_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _micros(start, span_s, rng, n):
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base + rng.integers(0, int(span_s * 1e6), n),
                    pa.timestamp("us"))


def build(seed):
    rng = np.random.default_rng(seed)
    t = {}
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist()})
    n = ROWS["orders"]
    days = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, n)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, 900.0, 500000.0, n),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01") + days).astype("datetime64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist()})
    n = ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n)]})
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = ROWS["events"]
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _micros(dt.datetime(2024, 1, 1), 30 * 86400, rng, n),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.maximum(np.round(rng.gamma(2.0, 40.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(seed, out_dir):
    out_dir.mkdir(parents=True, exist_ok=True)
    tables = build(seed)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return sorted(tables)
