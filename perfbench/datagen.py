"""Seeded generator for the benchmark's input tables.

The tables have the same names, columns and physical types as the repo's
test fixtures (TPC-H-like star schema plus `events`, `documents` and
`embeddings`), so every `SparkEntry` query and its DuckDB oracle run on them
unchanged. Values are drawn from `numpy.random.default_rng` keyed by
(seed, table), so one seed always gives byte-identical tables.

`scale` = 1.0 gives the sizes of the fixtures' sf0.01 directory
(15,000 orders, 60,000 lineitems).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
EMB_LABELS = 10


def rng_for(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table)])


def rows(table: str, scale: float) -> int:
    return max(10, int(round(BASE_ROWS[table] * scale)))


def money(rng, lo, hi, n):
    """Uniform doubles with two decimals (cents drawn as integers)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def day_timestamps(rng, start: dt.date, end: dt.date, n):
    days = rng.integers(0, (end - start).days + 1, n)
    base = np.datetime64(start, "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def region(seed, scale):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})


def nation(seed, scale):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(seed, scale, n=None):
    n = n or rows("customer", scale)
    r = rng_for(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)]})


def supplier(seed, scale):
    n = rows("supplier", scale)
    r = rng_for(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n)})


def part(seed, scale):
    n = rows("part", scale)
    r = rng_for(seed, "part")
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})


def orders(seed, scale, n=None):
    n = n or rows("orders", scale)
    r = rng_for(seed, "orders")
    ncust = rows("customer", scale)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, ncust, n), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in r.integers(0, 3, n)],
        "o_totalprice": money(r, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(day_timestamps(
            r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
            pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)]})


def lineitem(seed, scale):
    n = rows("lineitem", scale)
    r = rng_for(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, rows("orders", scale), n),
                               pa.int64()),
        "l_partkey": pa.array(r.integers(0, rows("part", scale), n),
                              pa.int64()),
        "l_suppkey": pa.array(r.integers(0, rows("supplier", scale), n),
                              pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(float),
        "l_extendedprice": money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in r.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in r.integers(0, 2, n)],
        "l_shipdate": pa.array(day_timestamps(
            r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
            pa.timestamp("us"))})


def events(seed, scale):
    n = rows("events", scale)
    r = rng_for(seed, "events")
    span_us = 30 * 86400 * 10 ** 6
    ts = np.sort(r.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(10, n // 66), n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(np.minimum(r.exponential(50.0, n), 490.0)
                          + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)]})


def documents(seed, scale):
    n = rows("documents", scale)
    r = rng_for(seed, "documents")
    texts = []
    for i in range(n):
        if i > 20 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            k = int(r.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, 30, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(seed, scale):
    n = rows("embeddings", scale)
    r = rng_for(seed, "embeddings")
    cents = r.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, n)
    x = 0.15 * cents[labels] + r.normal(0.0, 1.0 / 8.0, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


GENERATORS = {t: globals()[t] for t in TABLES}


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        pq.write_table(GENERATORS[t](seed, scale),
                       os.path.join(out_dir, f"{t}.parquet"))
