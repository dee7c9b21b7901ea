"""Seeded generator for the engine's input tables.

Writes the ten parquet tables the query packs read (TPC-H-ish star schema
plus `events`, `documents` and `embeddings`) with the column names, types
and value domains of the engine's test data: uniform independent columns,
referentially valid keys, µs timestamps with isAdjustedToUTC=false, and ~5 %
near-duplicate documents. Row counts scale with `sf` like the reference
data (orders = 1.5M·sf, lineitem = 6M·sf, ...). Used by run.py.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL = ["region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["key", "agg", "scan", "slow", "table", "part", "a", "merge",
         "window", "order", "column", "join", "vector", "fast", "spark",
         "line", "small", "customer", "group", "value", "hash", "batch",
         "sort", "data", "big", "filter", "row", "the", "query", "stream"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def counts(sf):
    n = lambda base, lo: max(lo, int(round(base * sf)))
    return {
        "customer": n(150_000, 15), "supplier": n(10_000, 10),
        "part": n(200_000, 20), "orders": n(1_500_000, 150),
        "lineitem": n(6_000_000, 600), "events": n(1_000_000, 1000),
        "users": n(15_000, 15), "documents": max(500, n(50_000, 500)),
        "embeddings": max(500, n(20_000, 500)),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def gen(name, n, rng):
    if name == "region":
        return {"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS}
    if name == "nation":
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    if name == "customer":
        k = n["customer"]
        return {"c_custkey": pa.array(np.arange(k), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                "c_acctbal": money(rng, -999.99, 9999.99, k),
                "c_mktsegment": rng.choice(SEGMENTS, k).tolist()}
    if name == "supplier":
        k = n["supplier"]
        return {"s_suppkey": pa.array(np.arange(k), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                "s_acctbal": money(rng, -999.99, 9999.99, k)}
    if name == "part":
        k = n["part"]
        names = [f"{a} {b}" for a, b in zip(rng.choice(ADJ, k), rng.choice(NOUN, k))]
        return {"p_partkey": pa.array(np.arange(k), pa.int64()),
                "p_name": names,
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
                "p_type": rng.choice(PTYPES, k).tolist(),
                "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10.0, 2)}
    if name == "orders":
        k = n["orders"]
        return {"o_orderkey": pa.array(np.arange(k), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], k).tolist(),
                "o_totalprice": money(rng, 1000, 500_000, k),
                "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2404, k) * US_PER_DAY),
                "o_orderpriority": rng.choice(PRIORITIES, k).tolist()}
    if name == "lineitem":
        k = n["lineitem"]
        return {"l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
                "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                "l_extendedprice": money(rng, 900, 105_000, k),
                "l_discount": rng.integers(0, 11, k) / 100.0,
                "l_tax": rng.integers(0, 9, k) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], k).tolist(),
                "l_linestatus": rng.choice(["F", "O"], k).tolist(),
                "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2499, k) * US_PER_DAY)}
    if name == "events":
        k = n["events"]
        return {"event_id": pa.array(np.arange(k), pa.int64()),
                "ts": ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, k))),
                "user_id": pa.array(rng.integers(0, n["users"], k), pa.int64()),
                "event_type": rng.choice(EVENT_TYPES, k).tolist(),
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
                "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)]}
    if name == "documents":
        k = n["documents"]
        texts = []
        for i in range(k):
            if i > 10 and rng.random() < 0.05:
                src = texts[int(rng.integers(0, i))]
                texts.append(src + " dup" * int(rng.integers(1, 3)))
            else:
                texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
        return {"doc_id": pa.array(np.arange(k), pa.int64()),
                "text": texts,
                "lang": rng.choice(LANGS, k, p=LANG_P).tolist(),
                "source": [f"src{i}" for i in rng.integers(0, 20, k)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    if name == "embeddings":
        k = n["embeddings"]
        v = rng.standard_normal((k, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return {"vec_id": pa.array(np.arange(k), pa.int64()),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, k), pa.int32())}
    raise ValueError(name)


def write(out_dir, sf, seed, tables=ALL):
    os.makedirs(out_dir, exist_ok=True)
    n = counts(sf)
    for i, name in enumerate(ALL):
        # one stream per table, so a table's content does not depend on
        # which other tables were asked for
        rng = np.random.default_rng([seed, i])
        if name in tables:
            pq.write_table(pa.table(gen(name, n, rng)),
                           os.path.join(out_dir, f"{name}.parquet"))
    return {t: {"region": 5, "nation": 25}.get(t, n.get(t)) for t in tables}
