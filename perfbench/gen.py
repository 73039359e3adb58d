"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables graft's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the column names, types and value domains of the engine's test data,
so every registered query and its DuckDB oracle run unchanged. The same
seed gives byte-identical tables.

Usage: python3 gen.py <out_dir> --seed N [--events 20000]
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in microseconds
TS = pa.timestamp("us")
SF = 0.001
# The oracle SQL of the auto-geometry keys is written for a 500-row corpus.
DOCS = 500
VECTORS = 500


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(out, rng):
    n_cust = max(30, int(150_000 * SF))
    n_supp = max(5, int(10_000 * SF))
    n_part = max(40, int(200_000 * SF))
    n_ord = max(300, int(1_500_000 * SF))
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, TS),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lines = np.clip(rng.poisson(4, n_ord), 1, 7)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(float)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n) * DAY_US, TS)})


def events(out, rng, n):
    users = max(20, n // 67)
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n))
    write(out, "events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, TS),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": money(rng, 0.01, 490.0, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]})


def documents(out, rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:    # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(8, 92))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    write(out, "documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(out, rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(out, seed, n_events=20_000):
    os.makedirs(out, exist_ok=True)
    # one independent stream per table: changing the event count leaves
    # the other tables' contents unchanged
    rngs = [np.random.default_rng([seed, i]) for i in range(4)]
    tpch(out, rngs[0])
    events(out, rngs[1], n_events)
    documents(out, rngs[2], DOCS)
    embeddings(out, rngs[3], VECTORS)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=20_000)
    a = ap.parse_args()
    generate(a.out, a.seed, a.events)


if __name__ == "__main__":
    main()
