#!/usr/bin/env python3
"""Seeded generator for the catalog workloads' ten parquet tables.

Usage: python3 gen_tables.py OUT_DIR SEED SCALE

The tables follow the fixture contract in FIXTURES.md section B (same
column names, physical types and value domains as the harness tables), so
every catalog query and its DuckDB oracle SQL run on them unchanged. SCALE
is relative to the harness's sf0.01 (SCALE=1 gives 60,000 lineitem rows).
The same SEED and SCALE give byte-identical files.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the row key query part order hash agg customer line small window "
         "fast join sort value scan slow table group batch data big filter "
         "merge spark column vector stream").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
NOUN = ["widget", "gear", "bolt", "rod", "ring", "plate", "gizmo", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", use_dictionary=True)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def main(out, seed, scale):
    rng = np.random.RandomState(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(int(100 * scale), 25), int(2000 * scale)
    n_ord, n_line, n_users = int(15000 * scale), int(60000 * scale), int(150 * scale)
    n_ev, n_doc, n_emb = int(10000 * scale), int(500 * scale), int(500 * scale)

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    order_days = rng.randint(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(EPOCH_1995 + order_days * DAY_US, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)]})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_line), pa.int32()),
        "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.randint(0, 11, n_line) / 100.0,
        "l_tax": rng.randint(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_line)],
        "l_shipdate": pa.array(EPOCH_1995 + rng.randint(1, 2499, n_line) * DAY_US,
                               pa.timestamp("us"))})
    # events: increasing timestamps over 30 days, ids in time order
    offs = np.cumsum(rng.exponential(1.0, n_ev))
    offs = (offs / offs[-1] * (30 * DAY_US - 60_000_000)).astype(np.int64)
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024 + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]})
    # documents: every 20th is an earlier document plus " dup" (near duplicate)
    texts = []
    for i in range(n_doc):
        if i % 20 == 19:
            texts.append(texts[rng.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rng.randint(0, len(WORDS), rng.randint(10, 100))))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.randint(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb), pa.int32())})


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
