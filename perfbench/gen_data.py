#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the engine reads (TPC-H-like star schema, an
`events` stream table, and the `documents` / `embeddings` LLM-pipeline
tables), one parquet file each, with the same schemas, row counts and
value domains as the engine's current test fixtures (README.md, "Tables").

Usage: python3 perfbench/gen_data.py <out_dir> <scale_factor>

The same scale factor always yields byte-identical tables: every column
is drawn from a numpy generator seeded by DATA_SEED and the table name.
"""
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "nut"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("the a fast slow big small key value row column table scan filter "
         "join group agg sort order window merge hash batch stream spark "
         "query data part line customer vector").split()
EMBED_DIM = 64
DAY_US = 86_400_000_000


def rng(table):
    return np.random.default_rng([DATA_SEED, zlib.crc32(table.encode())])


def ts_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def money(g, lo, hi, n):
    return np.round(g.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def gen(out, sf):
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    tsu = pa.timestamp("us")

    write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    g = rng("customer")
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(g, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[g.integers(0, 5, n_cust)])})

    g = rng("supplier")
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(g, -999.99, 9999.99, n_supp), f64)})

    g = rng("part")
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in g.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[g.integers(0, 6, n_part)]),
        "p_size": pa.array(g.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})

    g = rng("orders")
    lo, hi = ts_us(1995, 1, 1) // DAY_US, ts_us(2001, 8, 1) // DAY_US
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(STATUSES)[g.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(g, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(g.integers(lo, hi + 1, n_ord) * DAY_US, tsu),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[g.integers(0, 5, n_ord)])})

    g = rng("lineitem")
    lo, hi = ts_us(1995, 1, 2) // DAY_US, ts_us(2001, 11, 4) // DAY_US
    write(out, "lineitem", {
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(g.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(money(g, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(g.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(g.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[g.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(g.integers(lo, hi + 1, n_line) * DAY_US, tsu)})

    g = rng("events")
    start = ts_us(2024, 1, 1)
    ts = np.sort(g.integers(start, start + 30 * DAY_US, n_evt))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts, tsu),
        "user_id": pa.array(g.integers(0, n_users, n_evt), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[g.integers(0, 5, n_evt)]),
        "value": pa.array(np.maximum(0.01, np.round(g.exponential(50.0, n_evt), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_evt)])})

    # Documents: random prose over a small vocabulary; about one in ten is a
    # near-duplicate of an earlier document (same text plus a "dup" token)
    # and a few are exact copies, so the dedup operators have work to do.
    g = rng("documents")
    texts = []
    for i in range(n_docs):
        r = g.random()
        if i > 10 and r < 0.10:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        elif i > 10 and r < 0.12:
            texts.append(texts[int(g.integers(0, i))])
        else:
            n = int(g.integers(8, 90))
            texts.append(" ".join(np.array(VOCAB)[g.integers(0, len(VOCAB), n)]))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[g.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # Embeddings: unit vectors scattered around one centroid per label.
    g = rng("embeddings")
    labels = g.integers(0, 10, n_vecs)
    centroids = g.normal(0.0, 1.0, (10, EMBED_DIM))
    v = centroids[labels] + g.normal(0.0, 1.5, (n_vecs, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    gen(out, sf)


if __name__ == "__main__":
    main()
