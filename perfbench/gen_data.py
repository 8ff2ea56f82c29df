#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the column names, types and value distributions of the engine's
synthetic test data, so the benchmark builds everything it reads inside
its own checkout. Row counts are those of the test data at scale factor
`SF` (0.05: lineitem 300,000 rows, orders 75,000, events 50,000,
documents 2,500, embeddings 1,000); the values come from the fixed `SEED`.

Usage: python3 gen_data.py <outDir>
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

US_PER_DAY = 86_400_000_000
SF = 0.05
SEED = 42


def days_since_epoch(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def ts_days(days):
    return pa.array(days.astype(np.int64) * US_PER_DAY, type=pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    a = ap.parse_args()
    rng = np.random.default_rng(SEED)
    os.makedirs(a.out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc, n_emb = int(50_000 * SF), int(20_000 * SF)
    i32 = lambda x: pa.array(x, type=pa.int32())
    i64 = lambda x: pa.array(x, type=pa.int64())

    write(a.out, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    write(a.out, "nation", {"n_nationkey": i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])})
    write(a.out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))})
    write(a.out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write(a.out, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{ADJ[x]} {NOUN[y]}" for x, y in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PTYPES, n_part)),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    d0 = days_since_epoch(1995, 1, 1)
    write(a.out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_days(rng.integers(d0, days_since_epoch(2001, 8, 1) + 1, n_ord)),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))})
    write(a.out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": ts_days(rng.integers(d0 + 1, days_since_epoch(2001, 11, 4) + 1, n_li))})

    t0 = days_since_epoch(2024, 1, 1) * US_PER_DAY
    ts = np.sort(rng.choice(30 * US_PER_DAY, n_ev, replace=False)) + t0
    write(a.out, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": i64(rng.integers(0, int(15_000 * SF), n_ev)),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # 5% of documents are an earlier document with " dup" appended — the
    # near-duplicates the dedup operators exist to find
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    write(a.out, "documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})

    centroids = rng.normal(0.0, 1.0, (10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.35 * centroids[labels] + rng.normal(0.0, 1.0 / 8.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(a.out, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(labels)})


if __name__ == "__main__":
    main()
