#!/usr/bin/env python3
"""Seeded generator for the query registry's input tables.

Writes the ten parquet tables every registered query reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value domains of the TPC-H-like
testdata the registry is verified on (FIXTURES.md section 2), at the
sf0.01 row counts: 60,000 lineitems, 15,000 orders, 500 documents and
500 64-d unit embeddings. Columns are drawn independently, as in that
testdata. The same seed gives byte-identical files.

    python3 lakebench/gen_tables.py OUT_DIR --seed 7
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["big", "blue", "hot", "large", "old", "red", "small", "cold"]
NOUN = ["bolt", "plate", "ring", "rod", "widget", "gear", "nut", "pipe"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()


def days(rng, n, start, end):
    """Midnight timestamps, uniform over [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed):
    rng = np.random.default_rng([seed, 2])
    n = ROWS
    os.makedirs(out_dir, exist_ok=True)
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": list(rng.choice(SEGMENTS, n["customer"]))}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": money(rng, n["supplier"], -999.99, 9999.99)}
    t["part"] = {
        "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n["part"]),
                                              rng.choice(NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": list(rng.choice(TYPES, n["part"])),
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1)}
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n["orders"])),
        "o_totalprice": money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(PRIORITIES, n["orders"]))}
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl)),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": days(rng, nl, "1995-01-02", "2001-11-04")}
    ne = n["events"]
    secs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + secs),
        "user_id": pa.array(rng.integers(0, 150, ne)),
        "event_type": list(rng.choice(EVENTS, ne)),
        "value": money(rng, ne, 0.01, 490.0),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]}
    nd = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, int(k)))
             for k in rng.integers(10, 100, nd)]
    t["documents"] = {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": list(rng.choice(LANGS, nd, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))}
    nv = n["embeddings"]
    v = rng.normal(size=(nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))}
    rows = {}
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed)))


if __name__ == "__main__":
    main()
