#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (region nation customer supplier
part orders lineitem events documents embeddings) as one single-row-group
snappy parquet file each, with the schemas and value distributions of
the fixture tables described in FIXTURES.md. The same arguments always
give byte-identical tables: every table draws from its own PCG64 stream
seeded from (DATA_SEED, table name).

Usage: gendata.py <out_dir> --sf 0.01 --docs 500 --vecs 500
"""
import argparse
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6
# fixed, so every checkout generates the same tables; the benchmark's
# --seed drives only the request sequence
DATA_SEED = 42


def rng(seed, table):
    digest = hashlib.sha256(f"{seed}:{table}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def money(r, lo, hi, n):
    return np.round(r.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def write(out, name, cols, schema):
    table = pa.Table.from_pandas(pd.DataFrame(cols), schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def generate(out, sf, docs, vecs, seed):
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)

    write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write(out, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))

    r = rng(seed, "customer")
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(r, -1000, 10000, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))

    r = rng(seed, "supplier")
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(r, -1000, 10000, n_supp)},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    r = rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2)},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    r = rng(seed, "orders")
    order_day = r.integers(0, ORDER_DAYS, n_ord)
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(r, 1000, 500000, n_ord),
        "o_orderdate": (ORDER_EPOCH + order_day).astype("datetime64[us]"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))

    r = rng(seed, "lineitem")
    l_order = r.integers(0, n_ord, n_line).astype(np.int64)
    ship_day = order_day[l_order] + r.integers(1, 96, n_line)
    write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(r, 900, 105000, n_line),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": (ORDER_EPOCH + ship_day).astype("datetime64[us]")},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))

    r = rng(seed, "events")
    offsets = np.sort(r.integers(0, EVENT_SPAN_US, n_events))
    write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": EVENT_EPOCH + offsets.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(1, n_cust // 10), n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)],
        "value": np.round(r.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]},
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))

    # 5% of documents repeat an earlier document's text plus a " dup"
    # marker, so near-duplicate detection has true positives to find
    r = rng(seed, "documents")
    texts = []
    for i in range(docs):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(10, 101)))]))
    write(out, "documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]))

    r = rng(seed, "embeddings")
    emb = r.standard_normal((vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": list(emb),
        "label": r.integers(0, 10, vecs).astype(np.int32)},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--vecs", type=int, required=True)
    a = ap.parse_args()
    generate(a.out, a.sf, a.docs, a.vecs, DATA_SEED)


if __name__ == "__main__":
    main()
