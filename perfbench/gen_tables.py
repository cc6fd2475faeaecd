#!/usr/bin/env python3
"""Generate the suite workload's tables from a seed.

Usage: gen_tables.py <out_dir> <seed>

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names and
types the registered queries read, at about the smallest scale the
queries are written for (6,000 lineitem rows). The same seed gives the
same tables.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a data row column table key value join group filter sort merge "
         "hash scan window part order line customer stream batch query spark "
         "agg vector fast slow big small").split()
LANGS = ["en", "fr", "es", "zh", "de"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PTYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def ts_us(base, offsets_s):
    return (np.datetime64(base, "us") + (np.asarray(offsets_s) * 1e6).astype("timedelta64[us]"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc, n_emb = 150, 10, 200, 1500, 6000, 1000, 500, 500
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adjectives = ["cold", "small", "large", "red", "blue", "shiny", "plain", "antique"]
    nouns = ["widget", "gadget", "bolt", "gear", "valve", "panel", "spring", "lever"]
    retail = np.round(900 + np.arange(n_part) % 200 / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * 86400),
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.95, 1.05, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("N", "R", "A")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ts_us("1995-01-02", rng.integers(0, 2498, n_li) * 86400),
                               pa.timestamp("us"))})
    gaps = rng.exponential(2600.0, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts_us("2024-01-01", np.round(np.cumsum(gaps), 6)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(rng, 0.01, 330.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.08:
            # a near-duplicate of an earlier document: one word changed
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words[:120]) + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centroids[labels] + rng.normal(0, 0.6, (n_emb, 64))) / 8.0
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def main(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
