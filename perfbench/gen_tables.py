#!/usr/bin/env python3
"""Deterministic generator for the star-schema tables the query workloads read.

Usage: python3 perfbench/gen_tables.py <out_dir> <sf>

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one single-row-group parquet file each, in the
column layout graft's `Tables` loaders expect (TPC-H-shaped keys and
measures, a 30-day event stream, a word-salad document corpus with ~5 %
planted near-duplicates, and 64-d unit embeddings with 10 labels).

The data depends only on `sf` and the fixed SEED below, never on the
benchmark's --seed: the workloads' seed permutes the query order, so the
expected results in expected.json stay valid for every run.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
COLORS = "blue hot small old red new cold large".split()
NOUNS = "bolt gear anvil widget ring rod plate gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    """Day-granular timestamps (µs since epoch) uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def tables(sf):
    rng = np.random.default_rng(SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    color = rng.integers(0, len(COLORS), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[c]} {NOUNS[k]}" for c, k in zip(color, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04"))})
    gaps = rng.integers(1, 2 * (30 * DAY_US // n_ev), n_ev)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n_words)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32))})
    return out


def write(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
