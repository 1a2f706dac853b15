#!/usr/bin/env python3
"""Seeded generator for the ten parquet tables the declared queries read.

The tables mirror the shape of the engine's TPC-H-ish fixture family
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings): same column names, physical types and value
domains. Row counts scale with --sf exactly like the fixtures (lineitem is
6e6 * sf rows). A tenth of the documents are near-copies of an earlier
document and the embeddings cluster around one centre per label, so the
dedup and similarity pair stages have real pairs to process.

Usage:  gen_tables.py <out_dir> [--sf 0.01] [--seed 42]

The output is a pure function of (sf, seed): the expected query
fingerprints in expected/fingerprints.json are taken over it.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "merge window order column join vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
PNOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def day_ts(rng, n, start, end):
    """n timestamps at day granularity in [start, end] (numpy datetime64)."""
    s = np.datetime64(start, "D")
    days = (np.datetime64(end, "D") - s).astype(np.int64)
    return (s + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_user, n_doc = max(int(15_000 * sf), 10), int(50_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(rng, n_supp, -999.99, 9999.99), f64)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{PADJ[a]} {PNOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PTYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2), f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(money(rng, n_ord, 1000, 500_000), f64),
        "o_orderdate": pa.array(day_ts(rng, n_ord, "1995-01-01",
                                       "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(rng, n_line, 900, 105_000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(day_ts(rng, n_line, "1995-01-02",
                                      "2001-11-04"), pa.timestamp("us"))})
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(money(rng, n_ev, 0.01, 490.0), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)], s)})

    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # near-copy of an earlier document: a few words substituted
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 1 + len(words) // 20):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in
                     rng.integers(0, len(VOCAB), int(rng.integers(10, 91)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    labels = rng.integers(0, 10, n_doc)
    centres = rng.normal(size=(10, 64))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    os.makedirs(a.out_dir, exist_ok=True)
    for name, t in tables(a.sf, a.seed).items():
        pq.write_table(t, os.path.join(a.out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
