"""Deterministic synthetic tables for the benchmark.

Writes the ten tables graft's entries read (a TPC-H-like star schema
plus `events`, `documents` and `embeddings`) as one parquet file each,
with the column names, types and value ranges of the project's test
data.  The same (seed, scale) always produces byte-identical values.

Usage: python3 perfbench/gen_data.py <out_dir> <seed> <scale>
"""
import os
import sys

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "small", "hot", "old", "big", "green", "tiny"]
PART_NOUN = ["anvil", "bolt", "plate", "ring", "rod", "widget", "gear", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def distinct_money(rng, n, lo, hi):
    """n distinct 2-dp amounts: window-frame entries need a tie-free
    price order within an order."""
    cents = np.unique(rng.integers(int(lo * 100), int(hi * 100), 2 * n))
    return rng.permutation(cents)[:n] / 100.0


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def generate(seed, scale):
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 100)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 100)
    n_doc = max(int(50_000 * scale), 50)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick(rng, PART_ADJ, n_part) + " " + pick(rng, PART_NOUN, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": distinct_money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": days(rng, n_line, "1995-01-02", "2001-11-04")})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # a near-duplicate of an earlier document: one word changed,
            # so the dedup and similarity entries have pairs to find
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(pick(rng, WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vec = rng.normal(0.0, 1.0, (n_doc, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_doc).astype(np.int32)})
    return t


def main():
    out, seed, scale = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    for name, df in generate(seed, scale).items():
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)


if __name__ == "__main__":
    main()
