"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the program's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the schemas and value domains of the project's TPC-H-ish star test
data. The base tables are fixed for a scale factor (BASE_SEED), so query
goldens recorded once stay valid; the workload seed only picks query
order, samples and commit batches.

Usage: python3 perfbench/gen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240117
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
US_PER_DAY = 86_400_000_000


def sizes(sf):
    return {
        "customer": max(15, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(150, round(1_500_000 * sf)),
        "lineitem": max(600, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def days(rng, n, start, end):
    """n microsecond timestamps at midnight, uniform over [start, end] days."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.015:           # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(len(texts))])
        elif texts and r < 0.05:          # near-duplicate: a few words swapped
            words = texts[rng.integers(len(texts))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + 1.5 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def tables(sf):
    n = sizes(sf)
    rng = np.random.default_rng(BASE_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(money(rng, c, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c), pa.string())})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(money(rng, s, -999.99, 9999.99))})
    p = n["part"]
    keys = np.arange(p)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, p), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1))})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), pa.string()),
        "o_totalprice": pa.array(money(rng, o, 1000, 500_000)),
        "o_orderdate": days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o), pa.string())})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, li, 900, 105_000)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li), pa.string()),
        "l_shipdate": days(rng, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e), pa.string()),
        "value": pa.array(money(rng, e, 0.01, 500)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string())})
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def main():
    out_dir, sf = sys.argv[1], float(sys.argv[2])
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main()
