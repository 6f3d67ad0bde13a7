"""Deterministic fixture generator for the benchmark.

Writes the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the same schemas and value domains as the repo's TPC-H-ish test
fixtures. Row counts scale with `scale`; 1.0 is the fixture family's
sf0.1 size (150k orders, 600k line items, 100k events, 5k documents).

The tables are a pure function of (`scale`, `GEN_SEED`): the benchmark's
workload seed never changes them, it only picks which slices are applied
and in which order.

    python3 perfbench/gen.py <out_dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
# bump when the generated tables change, so cached copies are rebuilt
VERSION = 2

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "old"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]


def _ts(frac, start, n_days):
    """Day-resolution naive timestamps `start + floor(frac * n_days)`."""
    base = np.datetime64(start, "D")
    return (base + (frac * n_days).astype("int64")).astype(
        "datetime64[us]")


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def generate(out, scale=1.0):
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(50, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_part = max(50, int(20000 * scale))
    n_ord = max(200, int(150000 * scale))
    n_line = 4 * n_ord
    n_ev = max(200, int(100000 * scale))
    n_users = max(20, n_cust // 10)
    n_docs = max(100, int(5000 * scale))
    n_vec = max(50, int(2000 * scale))
    os.makedirs(out, exist_ok=True)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))

    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out, "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}))

    ok = np.arange(n_ord, dtype=np.int64)
    _write(out, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        # 1995-01-01 .. 2001-08-01 (2404 days)
        "o_orderdate": _ts(rng.random(n_ord), "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line),
                                    2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        # 1995-01-02 .. 2001-11-04
        "l_shipdate": _ts(rng.random(n_line), "1995-01-02", 2498)}))

    # events: ids in time order over January 2024, microsecond ts
    span_us = 30 * 86400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    _write(out, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + ts_us.astype(
            "timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))

    # documents: 10..100 words from a small vocabulary; ~5% near
    # duplicates (an earlier doc's text plus " dup") and ~0.2% exact ones
    texts = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i > 10 and kind[i] < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[
                rng.integers(0, len(WORDS), n_words)]))
    _write(out, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64)).astype(np.float32)
    vecs = centers[labels] + rng.normal(0, 0.5, (n_vec, 64)).astype(
        np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0)
