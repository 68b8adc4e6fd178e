"""Synthetic fixture tables for the benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one Parquet file each)
with the schemas and value distributions of the engine's test fixtures
(FIXTURES.md): a TPC-H-like star schema, an `events` stream table with
monotone timestamps and JSON props, word-salad `documents` with 5%
near-duplicates and a few exact copies, and unit-norm 64-d `embeddings`.

The tables depend only on `--scale` and `--data-seed`; the benchmark
seed orders the queries and never changes the tables, so the expected
row counts pinned in `queries.tsv` hold for every benchmark seed.

    python3 perfbench/gen_data.py --scale 0.1 --out .bench_build/data/sf0.1
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "de", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "cold", "large", "old", "new"]
NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TS_US = pa.timestamp("us")


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _days(rng, n, lo, hi):
    """Whole-day timestamps, uniform in [lo, hi] (micros since epoch)."""
    day = 86_400_000_000
    return (lo // day + rng.integers(0, (hi - lo) // day + 1, n)) * day


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    n_users = max(1, int(15_000 * scale))
    i32, i64 = np.int32, np.int64

    yield "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS)}
    yield "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)}
    yield "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())}
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))}
    keys = np.arange(n_part, dtype=i64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))}
    yield "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(_pick(rng, ["O", "P", "F"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000)),
        "o_orderdate": pa.array(_days(rng, n_ord, _day_us(1995, 1, 1),
                                      _day_us(2001, 8, 1)), TS_US),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string())}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3500, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["O", "F"], n_line), pa.string()),
        "l_shipdate": pa.array(_days(rng, n_line, _day_us(1995, 1, 2),
                                     _day_us(2001, 11, 4)), TS_US)}
    start = _day_us(2024, 1, 1)
    span = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, n_ev))
    yield "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=i64)),
        "ts": pa.array(ts, TS_US),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}
    texts = []
    for i in range(n_doc):
        roll = rng.random()
        if i > 0 and roll < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and roll < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
    yield "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=i64)),
        "text": pa.array(texts),
        "lang": pa.array(_pick(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=i64))}
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=i64)),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, emb.size + 1, 64, dtype=np.int32), emb.ravel()),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(i32))}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--data-seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    for name, cols in tables(a.scale, a.data_seed):
        pq.write_table(pa.table(cols), os.path.join(a.out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
