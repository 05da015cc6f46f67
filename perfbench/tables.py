#!/usr/bin/env python3
"""Seeded generator of the batch-mix tables.

Writes the ten tables the graded queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, at scale factor 0.01: the row counts, column types and value
domains of FIXTURES.md §A at that scale (lineitem 60,000 rows, events
10,000, documents and embeddings 500 each).
The values are drawn from the run's seed; the shape does not depend on
it.

ensure(dir, seed) generates the tables once per (generator version — a
digest of this file — and seed) and returns their directory.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
_DIGEST = hashlib.sha256(open(os.path.abspath(__file__), "rb").read()).hexdigest()[:12]


def data_tag(seed):
    return f"sf{SF}-{_DIGEST}-seed{seed}"

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
PART_ADJ = "large hot blue old cold red small shiny".split()
PART_NOUN = "ring bolt plate gear widget rod anvil nut".split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(rng, start, end, n):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, n)


def _days_us(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * 86_400_000_000


def generate(out, seed):
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10_000 * SF), int(150_000 * SF), int(200_000 * SF)
    n_ord, n_line, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    n_doc = max(500, int(50_000 * SF))
    n_emb = 500 if SF <= 0.01 else int(20_000 * SF)
    ts = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days_us(rng, "1995-01-01", "2001-08-01", n_ord), ts),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days_us(rng, "1995-01-02", "2001-11-04", n_line), ts)})
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(_ts_us(rng, "2024-01-01", "2024-01-31", n_ev)), ts),
        "user_id": rng.integers(0, int(15_000 * SF), n_ev),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(1.5, 50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    for i in rng.choice(np.arange(1, n_doc), 8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_doc,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 0.08, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, table in t.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def ensure(base, seed):
    out = os.path.join(base, data_tag(seed))
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    import sys
    print(ensure(sys.argv[1], int(sys.argv[2])))
