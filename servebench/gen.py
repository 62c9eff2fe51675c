"""Seeded input generator for the serving benchmark.

Writes the tables the workloads read, one parquet file per table, with
the column names and types `graft.sources.Tables` loads:

  - from the seed, the TPC-H-shaped graph tables at scale factor 0.1:
    region 5, nation 25, customer 15 000, supplier 1 000, orders 150 000;
  - from the fixed CORPUS_SEED, the index corpus at the size the gates'
    DuckDB oracles were written for (sf0.01): documents 500 (5 % planted
    near-duplicates) and embeddings 500 x 64. It is fixed so that the
    index gates' outputs can be checked against hashes a run verified
    once against the DuckDB oracles (index_hashes.json): those oracles
    take longer than the gates, too long for every run.

The same seed always gives byte-identical rows. The ledger filings and
the request schedules are generated inside the JVM (`Gen.scala`), from
the same seed.

Usage: python3 gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_DOCS = 500
N_VECS = 500
CORPUS_SEED = 20240601
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5)})
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    day0 = np.datetime64("1995-01-01", "D")
    days = rng.integers(0, 2404, N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array((day0 + days).astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]})
    out.update(corpus())
    return out


def corpus():
    rng = np.random.default_rng(CORPUS_SEED)
    out = {}
    lens = rng.integers(10, 101, N_DOCS)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(words[at:at + n]))
        at += n
    # near-duplicates: 5 % of documents copy another document's text
    # plus one marker token (the dedup and index gates need a planted
    # duplicate population; uniform random text has almost none)
    dups = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    v = rng.standard_normal((N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32)})
    return out


def main_args(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main_args(sys.argv[1], int(sys.argv[2]))
