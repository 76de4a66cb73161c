"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the graft queries read (`region nation customer
supplier part orders lineitem events documents embeddings`) as one parquet
file each, with the column names, types and value ranges of the repo's
sf0.1 test corpus: TPC-H-like keys and prices, an `events` stream table,
a small-vocabulary text corpus in which 5% of the documents are marked
near-copies of others, and unit-norm 64-d float embeddings. README.md
compares the two.

The tables are drawn from a fixed seed, so every call writes the same
bytes. Usage: python3 gen_tables.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "large hot blue old cold small shiny red".split()
NOUN = "ring bolt plate gear anvil widget screw nut".split()


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def day_us(base, days):
    return (np.datetime64(base, "us") + days.astype("timedelta64[D]")).astype("int64")


def ts(values):
    return pa.array(values, type=pa.timestamp("us"))


SEED = 42
SCALE = 0.1


def tables():
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150000 * SCALE), int(10000 * SCALE), int(200000 * SCALE)
    n_ord, n_li = int(1500000 * SCALE), int(6000000 * SCALE)
    n_ev, n_doc, n_emb = int(1000000 * SCALE), int(50000 * SCALE), int(20000 * SCALE)

    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(day_us("1995-01-01", rng.integers(0, 2405, n_ord))),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts(day_us("1995-01-02", rng.integers(0, 2499, n_li)))})
    gaps = np.maximum(1, rng.exponential(26e6, n_ev)).astype(np.int64)
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts(np.datetime64("2024-01-01", "us").astype("int64") + np.cumsum(gaps)),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    # a near-copy's source is any other document, before or after it, and
    # may itself be a near-copy
    for i in np.sort(rng.choice(n_doc, n_doc // 20, replace=False)):
        j = rng.integers(0, n_doc - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])
