"""Seeded generator for the TPC-H-like star schema the query corpus reads.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
physical types and value distributions of the project's sf0.1 test tables
(measured figures in perfbench/README.md, "Input tables"). The same
(scale, seed) always yields byte-identical tables, so row counts the
benchmark pins stay valid.

    python3 perfbench/gen_tables.py <out_dir> [scale] [seed]

`scale` 1.0 gives the sf0.1 sizes (600k lineitem rows).
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data query spark table scan filter join group agg sort hash key "
         "value row column window stream batch merge order customer part line "
         "vector fast slow big small").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05  # documents that copy another document and append " dup"


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") + (seconds * 1_000_000).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale=1.0, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(15000 * scale), max(10, int(1000 * scale)), int(20000 * scale)
    n_ord, n_line, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_doc, n_emb = max(200, int(5000 * scale)), max(100, int(2000 * scale))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    money = lambda n, lo, hi: np.round(rng.uniform(lo, hi, n), 2)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(n_supp, -999.99, 9999.99))})

    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                                       rng.choice(noun, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})

    o_days = rng.integers(0, 2405, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(n_ord, 1000.0, 500000.0)),
        "o_orderdate": _ts("1995-01-01", o_days * 86400),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))})

    l_order = rng.integers(0, n_ord, n_line, dtype=np.int64)
    ship = 1 + rng.integers(0, 2499, n_line)  # 1995-01-02 .. 2001-11-04, independent of the order date
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(n_line, 900.0, 105000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts("1995-01-01", ship * 86400)})

    ev_sec = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", ev_sec),
        "user_id": pa.array(rng.integers(0, 1500, n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: 10-100 words drawn uniformly from WORDS; a NEAR_DUP_SHARE
    # of them copy a uniformly chosen document and append " dup" (two such
    # copies of one source are the exact duplicates)
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))) for _ in range(n_doc)]
    near = rng.choice(n_doc, int(round(n_doc * NEAR_DUP_SHARE)), replace=False)
    for i, j in zip(near, rng.integers(0, n_doc, len(near))):
        texts[i] = texts[j] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    # unit vectors in random directions; labels independent of them
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    emb = rng.normal(0, 1, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0,
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
