"""Seeded input generator for the benchmark.

Writes the star-schema, event, document and embedding tables the program's
queries read (`graft.Tables`), one parquet file per table with one row group,
the layout the program's own test fixtures use. The same seed always gives
byte-identical inputs.

    scale    row counts (customer / orders / lineitem / events) follow the
             fixture scale factor: 0.01 -> 1,500 / 15,000 / 60,000 / 10,000.
    docs     documents, drawn like the fixtures' corpus: 10-100 words of its
             31-word vocabulary, every tenth document a near duplicate of an
             earlier one.
    vecs     embeddings: 64-dim vectors around 10 cluster centres.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_VOCAB = ("join hash row batch scan customer column filter small slow "
              "merge order vector line data table agg value key stream "
              "window spark a group part big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


def _write(out_dir, name, cols):
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _ts(days):
    return pa.array(np.asarray(days, dtype="int64") * 86_400_000_000,
                    pa.timestamp("us"))


def documents(rng, n_docs):
    words = np.array(BASE_VOCAB)
    texts, langs = [], []
    for i in range(n_docs):
        if i % 20 in (5, 12) and i >= 20:
            # near duplicate of an earlier document, tagged like the fixtures
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 4)))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
        langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_P))])
    return {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, n_vecs, dim=64):
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.05, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.12, (n_vecs, dim))).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def generate(out_dir, seed, scale=0.01, docs=500, vecs=500):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(1, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_li, n_ev, n_users = (int(1_500_000 * scale), int(6_000_000 * scale),
                                  int(1_000_000 * scale), int(15_000 * scale))
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    bal = lambda n: np.round(rng.uniform(-999.99, 9999.99, n), 2)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": bal(n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": bal(n_supp)})
    adj = ["small", "red", "blue", "green", "large", "steel", "brass", "tiny"]
    noun = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "nut"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    d1995 = 9131  # 1995-01-01 in days since the epoch
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(d1995 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(d1995 + 1 + rng.integers(0, 2499, n_li))})
    jan2024_us = 1_704_067_200_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + jan2024_us
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.minimum(rng.exponential(40.0, n_ev) + 0.01, 499.99), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", documents(rng, docs))
    _write(out_dir, "embeddings", embeddings(rng, vecs))
