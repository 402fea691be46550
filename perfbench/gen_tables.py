"""Seeded tables for the query_mix workload.

Writes region, nation, customer, supplier, part, orders, lineitem,
documents and embeddings as parquet with the column names and physical
types of the engine's sf0.1 test tables (timestamp[us] without a zone,
int32 for the small keys). Row counts scale with `sf` (sf=0.01 gives ~60k
lineitems, 500 documents and 200 embeddings). Value domains follow the
sf0.1 tables: five market segments, six part types, NATION_<k> names over
five regions, order dates 1995-01 .. 2001-08, a 31-word document vocabulary
with exact and near-duplicate copies, and unit-normalised 64-dim vectors.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["the", "query", "row", "stream", "line", "small", "group", "spark",
         "fast", "customer", "batch", "data", "sort", "value", "hash",
         "filter", "big", "dup", "column", "order", "a", "vector", "part",
         "scan", "slow", "agg", "key", "window", "table", "merge", "join"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1525, 0.1475, 0.1475, 0.1425]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)].tolist()


def _documents(rng, n_docs):
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 100 and r < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 100 and r < 0.025:
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 6))):
                base[int(rng.integers(0, len(base)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(base))
        else:
            nw = int(rng.integers(8, 101))
            texts.append(" ".join(VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), nw)))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table


def generate(outdir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)
    n_orders, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)

    def write(name, table):
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)}))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())}))
    write("customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(-1000 + rng.random(n_cust) * 11000, 2)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust))}))
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(-1000 + rng.random(n_supp) * 11000, 2))}))
    adjs = ["small", "red", "blue", "hot", "cold", "dark", "pale", "big"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "cog", "valve", "pin"]
    write("part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in
                            zip(_pick(rng, adjs, n_part), _pick(rng, nouns, n_part))]),
        "p_brand": pa.array([f"Brand#{int(k) + 1}" for k in rng.integers(0, 25, n_part)]),
        "p_type": pa.array(_pick(rng, PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.random(n_part) * 100, 1))}))

    day_us = 86400 * 1_000_000
    o_dates = (np.datetime64("1995-01-01", "us").astype(np.int64)
               + rng.integers(0, 2404, n_orders) * day_us)
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(1000 + rng.random(n_orders) * 499000, 2)),
        "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders))}))
    lines_per = rng.poisson(4.0, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
    n_li = len(okeys)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines_per if k > 0]), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(900 + rng.random(n_li) * 104100, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(_pick(rng, ["O", "F"], n_li)),
        "l_shipdate": pa.array(o_dates[okeys] + rng.integers(-100, 196, n_li) * day_us,
                               pa.timestamp("us"))}))

    write("documents", _documents(rng, n_docs))
    x = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}))
