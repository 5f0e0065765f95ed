#!/usr/bin/env python3
"""Writes the benchmark's input tables as parquet, one file per table.

Usage: python3 perfbench/gen_tables.py <out_dir>

The tables have the schemas and value domains of the engine's testdata
(TPC-H-style star schema plus `events`, `documents` and `embeddings`) at
roughly scale factor 0.01. The content is fixed: it depends on no argument,
so the committed result digests in expected_digests.tsv stay valid. The
benchmark's --seed never reaches this file; it reorders queries and
relabels stream keys instead.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_EVENTS, N_USERS = 10_000, 150
N_DOCS, N_VECS, DIM = 500, 500, 64
N_ORDERS, N_LINEITEM, N_CUSTOMER, N_PART, N_SUPPLIER = 15_000, 60_000, 1_500, 2_000, 100

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400 * 1_000_000


def us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, first: str, last: str, n):
    lo, hi = us(first) // US_PER_DAY, us(last) // US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def events(rng):
    ts = np.sort(rng.integers(us("2024-01-01"), us("2024-01-31"), N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, N_EVENTS), 2), 560.0)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, N_EVENTS)]),
    })


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup families' signal
            words = texts[rng.integers(0, i)].split() + ["dup"] * int(rng.integers(1, 3))
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array(["src%d" % k for k in rng.integers(0, 5, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    centroids = rng.normal(size=(10, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, N_VECS)
    vecs = 0.14 * centroids[labels] + rng.normal(size=(N_VECS, DIM)) / np.sqrt(DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def relational(rng):
    def pick(values, n):
        return pa.array([values[i] for i in rng.integers(0, len(values), n)])

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": pick(SEGMENTS, N_CUSTOMER),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": ["%s %s" % (COLORS[rng.integers(0, 8)], NOUNS[rng.integers(0, 8)])
                   for _ in range(N_PART)],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, N_PART)],
        "p_type": pick(PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 1),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": pick(["P", "O", "F"], N_ORDERS),
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": pick(PRIORITIES, N_ORDERS),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": pick(["R", "A", "N"], N_LINEITEM),
        "l_linestatus": pick(["O", "F"], N_LINEITEM),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", N_LINEITEM),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem}


def main():
    out = sys.argv[1]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    tables = {"events": events(rng), "documents": documents(rng),
              "embeddings": embeddings(rng), **relational(rng)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, name + ".parquet"))


if __name__ == "__main__":
    main()
