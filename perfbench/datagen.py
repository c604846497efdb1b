"""Deterministic synthetic warehouse tables for the benchmark.

Writes the ten parquet tables the engine reads (the TPC-H-like star schema,
the `events` stream, the `documents` corpus and the `embeddings` vectors) at
scale factor 0.01: 1.5k customers, 15k orders, 60k lineitems, 10k events,
200 documents and 160 embeddings. Shapes, types and value distributions
follow the engine's test data: uniform keys and measures, duplicate
(l_orderkey, l_linenumber) pairs, ~5% near-duplicate documents, unit-norm
embeddings around ten weak cluster centres.

Usage: python3 datagen.py OUT_DIR
"""
import os
import sys

import numpy as np
import pandas as pd

SF = 0.01
SEED = 42
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_EVENTS = int(1_000_000 * SF)
N_USERS = int(15_000 * SF)
# The corpus and vector sizes drive the one-time LM, graph and IVF builds in
# set-up. Below these sizes the builds are bound by per-job driver work and
# get no faster (100 documents and 96 vectors set up in the same time); 160
# vectors keep the gates' held-out query window (vec_id 80..87) well inside
# the table.
N_DOCUMENTS = 200
N_EMBEDDINGS = 160
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "shiny", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def days(rng, start, n_days, size):
    return (np.datetime64(start, "D") + rng.integers(0, n_days + 1, size)).astype("datetime64[us]")


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    yield "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    yield "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    yield "customer", pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER)})
    yield "supplier", pd.DataFrame({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    partkey = np.arange(N_PART, dtype=np.int64)
    yield "part", pd.DataFrame({
        "p_partkey": partkey,
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(PART_ADJ, N_PART),
                                              rng.choice(PART_NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 2)})
    yield "orders", pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": days(rng, "1995-01-01", 2404, N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS)})
    yield "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": np.round(rng.uniform(0.0, 0.1, N_LINEITEM), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, N_LINEITEM), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": days(rng, "1995-01-02", 2498, N_LINEITEM)})
    span_us = 30 * 86_400 * 1_000_000
    yield "events", pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
              + np.sort(rng.integers(0, span_us, N_EVENTS)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2).clip(0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(N_DOCUMENTS)]
    for i in np.flatnonzero(rng.random(N_DOCUMENTS) < 0.05):
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))] + " dup"
    yield "documents", pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centres = rng.standard_normal((10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, N_EMBEDDINGS)
    vecs = 0.14 * centres[label] + rng.standard_normal((N_EMBEDDINGS, DIM)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", pd.DataFrame({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": label.astype(np.int32)})


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(SEED):
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


if __name__ == "__main__":
    main(sys.argv[1])
