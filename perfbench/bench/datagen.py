"""Deterministic synthetic tables in the shape of the TPC-H-style test data.

Ten parquet files (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) with the column names and arrow
types the registry queries read.  Row counts scale with ``sf`` the way the
reference test data does (sf0.01: 1,500 customers, 2,000 parts, 15,000
orders, about 60,000 line items).  The tables depend only on ``sf`` and
``DATA_SEED``: the pinned result hashes in ``hashes.json`` are computed on
them, so the workload seed must never reach this module.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_WORDS = ("join hash row batch scan customer column filter small slow merge "
          "order vector line data table agg value key stream window spark a "
          "group part big sort query fast the").split()
_ADJ = "red small hot old large blue cold new".split()
_NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
_LANGS = ["en"] * 44 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13 + ["zh"] * 15


def _us(year, month, day):
    return np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def sizes(sf):
    """Row counts of the keyed tables at scale factor ``sf``."""
    n_cust = int(round(150_000 * sf))
    return {"customer": n_cust, "supplier": max(10, int(round(10_000 * sf))),
            "part": int(round(200_000 * sf)),
            "orders": int(round(1_500_000 * sf)),
            "events": max(1_000, int(round(1_000_000 * sf))),
            "users": max(15, n_cust // 10),
            "documents": max(500, int(round(50_000 * sf))),
            "embeddings": max(500, int(round(20_000 * sf)))}


def generate(out_dir, sf):
    """Write the ten tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_orders, n_events, n_users = n["orders"], n["events"], n["users"]
    n_docs, n_vecs = n["documents"], n["embeddings"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})

    day0, n_days = _us(1995, 1, 1), 2403  # 1995-01-01 .. 2001-08-01
    day_us = np.int64(86_400_000_000)
    odate = day0 + rng.integers(0, n_days + 1, n_orders) * day_us
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in
                          rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[p] for p in
                            rng.integers(0, 5, n_orders)]})

    lines = np.clip(rng.poisson(4.0, n_orders), 1, 13)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    starts = np.cumsum(lines) - lines
    linenumber = np.arange(n_li) - np.repeat(starts, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, n_li) * day_us,
                               pa.timestamp("us"))})

    # Events arrive in id order over January 2024, about 4 minutes apart.
    gaps = rng.integers(0, 2 * 30 * 86_400_000_000 // n_events, n_events)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(_us(2024, 1, 1) + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [_EVENT_TYPES[t] for t in
                       rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # One document in twenty repeats an earlier one with a "dup" suffix,
    # so the near-duplicate tiers have something to find.
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # Unit vectors scattered around one centre per label.
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
