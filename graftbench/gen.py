"""Seeded generator for the benchmark's relational inputs.

Writes the ten tables the engine's queries read (`graft.Tables.names`) as
one parquet file each, in the shape of the engine's sf0.1 test tables: the
star schema, the `events` stream table, the `documents` corpus and the
`embeddings` vectors. Every constant below was fitted to figures measured
on those tables with `shape.py` (see README.md, "Inputs"): the row counts,
key ranges and category mixes; 10-99 words per document from a 30-word
vocabulary with no digits, so no PII pattern matches, a declared language
drawn apart from the text, and 250 near-duplicates; 30 days of strictly
increasing events over 1,500 users; unit vectors whose label carries no
direction. The same seed gives byte-identical values; the shape does not
depend on the seed, so per-op costs stay comparable across seeds.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_NEAR_DUP_DOCS = 250
N_VECTORS = 2_000
VECTOR_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

DAY_US = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(seed):
    """Every table as (name, pyarrow.Table), generated from `seed`."""
    rng = np.random.default_rng(seed)
    out = [("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))]
    out.append(("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})))
    out.append(("customer", pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _choice(rng, SEGMENTS, N_CUSTOMER)})))
    out.append(("supplier", pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})))
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, N_PART)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, N_PART)]
    out.append(("part", pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _choice(rng, PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)})))
    o_start = _micros(dt.datetime(1995, 1, 1))
    out.append(("orders", pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(o_start + rng.integers(0, 2405, N_ORDERS) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, N_ORDERS)})))
    l_start = _micros(dt.datetime(1995, 1, 2))
    out.append(("lineitem", pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _choice(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(l_start + rng.integers(0, 2499, N_LINEITEM) * DAY_US)})))
    # strictly increasing event time: exponential gaps averaging 30 days
    # over the table, at least 1 us apart
    gaps = np.maximum(1, rng.exponential(30 * DAY_US / N_EVENTS, N_EVENTS)).astype(np.int64)
    out.append(("events", pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(_micros(dt.datetime(2024, 1, 1)) + np.cumsum(gaps)),
        "user_id": rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64),
        "event_type": _choice(rng, EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)])})))
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lengths]
    # near-duplicates: a copy of another document plus one marker token;
    # a copy whose source is itself rewritten later loses its exact match
    for i in np.sort(rng.choice(N_DOCS, N_NEAR_DUP_DOCS, replace=False)):
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    out.append(("documents", pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})))
    # isotropic unit vectors; the label is independent of the vector
    labels = rng.integers(0, 10, N_VECTORS, dtype=np.int32)
    vec = rng.normal(0.0, 1.0, (N_VECTORS, VECTOR_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out.append(("embeddings", pa.table({
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels})))
    return out


def write(seed, out_dir):
    """Write every table to `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
