"""Seeded input tables for the benchmark.

Writes the ten tables the query packs read (`core.Tables.names`), one
parquet file each, with the schemas, key ranges and value distributions of
the project's TPC-H-ish test tables (TESTDATA.md). Row counts scale
linearly with `sf`; at sf 0.1 lineitem has 600,000 rows. The same
(seed, sf) always gives byte-identical files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf 0.1.
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000, "users": 1_500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DUP_SHARE = 0.05          # documents that are another document + " dup"
EMBED_DIM = 64


def _rows(name, sf):
    return max(1, int(round(BASE_ROWS[name] * sf / 0.1)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    d = np.datetime64(start, "D") + rng.integers(0, span, n)
    return d.astype("datetime64[us]")


def tables(seed, sf):
    """Build every table as a pyarrow Table, keyed by name."""
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = _rows("customer", sf)
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    n_cust = n

    n = _rows("supplier", sf)
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n_supp = n

    n = _rows("part", sf)
    keys = np.arange(n, dtype=np.int64)
    adj, noun = rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2)})
    n_part = n

    n = _rows("orders", sf)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    n_ord = n

    n = _rows("lineitem", sf)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": np.round(rng.uniform(0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n)})

    # Events span January 2024 (30 days), in event_id order.
    n = _rows("events", sf)
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        # TIMESTAMP(MICROS) without UTC adjustment, as in the test tables
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, _rows("users", sf), n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = _rows("documents", sf)
    lens = rng.integers(10, 101, n)
    words = rng.choice(VOCAB, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for i, j in zip(dups, rng.integers(0, n, len(dups))):
        text[i] = text[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})

    n = _rows("embeddings", sf)
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return out


def version():
    """Short hash of this file: part of the inputs' directory name, so a
    change to the generator rebuilds the inputs and, with them, DuckDB's
    cached answers (which are keyed by that directory)."""
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:10]


def write(out_dir, seed, sf):
    """Write the tables into out_dir unless a complete set is already there."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir

