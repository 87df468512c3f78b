"""Benchmark inputs, generated with numpy and pyarrow only.

The engine under test never touches input generation: a change to the
Spark configuration cannot change the files, their layout or their row
groups. Every table is one parquet file with one row group, the layout
of the fixture tables the package is developed against
(FIXTURES.md), with the same schemas and value domains at sf0.1 size.

The table set is fixed (seed ``TABLE_SEED``) and cached per generator
version, so every run of every workload reads byte-identical files.
The workload seed varies only what a workload does with them: op order,
the stream's out-of-order permutation, its late rows and its burst.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400


def _days(start: dt.date, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """Build every table in memory; deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": _keyed_names("Customer", N_CUSTOMER),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER))})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": _keyed_names("Supplier", N_SUPPLIER),
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": pa.array(rng.choice(names, N_PART)),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PART)),
        "p_size": rng.integers(1, 51, N_PART, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": _money(rng, 1000, 500_000, N_ORDERS),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2404, rng, N_ORDERS),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS))})
    flags = rng.integers(0, 6, N_LINEITEM)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM,
                                  dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags // 2]),
        "l_linestatus": pa.array(np.array(["F", "O"])[flags % 2]),
        "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, N_LINEITEM)})
    t["events"] = make_events(rng)
    t["documents"] = make_documents(rng)
    emb = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMBEDDINGS, dtype=np.int32)})
    return t


def make_events(rng) -> pa.Table:
    """Event-time-ordered events: ``ts`` ascends with ``event_id``."""
    offs = np.sort(rng.uniform(0, EVENTS_SPAN_S, N_EVENTS))
    ts = (np.datetime64(EVENTS_START, "us")
          + (offs * 1e6).astype("timedelta64[us]"))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, N_EVENTS, dtype=np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, N_EVENTS)])})


def make_documents(rng) -> pa.Table:
    """Random-word documents; 5% are an earlier document plus " dup"."""
    lens = rng.integers(10, 101, N_DOCUMENTS)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    n_dup = N_DOCUMENTS // 20
    dup_ids = rng.choice(np.arange(N_DOCUMENTS // 10, N_DOCUMENTS), n_dup,
                         replace=False)
    # a few copies share a source document, so some copies are exact
    srcs = rng.integers(0, N_DOCUMENTS // 10, n_dup)
    srcs[: n_dup // 30] = srcs[n_dup // 30: 2 * (n_dup // 30)]
    for d, s in zip(dup_ids, srcs):
        texts[d] = texts[s] + " dup"
    return pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, N_DOCUMENTS, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def generator_version() -> str:
    """Changes whenever this file changes, so stale caches are never
    read by a newer generator."""
    with open(__file__, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:12]


def ensure_tables(cache_root: str) -> str:
    """Write the table set once under ``cache_root``; return its dir."""
    out = os.path.join(cache_root, f"tables-{generator_version()}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=len(table) or 1)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
