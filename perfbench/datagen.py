"""Seeded synthetic inputs for the benchmark.

Writes the star-schema tables the registry queries read (one parquet file
per table, the layout ``session.load_table`` expects) with the same column
names, types and value domains as the project's fixture data. Every table
is drawn from ``numpy.random.default_rng(seed)`` streams, so one seed
always gives byte-identical files and a different seed gives a different
row order and different values at the same sizes.

``scale`` multiplies the fact-table row counts: 1.0 is sf0.1 (lineitem
600k rows, orders 150k, events 100k, documents 5k, embeddings 2k);
0.01 gives sf0.001-sized tables for the self-test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(rng, n):
    keys = np.arange(25)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def _customer(rng, n):
    keys = rng.permutation(n)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def _supplier(rng, n):
    keys = rng.permutation(n)
    return pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, n):
    keys = rng.permutation(n)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    return pa.table({
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })


def _orders(rng, n):
    days = rng.integers(0, 2405, n)
    return pa.table({
        "o_orderkey": rng.permutation(n),
        "o_custkey": rng.integers(0, ROWS["customer"] * n // ROWS["orders"], n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + days * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _lineitem(rng, n):
    n_orders = ROWS["orders"] * n // ROWS["lineitem"]
    n_parts = max(ROWS["part"] * n // ROWS["lineitem"], 1)
    n_supp = max(ROWS["supplier"] * n // ROWS["lineitem"], 1)
    days = rng.integers(1, 2499, n)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995 + days * _DAY_US),
    })


def _events(rng, n):
    # distinct, increasing timestamps: event_id order is time order
    gaps = rng.integers(1, 2 * 30 * _DAY_US // n, n)
    ts = _EPOCH_2024 + np.cumsum(gaps)
    n_users = max(1500 * n // ROWS["events"], 10)
    return pa.table({
        "event_id": np.arange(n),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n):
    words = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # one document in twenty repeats an earlier one plus a marker token,
    # so near-duplicate structure exists at every scale
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, k=10):
    labels = rng.integers(0, k, n)
    centers = rng.normal(0.0, 1.0, (k, dim))
    vecs = centers[labels] * 0.07 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n),
        "embedding": pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype=np.int32), flat),
        "label": pa.array(labels, pa.int32()),
    })


_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}
TABLES = tuple(_MAKERS)


def make_table(name: str, seed: int, scale: float = 1.0) -> pa.Table:
    """Build one table from its own stream: changing one table's generator
    never changes another's rows."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = max(int(ROWS.get(name, 0) * scale), 10)
    return _MAKERS[name](rng, n)


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write every table as ``out_dir/<name>.parquet`` (the oracle registers
    all of them, whichever a workload reads)."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(make_table(name, seed, scale), os.path.join(out_dir, f"{name}.parquet"))
