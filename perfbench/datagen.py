"""Seeded inputs for the benchmark.

`tables(dir)` writes the ten star-schema tables the gate queries read
(region nation customer supplier part orders lineitem events documents
embeddings), one parquet file each, with the column types and value shapes
the gates and their DuckDB oracles expect: 15,000 orders, 60,000 line
items, 10,000 events, 500 documents and 500 embeddings.

`etl_slices(dir, seed, workbooks, n_orders, prefix)` draws orders and
their line items and splits them across workbooks: the seed decides which
workbook each order (and with it every line of that order) goes to. Each
slice is a pair of parquet files the JVM turns into one `.xlsx` workbook.
Dates are ISO strings there, as a spreadsheet user would type them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])

# the rows themselves are fixed; a run's seed only decides how they are
# split across workbooks and in which order the gates run
BASE_SEED = 20240101
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _orders(rng, n, customers):
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, n).astype(np.int64),
        "o_orderstatus": STATUS[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": EPOCH_1995 + days * DAY_US,
        "o_orderpriority": PRIORITY[rng.integers(0, 5, n)],
    }


def _lineitem(rng, orderkeys):
    n = len(orderkeys)
    days = rng.integers(1, 2499, n)  # 1995-01-02 .. 2001-11-04
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": EPOCH_1995 + days * DAY_US,
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    # one document in twenty is a lightly edited copy of another, marked
    # with a trailing "dup" the way near-duplicate corpora are planted
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = texts[int(rng.integers(0, n))].split()
        if len(src) > 4:
            src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(src + ["dup"])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n, dims=64):
    v = rng.standard_normal((n, dims)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _events(rng, n):
    gaps = rng.exponential(259.0, n)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us,
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def tables(out):
    """Write the ten gate tables under `out`; returns their row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    n_orders = 15000
    n_cust = 1500
    _write(f"{out}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(100, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(100)],
        "s_nationkey": rng.integers(0, 25, 100).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, 100)})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(2000, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (2000, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, 2000)],
        "p_type": PTYPES[rng.integers(0, 6, 2000)],
        "p_size": rng.integers(1, 51, 2000).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(2000) % 1000) * 0.1, 2)})
    orders = _orders(rng, n_orders, n_cust)
    _write(f"{out}/orders.parquet", orders)
    lines = _lineitem(rng, rng.integers(0, n_orders, 4 * n_orders))
    _write(f"{out}/lineitem.parquet", lines)
    _write(f"{out}/events.parquet", _events(rng, 10000))
    _write(f"{out}/documents.parquet", _documents(rng, 500))
    pq.write_table(_embeddings(rng, 500), f"{out}/embeddings.parquet")
    return {"orders": n_orders, "lineitem": 4 * n_orders}


def etl_slices(out, seed, workbooks, n_orders, prefix):
    """Split orders and their line items across `workbooks` slices; the
    seed decides which workbook each order goes to.

    Returns [(workbook name, {sheet: parquet path}, {sheet: rows})].
    """
    rng = np.random.default_rng(BASE_SEED)
    orders = _orders(rng, n_orders, n_orders // 10)
    lines = _lineitem(rng, rng.integers(0, n_orders, 4 * n_orders))
    orders["o_orderdate"] = np.datetime_as_string(orders["o_orderdate"], unit="D")
    lines["l_shipdate"] = np.datetime_as_string(lines["l_shipdate"], unit="D")
    home = np.random.default_rng(seed).integers(0, workbooks, n_orders)
    line_home = home[lines["l_orderkey"]]
    slices = []
    for w in range(workbooks):
        name = f"wb{w:02d}_{prefix}"
        d = f"{out}/{name}"
        os.makedirs(d, exist_ok=True)
        o_mask = home == w
        l_mask = line_home == w
        _write(f"{d}/orders.parquet", {k: v[o_mask] for k, v in orders.items()})
        _write(f"{d}/lineitem.parquet", {k: v[l_mask] for k, v in lines.items()})
        slices.append((name,
                       {"orders": f"{d}/orders.parquet", "lineitem": f"{d}/lineitem.parquet"},
                       {"orders": int(o_mask.sum()), "lineitem": int(l_mask.sum())}))
    return slices
