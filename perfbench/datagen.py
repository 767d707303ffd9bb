"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-style ``nation``, ``customer``, ``orders`` and
``lineitem`` tables at scale factor 0.02 (120k lineitem rows) and a
``documents`` corpus, with the same column names and types as the
repository's test data. Every table is one parquet file holding ONE row
group, the layout the engine is served from in practice. The same seed
always yields byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 30_000
N_LINEITEM = 120_000
N_CUSTOMER = 3_000
N_SUPPLIER = 200
N_PART = 4_000
N_DOCS = 1_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_WORDS = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po"]


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(table.num_rows, 1))


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32 = pa.int32()

    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[
            rng.integers(0, 5, N_CUSTOMER)]})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, N_ORDERS, 850.0, 450_000.0),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, N_ORDERS)]})
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, N_LINEITEM, 900, 2100),
                                    2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04")})
    texts = [" ".join(np.array(_WORDS)[rng.integers(0, 10, 20)])
             for _ in range(N_DOCS)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return {"nation": 25, "customer": N_CUSTOMER, "orders": N_ORDERS,
            "lineitem": N_LINEITEM, "documents": N_DOCS}
