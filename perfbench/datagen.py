"""Seeded generator for the benchmark's input table.

Writes ``lineitem`` as one parquet file, with the same column names and
physical types as the repository's synthetic test table. Value ranges
follow that table: uniform keys, two-decimal money columns and
day-granular timestamps between 1995 and 2001.

``(l_orderkey, l_linenumber)`` is unique by construction, so every
window ordering that ends in those keys is total and the Spark and DuckDB
answers cannot differ by tie order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SHIP_EPOCH = np.datetime64("1995-01-02", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, epoch: np.datetime64, span: int, n: int) -> np.ndarray:
    return epoch + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def lineitem(out_dir: str, seed: int, sf: float) -> int:
    """Write ``lineitem.parquet`` at scale ``sf`` (6M rows per unit) under
    ``out_dir``; returns its row count."""
    rng = np.random.default_rng(seed)
    n = int(6_000_000 * sf)
    n_orders = int(1_500_000 * sf)
    orderkey = rng.integers(0, n_orders, n)
    # linenumber = 1 + rank of the row within its order: unique per order
    order = np.argsort(orderkey, kind="stable")
    sorted_keys = orderkey[order]
    starts = np.flatnonzero(np.r_[True, sorted_keys[1:] != sorted_keys[:-1]])
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    linenumber = np.empty(n, dtype=np.int32)
    linenumber[order] = (np.arange(n) - run_start + 1).astype(np.int32)
    table = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, int(200_000 * sf), n),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, _SHIP_EPOCH, 2499, n),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"), row_group_size=len(table))
    return len(table)
