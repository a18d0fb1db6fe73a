"""Seeded input generators: TPC-H-shaped tables and R-MAT edge lists.

Everything here is numpy + pyarrow only, so inputs are built without the
engine and are identical for identical arguments.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = datetime(1995, 1, 1)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The supplier, customer, orders and lineitem tables with the column
    names, types and row counts of the project's test data at scale factor
    ``sf`` (suppliers 10000*sf, customers 150000*sf, orders 1500000*sf,
    about four lines per order), keyed 0..n-1."""
    rng = np.random.default_rng(seed)
    n_supp = int(10_000 * sf)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_part = int(200_000 * sf)  # l_partkey range
    i32 = pa.int32()

    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }
    )
    o_date_days = rng.integers(0, 2404, n_ord)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [
                "FOP"[k] for k in rng.integers(0, 3, n_ord)
            ],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": pa.array(
                np.datetime64(EPOCH, "us")
                + o_date_days.astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": [
                PRIORITIES[k] for k in rng.integers(0, 5, n_ord)
            ],
        }
    )
    lines_per = np.maximum(1, rng.poisson(4.0, n_ord))
    n_line = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = (
        np.datetime64(EPOCH, "us")
        + (np.repeat(o_date_days, lines_per) + rng.integers(1, 122, n_line))
        .astype("timedelta64[D]")
    )
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": ["ANR"[k] for k in rng.integers(0, 3, n_line)],
            "l_linestatus": ["FO"[k] for k in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    return {
        "supplier": supplier,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }


def rmat_edges(
    scale: int,
    n_samples: int,
    seed: int,
    a: float,
    b: float,
    c: float,
) -> np.ndarray:
    """Distinct, self-loop-free R-MAT edges as an (m, 2) int64 array.

    Each sample descends ``scale`` quadrant levels with probabilities
    (a, b, c, 1-a-b-c); vertex labels are then permuted so the hubs are
    spread over the id range, as in Graph500."""
    rng = np.random.default_rng(seed)
    src = np.zeros(n_samples, np.int64)
    dst = np.zeros(n_samples, np.int64)
    for level in range(scale):
        r = rng.random(n_samples)
        src |= (r >= a + b).astype(np.int64) << level
        dst |= (((r >= a) & (r < a + b)) | (r >= a + b + c)).astype(
            np.int64
        ) << level
    perm = rng.permutation(1 << scale)
    src, dst = perm[src], perm[dst]
    keep = src != dst
    key = np.unique(src[keep] << scale | dst[keep])
    return np.stack([key >> scale, key & ((1 << scale) - 1)], axis=1)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def rmat_tables(scale: int, edges: np.ndarray) -> dict[str, pa.Table]:
    """Vertex table over the full id range (isolated ids included) and
    the edge table, both with int64 keys."""
    return {
        "vertices": pa.table({"id": np.arange(1 << scale, dtype=np.int64)}),
        "edges": pa.table({"src": edges[:, 0], "dst": edges[:, 1]}),
    }

