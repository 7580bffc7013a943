"""Seeded star-schema tables for the dashboard workload.

Writes the six catalog tables the dashboard reads (``TABLES``) as one
parquet file each, with the column names and physical types of the
shipped test data, so the analytics plans and their DuckDB oracles
bind to them unchanged. The same seed always yields byte-identical
tables. Sizes are the sf0.01 shape (15k orders, ~60k line items).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "small", "new", "hot", "old", "big", "blue", "shiny"]
PART_NOUN = ["widget", "ring", "bolt", "anvil", "rod", "plate", "gear", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

TABLES = ("region", "nation", "customer", "part", "orders", "lineitem")
N_CUST, N_SUPP, N_PART, N_ORD = 1500, 100, 2000, 15000

#: order dates span 1995-01-01 .. 2001-08-01 (the shipped range)
DAY0 = np.datetime64("1995-01-01", "D")
N_DAYS = int((np.datetime64("2001-08-01", "D") - DAY0).astype(np.int64))


def _ts_us(days: np.ndarray) -> pa.Array:
    us = (DAY0 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet")
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table of ``TABLES`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUST)],
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), N_PART)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), N_PART)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
    })

    o_days = rng.integers(0, N_DAYS + 1, N_ORD)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORD)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORD), 2),
        "o_orderdate": _ts_us(o_days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORD)],
    })

    # 1..7 lines per order, four on average
    per_order = rng.integers(1, 8, N_ORD)
    l_order = np.repeat(np.arange(N_ORD), per_order)
    starts = np.cumsum(per_order) - per_order
    l_line = np.arange(len(l_order)) - np.repeat(starts, per_order) + 1
    n_li = len(l_order)
    flag_status = rng.integers(0, 6, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flag_status % 3],
        "l_linestatus": np.array(["F", "O"])[flag_status // 3],
        "l_shipdate": _ts_us(o_days[l_order] + rng.integers(1, 122, n_li)),
    })
