"""Seeded TPC-H-shaped parquet tables for the benchmark.

The engine's TPC-H texts are written against a reduced star schema
(region, nation, customer, supplier, part, orders, lineitem with a subset
of the TPC-H columns). This module writes those seven tables with the same
column names, physical types and value domains, drawn uniformly from a
numpy generator seeded by the caller, so the same (seed, scale) pair always
yields byte-identical files.

Row counts follow TPC-H: 1.5M orders, 150k customers, 200k parts, 10k
suppliers and 6M lineitems per unit of scale.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]

# day 0 of the order/ship calendars, in days since the epoch
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404   # last order date 2001-08-01
SHIP_EPOCH = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499    # last ship date 2001-11-04


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5, "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], pa.string())


def _days(rng, epoch, span: int, n: int) -> pa.Array:
    d = epoch + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All seven tables as Arrow tables (deterministic in sf and seed)."""
    rng = np.random.default_rng(np.random.PCG64([seed, int(sf * 1e6)]))
    n = table_sizes(sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, npart)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, npart)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, ORDER_EPOCH, ORDER_DAYS, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, SHIP_EPOCH, SHIP_DAYS, nl),
    })
    return out


def write(directory: str, sf: float, seed: int) -> str:
    """Write the tables as ``<directory>/<table>.parquet``; returns the
    directory."""
    os.makedirs(directory, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return directory
