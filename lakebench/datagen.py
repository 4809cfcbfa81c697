"""Seeded generator for the benchmark's input tables.

Writes the star schema the registered queries read (``region nation
customer supplier part orders lineitem``) and the ``events`` table the
reference queries read, one parquet file per table with one row group, in
the same column names and physical types as the repository's fixture data:
int32/int64 keys, 2-decimal doubles, ``timestamp[us]`` without a timezone.
Every column is an independent uniform draw from a ``numpy`` generator
seeded by ``--seed``, so the same seed writes byte-identical tables.

Row counts follow the fixture scale factors: ``lineitem`` has 6,000,000 x sf
rows and ``events`` 1,000,000 x sf (10,000 rows at sf0.01).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals, so decimal sums are exact."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng: np.random.Generator, epoch: np.datetime64, span_days: int, n: int) -> np.ndarray:
    return epoch + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def _write(out_dir: str, name: str, columns: dict) -> None:
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _scaled(base: int, sf: float) -> int:
    return max(1, round(base * sf))


def write_tpch(out_dir: str, sf: float, seed: int) -> None:
    """The seven TPC-H-shaped tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = _scaled(150_000, sf), _scaled(10_000, sf)
    n_part, n_ord, n_line = _scaled(200_000, sf), _scaled(1_500_000, sf), _scaled(6_000_000, sf)

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
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, _ORDER_EPOCH, 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, _ORDER_EPOCH + np.timedelta64(1, "D"), 2499, n_line),
    })


def write_events(out_dir: str, sf: float, seed: int) -> None:
    """The ``events`` table: 1,000,000 x sf rows over 30 days of January 2024."""
    rng = np.random.default_rng([seed, 2])
    n = _scaled(1_000_000, sf)
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _EVENT_EPOCH + rng.integers(0, 30 * _US_PER_DAY, n) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, 1500, n, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
