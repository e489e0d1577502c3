"""Seeded generator of the tables the ``topo_batch`` queries read.

Shapes and sizes follow the repository's sf0.01 fixtures: 10,000 events
over 150 users, 15,000 orders over 1,500 customers with ~4 line items
each, and 2,000 parts in 25 brands. Money is two-decimal, dates are
midnights, and event times are microsecond instants, so every query's
DuckDB oracle hashes equal to the Spark result. The same seed writes the
same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS, N_USERS = 10_000, 150
N_ORDERS, N_CUSTOMERS = 15_000, 1_500
N_PARTS, N_BRANDS = 2_000, 25

EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    gaps = rng.integers(1, 240_000_000, size=N_EVENTS)  # up to 4 min apart
    events = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": rng.integers(0, N_USERS, size=N_EVENTS, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=N_EVENTS)],
        "value": np.maximum(np.round(rng.exponential(50.0, size=N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
    })
    order_day = rng.integers(0, 3_500, size=N_ORDERS)
    orders = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, size=N_ORDERS, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=N_ORDERS)],
        "o_totalprice": _money(rng, 1_000, 500_000, N_ORDERS),
        "o_orderdate": _ts(EPOCH_1992_US + order_day * DAY_US),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), size=N_ORDERS)],
    })
    lines_per_order = rng.integers(1, 8, size=N_ORDERS)
    l_order = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines_per_order)
    n_lines = len(l_order)
    first = np.cumsum(lines_per_order) - lines_per_order
    l_number = (np.arange(n_lines) - np.repeat(first, lines_per_order) + 1).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, N_PARTS, size=n_lines, dtype=np.int64),
        "l_suppkey": rng.integers(0, 100, size=n_lines, dtype=np.int64),
        "l_linenumber": l_number,
        "l_quantity": rng.integers(1, 51, size=n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, n_lines),
        "l_discount": rng.integers(0, 11, size=n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_lines)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n_lines)],
        "l_shipdate": _ts(EPOCH_1992_US + (order_day[l_order] + rng.integers(1, 122, size=n_lines)) * DAY_US),
    })
    colours = np.array(["red", "blue", "small", "large", "green"])
    things = np.array(["widget", "bolt", "ring", "gear", "pipe"])
    part = pa.table({
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(colours[rng.integers(0, 5, N_PARTS)], things[rng.integers(0, 5, N_PARTS)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, N_BRANDS + 1, size=N_PARTS)],
        "p_type": np.array(["ECONOMY", "SMALL", "LARGE", "STANDARD"])[rng.integers(0, 4, size=N_PARTS)],
        "p_size": rng.integers(1, 51, size=N_PARTS).astype(np.int32),
        "p_retailprice": 900.0 + np.arange(N_PARTS) % 1000 / 10.0,
    })
    return {"events": events, "orders": orders, "lineitem": lineitem, "part": part}


def write(seed: int, out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    tbls = tables(seed)
    for name, t in tbls.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tbls)
