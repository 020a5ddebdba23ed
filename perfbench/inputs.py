"""Seeded input generation. Every table is built with numpy from the
run's seed alone, so one seed always yields the same rows and nothing
outside the checkout is read. Shapes follow the TPC-H-style `lineitem`
and `orders` tables and the `events` stream table the engine's lanes use.

Money columns hold whole cents divided by 100, so the correctness gate
can compare exact integer sums (round(x * 100)) from any read path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O"])
ORDER_STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

# lineitem ships over one year: month(l_shipdate) gives 12 partitions
SHIP_START = np.datetime64("1998-01-01T00:00:00", "us")
SHIP_DAYS = 365
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
US_PER_DAY = 86_400_000_000


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, SHIP_DAYS, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(FLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(STATUSES[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(SHIP_START + days * US_PER_DAY, pa.timestamp("us")),
    })


def orders_rows(rng: np.random.Generator, keys: np.ndarray) -> dict[str, np.ndarray]:
    """Column arrays for orders with the given keys (fresh values)."""
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": ORDER_STATUSES[rng.integers(0, 3, n)],
        "o_totalprice_cents": rng.integers(100_000, 50_000_000, n),
        "o_orderdate": rng.integers(0, 7 * 365, n),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    }


def orders_table(cols: dict[str, np.ndarray], extra: dict | None = None) -> pa.Table:
    """Arrow table in the `orders` schema from orders_rows() columns."""
    start = np.datetime64("1992-01-01T00:00:00", "us")
    t = {
        "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(cols["o_orderstatus"]),
        "o_totalprice": pa.array(cols["o_totalprice_cents"] / 100.0),
        "o_orderdate": pa.array(start + cols["o_orderdate"] * US_PER_DAY,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(cols["o_orderpriority"]),
    }
    for k, v in (extra or {}).items():
        t[k] = v
    return pa.table(t)


def events_batch(rng: np.random.Generator, first_id: int, n: int,
                 day: int, users: int) -> pa.Table:
    """One micro-batch of `events`, all stamped within day `day`."""
    ts = EVENTS_START + day * US_PER_DAY + np.sort(rng.integers(0, US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(rng.integers(0, 100_000, n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
