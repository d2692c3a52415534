"""Seeded TPC-H-shaped inputs (``lineitem``, ``orders``).

The benchmark makes its own inputs so that one seed always gives the same
rows and nothing outside the checkout is read. Column names and types
follow the TPC-H tables the engine's own tests use; value distributions
follow dbgen's ranges (keys, quantities, discounts, taxes, flags, seven
years of ship dates).
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from typing import Any, Iterable, Sequence, Tuple

import numpy as np
import pyarrow as pa

FIRST_DAY = np.datetime64("1992-01-01")
N_DAYS = 2557  # 1992-01-01 .. 1998-12-31
STATUS_CUTOFF = np.datetime64("1995-06-17")


def lineitem(rng: np.random.Generator, n: int, n_supp: int, n_part: int) -> pa.Table:
    """``n`` lineitem rows; ``(l_orderkey, l_linenumber)`` is unique."""
    lines = rng.integers(1, 8, size=n // 2 + 8)
    orders = int(np.searchsorted(np.cumsum(lines), n)) + 1
    lines = lines[:orders]
    orderkey = np.repeat(np.arange(1, orders + 1, dtype=np.int64), lines)[:n]
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(lines.sum()) - np.repeat(starts, lines) + 1).astype(np.int32)[:n]
    partkey = rng.integers(1, n_part + 1, size=n)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(quantity * (900.0 + (partkey % 1000) + rng.integers(0, 100, size=n) / 100.0), 2)
    ship = FIRST_DAY + rng.integers(0, N_DAYS, size=n).astype("timedelta64[D]")
    returned = np.where(rng.random(n) < 0.5, "R", "A")
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": partkey.astype(np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, size=n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": np.where(ship <= STATUS_CUTOFF, returned, "N"),
            "l_linestatus": np.where(ship > STATUS_CUTOFF, "O", "F"),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


ORDER_STATUS = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """One orders row per key in ``keys``."""
    n = len(keys)
    day = FIRST_DAY + rng.integers(0, N_DAYS, size=n).astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": rng.integers(1, 15001, size=n).astype(np.int64),
            "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, size=n)],
            "o_totalprice": np.round(rng.uniform(900.0, 500000.0, size=n), 2),
            "o_orderdate": pa.array(day.astype("datetime64[us]")),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, size=n)],
        }
    )


# -- order-independent result fingerprints ----------------------------------


def _canon(v: Any) -> Any:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def fingerprint(rows: Iterable[Sequence[Any]]) -> Tuple[int, int]:
    """(row count, order-independent 64-bit hash) of exact row values."""
    count = 0
    acc = 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(_canon(v) for v in row)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "little")) & 0xFFFFFFFFFFFFFFFF
        count += 1
    return count, acc


def rows_close(got: Sequence[Sequence[Any]], want: Sequence[Sequence[Any]], rel: float = 1e-9) -> bool:
    """Aggregate rows equal up to float summation order; rows are matched
    after sorting on their non-float columns."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple(_canon(v) for v in row if not isinstance(v, float))

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                numbers = isinstance(a, (int, float)) and isinstance(b, (int, float))
                if not numbers or not math.isclose(a, b, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif _canon(a) != _canon(b):
                return False
    return True
