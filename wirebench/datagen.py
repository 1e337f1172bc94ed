"""Seeded parquet inputs for the wire benchmark.

Every table is a pure function of ``(seed, sizes)``: the same seed writes
the same rows, so the server and the DuckDB oracle read identical files.
Values stay inside ranges both engines render the same way (two-decimal
money, microsecond timestamps, float arrays of exactly representable
halves).
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEGMENTS = ["AUTO", "BUILD", "FURN", "HOUSE", "MACH", "RETAIL", "SPORT", "TRAVEL"]
STATUSES = ["F", "O", "P"]
_DAY0 = dt.date(2020, 1, 1)
_TS0 = dt.datetime(2020, 1, 1)
_EPOCH_DAY0 = (_DAY0 - dt.date(1970, 1, 1)).days
_EPOCH_TS0_US = (_TS0 - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
_CENT = pa.scalar(decimal.Decimal("0.01"), pa.decimal128(3, 2))


@dataclass(frozen=True)
class Sizes:
    orders: int = 20_000
    customers: int = 2_000  # range of wb_orders.o_cust
    items: int = 110_000


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    off = rng.integers(0, span, n) + _EPOCH_DAY0
    return pa.array(off.astype(np.int32)).cast(pa.date32())


def _money(cents: np.ndarray) -> pa.Array:
    """Whole cents → DECIMAL(12,2) without a Python object per value."""
    wide = pc.multiply(pa.array(cents.astype(np.int64)).cast(pa.decimal128(19, 0)), _CENT)
    return wide.cast(pa.decimal128(12, 2))


def orders(rng: np.random.Generator, n: int, ncust: int) -> pa.Table:
    cents = rng.integers(100, 5_000_000, n)
    return pa.table({
        "o_id": np.arange(1, n + 1, dtype=np.int32),
        "o_cust": rng.integers(1, ncust + 1, n).astype(np.int32),
        "o_date": _days(rng, n, 1500),
        "o_status": [STATUSES[i] for i in rng.integers(0, len(STATUSES), n)],
        "o_total": _money(cents),
    })


def items(rng: np.random.Generator, n: int) -> pa.Table:
    """The wide extract table: one column per wire type family."""
    ids = np.arange(1, n + 1, dtype=np.int32)
    vec = (rng.integers(-64, 64, (n, 4)) / 2.0).astype(np.float32)
    secs = rng.integers(0, 4 * 365 * 86_400, n)
    micros = rng.integers(0, 1_000_000, n)
    ts = secs * 1_000_000 + micros + _EPOCH_TS0_US
    nulls = rng.random(n) < 0.05
    names = [
        None if z else f"item-{int(k):07d}-{SEGMENTS[int(k) % 8].lower()}"
        for z, k in zip(nulls, rng.integers(0, 10_000_000, n))
    ]
    return pa.table({
        "i_id": ids,
        "i_big": rng.integers(-(2**52), 2**52, n, dtype=np.int64),
        "i_dbl": rng.integers(-1_000_000, 1_000_000, n) / 8.0,
        "i_dec": _money(rng.integers(-10_000_000, 10_000_000, n)),
        "i_name": pa.array(names, pa.string()),
        "i_day": _days(rng, n, 3000),
        "i_ts": pa.array(ts).cast(pa.timestamp("us")),
        "i_flag": pa.array(rng.random(n) < 0.5),
        "i_vec": pa.array(list(vec), pa.list_(pa.float32())),
    })


def generate(out_dir: str, seed: int, names, sizes: Sizes) -> dict[str, str]:
    """Write each named table as ``<out_dir>/<name>.parquet``; returns
    name → path. Each table draws from its own stream of the seed, so a
    table's rows do not depend on which other tables are generated."""
    makers = {
        "wb_orders": lambda r: orders(r, sizes.orders, sizes.customers),
        "wb_items": lambda r: items(r, sizes.items),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names:
        rng = np.random.default_rng([seed, list(makers).index(name)])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(makers[name](rng), path)
        paths[name] = path
    return paths
