"""Seeded inputs for the benchmark workloads.

The webpages table comes from ``pq_engine.datagen``. ``lineitem`` and
``events`` are made here in the shape of the sf0.1 test tables: the same
columns, types and row counts, and per column the same value range,
distinct count, order and null count (none). README.md lists both side by
side. Every input is a function of the seed alone, and nothing is read from
outside the checkout.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LINEITEM_ROWS = 600_000
EVENTS_ROWS = 100_000
_DAY_US = 86_400_000_000
_SHIP_FIRST_US = 789_004_800_000_000  # 1995-01-02
_SHIP_DAYS = 2_499  # through 2001-11-04
_EVENTS_FIRST_US = 1_704_067_200_000_000  # 2024-01-01
_EVENTS_DAYS = 30


def lineitem(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    """Independent uniform columns, unsorted, as in sf0.1: order keys are
    drawn with replacement from 150,000, so about 147,000 are distinct and
    a key occurs about 4 times."""
    rng = np.random.default_rng([seed, 1])
    ship_day = rng.integers(0, _SHIP_DAYS, n)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, 150_000, n, dtype=np.int64),
            "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                (_SHIP_FIRST_US + ship_day * _DAY_US).astype("datetime64[us]")
            ),
        }
    )


EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events(seed: int, n: int = EVENTS_ROWS) -> pa.Table:
    """Event stream sorted by ``ts`` (the range-pushdown column): uniform
    over 30 days, so the gaps are near-exponential with a ~26 s mean."""
    rng = np.random.default_rng([seed, 2])
    ts = np.sort(rng.integers(_EVENTS_FIRST_US, _EVENTS_FIRST_US + _EVENTS_DAYS * _DAY_US, n))
    props = pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, 1_500, n, dtype=np.int64),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": props,
        }
    )


def write_single_row_group(tbl: pa.Table, path: str) -> None:
    """One row group per file, like the sf0.1 test tables: encode then
    takes the oversized-row-group sub-split path."""
    pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1))


def plain_bytes(tbl: pa.Table) -> int:
    """PLAIN size of the non-null values (4-byte length prefix per
    BYTE_ARRAY value): the engine's ``raw_bytes`` base, computed here
    without the engine."""
    total = 0
    for col in tbl.columns:
        n = len(col) - col.null_count
        t = col.type
        if pa.types.is_binary(t) or pa.types.is_string(t):
            total += int((pc.sum(pc.binary_length(col)).as_py() or 0)) + 4 * n
        elif pa.types.is_boolean(t):
            total += (n + 7) // 8
        else:
            total += n * (t.bit_width // 8)
    return total
