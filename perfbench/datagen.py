"""Seeded generator of the benchmark's input tables.

Produces sf0.1-shaped ``customer`` (15 k rows), ``orders`` (150 k) and
``lineitem`` (600 k) with the column names, types and value ranges of the
repository's TPC-H-style fixtures, so the registry's report queries and
their DuckDB oracles run on them unchanged.  The same seed gives
byte-identical tables.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_LINEITEM = 600_000

_EPOCH = np.datetime64("1992-01-01", "D")
_DAYS = 3_500  # orders and shipments span 1992-01-01 .. 2001-07-29
# zone-less timestamps, as in the fixtures (Spark reads them as
# TIMESTAMP_NTZ; the keyed table casts them to its TIMESTAMP column)
_TS = pa.timestamp("us")

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", _TS),
        ("o_orderpriority", pa.string()),
    ]
)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"), type=_TS)


def order_columns(rng: np.random.Generator, keys: np.ndarray) -> dict[str, object]:
    """Random non-key ``orders`` values for ``keys`` as numpy columns
    (dates as day offsets from 1992-01-01)."""
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, n, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, len(STATUSES), n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": rng.integers(0, _DAYS, n),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n)],
    }


def orders_table(cols: dict[str, object]) -> pa.Table:
    return pa.table(
        {
            **{k: v for k, v in cols.items() if k != "o_orderdate"},
            "o_orderdate": _days_to_ts(cols["o_orderdate"]),
        }
    ).select(ORDERS_SCHEMA.names).cast(ORDERS_SCHEMA)


def days_to_datetimes(days) -> list:
    """Day offsets -> naive UTC midnight ``datetime``s (what a Spark
    ``collect`` returns for the column under a UTC session and process)."""
    d = np.asarray(days).astype("timedelta64[D]")
    return (_EPOCH + d).astype("datetime64[us]").astype(object).tolist()


def orders_columns(seed: int, n: int = N_ORDERS) -> dict[str, object]:
    """The seed's ``orders`` table (keys ``0 .. n-1``) as numpy columns."""
    return order_columns(np.random.default_rng([seed, 1]), np.arange(n))


def write_tpch(out_dir: Path, seed: int) -> None:
    """Write ``customer``/``orders``/``lineitem`` Parquet under ``out_dir``
    as ``<name>.parquet`` (the layout ``tables.load_table`` reads)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    cust = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), N_CUSTOMER)],
        }
    )
    n = N_LINEITEM
    line = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, n, dtype=np.int64),
            "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days_to_ts(rng.integers(0, _DAYS + 120, n)),
        }
    )
    orders = orders_table(orders_columns(seed))
    for name, tbl in (("customer", cust), ("orders", orders), ("lineitem", line)):
        pq.write_table(tbl, out_dir / f"{name}.parquet")


def write_rows_once(tbl: pa.Table, path: Path) -> int:
    """Write ``tbl`` as one Parquet file and return its size: the
    reference footprint ``space_amp`` and ``write_amp`` divide by."""
    pq.write_table(tbl, path)
    return path.stat().st_size
