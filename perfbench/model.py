"""In-memory model of a keyed table: key -> row, updated by every mutation
the benchmark issues, and the reference every read is checked against."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa


def canon(values) -> tuple:
    """A row as a plain tuple: timezone-aware datetimes become naive UTC
    so that rows from Spark, Arrow and the model compare equal."""
    out = []
    for v in values:
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        out.append(v)
    return tuple(out)


def checksum(tbl: pa.Table) -> tuple[int, int]:
    """Order-insensitive ``(row count, sum of 64-bit row hashes mod 2**64)``
    of a table; timestamps are compared as naive UTC."""
    import pandas as pd

    cols = {}
    for name in tbl.column_names:
        c = tbl[name]
        if pa.types.is_timestamp(c.type) and c.type.tz is not None:
            c = c.cast(pa.timestamp(c.type.unit))
        cols[name] = c
    df = pa.table(cols).to_pandas()
    hashes = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return len(df), int(hashes.sum(dtype=np.uint64))


class KeyedModel:
    """Rows keyed on their first column; rows are stored whole (key
    included) as canonical tuples."""

    def __init__(self, columns: list[str]):
        self.columns = columns
        self.rows: dict[object, tuple] = {}

    @classmethod
    def from_columns(cls, cols: dict[str, object], dates: str) -> "KeyedModel":
        """Build from numpy columns; column ``dates`` holds day offsets
        that become naive midnight datetimes."""
        from perfbench.datagen import days_to_datetimes

        m = cls(list(cols))
        lists = [
            days_to_datetimes(arr) if name == dates else np.asarray(arr).tolist()
            for name, arr in cols.items()
        ]
        m.rows = {r[0]: r for r in zip(*lists)}
        return m

    @staticmethod
    def _batch_winners(rows: list[tuple]) -> dict[object, tuple]:
        """One row per key, as the store deduplicates a batch: the
        smallest row under its non-key columns wins."""
        win: dict[object, tuple] = {}
        for r in rows:
            if r[0] not in win or r[1:] < win[r[0]][1:]:
                win[r[0]] = r
        return win

    def upsert(self, rows: list[tuple]) -> None:
        self.rows.update(self._batch_winners(rows))

    def insert(self, rows: list[tuple]) -> None:
        """INSERT ignores keys already present."""
        for k, r in self._batch_winners(rows).items():
            self.rows.setdefault(k, r)

    def delete_range(self, lo, hi) -> int:
        gone = [k for k in self.rows if lo <= k < hi]
        for k in gone:
            del self.rows[k]
        return len(gone)

    def get(self, key) -> tuple | None:
        return self.rows.get(key)

    def to_arrow(self, schema: pa.Schema) -> pa.Table:
        return rows_to_arrow(list(self.rows.values()), schema)


def rows_to_arrow(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    """Row tuples in ``schema``'s column order as an Arrow table."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)}
    )
