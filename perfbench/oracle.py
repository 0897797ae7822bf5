"""Result comparison: registry queries against their DuckDB ``oracle`` SQL
over the same Parquet files, and store SELECTs against the model."""

from __future__ import annotations

import math
from pathlib import Path

from perfbench.model import canon

# Spark and DuckDB sum doubles in different orders, so unrounded results
# may differ in their last bits.  The report queries round after
# aggregating, so their results compare equal unless a sum lands within
# that error of a rounding boundary; a looser tolerance would hide real
# defects in 4-decimal averages.
REL_TOL = 1e-9
ABS_TOL = 1e-12


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, "") if v is None else (1, "") if isinstance(v, float) else (2, repr(v))
        for v in row
    )


def same_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """``None`` when the row multisets match (floats within tolerance),
    else a one-line reason.  Rows are aligned by their non-float fields,
    so a float column must not be the only thing telling rows apart."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    got = sorted((canon(r) for r in got), key=_sort_key)
    want = sorted((canon(r) for r in want), key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row width {len(g)}, expected {len(w)}"
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                    float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL
                ):
                    return f"row {g!r}, expected {w!r}"
            elif a != b:
                return f"row {g!r}, expected {w!r}"
    return None


def duckdb_results(data_dir: Path, sqls: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """Run each oracle SQL over ``<data_dir>/<table>.parquet`` views."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for p in sorted(data_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for key, text in sqls.items():
            rel = con.sql(text)
            out[key] = (list(rel.columns), [tuple(r) for r in rel.fetchall()])
        return out
    finally:
        con.close()
