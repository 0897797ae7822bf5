"""Pure helpers for the benchmark: percentiles, failure share and the byte
accounting behind ``space_amp`` / ``write_amp``.

Nothing here imports Spark, so ``perfbench/tests`` can check it alone.
"""

from __future__ import annotations

import math
import os
import statistics
from pathlib import Path

# Tail percentiles the rule below may pick from, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule: a real sample,
    the smallest one with at least ``pct`` % of the samples at or below."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(len(ordered), pct) - 1]


def _rank(n: int, pct: float) -> int:
    # the epsilon keeps float error (99.9 / 100 * 10_000 = 9990.000000000002)
    # from bumping an exact rank up by one
    return max(1, math.ceil(pct / 100.0 * n - 1e-9))


def beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``pct``-th
    percentile."""
    return n - _rank(n, pct)


def highest_tail_pct(n: int) -> float | None:
    """The highest percentile of :data:`TAIL_LADDER` that leaves at least
    ten of ``n`` samples beyond it, or ``None`` when none does.
    The benchmark fixes each workload's tail percentile with this rule
    from the sample count a run of the configured length yields."""
    for pct in TAIL_LADDER:
        if beyond(n, pct) >= 10:
            return pct
    return None


def failed_frac(attempted: int, failed: int) -> float:
    """Failed or wrong ops as a share of attempted ops."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``, the exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(q2) if q2 else math.inf


# ----------------------------------------------------------- byte accounting
def dir_bytes(root: Path) -> int:
    """Bytes of every regular file under ``root`` (0 if it is missing)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.lstat(os.path.join(dirpath, f)).st_size
    return total


def file_inodes(root: Path) -> dict[tuple[int, int, int], tuple[str, int]]:
    """``(st_dev, st_ino, st_mtime_ns) -> (relative path, size)`` for every
    regular file under ``root``.  A rename keeps inode and mtime, so
    comparing two snapshots separates files a write created from files it
    only moved (the table store archives displaced data files by renaming
    them); the mtime tells a new file from an old inode number reused."""
    out: dict[tuple[int, int, int], tuple[str, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            key = (st.st_dev, st.st_ino, st.st_mtime_ns)
            out[key] = (os.path.relpath(p, root), st.st_size)
    return out


def created_files(
    before: dict[tuple[int, int, int], tuple[str, int]],
    after: dict[tuple[int, int, int], tuple[str, int]],
) -> list[tuple[str, int]]:
    """Files present in ``after`` whose inode ``before`` did not have."""
    return [v for k, v in after.items() if k not in before]


def written_dirs(files: list[tuple[str, int]]) -> set[str]:
    """The bucket directories (path components starting ``kb=``) under
    which the given files were written."""
    dirs = set()
    for rel, _size in files:
        parts = Path(rel).parts
        for i, part in enumerate(parts):
            if part.startswith("kb="):
                dirs.add("/".join(parts[: i + 1]))
                break
    return dirs
