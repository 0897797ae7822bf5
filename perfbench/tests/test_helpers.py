"""Self-tests for the benchmark's helpers; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import pytest

from perfbench import stats, trace
from perfbench.model import KeyedModel, canon, checksum
from perfbench.oracle import same_rows


# ------------------------------------------------------------ percentiles
def test_nearest_rank_is_a_sample():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(xs, 50) == 3.0
    assert stats.nearest_rank(xs, 90) == 5.0
    assert stats.nearest_rank(xs, 1) == 1.0
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)


def test_beyond_counts_samples_past_the_rank():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(100, 95) == 5
    assert stats.beyond(1000, 99) == 10
    assert stats.beyond(40, 75) == 10


def test_tail_rule_picks_highest_percentile_with_ten_beyond():
    assert stats.highest_tail_pct(100) == 90.0
    assert stats.highest_tail_pct(99) == 80.0  # p90 leaves only 9 beyond
    assert stats.highest_tail_pct(1000) == 99.0
    assert stats.highest_tail_pct(10_000) == 99.9
    assert stats.highest_tail_pct(40) == 75.0
    assert stats.highest_tail_pct(39) is None
    for n in (40, 57, 100, 250, 1000, 12_345):
        p = stats.highest_tail_pct(n)
        assert stats.beyond(n, p) >= 10
        higher = [q for q in stats.TAIL_LADDER if q > p]
        assert all(stats.beyond(n, q) < 10 for q in higher)


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    xs = [float(x) for x in range(1, 11)]
    q1, q2, q3 = (2.75, 5.5, 8.25)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


# ----------------------------------------------------------- failed_frac
def test_failed_frac():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(12, 3) == 0.25
    assert stats.failed_frac(1, 1) == 1.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(5, 6)
    with pytest.raises(ValueError):
        stats.failed_frac(5, -1)


# ------------------------------------------------------- byte accounting
def _write(p: Path, n: int) -> None:
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(b"x" * n)


def test_space_and_write_amp_accounting(tmp_path):
    """An upsert on a tiny synthetic table directory: one bucket file is
    archived by rename, one new file and one manifest are written."""
    t = tmp_path / "orders"
    _write(t / "data" / "kb=0" / "a.parquet", 100)
    _write(t / "data" / "kb=1" / "b.parquet", 50)
    _write(t / "versions" / "v0.json", 10)
    before = stats.file_inodes(t)
    assert stats.dir_bytes(t) == 160

    (t / "archive" / "kb=0").mkdir(parents=True)
    os.rename(t / "data" / "kb=0" / "a.parquet", t / "archive" / "kb=0" / "a.parquet")
    _write(t / "data" / "kb=0" / "c.parquet", 70)
    _write(t / "versions" / "v1.json", 12)

    made = stats.created_files(before, stats.file_inodes(t))
    assert sorted(made) == [("data/kb=0/c.parquet", 70), ("versions/v1.json", 12)]
    data = [(r, s) for r, s in made if r.startswith("data/")]
    assert stats.written_dirs(data) == {"data/kb=0"}
    # write_amp's numerator: bytes created, not bytes moved to the archive
    assert sum(s for _, s in made) == 82
    # space_amp's numerator: everything under the table dir, archive included
    assert stats.dir_bytes(t) == 100 + 50 + 70 + 10 + 12
    assert stats.dir_bytes(tmp_path / "missing") == 0


def test_written_dirs_composite_layout():
    files = [("data/kr=1/kb=0/x.parquet", 1), ("data/kr=1/kb=2/y.parquet", 1)]
    assert stats.written_dirs(files) == {"data/kr=1/kb=0", "data/kr=1/kb=2"}


# ----------------------------------------------------------------- trace
def _clock(values):
    it = iter(values)
    return lambda: next(it)


def test_tracer_records_parent_and_op_and_is_noop_when_inactive():
    tr = trace.Tracer(clock=_clock([0.0, 1.0, 3.0, 10.0]))
    with tr.span("bench.x"):
        pass  # inactive: no clock reads, no spans
    assert tr.spans == []
    tr.active = True
    tr.op_id = 7
    with tr.span("bench.lookup"):
        with tr.span("table_store.lookup.build"):
            pass
    root, child = tr.spans
    assert (root.start, root.end, root.parent, root.op_id) == (0.0, 10.0, None, 7)
    assert (child.start, child.end, child.parent, child.layer) == (1.0, 3.0, 0, "table_store")


def test_self_time_subtracts_union_of_children():
    S = trace.Span
    spans = [
        S("bench.report", 0.0, 10.0, None, 1),
        S("operators.q.build", 1.0, 3.0, 0, 1),
        S("operators.q.exec", 2.0, 5.0, 0, 1),  # overlaps its sibling
        S("sql_ddl.sql.exec", 6.0, 7.0, 0, 1),
    ]
    assert trace.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])
    layers = trace.layer_self_times(spans)
    assert layers == pytest.approx({"bench": 5.0, "operators": 5.0, "sql_ddl": 1.0})
    assert trace.op_counts(spans) == {"report": 1}


def test_overhead_frac():
    assert trace.overhead_frac({"a": [2.0, 2.0]}, {"a": [1.0, 1.0]}) == 0.5
    assert trace.overhead_frac({"a": [1.0]}, {"a": [1.0]}) == 0.0
    # op types seen on one side only are ignored
    assert trace.overhead_frac({"a": [1.0], "b": [9.0]}, {"a": [1.0]}) == 0.0
    assert trace.overhead_frac({}, {}) == 0.0


# ----------------------------------------------------------------- model
def test_model_upsert_insert_delete_and_checksum():
    m = KeyedModel(["k", "v"])
    m.upsert([(1, "b"), (1, "a"), (2, "z")])  # batch dedup: smallest wins
    assert m.rows == {1: (1, "a"), 2: (2, "z")}
    m.insert([(2, "new"), (3, "c")])  # existing key 2 wins against insert
    assert m.rows == {1: (1, "a"), 2: (2, "z"), 3: (3, "c")}
    assert m.delete_range(2, 4) == 2
    assert m.rows == {1: (1, "a")}


def test_checksum_is_order_insensitive_and_sees_changes():
    import pyarrow as pa

    t0 = dt.datetime(1995, 3, 1)
    a = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"], "d": [t0, t0, t0]})
    rev = a.take([2, 0, 1])
    aware = a.set_column(2, "d", a["d"].cast(pa.timestamp("us", tz="UTC")))
    assert checksum(a) == checksum(rev) == checksum(aware)
    assert checksum(a)[0] == 3
    changed = a.set_column(1, "v", pa.array(["a", "b", "x"]))
    assert checksum(changed) != checksum(a)
    assert checksum(a.slice(0, 2)) != checksum(a)


def test_canon_normalises_aware_datetimes():
    aware = dt.datetime(2000, 1, 1, 5, tzinfo=dt.timezone(dt.timedelta(hours=5)))
    assert canon((1, aware)) == (1, dt.datetime(2000, 1, 1, 0, 0))


def test_same_rows_is_order_insensitive_with_float_tolerance():
    assert same_rows([("a", 1.0), ("b", 2.0)], [("b", 2.0), ("a", 1.0)]) is None
    assert same_rows([("a", 0.1 + 0.2)], [("a", 0.3)]) is None  # summation order
    assert same_rows([("a", 100.01)], [("a", 100.0)]) is not None
    assert same_rows([("a", 0.0401)], [("a", 0.0501)]) is not None
    assert same_rows([("a", 1.0)], [("a", 1.0), ("b", 1.0)]) is not None
    assert same_rows([("a", 1.0)], [("c", 1.0)]) is not None


# ------------------------------------------------------------ op streams
def test_op_stream_is_fixed_by_seed_and_keeps_the_block_mix():
    from perfbench.workloads import MUTATIONS_PER_CYCLE, READ_BLOCK, WRITE_BLOCK, KeyedOps

    def first(seed, block, cycle, n):
        ops = KeyedOps(seed, block, cycle)
        ops.warmup("UIL")
        it = iter(ops)
        return [next(it) for _ in range(n)]

    assert {c: READ_BLOCK.count(c) for c in "LMU"} == {"L": 31, "M": 8, "U": 1}
    assert {c: WRITE_BLOCK.count(c) for c in "UID"} == {"U": 12, "I": 5, "D": 3}
    a = first(5, READ_BLOCK, None, 40)
    assert a == first(5, READ_BLOCK, None, 40)
    b = first(6, READ_BLOCK, None, 40)
    assert a != b
    assert [k for k, _ in a] == [k for k, _ in b]  # seeds change keys only

    w = first(5, WRITE_BLOCK, MUTATIONS_PER_CYCLE, 60)
    kinds = [k for k, _ in w]
    # compact and vacuum after every mutation
    assert kinds[:6] == ["upsert", "compact", "vacuum", "delete_where", "compact", "vacuum"]
    assert kinds[9:12] == ["insert", "compact", "vacuum"]
    assert kinds[1::3] == ["compact"] * 20 and kinds[2::3] == ["vacuum"] * 20
    inserted = [r[0] for k, rows in w if k == "insert" for r in rows]
    assert len(set(inserted)) == len(inserted)  # inserts take fresh keys
