"""The three closed-loop workloads: one client thread issues an op, waits
for its result, checks it, and issues the next.

Every op sequence is generated from the seed alone, so two runs with one
seed do the same work in the same order; a run stops issuing ops when its
time is up.
"""

from __future__ import annotations

import itertools
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import datagen, stats
from perfbench.model import KeyedModel, canon, rows_to_arrow
from perfbench.oracle import duckdb_results, same_rows
from perfbench.trace import SparkJobs, Tracer

TABLE = "orders"
KEY = "o_orderkey"
ORDERS_COLS = datagen.ORDERS_SCHEMA.names

# Op kinds repeat in these fixed blocks (L lookup, M lookup_many, U upsert,
# I insert, D delete_where); the seed picks keys and values.  A fixed order
# keeps the mix of a time-bounded run the same for every seed.  The read
# block's one upsert (≈ 2 s, against ≈ 0.13 s for a lookup) sits at op 20,
# so every run of 21-59 ops (a 10 s run does ≈ 45) covers exactly one;
# two per 40 ops took 40 % of a run's time and their after-effects on the
# next lookups set the run-to-run spread.
READ_BLOCK = "LLMLL" * 3 + "LLMLU" + "LLMLL" * 4  # 77.5 % L, 20 % M, 2.5 % U
# 60 % upsert, 25 % insert, 15 % delete_where; keyed_write runs compact and
# vacuum after every mutation, so a 10 s run (≈ 6 mutations) completes
# about six maintenance cycles.  Compaction merges the files an insert
# appended; after an upsert or delete, which rewrite the buckets they
# touch, it finds nothing to merge
WRITE_BLOCK = "UDUI" "UUUI" "UDUI" "UUUI" "UDUI"
KINDS = {
    "L": "lookup", "M": "lookup_many", "U": "upsert", "I": "insert",
    "D": "delete_where", "C": "compact", "V": "vacuum",
}
# Untimed warm-up, part of set-up: the JVM compiles the engine's hot paths
# over the first several ops of each kind (a lookup runs ≈ 2x slower on
# its first few calls, an upsert ≈ 3x on its first), so every op kind runs
# before the clock starts.  Most of it runs on a small scratch table in a
# second thread while the main table loads (SCRATCH_*), then a few ops run
# on the main table (MAIN_*).  Past these the JVM keeps speeding up for
# tens of seconds; the fixed op order puts every run at the same point of
# that curve.
SCRATCH_ROWS = 2_000
SCRATCH_WARMUP = {"keyed_read": "LLLLMLLLLMLLU", "keyed_write": "UDICV"}
MAIN_WARMUP = {"keyed_read": "LLLLLLLLLMULLLLLLLLLM", "keyed_write": "UU"}
# after one pass of the registry queries beside the load; with two, the
# timed reports still got 10-20 % faster from first to last
WARMUP_REPORTS = 4
LOOKUP_MANY_KEYS = 64
READ_UPSERT_ROWS = 4
WRITE_UPSERT_ROWS = 100
INSERT_ROWS = 500
DELETE_SPAN = 200
MUTATIONS_PER_CYCLE = 1
COMPACT_MAX_FILES = 1  # compact every bucket an append left with >1 file
VACUUM_KEEP = 2
ZIPF_S = 0.99

REPORT_KEYS = (
    "q1_pricing_summary",
    "sql_q6_forecast_revenue",
    "sql_q3_shipping_priority",
    "sql_q18_large_volume",
)
BOOK = "order_book"  # the analytics workload's store table
BOOK_ROWS = 20_000
BOOK_LOAD_ROWS = 18_000
BOOK_GROUP_SQL = (
    f"SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
    f"FROM {BOOK} GROUP BY o_orderpriority"
)
BOOK_ASOF_SQL = (
    "SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
    f"FROM {BOOK} VERSION AS OF {{v}} GROUP BY o_orderstatus"
)

# The op whose latency is each workload's op_p50_ms / op_tail_ms.
PRIMARY = {"keyed_read": "lookup", "keyed_write": "upsert", "analytics": "report"}
# Tail percentile of the primary op (nearest rank).  stats.highest_tail_pct
# would ask for ten samples beyond it; no workload gets that many primary
# ops into a run of the configured length, so it is fixed at the lowest
# rung of that rule's ladder (README.md, "Tail percentile").
TAIL_PCT = 75.0

WRITE_KINDS = ("upsert", "insert", "delete_where")
MAINTENANCE_KINDS = ("compact", "vacuum")


def _rows(cols: dict[str, object]) -> list[tuple]:
    """numpy ``orders`` columns -> row tuples in the table's column order."""
    lists = [
        datagen.days_to_datetimes(cols[c]) if c == "o_orderdate"
        else np.asarray(cols[c]).tolist()
        for c in ORDERS_COLS
    ]
    return list(zip(*lists))


class KeyedOps:
    """Op generator for the keyed workloads.  ``next_key`` is shared by the
    warm-up and the timed sequence, which always run in that order."""

    def __init__(self, seed: int, block: str, cycle: int | None, n: int = datagen.N_ORDERS):
        self.seed = seed
        self.block = [KINDS[c] for c in block]
        self.cycle = cycle
        self.next_key = n
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.zipf_cdf = np.cumsum(w) / w.sum()
        self.hot_order = np.random.default_rng([seed, 3]).permutation(n)

    def zipf_keys(self, rng, k: int) -> list[int]:
        ranks = np.searchsorted(self.zipf_cdf, rng.random(k))
        return self.hot_order[np.minimum(ranks, len(self.hot_order) - 1)].tolist()

    def make(self, kind: str, rng) -> tuple:
        if kind == "lookup":
            return (kind, self.zipf_keys(rng, 1)[0])
        if kind == "lookup_many":
            return (kind, sorted(set(self.zipf_keys(rng, LOOKUP_MANY_KEYS))))
        if kind == "upsert":
            if self.cycle is None:  # keyed_read: a trickle on hot keys
                keys = np.unique(self.zipf_keys(rng, READ_UPSERT_ROWS))
            else:
                keys = np.unique(rng.integers(0, self.next_key, WRITE_UPSERT_ROWS))
            return (kind, _rows(datagen.order_columns(rng, keys)))
        if kind == "insert":
            keys = np.arange(self.next_key, self.next_key + INSERT_ROWS)
            self.next_key += INSERT_ROWS
            return (kind, _rows(datagen.order_columns(rng, keys)))
        if kind == "delete_where":
            lo = int(rng.integers(0, self.next_key - DELETE_SPAN))
            return (kind, (lo, lo + DELETE_SPAN))
        return (kind, None)  # compact, vacuum

    def warmup(self, kinds: str) -> list[tuple]:
        rng = np.random.default_rng([self.seed, 11])
        return [self.make(KINDS[c], rng) for c in kinds]

    def __iter__(self):
        rng = np.random.default_rng([self.seed, 10])
        done = 0
        while True:
            for kind in self.block:
                yield self.make(kind, rng)
                done += 1
                if self.cycle and done % self.cycle == 0:
                    yield ("compact", None)
                    yield ("vacuum", None)


class Run:
    """One workload run: set-up, warm-up, timed phase and checks."""

    def __init__(
        self, workload: str, seed: int, trace: bool, workdir: Path,
        n_rows: int = datagen.N_ORDERS,
    ):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.workdir = workdir
        self.n_rows = n_rows
        self.spark = self.store = self.jobs = None
        self.tracer = Tracer()
        self.timed = False
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.lat_traced: dict[str, list[float]] = defaultdict(list)
        self.lat_untraced: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)  # per-layer
        self.op_seq = 0

    # ----------------------------------------------------------- plumbing
    def _group(self, prefix: str):
        """Job group for the current traced op (counts jobs and tasks)."""
        if self.tracer.active and self.jobs is not None:
            return self.jobs.group(prefix, self.tracer.op_id)
        return nullcontext()

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(msg)

    def run_op(self, op: tuple, traced: bool) -> None:
        kind = op[0]
        self.op_seq += 1
        self.attempted += 1
        self.tracer.active = traced
        self.tracer.op_id = self.op_seq
        walk = traced and kind in WRITE_KINDS
        before = stats.file_inodes(self.table_dir) if walk else None
        err = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.{kind}"):
                check = getattr(self, f"op_{kind}")(op[1])
            lat = time.perf_counter() - t0
            self.tracer.active = False
            err = check() if check else None
        except Exception as exc:  # a failed op is counted, the run goes on
            lat = time.perf_counter() - t0
            err = f"{kind}: {type(exc).__name__}: {exc}"[:300]
        finally:
            self.tracer.active = False
        if err:
            self.fail(err)
        if walk and not err:
            self.account_write(kind, op[1], before)
        if self.timed:
            self.lat[kind].append(lat)
            if self.trace:
                (self.lat_traced if traced else self.lat_untraced)[kind].append(lat)

    def timed_phase(self, ops, seconds: float) -> float:
        """Issue ops until ``seconds`` have passed; return the wall time
        from the first op's start to the last op's end."""
        self.timed = True
        t_start = time.perf_counter()
        deadline = t_start + seconds
        seen: dict[str, int] = defaultdict(int)
        for op in ops:
            if time.perf_counter() >= deadline:
                break
            # a traced run traces every other op of each kind: the untraced
            # half is the overhead reference, from the same op stream.
            # Maintenance is always traced, or the alternation could leave
            # every compaction that has work to do untraced.
            traced = op[0] in MAINTENANCE_KINDS or seen[op[0]] % 2 == 0
            self.run_op(op, traced=self.trace and traced)
            seen[op[0]] += 1
        self.timed = False
        return time.perf_counter() - t_start

    # ------------------------------------------------------- keyed tables
    @property
    def table_dir(self) -> Path:
        return self.store.root / (BOOK if self.workload == "analytics" else TABLE)

    def prepare(self) -> None:
        """Set-up that needs no Spark (inputs, model, op stream); it runs
        while the JVM starts."""
        cols = datagen.orders_columns(self.seed, self.n_rows)
        if self.workload == "analytics":
            from hivekudu_handler_spark.registry import load_all

            self.data_dir = self.workdir / "tpch"
            datagen.write_tpch(self.data_dir, self.seed)
            self.specs = load_all()
            self.model_asof = KeyedModel.from_columns(
                {k: np.asarray(v)[:BOOK_LOAD_ROWS] for k, v in cols.items()}, "o_orderdate"
            )
            self.model = KeyedModel.from_columns(
                {k: np.asarray(v)[:BOOK_ROWS] for k, v in cols.items()}, "o_orderdate"
            )
            self.reports: list[dict[str, tuple[list[str], list[tuple]]]] = []
            self.ops = itertools.repeat(("report", None))
            return
        self.src_path = self.workdir / "input" / "orders.parquet"
        self.src_path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(datagen.orders_table(cols), self.src_path)
        self.model = KeyedModel.from_columns(cols, "o_orderdate")
        self.ops = KeyedOps(
            self.seed,
            READ_BLOCK if self.workload == "keyed_read" else WRITE_BLOCK,
            None if self.workload == "keyed_read" else MUTATIONS_PER_CYCLE,
            self.n_rows,
        )

    def load(self, spark, store) -> list[tuple]:
        """Create the workload's store table, warming up the JVM in a
        second thread meanwhile; return the remaining warm-up ops."""
        from hivekudu_handler_spark.sources.table_store import TableStore

        self.spark = spark
        self.store = store
        self.jobs = SparkJobs(spark.sparkContext) if self.trace else None
        with ThreadPoolExecutor(1) as pool:
            if self.workload == "analytics":
                warm = pool.submit(self._run_registry_queries)
                self._load_book()
                warm.result()
                return [("report", None)] * WARMUP_REPORTS
            scratch = Run(self.workload, self.seed, False, self.workdir / "scratch", SCRATCH_ROWS)
            scratch.prepare()
            warm = pool.submit(
                scratch.warm_up,
                spark,
                TableStore(spark, str(scratch.workdir / "warehouse")),
                SCRATCH_WARMUP[self.workload],
            )
            self._load_orders()
            warm.result()
        # the scratch table's ops and checks count like the run's own
        self.attempted += scratch.attempted
        self.failed += scratch.failed
        self.errors += [f"warm-up: {e}" for e in scratch.errors]
        return self.ops.warmup(MAIN_WARMUP[self.workload])

    def _load_orders(self) -> None:
        src = self.spark.read.parquet(str(self.src_path)).withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp")
        )
        self.store.create_table(TABLE, src.schema, [KEY])
        self.store.insert(TABLE, src)
        self.schema = self.store.table_meta(TABLE).schema

    def warm_up(self, spark, store, kinds: str) -> None:
        self.spark = spark
        self.store = store
        self._load_orders()
        for op in self.ops.warmup(kinds):
            self.run_op(op, traced=False)

    def _run_registry_queries(self) -> None:
        for key in REPORT_KEYS:
            self.specs[key].fn(self.spark, str(self.data_dir)).collect()

    def _expect_rows(self, got, keys) -> str | None:
        want = [r for r in (self.model.get(k) for k in keys) if r is not None]
        rows = [canon(r) for r in got]
        if sorted(rows) != sorted(want):
            return f"keys {list(keys)[:4]}...: got {rows[:2]}, model {want[:2]}"
        return None

    def op_lookup(self, key):
        with self._group("table_store.lookup"):
            with self.tracer.span("table_store.lookup.build"):
                df = self.store.lookup(TABLE, {KEY: key})
            with self.tracer.span("table_store.lookup.exec"):
                got = df.collect()
        return lambda: self._expect_rows(got, [key])

    def op_lookup_many(self, keys):
        with self._group("table_store.lookup_many"):
            with self.tracer.span("table_store.lookup_many"):
                got = self.store.lookup_many(TABLE, keys).collect()
        return lambda: self._expect_rows(got, keys)

    def op_upsert(self, rows):
        with self._group("table_store.upsert"):
            with self.tracer.span("client.batch"):
                df = self.spark.createDataFrame(rows, self.schema)
            with self.tracer.span("table_store.upsert"):
                self.store.upsert(TABLE, df)
        self.model.upsert(rows)

    def op_insert(self, rows):
        with self._group("table_store.insert"):
            with self.tracer.span("client.batch"):
                df = self.spark.createDataFrame(rows, self.schema)
            with self.tracer.span("table_store.insert"):
                self.store.insert(TABLE, df)
        self.model.insert(rows)

    def op_delete_where(self, bounds):
        lo, hi = bounds
        with self._group("table_store.delete_where"):
            with self.tracer.span("table_store.delete_where"):
                self.store.delete_where(TABLE, f"{KEY} >= {lo} AND {KEY} < {hi}")
        self.model.delete_range(lo, hi)

    def op_compact(self, _):
        with self._group("table_store.compact"):
            with self.tracer.span("table_store.compact"):
                ids = self.store.compact(TABLE, max_files_per_bucket=COMPACT_MAX_FILES)
        if self.trace:
            self.samples["compacted_buckets"].append(len(ids))

    def op_vacuum(self, _):
        with self._group("table_store.vacuum"):
            with self.tracer.span("table_store.vacuum"):
                res = self.store.vacuum(TABLE, keep_last=VACUUM_KEEP)
        if self.trace:
            self.samples["vacuumed_files"].append(res["deleted_files"])

    def account_write(self, kind: str, payload, before) -> None:
        """Traced runs only: bytes and buckets a write created, against the
        bytes of its batch written once as Parquet."""
        made = stats.created_files(before, stats.file_inodes(self.table_dir))
        data = [(r, s) for r, s in made if r.startswith("data/")]
        self.samples["buckets_rewritten"].append(len(stats.written_dirs(data)))
        if kind in ("upsert", "insert"):
            self.samples["created_bytes"].append(sum(s for _, s in made))
            self.samples["submitted_bytes"].append(
                datagen.write_rows_once(
                    rows_to_arrow(payload, datagen.ORDERS_SCHEMA),
                    self.workdir / "submitted.parquet",
                )
            )

    def check_full_scan(self) -> None:
        """keyed_write's closing check: count and order-insensitive
        checksum of a full scan against the model."""
        from perfbench.model import checksum

        got = checksum(self.store.scan(TABLE).toArrow())
        want = checksum(self.model.to_arrow(datagen.ORDERS_SCHEMA))
        self.attempted += 1
        if got != want:
            self.fail(f"full scan (count, checksum) {got} != model {want}")

    # ---------------------------------------------------------- analytics
    def _load_book(self) -> None:
        # two data versions: the first BOOK_LOAD_ROWS orders, then an
        # insert of the next ones (an append: no bucket rewrite in set-up)
        orders = self.spark.read.parquet(str(self.data_dir / "orders.parquet")).withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp")
        )
        load = orders.filter(F.col(KEY) < BOOK_LOAD_ROWS)
        self.store.create_table(BOOK, load.schema, [KEY])
        self.store.insert(BOOK, load)
        self.book_version = self.store.current_version(BOOK)
        self.store.insert(
            BOOK, orders.filter((F.col(KEY) >= BOOK_LOAD_ROWS) & (F.col(KEY) < BOOK_ROWS))
        )

    @staticmethod
    def _book_expect(model: KeyedModel, col: int) -> list[tuple]:
        groups: dict[str, list[float]] = defaultdict(list)
        for r in model.rows.values():
            groups[r[col]].append(r[3])
        return [(g, len(v), round(sum(v), 2)) for g, v in groups.items()]

    def op_report(self, _):
        from hivekudu_handler_spark.sources.sql_ddl import sql

        out = {}
        for key in REPORT_KEYS:
            with self._group(f"operators.{key}"):
                with self.tracer.span(f"operators.{key}.build"):
                    df = self.specs[key].fn(self.spark, str(self.data_dir))
                with self.tracer.span(f"operators.{key}.exec"):
                    out[key] = (df.columns, [tuple(r) for r in df.collect()])
        store_rows = []
        for text in (BOOK_GROUP_SQL, BOOK_ASOF_SQL.format(v=self.book_version)):
            with self._group("sql_ddl.sql"):
                with self.tracer.span("sql_ddl.sql.build"):
                    df = sql(self.store, text)
                with self.tracer.span("sql_ddl.sql.exec"):
                    store_rows.append([tuple(r) for r in df.collect()])
        self.reports.append(out)

        def check():
            errs = [
                same_rows(store_rows[0], self._book_expect(self.model, 5)),
                same_rows(store_rows[1], self._book_expect(self.model_asof, 2)),
            ]
            bad = [e for e in errs if e]
            return f"store SELECT: {bad[0]}" if bad else None

        return check

    def check_reports(self) -> None:
        """Every report's registry results against the DuckDB oracles; a
        report with any mismatch counts as failed."""
        want = duckdb_results(
            self.data_dir, {k: self.specs[k].oracle for k in REPORT_KEYS}
        )
        for i, rep in enumerate(self.reports):
            for key, (cols, rows) in rep.items():
                wcols, wrows = want[key]
                why = (
                    f"columns {cols} != {wcols}" if cols != wcols
                    else same_rows(rows, wrows)
                )
                if why:
                    self.fail(f"report {i} {key}: {why}")
                    break

    # ---------------------------------------------------------- per layer
    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics of a traced run (0 where a layer is unused)."""
        from perfbench import trace as tr

        spans = self.tracer.spans
        m: dict[str, float] = {}

        def med_ms(name):
            d = tr.span_durations(spans, name)
            return 1e3 * statistics.median(d) if d else 0.0

        def med(xs):
            return float(statistics.median(xs)) if xs else 0.0

        def mean(xs):
            return float(np.mean(xs)) if xs else 0.0

        counts = self.jobs.counts() if self.jobs else {}

        def jobs_tasks(prefix):
            c = counts.get(prefix, [])
            return med([j for j, _ in c]), med([t for _, t in c])

        m["table_store.lookup.build_ms"] = med_ms("table_store.lookup.build")
        m["table_store.lookup.exec_ms"] = med_ms("table_store.lookup.exec")
        m["table_store.lookup.jobs"], m["table_store.lookup.tasks"] = jobs_tasks("table_store.lookup")
        m["table_store.lookup_many.wall_ms"] = med_ms("table_store.lookup_many")
        for kind in ("upsert", "insert", "delete_where"):
            m[f"table_store.{kind}.wall_ms"] = med_ms(f"table_store.{kind}")
            m[f"table_store.{kind}.jobs"] = jobs_tasks(f"table_store.{kind}")[0]
        sub = sum(self.samples["submitted_bytes"])
        m["table_store.write_amp"] = sum(self.samples["created_bytes"]) / sub if sub else 0.0
        m["table_store.buckets_rewritten_per_write"] = mean(self.samples["buckets_rewritten"])
        # maintenance: means per call, since most compactions (those after
        # an upsert or delete) find nothing to merge and a median would
        # hide the one after the insert
        for kind in MAINTENANCE_KINDS:
            m[f"table_store.{kind}.wall_ms"] = 1e3 * mean(tr.span_durations(spans, f"table_store.{kind}"))
        m["table_store.compact.buckets_rewritten"] = mean(self.samples["compacted_buckets"])
        m["table_store.vacuum.files_deleted"] = mean(self.samples["vacuumed_files"])
        for key in REPORT_KEYS:
            m[f"operators.{key}.build_ms"] = med_ms(f"operators.{key}.build")
            m[f"operators.{key}.exec_ms"] = med_ms(f"operators.{key}.exec")
            m[f"operators.{key}.jobs"], m[f"operators.{key}.tasks"] = jobs_tasks(f"operators.{key}")
        m["sql_ddl.sql.build_ms"] = med_ms("sql_ddl.sql.build")
        m["sql_ddl.sql.exec_ms"] = med_ms("sql_ddl.sql.exec")
        # table footprint at the end of the run
        tdir = self.table_dir
        data_files = list((tdir / "data").rglob("*.parquet"))
        buckets = {p.parent for p in data_files}
        m["table_store.data_files"] = float(len(data_files))
        m["table_store.files_per_bucket"] = len(data_files) / len(buckets) if buckets else 0.0
        m["table_store.versions_kept"] = float(len(list((tdir / "versions").glob("v*.json"))))
        m["table_store.archive_bytes"] = float(stats.dir_bytes(tdir / "archive"))
        ref = datagen.write_rows_once(
            self.model.to_arrow(datagen.ORDERS_SCHEMA), self.workdir / "live_once.parquet"
        )
        m["table_store.space_amp"] = stats.dir_bytes(tdir) / ref
        m["trace.overhead_frac"] = tr.overhead_frac(self.lat_traced, self.lat_untraced)
        layers = tr.layer_self_times(spans)
        traced_wall = sum(sum(v) for v in self.lat_traced.values())
        program = sum(t for layer, t in layers.items() if layer not in ("bench", "client"))
        m["trace.layer_share"] = program / traced_wall if traced_wall else 0.0
        self.layer_self = layers
        self.traced_ops = tr.op_counts(spans)
        return m
