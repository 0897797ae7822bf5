"""Benchmark entry point.

    python3 perfbench/run.py --workload keyed_read --seed 1 --seconds 20 --trace 0

Runs one workload against Spark ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs this process may use) from a single client thread, checks every
result, and prints one line per metric followed, as the last line of
standard output, by one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
other op of each kind (and every compact and vacuum) and reports the
per-layer metrics instead.  The exit code is 0
only when every result matched the model or the oracle.  See README.md.
"""

from __future__ import annotations

import time


def _process_age() -> float:
    """Seconds since this process started (10 ms resolution), so set-up
    time includes interpreter start and imports."""
    try:
        import os

        ticks = int(open("/proc/self/stat").read().rsplit(")", 1)[1].split()[19])
        uptime = float(open("/proc/uptime").read().split()[0])
        return max(0.0, uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_START = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "hivekudu_handler_spark"
WORKLOADS = ("keyed_read", "keyed_write", "analytics")
RUNS_DIR = ROOT / ".perfbench_runs"  # per-run scratch, removed at exit
OUT_DIR = ROOT / ".perfbench_out"  # result and span files


def _rss_mb() -> float:
    """Resident memory of this process and all its descendants (the JVM
    and any Python workers), from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid = int(open(f"/proc/{d}/stat").read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            for line in open(f"/proc/{pid}/status"):
                if line.startswith("VmRSS:"):
                    total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading kept as
    metadata, so runs on a slowed host can be told apart."""
    t = time.perf_counter()
    n = 0
    for i in range(1_000_000):
        n += i
    return time.perf_counter() - t


def _metadata(spark) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    import pyspark

    return {
        "git_sha": sha,
        "source_sha256": h.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# HotSpot writes /tmp/hsperfdata_<user>/<pid> whatever java.io.tmpdir says
_NO_PERF_DATA = "-XX:-UsePerfData"


def _start_spark(run_dir: Path):
    from hivekudu_handler_spark.session import get_spark

    tmp = run_dir / "tmp"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} {_NO_PERF_DATA}"
            ),
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a traced run visible to the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _pct(p: float | None) -> str:
    return "no percentile" if p is None else f"p{p:g}"


def _fmt(name: str, value: float, unit: str, note: str = "") -> str:
    return f"{name:<44} {value:>14.4f} {unit:<6} {note}".rstrip()


def run(args, run_dir: Path) -> int:
    from perfbench import stats
    from perfbench.workloads import PRIMARY, TAIL_PCT, Run

    from hivekudu_handler_spark.sources.table_store import TableStore

    load_start = os.getloadavg()
    probe_start = _cpu_probe()
    r = Run(args.workload, args.seed, bool(args.trace), run_dir)
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(r.prepare)  # overlaps the JVM start
        t = time.perf_counter()
        spark = _start_spark(run_dir)
        session_start_s = time.perf_counter() - t
        try:
            prepared.result()
        except BaseException:
            _stop_spark(spark)
            raise
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        warm = r.load(spark, TableStore(spark, str(run_dir / "warehouse")))
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_s = []
        for op in warm:
            t1 = time.perf_counter()
            r.run_op(op, traced=False)
            warm_s.append(f"{op[0]} {time.perf_counter() - t1:.2f}")
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START
        wall = r.timed_phase(iter(r.ops), args.seconds)
        rss = _rss_mb()
        t = time.perf_counter()
        if args.workload == "keyed_write":
            r.check_full_scan()
        if args.workload == "analytics":
            r.check_reports()
        closing_s = time.perf_counter() - t

        prim = PRIMARY[args.workload]
        lat = r.lat.get(prim, [])
        if not lat:
            r.fail(f"no {prim} completed in the timed phase")
        n_ops = sum(len(v) for v in r.lat.values())
        pct = TAIL_PCT
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (n_ops / wall, "1/s"),
            "op_p50_ms": (1e3 * statistics.median(lat) if lat else 0.0, "ms"),
            "op_tail_ms": (1e3 * stats.nearest_rank(lat, pct) if lat else 0.0, "ms"),
        }
        alias = {"keyed_read": "read", "keyed_write": "write", "analytics": "report"}[args.workload]
        notes = {
            "op_p50_ms": f"{alias}_p50_ms: {prim}, n={len(lat)}",
            "op_tail_ms": (
                f"{alias}_tail_ms: p{pct:g} of {prim}, n={len(lat)}, "
                f"{stats.beyond(len(lat), pct)} beyond (the ten-beyond rule "
                f"would allow {_pct(stats.highest_tail_pct(len(lat)))})"
            ),
            "ops_per_s": f"{n_ops} ops in {wall:.2f} s",
        }
        if args.workload == "keyed_write":
            # a cycle is a compact and the vacuum after it
            cycles = len(r.lat.get("vacuum", []))
            notes["ops_per_s"] += f", {cycles} maintenance cycles"

        frac = stats.failed_frac(r.attempted, r.failed)
        print(f"# workload={args.workload} seed={args.seed} trace={args.trace}")
        print(
            f"# setup: session {session_start_s:.2f} s (inputs generated meanwhile), "
            f"tables {load_s:.2f} s, "
            f"warm-up {warmup_s:.2f} s ({', '.join(warm_s)}); "
            f"closing checks {closing_s:.2f} s"
        )
        for name, (v, unit) in e2e.items():
            print(_fmt(name, v, unit, notes.get(name, "")))
        print(_fmt("failed_frac", frac, "ratio", f"{r.failed} of {r.attempted} ops"))
        for kind, xs in sorted(r.lat.items()):
            print(
                f"#   {kind:<14} n={len(xs):<5} p50={1e3 * statistics.median(xs):9.1f} ms"
                f"  max={1e3 * max(xs):9.1f} ms"
            )
        for e in r.errors:
            print(f"# error: {e}")

        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        if args.trace:
            metrics = r.layer_metrics()
            metrics["session.start_s"] = session_start_s
            metrics["session.rss_mb"] = rss
            units = {m["name"]: m["unit"] for m in declared["per_layer"]}
            for name, v in metrics.items():
                print(_fmt(name, v, units[name]))
            for layer, secs in sorted(r.layer_self.items()):
                print(f"#   self time {layer:<12} {secs:9.3f} s")
            print(f"#   traced ops per type: {r.traced_ops}")
            r.tracer.dump(OUT_DIR / f"spans-{args.workload}-s{args.seed}.json")
            out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
            want = set(units)
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            want = {m["name"] for m in declared["end_to_end"]}
        if set(out) != want:
            raise RuntimeError(
                f"metrics {sorted(set(out) ^ want)} differ from BENCHMARK.json"
            )

        meta = _metadata(spark)
        meta.update(
            loadavg_start=load_start, loadavg_end=os.getloadavg(),
            cpu_probe_s=[probe_start, _cpu_probe()],
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=args.trace, tail_pct=pct, primary_op=prim,
        )
        print("# meta " + json.dumps(meta, sort_keys=True))
        result = {
            "correct": r.failed == 0,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": out,
        }
        OUT_DIR.mkdir(parents=True, exist_ok=True)
        (OUT_DIR / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
            json.dumps(
                {**result, "meta": meta, "errors": r.errors, "latencies_s": r.lat},
                indent=1,
            )
        )
    finally:
        _stop_spark(spark)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "sources" / "table_store.py").is_file():
        print(f"error: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    run_dir = RUNS_DIR / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "cwd"):
        (run_dir / sub).mkdir(parents=True)
    # nothing Spark, Derby or Python writes lands outside the run dir
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # the JVM spark-submit runs first to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " " + _NO_PERF_DATA
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.chdir(run_dir / "cwd")
    try:
        return run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUNS_DIR.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
