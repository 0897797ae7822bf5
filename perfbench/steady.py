"""Steadiness check: run one workload several times and compare each
end-to-end metric's spread with its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload keyed_write --runs 10 --seed 1

Run ``i`` uses seed ``seed + i`` (different inputs, same code).  Then
HOLDOUT_RUNS runs on HOLDOUT_SEED, a seed outside that range, check that
the medians hold on inputs the tuning never saw.  For every metric it
prints median, quartiles, min and max, the spread (distance between the
quartiles over the median) and the held-out median's shift, and exits
non-zero when a run failed or any spread or shift (either way) exceeds the
metric's bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import quartile_spread  # noqa: E402

HOLDOUT_SEED = 10_007
HOLDOUT_RUNS = 4  # the held-out median is not decided by one slow run


def run_once(workload: str, seed: int, seconds: int) -> dict | None:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    print(f"  seed {seed}: " + "  ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    seeds = [args.seed + i for i in range(args.runs)]
    print(f"{args.workload}: {args.runs} runs of {seconds} s, seeds {seeds}")
    runs = [run_once(args.workload, s, seconds) for s in seeds]
    print(f"held-out seed {HOLDOUT_SEED}:")
    held = [run_once(args.workload, HOLDOUT_SEED, seconds) for _ in range(HOLDOUT_RUNS)]
    failed = sum(r is None for r in runs + held)
    runs = [r for r in runs if r]
    held = [r for r in held if r]
    ok = failed == 0 and len(runs) >= 4

    print(f"\n{'metric':<12} {'unit':<5} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'min':>10} {'max':>10} {'spread':>7} {'held':>7} {'bound':>6}")
    for name, m in bounds.items():
        xs = [r[name] for r in runs]
        if len(xs) < 4:
            break
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = quartile_spread(xs)
        shift = None
        if held:
            hm = statistics.median(r[name] for r in held)
            worse = (hm - med) if m["better"] == "lower" else (med - hm)
            shift = worse / abs(med)
        bound = m["bound"]
        verdict = "steady" if spread < bound / 3 else "within" if spread <= bound else "NOISY"
        if spread > bound:
            ok = False
        if shift is not None and abs(shift) > bound:
            ok = False
            verdict += " HELD-OUT SHIFTED"
        print(f"{name:<12} {m['unit']:<5} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
              f"{min(xs):>10.4g} {max(xs):>10.4g} {spread:>7.3f} "
              f"{'' if shift is None else f'{shift:+.3f}':>7} {bound:>6.2f}  {verdict}")
    out = ROOT / ".perfbench_out" / f"steady-{args.workload}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"seeds": seeds, "runs": runs, "held": held}, indent=1))
    print(f"\nfailed runs: {failed}; values in {out.relative_to(ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
