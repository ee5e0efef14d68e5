"""Steadiness mode: run one workload at several seeds and print, per
metric, the median, the quartiles and the spread (q3 - q1) / median,
next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest_serve --runs 10 --seed0 1
    python3 perfbench/steady.py --workload merge_dedup --runs 3 --trace
    python3 perfbench/steady.py --workload merge_dedup --runs 3 --seconds 120

With ``--trace`` every seed is also run traced, and the tracing
overhead (traced median minus untraced median) is printed for each
end-to-end metric. ``--seconds`` overrides the run length: a longer
run resolves the figures a short one cannot (p90s, probe growth). Run
from the root of a checkout; the runs are
sequential, so no two of them share the cores.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} trace {trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return {**json.loads(lines[-1]), "detail": json.loads(lines[-2]), "wall_s": time.perf_counter() - t}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", action="store_true", help="also run each seed traced")
    ap.add_argument("--seconds", type=int, help="run length (default: BENCHMARK.json's run_seconds)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = range(args.seed0, args.seed0 + args.runs)
    modes = (0, 1) if args.trace else (0,)
    results = {mode: [] for mode in modes}
    for seed in seeds:
        for mode in modes:
            r = run_once(args.workload, seed, args.seconds or spec["run_seconds"], mode)
            results[mode].append(r)
            print(json.dumps({"seed": seed, "trace": mode, "wall_s": round(r["wall_s"], 1),
                              "metrics": r["metrics"], "detail": r["detail"]}), flush=True)

    ok = all(r["correct"] and r["failed"] == 0 for rs in results.values() for r in rs)
    print(f"\n{args.workload}: {args.runs} seeds from {args.seed0}, every run correct: {ok}")
    print(f"{'metric':<40}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for name in results[0][0]["metrics"]:
        s = summary([r["metrics"][name]["value"] for r in results[0]])
        flag = "" if name not in bounds or s["spread"] <= bounds[name] / 3 else "  > bound/3"
        print(f"{name:<40}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}{s['spread']:>9.3f}"
              f"{bounds.get(name, float('nan')):>7.2f}{flag}")
    print("\nevery figure of the detail line, and the run's wall time:")
    for name in results[0][0]["detail"]["detail"]:
        s = summary([r["detail"]["detail"][name]["value"] for r in results[0]])
        print(f"  {name:<38}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}{s['spread']:>9.3f}")
    s = summary([r["wall_s"] for r in results[0]])
    print(f"  {'wall_s':<38}{s['median']:>12.4g}{s['q1']:>12.4g}{s['q3']:>12.4g}{s['spread']:>9.3f}")
    if args.trace:
        print("\ntracing overhead (traced median - untraced median):")
        for name in bounds:
            traced = statistics.median(r["metrics"][f"trace.{name}"]["value"] for r in results[1])
            plain = statistics.median(r["metrics"][name]["value"] for r in results[0])
            print(f"  {name:<20}{traced - plain:>+12.4g}  ({(traced - plain) / plain:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
