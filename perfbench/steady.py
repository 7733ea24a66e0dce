"""Steadiness report for the benchmark.

    python3 perfbench/steady.py [--runs 10] [--sets 1] [--first-seed 1]

Runs every workload `--runs` times, each run a fresh process with its
own seed, alternating the order of the workloads from one repetition
to the next. For every end-to-end metric it prints the median, the
quartiles (`statistics.quantiles(values, n=4)`) and the spread, which
is the distance between the quartiles as a share of the median,
against the metric's bound in BENCHMARK.json. A spread above a third
of the bound is marked `WIDE`, one above the bound `UNSTEADY`. With
`--sets 2` the runs are repeated with the same seeds and the second
set's median is compared with the first's. Each run's wall time is
printed with its metrics.

Run it from the root of a checkout.
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


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise RuntimeError(f"{workload} seed {seed}: failed checks\n{out.stderr[-2000:]}")
    return result, time.perf_counter() - t0


def summarize(values: list[float], bound: float) -> tuple[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    flag = "UNSTEADY" if spread > bound else "WIDE" if spread > bound / 3 else "ok"
    return (f"median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
            f"spread {spread:6.3f} / bound {bound:.2f}  {flag}", med)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = [args.first_seed + i for i in range(args.runs)]
    values = {s: {w: {m: [] for m in bounds} for w in names} for s in range(args.sets)}
    for s in range(args.sets):
        for i, seed in enumerate(seeds):
            order = names if i % 2 == 0 else names[::-1]
            for w in order:
                res, wall = run_once(spec, w, seed)
                for m in bounds:
                    values[s][w][m].append(res["metrics"][m]["value"])
                print(f"set {s + 1} run {i + 1} {w} seed {seed} ({wall:.0f} s): " + ", ".join(
                    f"{m} {res['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
    for w in names:
        print(f"\n{w}")
        for m, bound in bounds.items():
            line, med = summarize(values[0][w][m], bound)
            if args.sets == 2:
                line2, med2 = summarize(values[1][w][m], bound)
                line += f"\n  {'':14s} {line2}  second median {med2 / med - 1:+.3f}"
            print(f"  {m:14s} {line}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
