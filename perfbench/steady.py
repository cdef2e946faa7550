#!/usr/bin/env python3
"""Steadiness report: runs each workload once per seed, each run in its own
process as a gated run is, and prints for every end-to-end
metric the median, the quartiles and the spread (q3 - q1) / median, marking
a spread above the metric's bound (and above a third of it). With --sets 2
the seeds run twice and the second median is compared with the first
against the bound.

Usage (from the root of a graft checkout):
  python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--sets 1] [--seconds 10]

A workload that stays unsteady after tuning may be dropped from
BENCHMARK.json; the report names such workloads and says so.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


def one(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        return None, time.time() - t0
    return json.loads(lines[-1]), time.time() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(run.BENCHMARKED))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    bad_runs, unsteady = 0, []
    for w in a.workloads.split(","):
        sets = []
        for _ in range(a.sets):
            vals, walls = {n: [] for n in run.END_TO_END}, []
            for seed in range(1, a.seeds + 1):
                res, wall = one(w, seed, a.seconds)
                walls.append(wall)
                if res is None or not res["correct"]:
                    bad_runs += 1
                    print(f"{w} seed {seed}: {'no result' if res is None else 'INCORRECT'}")
                    continue
                for n in vals:
                    vals[n].append(res["metrics"][n]["value"])
            sets.append(vals)
        print(f"\n{w}: {a.seeds} seeds x {a.sets} set(s), mean run wall "
              f"{sum(walls) / len(walls):.1f} s")
        print(f"  {'metric':<18}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}")
        for n, (unit, _, bound) in run.END_TO_END.items():
            for i, vals in enumerate(sets):
                if len(vals[n]) < 2:
                    continue
                med, q1, q3, sp = stats.spread(vals[n])
                mark = ""
                if sp > bound:
                    mark = "  OVER BOUND"
                    unsteady.append((w, n))
                elif sp > bound / 3:
                    mark = "  over a third of the bound"
                label = n if i == 0 else f"  set {i + 1}"
                print(f"  {label:<18}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}{sp:>9.3f}{bound:>7}"
                      f" {unit}{mark}")
            if len(sets) > 1 and sets[0][n] and sets[-1][n]:
                m1, m2 = stats.median(sets[0][n]), stats.median(sets[-1][n])
                better = run.END_TO_END[n][1]
                worse = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
                if worse > bound:
                    print(f"  {n}: second median worse than the first by {worse:.3f} > {bound}")
                    unsteady.append((w, n))
    for w in sorted({w for w, _ in unsteady}):
        print(f"UNSTEADY {w}: " + ", ".join(n for x, n in unsteady if x == w)
              + " -- tune it, or drop the workload from BENCHMARK.json as the contract allows")
    return 1 if bad_runs or unsteady else 0


if __name__ == "__main__":
    sys.exit(main())
