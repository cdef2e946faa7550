#!/usr/bin/env python3
"""Same-box A/B of the benchmark: a parent revision against this checkout.

Usage (from the root of a graft checkout):
  python3 tools/ab.py <parent-rev> --workload W|all [--pairs N] [--seeds a-b]
                      [--trace 0] [--scratch DIR]

The parent tree is `git archive <parent-rev>` unpacked under --scratch (kept
between calls, so its benchmark build is reused). Each pair runs
`perfbench/run.py --workload W --seed S` once from each tree with the same
seed and run.py's own run length, the side that goes first alternating from
pair to pair (the parent first in the first pair), so slow drift of the box
falls on both sides. `--workload all` runs the pairs for every workload
BENCHMARK.json declares, one after another, and prints one report each.

For every metric the result lines carry, it prints each side's median and
quartiles, the pairs the change won, and, for the end-to-end metrics
BENCHMARK.json bounds, a verdict:
  worse      the change's median is worse than the parent's by more than the bound
  unresolved not worse, but a side's quartile spread (q3 - q1) / median exceeds the
             bound, unless every change run beats every parent run
  within     otherwise
and whether a gain would hold: at least ten pairs, the change wins nine
tenths of them (ties count for neither side), and its median beats the
parent's by more than the parent's q3 - q1.

Exit status: 0 when every run was correct, 1 when, on any workload, a run was
incorrect, failed or wrote no result, or an end-to-end metric is worse beyond
its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def order(pair):
    """Which side runs first in pair `pair` (0-based): the parent in even pairs."""
    return ("parent", "change") if pair % 2 == 0 else ("change", "parent")


def seeds_arg(text, pairs):
    """The pairs' seeds: `a-b` (inclusive); by default 1..pairs."""
    if not text:
        return list(range(1, pairs + 1))
    a, b = text.split("-", 1)
    return list(range(int(a), int(b) + 1))


def quartiles(xs):
    """(median, q1, q3); one sample is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return statistics.median(xs), q1, q3


def worse_by(parent_med, change_med, better):
    """The change's median relative to the parent's; positive is worse."""
    if parent_med == 0:
        return 0.0 if change_med == parent_med else float("inf")
    d = (change_med - parent_med) / abs(parent_med)
    return d if better == "lower" else -d


def wins(parent, change, better):
    """Pairs in which the change's value beats the parent's."""
    return sum(1 for p, c in zip(parent, change) if (c < p if better == "lower" else c > p))


def verdict(parent, change, better, bound):
    """worse / unresolved / within, as the module docstring defines them."""
    pm, pq1, pq3 = quartiles(parent)
    cm, cq1, cq3 = quartiles(change)
    if worse_by(pm, cm, better) > bound:
        return "worse"
    separated = max(change) < min(parent) if better == "lower" else min(change) > max(parent)
    if separated:
        return "within"
    spread = max((q3 - q1) / abs(m) if m else float("inf")
                 for m, q1, q3 in ((pm, pq1, pq3), (cm, cq1, cq3)))
    return "unresolved" if spread > bound else "within"


def gain_holds(parent, change, better):
    """At least ten pairs, nine tenths of them won, and the medians apart by
    more than the parent's q3 - q1, in the change's favour."""
    pm, pq1, pq3 = quartiles(parent)
    cm, _, _ = quartiles(change)
    ahead = (pm - cm) if better == "lower" else (cm - pm)
    return (len(parent) >= 10 and 10 * wins(parent, change, better) >= 9 * len(parent)
            and ahead > (pq3 - pq1))


def load_contract(root):
    """name -> (better, bound or None) from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    out = {m["name"]: (m["better"], None) for m in b.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m["bound"]) for m in b["end_to_end"]})
    return out


def workloads(name, root):
    """The workloads to run: every one BENCHMARK.json declares for `all`, else `name`."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = [w["name"] for w in json.load(f)["workloads"]]
    if name == "all":
        return declared
    if name not in declared:
        raise SystemExit(f"unknown workload {name}; BENCHMARK.json declares "
                         + ", ".join(declared))
    return [name]


def exit_status(results):
    """1 when any workload had a failed run, a metric worse beyond its bound or no
    complete pair; else 0. `results` holds one dict per workload."""
    return 1 if any(r["bad"] or r["worse"] or not r["runs"] for r in results) else 0


def parent_tree(rev, scratch):
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", rev + "^{commit}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    tree = os.path.join(scratch, "parent-" + sha[:12])
    if not os.path.isfile(os.path.join(tree, "perfbench", "run.py")):
        os.makedirs(tree, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {rev} failed")
    return tree


def run_once(tree, workload, seed, trace):
    """One perfbench run from `tree`: (result dict or None, exit code)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--trace", str(trace)],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]), p.returncode
    except (IndexError, ValueError):
        return None, p.returncode


def report(runs, contract):
    """Print the per-metric table; returns the names of metrics worse beyond their bound.
    Metrics that read 0 in every run (a traced layer the workload does not
    run) are counted, not printed."""
    names = [n for n in runs[0]["parent"]["metrics"] if n in runs[0]["change"]["metrics"]]
    zero = [n for n in names if all(r[s]["metrics"][n]["value"] == 0
                                    for r in runs for s in ("parent", "change"))]
    names = [n for n in names if n not in zero]
    print(f"{'metric':<30}{'parent med':>12}{'q1':>11}{'q3':>11}{'change med':>12}"
          f"{'q1':>11}{'q3':>11}{'delta':>8}{'wins':>7}  verdict")
    worse = []
    for n in names:
        parent = [r["parent"]["metrics"][n]["value"] for r in runs]
        change = [r["change"]["metrics"][n]["value"] for r in runs]
        better, bound = contract.get(n, ("lower", None))
        pm, pq1, pq3 = quartiles(parent)
        cm, cq1, cq3 = quartiles(change)
        d = (cm - pm) / abs(pm) if pm else 0.0
        v = verdict(parent, change, better, bound) if bound is not None else "-"
        if v == "worse":
            worse.append(n)
        g = "  gain holds" if gain_holds(parent, change, better) else ""
        print(f"{n:<30}{pm:>12.4g}{pq1:>11.4g}{pq3:>11.4g}{cm:>12.4g}{cq1:>11.4g}{cq3:>11.4g}"
              f"{d:>+8.1%}{wins(parent, change, better):>4}/{len(runs):<2}  {v}{g}")
        print("    pairs (parent/change): " + ", ".join(
            f"{r['seed']}{'P' if r['first'] == 'parent' else 'C'} {p:.4g}/{c:.4g}"
            for r, p, c in zip(runs, parent, change)))
    if zero:
        print(f"({len(zero)} metrics read 0 in every run)")
    return worse


def compare(workload, trees, seeds, trace, parent_rev, contract):
    """Run the alternating pairs of one workload and print its report."""
    runs, bad = [], []
    for i, seed in enumerate(seeds):
        pair = {"seed": seed, "first": order(i)[0]}
        for side in order(i):
            res, code = run_once(trees[side], workload, seed, trace)
            if res is None or not res.get("correct") or res.get("failed") or code != 0:
                bad.append(f"seed {seed} {side}: " + ("no result" if res is None else
                           f"correct={res.get('correct')} failed={res.get('failed')} exit={code}"))
            pair[side] = res
        print(f"pair {i + 1} seed {seed} ({pair['first']} first): "
              + ("ok" if pair["parent"] and pair["change"] else "missing a result"), flush=True)
        if pair["parent"] and pair["change"]:
            runs.append(pair)
    print(f"\n{workload}: {len(runs)} pairs, parent {parent_rev} ({trees['parent']}) vs "
          f"{trees['change']}, trace {trace}")
    worse = report(runs, contract) if runs else []
    for b in bad:
        print(f"FAILED {workload} " + b)
    for n in worse:
        print(f"WORSE {workload} {n}: beyond its bound")
    print(flush=True)
    return {"workload": workload, "runs": runs, "bad": bad, "worse": worse}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("--workload", required=True, help="a BENCHMARK.json workload, or all")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", help="a-b; the pair count follows it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "graft-ab"))
    a = ap.parse_args()
    names = workloads(a.workload, ROOT)
    trees = {"parent": parent_tree(a.parent, a.scratch), "change": ROOT}
    contract = load_contract(ROOT)
    seeds = seeds_arg(a.seeds, a.pairs)
    results = [compare(w, trees, seeds, a.trace, a.parent, contract) for w in names]
    if len(results) > 1:
        for r in results:
            print(f"{r['workload']}: {len(r['runs'])} pairs, {len(r['bad'])} failed runs, "
                  f"worse: {', '.join(r['worse']) or 'none'}")
    return exit_status(results)


if __name__ == "__main__":
    sys.exit(main())
