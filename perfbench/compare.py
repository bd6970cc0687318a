#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS [--layers]

Each argument is a results directory written by run.py
(.bench_build/perfbench/results in a checkout) or a list of result files
joined with commas. For every workload and end-to-end metric it prints each
side's median and quartiles, the share of pairs the change won (runs pair
up by seed, else in order), and a verdict:

  gain        the change won at least 9 of 10 pairs and the medians differ
              by more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more than
              the metric's bound (BENCHMARK.json)
  unresolved  a side's spread (interquartile range over median) exceeds the
              bound, and not every change run beats every parent run
  same        none of the above

With --layers it also prints the medians of the per-layer metrics of the
traced runs (no verdict: per-layer metrics have no bounds).
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(arg):
    paths = []
    for part in arg.split(","):
        p = Path(part)
        paths += sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for p in paths:
        r = json.loads(p.read_text())
        if "workload" in r and "e2e" in r:
            runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(parent, change):
    by_seed = {r["seed"]: r for r in parent}
    if all(r["seed"] in by_seed for r in change):
        return [(by_seed[r["seed"]], r) for r in change]
    return list(zip(parent, change))


def verdict(pv, cv, won, n, bound, lower_better):
    p1, pm, p3 = quartiles(pv)
    c1, cm, c3 = quartiles(cv)
    sign = -1 if lower_better else 1
    better = sign * (cm - pm)
    spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
    all_better = (max(cv) < min(pv)) if lower_better else (min(cv) > max(pv))
    if n and won >= 0.9 * n and better > (p3 - p1):
        return "gain"
    if -better > bound * abs(pm):
        return "regression"
    if spread > bound and not all_better:
        return "unresolved"
    return "same"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    parent, change = load(args[0]), load(args[1])
    for (workload, trace) in sorted(set(parent) & set(change)):
        ps, cs = parent[(workload, trace)], change[(workload, trace)]
        if trace == 0:
            print(f"\n== {workload}: {len(ps)} parent runs, {len(cs)} change runs")
            print(f"  {'metric':<18} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} {'won':>7}  verdict")
            for name, m in e2e.items():
                lower = m["better"] == "lower"
                pv = [r["e2e"][name]["value"] for r in ps if name in r["e2e"]]
                cv = [r["e2e"][name]["value"] for r in cs if name in r["e2e"]]
                if not pv or not cv:
                    continue
                pr = [(a["e2e"][name]["value"], b["e2e"][name]["value"]) for a, b in pairs(ps, cs)
                      if name in a["e2e"] and name in b["e2e"]]
                won = sum(1 for a, b in pr if (b < a if lower else b > a))
                v = verdict(pv, cv, won, len(pr), m["bound"], lower)
                fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
                print(f"  {name:<18} {fmt(pv):>32} {fmt(cv):>32} {won:>3}/{len(pr):<3}  {v}")
        elif "--layers" in sys.argv:
            print(f"\n== {workload} per-layer medians (traced): parent -> change")
            for name in ps[0].get("per_layer", {}):
                pv = [r["per_layer"][name]["value"] for r in ps]
                cv = [r["per_layer"][name]["value"] for r in cs if name in r.get("per_layer", {})]
                if cv:
                    print(f"  {name:<36} {statistics.median(pv):14.4f} -> {statistics.median(cv):14.4f} "
                          f"{ps[0]['per_layer'][name]['unit']}")


if __name__ == "__main__":
    main()
