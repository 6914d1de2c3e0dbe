#!/usr/bin/env python3
"""Interleaved A/B of two graft checkouts with this benchmark.

    python3 perfbench/ab.py --parent ../graft-parent --change . \
        --workload profile [--pairs 10] [--first-seed 100]

Both sides run this file's own perfbench/run.py (identical benchmark code
and settings), each from its checkout's root, so each builds and measures
its own graft sources. Pair k uses seed first-seed + k on both sides, and
the side that runs first alternates between pairs. For every end-to-end
metric it reports each side's median and quartiles, the pairs the change
won (ties count for neither) and a verdict:

  gain        the change won at least 9/10 of the pairs and the medians
              differ by more than the parent's quartile distance
  regression  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  the parent's own spread is wider than the bound, and not
              every change run beat every parent run
  same        none of the above

A gain does not count when more operations failed than at the parent, or
with fewer than ten pairs.
"""
import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from steady import run_once  # noqa: E402


def quartiles(v):
    q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else v * 3
    return q1, statistics.median(v), q3


def verdict(par, chg, wins, pairs, bound, lower_better):
    p1, pm, p3 = quartiles(par)
    _, cm, _ = quartiles(chg)
    better = (cm < pm) if lower_better else (cm > pm)
    worse_by = ((cm - pm) if lower_better else (pm - cm)) / pm if pm else 0
    if wins >= 0.9 * pairs and better and abs(cm - pm) > (p3 - p1):
        return "gain"
    if bound is not None and worse_by > bound:
        return "regression"
    all_better = (max(chg) < min(par)) if lower_better else \
        (min(chg) > max(par))
    if bound is not None and pm and (p3 - p1) / pm > bound and \
            not all_better:
        return "unresolved"
    return "same"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"]}
    runs = {"parent": [], "change": []}
    for k in range(a.pairs):
        seed = a.first_seed + k
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            root = os.path.abspath(getattr(a, side))
            res, _ = run_once(root, a.workload, seed, bench["run_seconds"], 0)
            runs[side].append(res)
            print(f"pair {k} {side}: " + json.dumps(
                {n: round(m["value"], 4) for n, m in res["metrics"].items()}),
                flush=True)
    failed = {s: sum(r["failed"] for r in v) for s, v in runs.items()}
    print(f"\n{a.workload}: {a.pairs} pairs; failed operations parent "
          f"{failed['parent']}, change {failed['change']}")
    print(f"{'metric':<14}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'wins':>7}  verdict")
    for name, m in spec.items():
        par = [r["metrics"][name]["value"] for r in runs["parent"]]
        chg = [r["metrics"][name]["value"] for r in runs["change"]]
        lower = m["better"] == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        v = verdict(par, chg, wins, a.pairs, m.get("bound"), lower)
        if v == "gain" and failed["change"] > failed["parent"]:
            v = "no gain (more failures)"
        elif v == "gain" and a.pairs < 10:
            v = "no claim (a gain needs at least 10 pairs)"
        fmt = lambda q: "/".join(f"{x:.3f}" for x in q)  # noqa: E731
        print(f"{name:<14}{fmt(quartiles(par)):>30}{fmt(quartiles(chg)):>30}"
              f"{wins:>4}/{a.pairs}  {v}")


if __name__ == "__main__":
    main()
