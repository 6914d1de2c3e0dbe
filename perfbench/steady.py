#!/usr/bin/env python3
"""Steadiness: N runs of one workload on N seeds, then each metric's median,
quartiles and spread (quartile distance / median) against its bound.

    python3 perfbench/steady.py --workload profile --runs 10 \
        [--first-seed 1] [--trace 0]

Run from the root of a graft checkout. Prints one line per run and a
summary table; the summary is also written as JSON to --json if given.
The bounds in BENCHMARK.json were set from these figures: every spread
except setup_s should stay under a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(root, workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=root, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"run failed (seed {seed}): exit {r.returncode}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[-2]


def summarize(results, bounds):
    rows = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 \
            else (vals[0], None, vals[0])
        spread = (q3 - q1) / med if med else float("nan")
        rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                      "bound": bounds.get(name), "n": len(vals),
                      "unit": results[0]["metrics"][name]["unit"]}
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json")
    a = ap.parse_args()
    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = []
    for k in range(a.runs):
        seed = a.first_seed + k
        res, record = run_once(root, a.workload, seed, bench["run_seconds"],
                               a.trace)
        results.append(res)
        print(f"seed {seed}: " + json.dumps(
            {n: round(m["value"], 4) for n, m in res["metrics"].items()}) +
            f" failed {res['failed']}/{res['attempted']}", flush=True)
        print(f"  {record}", flush=True)
    rows = summarize(results, bounds)
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"\n{a.workload}: {a.runs} runs, failed share {shares}, "
          f"all correct: {all(r['correct'] for r in results)}")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>8}")
    for name, r in rows.items():
        b = "" if r["bound"] is None else f"{r['bound']:.2f}"
        print(f"{name:<16}{r['median']:>12.4f}{r['q1']:>12.4f}"
              f"{r['q3']:>12.4f}{r['spread']:>9.4f}{b:>8}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "runs": a.runs,
                       "failed_shares": shares, "metrics": rows}, f,
                      indent=1)


if __name__ == "__main__":
    main()
