#!/usr/bin/env python3
"""Deep check: replay the full DuckDB oracle SQL of the curate rows (slots b
and c of the queries workload) on the generated corpus of one seed.

    python3 perfbench/deepcheck.py [--seed 1]

Run from the root of a graft checkout. The per-run checks in checks.py
recompute the curate rows' properties in Python; this command instead runs
each row's SparkEntry.oracleSql in DuckDB with scripts/check_oracle.py's
compare rules. Several of those oracles are recursive SQL, so this takes
minutes and is not part of a benchmark run.
"""
import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                            ".bench_build"))
    classes = run.build(root, out)
    data, _ = run.inputs(out, "queries", a.seed)
    d = os.path.join(out, "runs", f"deepcheck-{a.seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "work"))
    try:
        curate = {k: v for k, v in run.QUERIES.items() if k in ("b", "c")}
        run.jvm(root, classes, os.path.join(d, "work"), [
            "--workload", "queries", "--data", data,
            "--out", os.path.join(d, "out"), "--trace", "0",
            "--ops", ";".join(
                f"{k}:{','.join(v)}" for k, v in curate.items())],
            os.path.join(d, "jvm.log"))
        sys.path.insert(0, os.path.join(root, "scripts"))
        import check_oracle
        sys.exit(check_oracle.main(os.path.join(d, "out"), data))
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
