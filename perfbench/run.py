#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {profile,queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a graft checkout. The first run builds graft's
sources together with the benchmark's JVM side (perfbench/src) into
.bench_build/ with the Scala compiler that ships with Spark; later runs
reuse the build while no source changed. Inputs are generated from the
seed into .bench_build/data/ once per (workload, seed), outside timing.

Each run is one JVM using local[nproc] with shuffle partitions = nproc
that runs the workload's operations once each, slots a, b and c in order,
as a fresh process does. Outputs are written untimed and checked apart
from graft (perfbench/checks.py).
The last line of stdout is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics untraced (--trace 0), the per-layer metrics traced
(--trace 1). The line before it is the run's pollution record and detail,
which are not metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# graft.queries catalog sample: one row from every graft.queries file,
# each with the modules beyond graft.queries and graft.ops it exercises.
# The crawl-health circuit breaker q423 (ROADMAP) is in it; Spearman
# (q12's subject) runs in the profile workload's exact profile. Rows over
# ~1.5 s warm are left out: per-query fixed cost is the point.
CATALOG_MODULES = {
    "q01_counts": [],                                      # QueryCatalog
    "q198_zone_map": ["sources"],                          # Relational
    "q88_validation_rules": [],                            # Quality
    "q215_range_join_rule": ["plans"],                     # Temporal
    "q423_streaming_breaker": ["streaming"],               # Extra
    "q101_vocabulary": ["functions"],                      # Pipeline
}
# The queries workload: SparkEntry rows by slot, run in order a, b, c.
QUERIES = {
    "a": list(CATALOG_MODULES),
    # graft.ops, documents: exact dedup, MinHash-LSH pairs; stopword
    # language ID, quality signals
    "b": ["q21_dedup_exact", "q24_minhash_lsh", "q28_langid",
          "q29_text_quality"],
    # graft.ops, vectors: PQ codebook training, encode, ADC recall@10
    "c": ["q254_pq_adc_recall"],
}
SLOTS = ["a", "b", "c"]
LAYER_KEYS = ["wall_s", "cpu_s", "jobs", "tasks", "task_s", "core_util",
              "no_job_s", "plan_s", "analysis_s", "optimization_s",
              "planning_s", "codegen_n", "codegen_s", "shuffle_mb",
              "spill_mb", "result_mb", "gc_s", "jit_s", "construct_s",
              "action_s"]
JVM_HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("set SPARK_HOME to a Spark distribution whose jars/ holds the "
            "Scala compiler")
    return jars


def sources(root):
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(prog):
        die(f"no graft sources at {prog}: run from a graft checkout")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    return files


def build(root, out):
    """Compile graft + perfbench/src into out/classes unless a build of
    exactly these sources is already there."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism",
         str(ncores()), "-d", tmp, "-classpath", os.path.join(jars, "*"),
         "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return classes


def ncores():
    return len(os.sched_getaffinity(0))


def inputs(out, workload, seed):
    d = os.path.join(out, "data", f"{workload}-{seed}")
    marker = os.path.join(d, "planted.json")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d + ".tmp")
        os.rename(d + ".tmp", d)
    return d, json.load(open(marker))


def cpu_sample():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # total over user..steal (guest ticks are already inside user), idle
    # + iowait, steal
    return sum(v[:8]), v[3] + v[4], v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm(root, classes, work, args, log):
    cp = os.pathsep.join([classes, os.path.join(root, "src", "main",
                                                "resources"),
                          os.path.join(spark_jars(), "*")])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           ["-cp", cp, "graft.perfbench.Main", "--cores", str(ncores()),
            "--work", work] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "a") as lf:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=lf, env=env,
                           text=True, timeout=170)
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"JVM exited with {r.returncode}")
    return r.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["profile", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    # accepted so that every workload takes the same arguments: a run is
    # one fixed round of operations (about 30-40 s on 4 cores), README.md
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                            ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)
    data, planted = inputs(out, a.workload, a.seed)

    run = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    work = os.path.join(run, "work")
    os.makedirs(work)
    log = os.path.join(run, "jvm.log")
    try:
        s0 = cpu_sample()
        time.sleep(0.5)
        s1 = cpu_sample()
        busy_start = 1 - (s1[1] - s0[1]) / max(1, s1[0] - s0[0])
        load_start = loadavg()

        args = ["--workload", a.workload, "--data", data,
                "--out", os.path.join(run, "out"), "--trace", str(a.trace)]
        if a.workload == "queries":
            args += ["--ops", ";".join(f"{k}:{','.join(v)}"
                                       for k, v in QUERIES.items())]
        t0 = time.time()
        jvm(root, classes, work, args, log)
        jvm_s = time.time() - t0
        s2 = cpu_sample()
        res = json.load(open(os.path.join(run, "out", "result.json")))
        recs = res["records"]

        t0 = time.time()
        bad, detail = checks.check(a.workload, os.path.join(run, "out"),
                                   data, planted, QUERIES)
        detail["checks_s"] = round(time.time() - t0, 2)
        detail["jvm_s"] = round(jvm_s, 2)
        raised = {r["op"] for r in recs if not r["ok"]}
        failed_ops = raised | set(bad)
        attempted = len(recs)
        failed = sum(1 for r in recs if r["op"] in failed_ops)
        for r in recs:
            if not r["ok"]:
                print(f"perfbench: {r['op']} raised: {r['error']}",
                      file=sys.stderr)
        for op, why in sorted(bad.items()):
            print(f"perfbench: check failed: {op}: {why}", file=sys.stderr)

        op_s = {r["op"]: r["wall_s"] for r in recs}
        # ops_cpu_s: the JVM's CPU time over the round, every thread; wall
        # times are in the detail line and the per-layer metrics (README)
        e2e = {"setup_s": (res["setup"]["setup_s"], "s"),
               "ops_cpu_s": (sum(r["cpu_s"] for r in recs), "s")}
        record = {
            "steal": round((s2[2] - s1[2]) / max(1, s2[0] - s1[0]), 5),
            "busy_start": round(busy_start, 4),
            "load_start": load_start, "load_end": loadavg(),
            "cores": res["cores"], "setup_phases": res["setup"],
            # VmHWM spread across seeds is above a tenth: not a metric
            "peak_rss_mb": round(res["peak_rss_mb"], 1),
            "generation_s": planted.get("generation_s"),
            "ops_s": round(sum(op_s.values()), 3),
            "slot_s": {slot: round(sum(r["wall_s"] for r in recs
                                       if r["slot"] == slot), 3)
                       for slot in SLOTS},
            "op_s": {op: round(v, 3) for op, v in op_s.items()},
        }
        if a.workload == "queries":
            for mod in ("streaming", "sources", "plans", "functions"):
                record[f"queries.{mod}_s"] = round(sum(
                    op_s.get(op, 0) for op, mods in CATALOG_MODULES.items()
                    if mod in mods), 4)
        if a.trace:
            metrics = {}
            for slot in SLOTS:
                lay = res["layers"][slot]
                for k in LAYER_KEYS:
                    unit = ("count" if k in ("jobs", "tasks", "codegen_n")
                            else "MB" if k.endswith("_mb")
                            else "ratio" if k == "core_util" else "s")
                    metrics[f"{slot}.{k}"] = {"value": lay[k], "unit": unit}
            record["traced_e2e"] = {k: v for k, (v, _) in e2e.items()}
            record.update(res["extras"])
            if res["extras"].get("lsh_candidates"):
                record["lsh_verify_yield"] = round(
                    detail.get("lsh_verified_pairs", 0) /
                    res["extras"]["lsh_candidates"], 4)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        record.update(detail)
        print("pollution+detail " + json.dumps(record))
        correct = not (set(bad) - raised)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
