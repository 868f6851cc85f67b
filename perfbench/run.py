#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|tiered_sql|curation \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM with fixed heap flags, checks its outputs, and
prints one JSON line last on stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (0 where a layer does not
apply to the workload). Artifacts of the run (JVM log, result.json,
trace.jsonl, selftime.json, spark_profile.json) stay in
.bench_runs/<workload>-trace<0|1>/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402

# Fixed JVM flags: the heap is pinned so peak RSS and GC time compare
# across runs and commits.
HEAP_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
# No hsperfdata file in the system temp directory: a run writes only
# inside the checkout.
NO_PERF_DATA = "-XX:-UsePerfData"
# Spark 4 on JDK 17 outside spark-submit (as build.sbt's javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 165
# Bulky inputs a run leaves behind; removed once the run is checked.
BULKY = ["serve-orig", "serve-store", "tiered-store", "twin.parquet", "curation-data",
         "spark-local", "warehouse", "tmp"]


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json missing", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_dir = os.path.join(ROOT, ".bench_runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", NO_PERF_DATA] + HEAP_FLAGS + ADD_OPENS +
           ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir, "--nproc", str(nproc)])
    log_path = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; log: {log_path}", 3)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}; log: {log_path}", 4)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    with open(log_path) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))

    attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
    if a.workload == "curation":
        import oracle
        n, bad, msgs = oracle.check(os.path.join(run_dir, "results.json"),
                                    os.path.join(run_dir, "curation-data"),
                                    os.path.join(run_dir, "tmp"))
        attempted, failed, failures = attempted + n, failed + bad, failures + msgs
    for b in BULKY:
        shutil.rmtree(os.path.join(run_dir, b), ignore_errors=True)

    if a.trace:
        metrics = {m["name"]: {"value": res["layer"].get(m["name"], {}).get("value", 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in res["e2e"]]
        if missing:
            fail(f"run reported no value for {missing}", 5)
        metrics = {m["name"]: {"value": res["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for msg in failures[:20]:
        print(f"[perfbench] FAILED {msg}", file=sys.stderr)
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "wall_s": time.time() - t0, "heap_flags": HEAP_FLAGS, "info": res["info"],
               "attempted": attempted, "failed": failed, "failures": failures,
               "e2e": res["e2e"], "layer": res["layer"]}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
