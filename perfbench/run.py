#!/usr/bin/env python3
"""The benchmark: one command, two workloads, every metric by name.

Usage (from the repository root):
  python3 perfbench/run.py --workload transit_live --seed 1 --seconds 10 --trace 0

Builds the program and the JVM harness from source (build.py), generates the
workload's inputs from the seed (gen.py), runs the harness, checks the
outputs, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones, and the spans go to
.bench_build/perfbench/traces/<workload>-<seed>.jsonl. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("transit_live", "batch_sf0.01")
BATCH_SF = 0.01
DEADLINE_S = 175
# Spark on JDK 17 outside spark-submit (the same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, log=None):
    if log and os.path.isfile(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.ensure(root)
        jars = build.spark_jars()
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")

    out = os.path.join(root, build.OUT)
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload.startswith("transit"):
        gen.transit_fixture(data, a.seed)
    else:
        gen.corpus(data, a.seed, BATCH_SF)

    log = os.path.join(work, "jvm.log")
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), work, data]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run did not finish in time", log)
    if rc != 0:
        fail(f"the JVM exited with {rc}", log)

    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    mismatches = {}
    if a.workload.startswith("batch"):
        mismatches = oracle.check(data, os.path.join(work, "out"), raw["oracle"])
        for q, why in sorted(mismatches.items()):
            print(f"[perfbench] {q} fails the oracle check: {why}", file=sys.stderr)
    for q, why in sorted(raw.get("errors", {}).items()):
        print(f"[perfbench] {q} failed: {why}", file=sys.stderr)
    for v, why in sorted(raw.get("check", {}).items()):
        if why:
            print(f"[perfbench] view {v} is wrong: {why}", file=sys.stderr)

    e2e, attempted, failed, correct = stats.end_to_end(a.workload, raw, mismatches)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        spans_file = os.path.join(work, "spans.jsonl")
        with open(spans_file) as f:
            spans = [json.loads(line) for line in f]
        values = stats.per_layer(raw, spans, e2e, attempted)
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(spans_file, os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    shutil.copy(log, os.path.join(out, f"last-{a.workload}.log"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
