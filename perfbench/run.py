#!/usr/bin/env python3
"""Seeded link-graph benchmark of the graphblasspark library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark
(perfbench/build.py), then starts one JVM. That JVM generates the workload's
input and reference answers for the seed once (cached under
perfbench/.work/cache), warms up, times the workload's calls for S seconds
and checks every output.
The last line of stdout is one JSON object: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics. Progress
and errors go to stderr; any failure to produce a result exits non-zero.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("pagerank_corpus", "labels_hub")
# fixed driver heap, far below the host's memory
HEAP = "3g"
# a fixed young generation: the collector does not resize it run to run,
# so the peak resident set reflects what the program keeps, not GC tuning
YOUNG = "1g"
# Spark 4 on JDK 17 outside spark-submit needs these opens
ADD_OPENS = [arg for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java(opts, classes, jars, timeout):
    """Runs the benchmark JVM and returns its result JSON."""
    out = os.path.join(WORK, "run.json")
    if os.path.exists(out):
        os.remove(out)
    logfile = os.path.join(WORK, "run.log")
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", *ADD_OPENS,
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "graft.perfbench.Main",
           "--cache", os.path.join(WORK, "cache"), "--work", WORK, "--out", out]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    with open(logfile, "w") as fh:
        cmd += ["--t0-ns", str(time.time_ns())]
        try:
            proc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {timeout:.0f} s (log: {logfile})")
    if proc.returncode != 0:
        with open(logfile) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"JVM exited with {proc.returncode}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    start = time.monotonic()
    classes, jars = build.build()
    # a run ends within 170 s, plus the compile time when it had to compile
    deadline = start + 170 + (time.monotonic() - start)

    def remaining():
        return max(1.0, deadline - time.monotonic())

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    log(f"{a.workload} seed {a.seed}: starting the benchmark JVM")
    res = java({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace},
               classes, jars, timeout=remaining())
    metrics = res["metrics"]
    for f in res["failures"]:
        log(f"check failed: {f}")

    missing = [m["name"] for m in wanted if metrics.get(m["name"]) is None]
    if missing:
        raise RuntimeError(f"metrics not reported: {', '.join(missing)}")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(2)
