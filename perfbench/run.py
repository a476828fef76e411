#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the benchmark with sbt
(`perfbench/build.sbt`, which compiles against the root build) and records the
runtime classpath and the root build's forked-run JVM options in
`perfbench/target/launch.txt`. Every run then starts the JVM directly on that
classpath, so neither sbt start-up nor sbt's log prefix reaches a result.

Workload and session settings come from `perfbench/workloads.json`, which the
JVM reads; metric names and units come from `BENCHMARK.json`. The result line is
    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}
with the end-to-end metrics when `--trace 0` and the per-layer metrics when
`--trace 1`. Spans of a traced run are written to
`perfbench/out/spans-<workload>-seed<N>.jsonl`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SPEC = os.path.join(HERE, "target", "launch.txt")
RUN_BUDGET_S = 170  # a run, after any build, must end within 180 s


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    stamp = SPEC + ".digest"
    if os.path.exists(SPEC) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, stdout=log, stderr=subprocess.STDOUT, timeout=850)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(OUT, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_jvm(args, log_path, deadline):
    with open(SPEC) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]
    work = args[args.index("--work") + 1]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf counters
    # outside the checkout (hsperfdata under the system temp directory).
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *jvm_opts, "-cp", classpath,
           "perfbench.Main", *args]
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time budget, see {log_path}")
    out = r.stdout.strip().splitlines()
    if r.returncode != 0 or not out:
        fail(f"JVM exited with {r.returncode}, see {log_path}")
    return json.loads(out[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    for need in ("build.sbt", "BENCHMARK.json", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a full checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        if a.workload not in json.load(fh)["workloads"]:
            fail(f"unknown workload {a.workload}")

    build()
    deadline = time.time() + RUN_BUDGET_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--config", os.path.join(HERE, "workloads.json"), "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--spans", os.path.join(OUT, f"spans-{a.workload}-seed{a.seed}.jsonl")]
    try:
        res = run_jvm(args + ["--slots", str(os.cpu_count() or 1), "--work", work],
                      os.path.join(OUT, f"{tag}.log"), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    names = {m["name"] for m in specs}
    if set(res["metrics"]) != names:
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(res['metrics']) ^ names)}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in specs}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
