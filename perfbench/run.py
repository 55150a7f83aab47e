#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness (perfbench/harness, an sbt
project compiled against the repository's sources) on first use, runs one
workload in a fresh JVM, checks the outputs against independent references
(Spark SQL inside the harness, DuckDB here), and prints one JSON object as
the last line of stdout. `--scale` shrinks the inputs (tests only).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ["migrate_initial", "stream_curation", "query_layouts"]
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the harness once per source state."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().splitlines()
    if r.returncode != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed")
    cps = [l for l in lines if "harness" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, args, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ["java"] + opens + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--scale", str(args.scale), "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        print("\n".join(open(log, errors="replace").read().splitlines()[-60:]), file=sys.stderr)
        fail(f"harness JVM failed ({rc})")
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found in {ROOT}")

    t0 = time.time()
    cp = build()
    t1 = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, os.path.join(work, "result.json"))
        t2 = time.time()
        failures = list(res["failures"])
        failures += checks.run(res)
        t3 = time.time()
        print(f"perfbench: build {t1 - t0:.1f}s jvm {t2 - t1:.1f}s checks {t3 - t2:.1f}s",
              file=sys.stderr)
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(BUILD, f"{args.workload}.log"))
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"perfbench: FAIL {f}", file=sys.stderr)
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    if failures and failed == 0:
        failed = 1  # the final-state check belongs to the last op
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items() if k in units}
    print(json.dumps({"input": res["input"], "setup_repeats_s": res["setup_repeats_s"],
                      "session_start_s": res["session_start_s"], "op_walls_s": res["op_walls_s"],
                      "warmup_s": res["warmup_s"], "check_s": res["check_s"],
                      "jvm_s": res["jvm_s"]}))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if set(metrics) != set(units):
        sys.exit(1)


if __name__ == "__main__":
    main()
