#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt pulls in the root build) and
generates the benchmark tables; later runs reuse both while the sources
are unchanged. Everything it writes goes under `.bench_build/`.

The last stdout line is the result object `{"correct", "attempted",
"failed", "metrics"}`; the line before it is the run record with box
health, sample counts and failures by name. Workloads, metrics and
seeds are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build")
SCALE = 0.1
DATA_SEED = 42
# Fixed, pre-touched heap: with a growable heap, G1's sizing decisions
# made peak RSS swing by a third between identical runs, and first-touch
# page faults landed inside the timed ops.
HEAP = "3g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    engine = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]
    if not all(os.path.exists(p) for p in engine):
        fail("engine build (build.sbt, src/main) not found beside the benchmark")
    stamp = tree_digest(engine + [os.path.join(ROOT, "project", "build.properties"),
                                  os.path.join(BENCH, "build.sbt"),
                                  os.path.join(BENCH, "project", "build.properties"),
                                  os.path.join(BENCH, "src")])
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n")[:2]
        if old_stamp == stamp:
            return cp
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {p.returncode}), see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(f"{stamp}\n{cp}\n")
    return cp


def data_dir():
    """Generate the benchmark tables once per generator version."""
    gen = os.path.join(BENCH, "gen_data.py")
    stamp = f"{tree_digest([gen])} scale={SCALE} seed={DATA_SEED}"
    out = os.path.join(WORK, "data", f"sf{SCALE}")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, gen, "--scale", str(SCALE),
                    "--data-seed", str(DATA_SEED), "--out", out], check=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def java(cp, args, deadline):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [exe, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           *opens, "-cp", cp, "perfbench.Main",
           "--bench", BENCH, "--work", run_dir, *args]
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit, see {log}", 3)
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.read().splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited with {p.returncode}, see {log}", p.returncode)
    return p.stdout


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "live_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    data = data_dir()
    out = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", data], deadline)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail("harness printed no result")
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(WORK, "records", name), "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    for f in record.get("failures", []):
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
