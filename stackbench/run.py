#!/usr/bin/env python3
"""Run one workload of the dashboard-stack benchmark.

    python3 stackbench/run.py --workload dashboard_read --seed 1 --seconds 10 --trace 0
    python3 stackbench/run.py --selftest

Run from the repository root. The first run builds the program and the
benchmark with sbt and generates the scaled stack; later runs reuse both
while their sources are unchanged. Everything is written under
.bench_build/stackbench. The last line on stdout is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "stackbench")
FIXTURES = os.path.join(ROOT, "src", "test", "resources", "fixtures")
GOLDENS = os.path.join(ROOT, "src", "test", "resources", "goldens")
# copies of the reference fixtures in the scaled stack (see README.md)
COPIES = 64
HEAP = "3g"
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[stackbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every source the build depends on."""
    h = hashlib.sha256()
    tops = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main"), FIXTURES, GOLDENS,
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compiles the program and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(STATE, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=800)
    sys.stderr.write(out.stdout)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or "stackbench" not in lines[-1]:
        raise SystemExit("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def java(cp, args, timeout):
    cmd = ["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "stackbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"timed out after {timeout} s")
    if code != 0:
        raise SystemExit(f"the benchmark JVM exited with {code}")


def checksum(data):
    """Same digest as Stack.checksum: relative path then bytes, path order."""
    h = hashlib.sha256()
    rels = sorted(os.path.relpath(os.path.join(d, f), data)
                  for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet"))
    for rel in rels:
        h.update(rel.encode())
        with open(os.path.join(data, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def stack(cp, stamp):
    """Generates the scaled stack once per build and verifies its checksum
    every run."""
    data = os.path.join(STATE, "data", f"K{COPIES}-{stamp[:16]}")
    if not os.path.exists(os.path.join(data, "CHECKSUM")):
        shutil.rmtree(os.path.join(STATE, "data"), ignore_errors=True)
        log(f"generating the scaled stack: {COPIES} copies")
        java(cp, ["gen", FIXTURES, data + ".tmp", str(COPIES)], 600)
        os.rename(data + ".tmp", data)
    with open(os.path.join(data, "CHECKSUM")) as fh:
        if fh.read().strip() != checksum(data):
            raise SystemExit(f"checksum mismatch in {data}; delete it to regenerate")
    return data


def prebuilt_gold(cp, data):
    """The program's full refresh of the stack, once per build and stack;
    the read workload serves it."""
    gold = os.path.join(STATE, "gold", os.path.basename(data))
    if not os.path.exists(gold):
        shutil.rmtree(os.path.join(STATE, "gold"), ignore_errors=True)
        log("building the gold tables of the stack")
        java(cp, ["gold", data, gold + ".tmp"], 600)
        os.rename(gold + ".tmp", gold)
    return gold


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="dashboard_read")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    for need in (os.path.join(ROOT, "build.sbt"), FIXTURES, GOLDENS):
        if not os.path.exists(need):
            raise SystemExit(f"not a checkout of the program: {need} is missing")

    stamp = sources_stamp()
    cp = build(stamp)
    data = stack(cp, stamp)
    gold = prebuilt_gold(cp, data)
    started = time.time()
    tag = f"{'selftest' if a.selftest else a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(STATE, "work", tag)
    result = os.path.join(STATE, "work", tag + ".json")
    os.makedirs(os.path.dirname(work), exist_ok=True)
    args = ["selftest" if a.selftest else "run", f"workload={a.workload}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"data={data}", f"gold={gold}", f"work={work}",
            f"fixtures={FIXTURES}", f"goldens={GOLDENS}", f"result={result}"]
    if a.trace:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        args.append(f"spans={os.path.join(STATE, 'traces', tag + '.jsonl')}")
    try:
        java(cp, args, max(30, RUN_TIMEOUT_S - (time.time() - started)))
        with open(result) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(result):
            os.remove(result)
    print(line, flush=True)


if __name__ == "__main__":
    main()
