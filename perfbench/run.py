#!/usr/bin/env python3
"""Run one perfbench workload for one seed, from the repository root.

    python3 perfbench/run.py --workload workflow_batch --seed 1 --seconds 5 --trace 0

Steps: build the library and the benchmark from source with sbt (once per
source state; the classpath is cached under perfbench/work/build), generate
the workload's inputs from the seed, run the benchmark JVM on them, and
print its result JSON as the last line of standard output. Everything a run
writes stays under perfbench/work; the run's own tables are removed at the
end and only its report (perfbench/work/reports) is kept.
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
WORK = os.path.join("perfbench", "work")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JAVA_HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the library's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# What the build reads: a change to any of these rebuilds.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd`, killing it (and waiting for it) if it overruns."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    return proc.returncode, out


def classpath():
    """Compile with sbt when the sources changed; return the classpath."""
    build_dir = os.path.join(WORK, "build")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building library and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and "classes" in l and ":" in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {code})")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    os.chdir(ROOT)
    if not (os.path.isfile("build.sbt") and
            os.path.isdir(os.path.join("src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the library sources (build.sbt, "
                         "src/main/scala/graft) are not in this checkout")
    sys.path.insert(0, HERE)
    import gen
    if a.workload not in gen.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    cp = classpath()
    started = time.monotonic()  # a build may take longer; the run may not
    run_dir = os.path.join(WORK, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    report = os.path.join(WORK, "reports",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    try:
        gen.generate(a.workload, a.seed, os.path.join(run_dir, "input"))
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(run_dir, d))
        env = dict(os.environ)
        env["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, run_dir, "spark-local")
        cmd = (["java", f"-Xmx{JAVA_HEAP}",
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--input", os.path.join(run_dir, "input"),
                "--work", os.path.join(run_dir, "work"),
                "--report", report])
        budget = RUN_TIMEOUT_S - (time.monotonic() - started)
        code, out = run_bounded(cmd, max(budget, 10), env=env,
                                stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: benchmark exited {code} without a result")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
