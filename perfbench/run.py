#!/usr/bin/env python3
"""Benchmark launcher.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the checkout's library together with the harness in perfbench/
(one scalac run with the compiler in Spark's jars; skipped when the
sources are unchanged since the last build), wipes the benchmark's
scratch state, then runs the workload in a fresh JVM. The last stdout
line is one JSON object with the keys `correct`, `attempted`, `failed`
and `metrics`. Details (settings,
percentiles, per-layer breakdown, failing ops) go to
perfbench/.work/details_<workload>_t<trace>.json; see perfbench/METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(WORK, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(BENCH, "src", "main", "scala")]
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# library's own build (build.sbt jdk17AddOpens).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The JVM settings of the library's Bench main, listed once here and echoed
# in every run's details. The heap is capped below Bench's 8g default so a
# run fits a shared 16 GB machine.
JVM_OPTS = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    "-Xmx4g",
    "-XX:ReservedCodeCacheSize=1g",
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.abspath(__file__)]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; returns seconds spent building.

    The library's sources and the harness are compiled in one scalac run,
    with the Scala compiler that ships in Spark's jars directory. No build
    tool is started, so nothing is resolved and nothing is written outside
    the checkout: the result does not depend on a home directory's caches.
    """
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return 0.0
    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(WORK, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    sources = sorted(os.path.join(d, f)
                     for r in SOURCE_DIRS for d, _, fs in os.walk(r) for f in fs
                     if f.endswith(".scala"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$", j)]
    if len(compiler) != 3:
        fail(f"no Scala 2.13 compiler in {SPARK_JARS}", 3)
    jvm = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    cmd = jvm + ["-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
                 "-d", CLASSES, "-classpath", ":".join(jars), f"@{argfile}"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, start_new_session=True,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out", 3)
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return time.time() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    with open(os.path.join(BENCH, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}", 2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources next to perfbench/ (expected ../build.sbt "
             "and ../src/main/scala)", 2)
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}", 2)

    t_start = time.time()
    build_s = build()

    # every run starts from the same state: an empty scratch tree
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))

    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    params = spec["workloads"][args.workload]["params"]
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--work", run_dir, "--root", ROOT,
        "--jvm", " ".join(JVM_OPTS),
    ] + [x for k, v in sorted(params.items()) for x in ("--param", f"{k}={v}")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    budget = RUN_TIMEOUT_S + (BUILD_TIMEOUT_S if build_s > 0 else 0) \
        - (time.time() - t_start)
    try:
        out, _ = proc.communicate(timeout=max(budget, 10))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
