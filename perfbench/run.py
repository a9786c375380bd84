#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload hicp_series --seed 1 --seconds 10 --trace 0

Builds the program (src/main/scala) together with the benchmark harness
(perfbench/scala) with the Scala compiler that ships in Spark's jars, into
.bench_build/, then runs the workload in a fresh JVM on local[nproc]. The
last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Lines before it are informational. See perfbench/README.md.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["hicp_series", "corpus_ingest", "analytics_mix"]
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 840
JVM_HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars) or not any(j.startswith("scala-compiler") for j in os.listdir(jars)):
        fail(f"no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        fail(f"program sources not found at {SOURCE_DIRS[0]}")
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile once per source tree; the classes directory is keyed by a hash
    of every source file, so an edited tree builds afresh."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:20])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(args, classes, jars, deadline):
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, RESOURCES] + jars), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--launch-ms", str(int(time.time() * 1000)), "--cores", str(cores)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded its deadline")
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if not lines:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-1][len("RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    t0 = time.time()
    res = run_jvm(args, classes, jars, t0 + RUN_DEADLINE_S)
    for k, v in res.pop("info").items():
        print(f"info {k}: {v}")
    print(f"info run_wall_s: {time.time() - t0:.1f}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
