#!/usr/bin/env python3
"""Run one whisperspark benchmark workload.

    python3 whisperbench/run.py --workload <live|corpus-dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (the engine's main sources plus whisperbench/src) with
sbt when the sources changed since the last build, runs the workload in one
JVM with Spark local[n], n <= 4, relays its output and exits with its code.
The last stdout line is the result record. A traced run also writes its
spans to whisperbench/out/spans/<workload>-seed<n>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "whisperbench.stamp")
OUT = os.path.join(HERE, "out")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ("live", "corpus-dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit("whisperbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("whisperbench: engine sources not found next to the benchmark")
    build()

    work = os.path.join(OUT, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
        "whisperbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
    ]
    if a.trace:
        cmd += ["--spans", os.path.join(OUT, "spans", f"{a.workload}-seed{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 124
        print("whisperbench: run timed out", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
