#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark (the
program's sources plus perfbench/src) with sbt into $CARGO_TARGET_DIR (default
`.bench_build`); later runs reuse the build while the sources are unchanged.
One JVM then generates the seeded inputs, runs the workload on
`local[<cores>]`, checks every output and prints one JSON result as the last
line of standard output. Scratch data lives under `.bench_work/` and is
removed at exit; traced runs leave their span file in `.bench_work/traces/`.
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

WORKLOADS = ("build_entities", "serve_mixed", "dedup_docs")
HEAP = "4g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            yield path
            continue
        for d, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                yield os.path.join(d, f)


def build(root, target):
    """Compile with sbt unless the classes match the current sources."""
    digest = hashlib.sha256()
    for path in source_files(root):
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(target, "sources.sha256")
    classes = os.path.join(target, "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest.hexdigest():
                return classes
    env = dict(os.environ, PERFBENCH_TARGET=target)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=os.path.join(root, "perfbench"), env=env,
        stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest() + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: the program sources "
             "(src/main/scala/graft) are missing")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution with jars/")

    build_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(root, os.path.join(build_root, "perfbench"))

    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(work_root, "traces")
    for d in (work, os.path.join(work, "tmp"), traces):
        os.makedirs(d, exist_ok=True)

    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--traces", traces])
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    deadline = time.time() + JVM_TIMEOUT_S

    def stop_jvm(*_):
        os.killpg(proc.pid, signal.SIGKILL)
    signal.signal(signal.SIGALRM, stop_jvm)
    # a stopped benchmark stops its JVM too (it runs in its own session)
    signal.signal(signal.SIGTERM, stop_jvm)
    signal.alarm(JVM_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = line[len("RESULT "):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if time.time() > deadline:
        fail(f"the run exceeded {JVM_TIMEOUT_S} s and was stopped", 4)
    if code != 0 or result is None:
        fail(f"the benchmark JVM exited with code {code}", 5)
    print(result)
    sys.exit(0 if json.loads(result)["correct"] else 1)


if __name__ == "__main__":
    main()
