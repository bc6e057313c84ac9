#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload raster_hw2 --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine together
with the benchmark harness (perfbench/build.sbt) into .bench_build/ and
target directories; later runs reuse that build while no source changes.
Each run starts one JVM on local[nproc], generates its inputs from the
seed, sets up, warms up, then measures passes for --seconds seconds.

Human-readable lines (environment, every metric by name and unit) come
first; the last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. --trace 1 reports the per-layer metrics
instead and writes the span trace to .bench_build/traces/.

Development options: --size tiny (small inputs), --corrupt (corrupt every
expected value, so each check must fail), --record (print golden digests).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("raster_hw2", "engine_mix")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine + harness once per distinct source tree."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp_file = os.path.join(BUILD, "stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = digest.hexdigest()
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars)
    with open(log, "w") as out:
        code = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if code != 0 or not os.path.isdir(classes):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_jvm(args, classes, jars):
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    trace = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size,
            "--fixtures", os.path.join(HERE, "data", "sf0.001"),
            "--goldens", os.path.join(HERE, "goldens.txt"),
            "--work", work, "--out", result, "--trace-out", trace]
    if args.corrupt:
        cmd.append("--corrupt")
    if args.record:
        cmd.append("--record")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
            proc.wait()
        finally:
            timer.cancel()
        if proc.returncode == -signal.SIGKILL:
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.stdout.flush()
    if proc.returncode != 0 or not os.path.isfile(result):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"benchmark JVM failed (exit {proc.returncode})")
    with open(result) as fh:
        doc = json.load(fh)
    if args.trace:
        print(f"trace {os.path.relpath(trace, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    return doc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; "
             "run from a full checkout")
    jars = spark_jars()
    classes = build(jars)
    doc = run_jvm(args, classes, jars)
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
