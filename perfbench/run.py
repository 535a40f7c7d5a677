#!/usr/bin/env python3
"""Run one perfbench workload against graft.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft's sources together with the benchmark (sbt, offline) on first
use, then starts one JVM on a local Spark session, runs the workload for
the given seconds and prints one JSON result object as the last line of
standard output. Scratch data stays under `.perfbench/` in the repository
root and is removed when the run ends; traced runs keep their span file in
`.perfbench/traces/`.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
JAR = os.path.join(BENCH, "target", "scala-2.13", "perfbench_2.13-0.1.0.jar")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
DATA = os.path.join(BENCH, "data")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 172
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (GRAFT_SRC, os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(home):
    stamp = source_stamp()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       " -Dsbt.server.forcestart=false -XX:-UsePerfData"
                       f" -Djava.io.tmpdir={tmp} -Xmx2g").strip()
    t0 = time.time()
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(JAR):
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def wait(proc, timeout):
    """Wait for `proc`; on timeout kill its whole process group."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def workloads():
    """The workload names BENCHMARK.json lists."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return [w["name"] for w in json.load(f)["workloads"]]
    except (OSError, ValueError, KeyError, TypeError) as e:
        fail(f"cannot read the workloads from BENCHMARK.json: {e}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {os.path.relpath(GRAFT_SRC, ROOT)}")
    home = spark_home()
    build(home)

    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = os.cpu_count() or 1
    heap = "3g" if cores <= 8 else "6g"
    cmd = (["java", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dperfbench.expect={os.path.join(BENCH, 'expect')}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{JAR}:{home}/jars/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", DATA])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        sys.stderr.write(err[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        s = line.strip()
        try:
            obj = json.loads(s) if s.startswith("{") else None
        except ValueError:
            obj = None
        if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
            result = s
        elif s:
            print(s)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(err[-4000:])
        if result is not None:
            print(result, file=sys.stderr)
        print(f"perfbench: {a.workload} failed (exit {proc.returncode})", file=sys.stderr)
        sys.exit(1)
    print(result, flush=True)


if __name__ == "__main__":
    main()
