#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload taxi_month_dag --seed 1 --seconds 1 --trace 0

Builds the engine and the benchmark from this checkout's sources with sbt
(once per source change; the build is cached under perfbench/target), then
runs one workload in a fresh JVM. Everything the run writes stays under
perfbench/target. The last line of stdout is the JSON result.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ["taxi_month_dag", "dashboard_mix", "curation_rounds"]
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout}s: {cmd[0]}")
        return -1, None
    finally:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def build():
    """Compiles with sbt when the sources changed. Returns True if it built."""
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return False
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("sbt is not on PATH")
    log("building engine and benchmark (sbt writeClasspath)")
    code, _ = run_bounded([sbt, "-batch", "writeClasspath"], HERE, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0 or not os.path.isfile(CLASSPATH):
        sys.exit(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources not found next to the benchmark directory")

    started = time.monotonic()
    built = build()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else shutil.which("java")
    local_dir = os.path.join(TARGET, "spark-local")
    tmp_dir = os.path.join(TARGET, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # C1 only: a run lasts about a minute, and under the default tiered
    # compiler C2 is still compiling Spark's driver paths throughout it, so
    # pass times would mostly measure compiler progress. C1 alone gets a
    # 48 MiB code cache, which Spark overflows: flushed methods are compiled
    # again, in bursts of seconds. A larger cache and lower compile
    # thresholds finish most compiling in the warm-up pass. The parallel
    # collector on a fixed heap has no concurrent GC threads whose CPU
    # varies run to run (README, "JVM").
    cmd = [java, "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           "-XX:CompileThresholdScaling=0.1", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp_dir}",
           f"-Dspark.local.dir={local_dir}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    budget = (FIRST_RUN_TIMEOUT_S if built else RUN_TIMEOUT_S) - (time.monotonic() - started)
    code, out = run_bounded(cmd, HERE, max(10, budget), subprocess.PIPE)
    lines = (out or "").strip().splitlines()
    if code != 0 or not lines:
        sys.exit(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("malformed result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
