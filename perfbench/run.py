#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the program and the benchmark from source (perfbench/build.py) into
.bench_build/, runs one JVM with the workload, and relays its stdout, whose
last line is the JSON result. JVM logs go to .bench_build/logs/. Exits non-zero
without printing a result when the build, the run or its output is broken.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# every run, build included, must end well inside 180 s (900 s when it builds)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

# Spark 4 on JDK 17 outside spark-submit needs the module openings that the
# program's build.sbt passes to its forked runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    started = time.time()
    out = build.OUT
    logs = os.path.join(out, "logs")
    tmp = os.path.join(out, "tmp")
    for d in (logs, tmp):
        os.makedirs(d, exist_ok=True)
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    built_s = time.time() - started
    limit = (BUILD_LIMIT_S if built_s > 5 else RUN_LIMIT_S) - built_s

    # a fresh JVM per run, so the set-up pays the cold start of a
    # graft.Migrate invocation; JVM log lines go to stderr so that stdout
    # ends with the result; no perf-data file, which the JVM keeps in /tmp
    cmd = ["java", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Xmx{HEAP}", "-Xss8m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={os.path.join(out, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(logs, 'derby.log')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace]
    if a.smoke:
        cmd.append("--smoke")
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=max(10.0, limit))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit; log: {log_path}", 3)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            print(f.read()[-3000:], file=sys.stderr)
        fail(f"benchmark JVM exited with {proc.returncode}; log: {log_path}", 4)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"malformed result line: {lines[-1][:300]}", 5)
    for l in lines[:-1]:
        print(l)
    print(lines[-1])


if __name__ == "__main__":
    main()
