#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in the Spark jar
directory the program's own build.sbt names, into .bench_build/classes.

Usage (from the repository root): python3 perfbench/build.py

The build is skipped when the sources and the jar directory are unchanged
since the last successful build (a content hash is kept next to the classes).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory of the program's build (`unmanagedBase` in
    build.sbt), else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d) and any(f.startswith("scala-compiler") for f in os.listdir(d)):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        full = os.path.join(ROOT, d)
        if not os.path.isdir(full):
            raise BuildError(f"missing source directory {d}")
        for dirpath, _, names in os.walk(full):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    classpath = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=log, flush=True)
    # the compiler writes nothing outside the checkout: no perf-data file in
    # /tmp, temporary files under .bench_build
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xmx2g", "-Xss8m",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        print(res.stdout[-4000:], file=log)
        raise BuildError("compilation failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    return classpath


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
