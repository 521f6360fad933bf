#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library under
`src/main/scala` together with the benchmark's own sources under
`lakebench/src` with the Scala compiler that ships in Spark's jar
directory (no sbt, no dependency resolution).

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
repository root, in a directory named after a hash of every source file,
so an unchanged tree is compiled once.

Usage: python3 lakebench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def sources() -> list:
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise BuildError(f"library sources missing: {LIB_SRC}/graft")
    found = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build() -> tuple:
    """Returns (classes dir, source hash); compiles if not already built."""
    files = sources()
    digest = source_hash(files)
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(ROOT, target, f"lakebench-{digest}")
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, digest
    parent = os.path.dirname(out)
    if os.path.isdir(parent):  # builds of other source trees are stale
        for d in os.listdir(parent):
            if d.startswith("lakebench-"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    open(os.path.join(out, "ok"), "w").close()
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
