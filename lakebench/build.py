#!/usr/bin/env python3
"""Builds the program and the benchmark driver into one class directory.

Compiles `src/main/scala` (the program, unchanged) together with
`lakebench/scala` (the driver) with the Scala compiler that ships in
Spark's jar directory, so no build tool or network is needed. The
output goes to `$CARGO_TARGET_DIR/lakebench` (default `.bench_build`)
and is reused while every source file hashes the same.

    python3 lakebench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("lakebench: set SPARK_HOME to a Spark 4 install")
    return os.path.join(home, "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        sys.exit(f"lakebench: no program sources under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                             recursive=True))
    return prog + bench


def build():
    """Returns the class directory, compiling first if sources changed."""
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "lakebench")
    out = os.path.abspath(os.path.join(ROOT, out))
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "STAMP")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return classes
    os.makedirs(classes, exist_ok=True)
    for old in glob.glob(os.path.join(classes, "**/*.class"), recursive=True):
        os.remove(old)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("lakebench: compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
