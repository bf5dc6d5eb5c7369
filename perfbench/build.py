#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/scala) into
one class directory, with the Scala compiler that ships in Spark's jars.

The build is skipped when a stamp over every source file matches, so only
the first run in a checkout pays for it.

Usage: python3 perfbench/build.py            (prints the class directory)
Environment: SPARK_HOME (default: the jar directory build.sbt names);
CARGO_TARGET_DIR names the build directory (default .bench_build),
relative to the checkout root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt
    names in `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars at {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    files = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: source directory {r} is missing")
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for dirpath, _, names in os.walk(res):
        out += [os.path.join(dirpath, n) for n in names]
    return res, sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure():
    """Return the class directory, compiling first when sources changed."""
    srcs = sources()
    res_root, res = resources()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(srcs + res)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    jars = spark_jars()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(ensure())
