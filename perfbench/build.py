#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one class directory with the
Scala compiler that ships in the Spark distribution. No sbt and no
network: the only inputs are the checkout and the Spark jars the program
builds against (build.sbt's `unmanagedBase`).

The class directory is keyed by a digest of every source file, so a
second run over the same checkout reuses it and an edited checkout gets
a fresh compile.

Usage: python3 perfbench/build.py      (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars the program builds against: build.sbt's
    `unmanagedBase`."""
    sbt = os.path.join(ROOT, "build.sbt")
    jars = None
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found (build.sbt unmanagedBase)")
    return jars


def _sources(base):
    out = []
    for dirpath, _, files in os.walk(base):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure_built():
    """Return the compiled class directory, compiling if needed."""
    program = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = _sources(os.path.join(HERE, "src"))
    if not program:
        raise BuildError("program sources (src/main/scala) not found next to perfbench/")
    if not bench:
        raise BuildError("benchmark sources (perfbench/src) not found")
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in program + bench:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes

    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + program + bench
    try:
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, timeout=600)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac timed out")
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout.decode(errors="replace"))
        raise BuildError(f"scalac failed with exit code {res.returncode}")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
