#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the graft program sources
(src/main/scala) together with the benchmark harness (perfbench/src) into
one class directory, with the Scala compiler that ships among the Spark
jars ($SPARK_HOME/jars). Nothing outside the checkout is written.

The output lives under perfbench/.work/build/<stamp>, where the stamp is a
hash of every source file, so a changed source tree rebuilds and an
unchanged one is reused.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def build():
    """Compile if needed; return the class directory. Raises on failure."""
    if not os.path.isdir(SPARK_JARS):
        raise FileNotFoundError(f"no Spark jars at {SPARK_JARS!r}: set SPARK_HOME")
    srcs = sources()
    if not any(s.endswith(os.path.join("graft", "SparkEntry.scala")) for s in srcs):
        raise FileNotFoundError(f"graft program sources not found under {os.path.join(ROOT, 'src')}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(HERE, ".work", "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    shutil.rmtree(os.path.join(HERE, ".work", "build"), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, "OK"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report any build failure as a non-zero exit
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
