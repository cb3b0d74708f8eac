#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources together with
the benchmark's own JVM sources (perfbench/src) into one class
directory, with the Scala compiler that ships among the Spark jars. The
Spark jars are the ones graft's build.sbt names as its unmanagedBase.

Usage, from the root of a checkout:  python3 perfbench/build.py

The output lands under .bench_build/classes-<digest>, where the digest
covers every source file, so an unchanged tree is built once. Prints
the class directory on stdout.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not any(p.endswith("graft/SparkEntry.scala") for p in prog):
        raise BuildError(f"no graft sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    return prog + own


def spark_jars(root):
    """The jar directory of graft's build.sbt (`unmanagedBase`)."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError(f"no unmanagedBase jar directory in {root}/build.sbt")
    return m.group(1)


def classpath(root, extra=None):
    cp = [os.path.join(spark_jars(root), "*")]
    return os.pathsep.join(([extra] if extra else []) + cp)


def build(root, out_dir):
    """Compiles if needed; returns the class directory."""
    srcs = sources(root)
    compiler = os.path.join(spark_jars(root), f"scala-compiler-{SCALA_VERSION}.jar")
    if not os.path.exists(compiler):
        raise BuildError(f"Scala compiler not found: {compiler}")
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = classpath(root)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout.decode(errors="replace")[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
