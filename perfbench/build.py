#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark harness
(perfbench/harness) with the Scala compiler that ships in Spark's jars
($SPARK_HOME/jars, or next to spark-submit on the PATH), into
.bench_build/classes under the checkout. A stamp of the sources and the
compiler lets a second call return at once.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/harness"]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark distribution; set SPARK_HOME")


def classpath(extra=()):
    return os.pathsep.join(list(extra) + [os.path.join(spark_jars(), "*")])


def build_dir(root):
    return os.path.join(root, ".bench_build")


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise SystemExit(f"build: source directory {d} is missing")
        for base, _, files in os.walk(top):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root, log=sys.stderr):
    """Compile if the sources changed; return the classes directory."""
    srcs = sources(root)
    compiler = [j for j in os.listdir(spark_jars()) if j.startswith("scala-compiler")]
    if not compiler:
        raise SystemExit(f"build: no scala-compiler jar in {spark_jars()}")
    h = hashlib.sha256("\n".join(sorted(compiler)).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print(f"build: compiling {len(srcs)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath(),
           "@" + args_file]
    r = subprocess.run(cmd, cwd=root, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
