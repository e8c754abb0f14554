#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into perfbench/.build/<source hash>.

    python3 perfbench/build.py     # from the repository root; prints the class dir

Spark is found through SPARK_HOME, or else through `spark-submit` on PATH.
A build is reused until a source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources not found at {LIB_SRC}: run from a checkout of the repository")
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build():
    """Returns (class directory, Spark jars directory), compiling if needed."""
    jars = spark_jars()
    files = sources()
    compiler = [j for name in ("scala-compiler", "scala-library", "scala-reflect")
                for j in sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))]
    if len(compiler) != 3:
        raise BuildError(f"Scala 2.13 compiler jars not found in {jars}")
    digest = hashlib.sha256()
    for f in files + compiler:
        digest.update(os.path.relpath(f, ROOT if f.startswith(ROOT) else jars).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                digest.update(fh.read())
    classes = os.path.join(OUT, digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "DONE")):
        return classes, jars

    shutil.rmtree(OUT, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, "DONE"), "w").close()
    os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
