#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # prints the runtime classpath

The classes go to perfbench/.build/<stamp>/, where the stamp hashes every
source file and the Spark jar list, so an unchanged tree is not rebuilt.
Needs SPARK_HOME (or spark-submit on PATH) pointing at a Spark 4 / Scala 2.13
install; exits non-zero when it or the sources are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("build: no Spark install found (set SPARK_HOME)")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, dest, files, tmp):
    os.makedirs(dest)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", dest, "-classpath", classpath] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compilation failed")


def build():
    """Returns the runtime classpath, compiling first when sources changed."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit("build: program sources missing: " + PROGRAM_SRC)
    jars = spark_jars()
    program, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    h = hashlib.sha256()
    for f in program + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    main_cls, bench_cls = os.path.join(out, "program"), os.path.join(out, "bench")
    cp = os.pathsep.join([bench_cls, main_cls, os.path.join(jars, "*")])
    if os.path.isdir(out):
        return cp
    shutil.rmtree(BUILD, ignore_errors=True)
    staging = out + ".tmp"
    tmp = os.path.join(staging, "tmp")
    os.makedirs(tmp)
    scalac(jars, os.path.join(jars, "*"), os.path.join(staging, "program"), program, tmp)
    scalac(jars, os.pathsep.join([os.path.join(staging, "program"), os.path.join(jars, "*")]),
           os.path.join(staging, "bench"), bench, tmp)
    shutil.rmtree(tmp)
    os.rename(staging, out)
    return cp


if __name__ == "__main__":
    print(build())
