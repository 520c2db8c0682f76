#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) with the Scala
compiler that ships in Spark's jar directory, into .bench_build/classes.

Usage: python3 perfbench/build.py      (from the repository root)

A stamp of every source's path and content skips the compile when
nothing changed. Spark's jars are found through SPARK_HOME, or next to
the `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")

# Spark 4 on JDK 17 needs these outside spark-submit, as in build.sbt.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java on PATH")
    return exe


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala",
                                            "**", "*.scala"), recursive=True))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles when the sources changed; returns the run classpath."""
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    have = open(STAMP).read() if os.path.exists(STAMP) else ""
    if want != have:
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={BUILD}", "-cp",
               os.path.join(jars, "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", CLASSES, f"@{argfile}"]
        # cwd: scalac puts "." on its classpath, which must not be the
        # repository (perfbench/scala would read as a package)
        r = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compile failed")
        with open(STAMP, "w") as fh:
            fh.write(want)
    return CLASSES + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
