#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark
harness (perfbench/src) into .bench_build/perfbench/classes, using the
Scala compiler that ships in Spark's jars directory ($SPARK_HOME/jars,
or the one beside `spark-submit` on the PATH). Nothing is fetched. A stamp of the source
contents skips the compile when nothing changed.

Run from the repository root:  python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = os.path.join(".bench_build", "perfbench")
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
HARNESS_SOURCES = os.path.join("perfbench", "src")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.exists(exe) else "java"


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside a Spark `bin` directory on the PATH."""
    bins = [os.path.join(os.environ["SPARK_HOME"], "bin")] if os.environ.get("SPARK_HOME") else []
    bins += [d for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for b in bins:
        jars = os.path.join(os.path.dirname(os.path.realpath(b)), "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars directory with a Scala compiler found")


def sources():
    program = sorted(glob.glob(os.path.join(PROGRAM_SOURCES, "**", "*.scala"), recursive=True))
    if not program:
        raise SystemExit(f"perfbench: program sources not found under {PROGRAM_SOURCES}")
    harness = sorted(glob.glob(os.path.join(HARNESS_SOURCES, "**", "*.scala"), recursive=True))
    return program + harness


def build():
    """Returns the classes directory, compiling first if sources changed."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, ".javatmp"))
        cp = os.path.join(jars, "*")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={os.path.join(tmp, '.javatmp')}",
               "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + srcs
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: compile failed")
        shutil.rmtree(os.path.join(tmp, ".javatmp"))
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
