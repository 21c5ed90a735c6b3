"""Compiles the program under src/main/scala together with the benchmark
harness under perfbench/src into .bench_build/classes.

The Scala compiler and every library come from the Spark distribution
($SPARK_HOME/jars, or the one whose spark-submit is on PATH), so the
build needs no network and no sbt. A build is reused while a hash of all
sources and the jar list is unchanged.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(jars):
    return os.path.join(jars, "*")


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp_path = os.path.join(CLASSES, "BUILD_STAMP")
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return CLASSES, jars
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(jars), "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-classpath", classpath(jars),
           "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    print(f"build: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
