#!/usr/bin/env python3
"""Build file of the KG-build benchmark.

    python3 kgbench/build.py

compiles the program's sources (src/main/scala) together with the
benchmark's own sources (kgbench/src) into kgbench/.work/classes, using the
Scala compiler that ships among the Spark jars, the same jars the
program's own build.sbt compiles against. A stamp of the source hashes
skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """SPARK_HOME/jars, else the jar directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("build: no java found (set JAVA_HOME)")
    return exe


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources missing: {PROGRAM_SRC}")
    files = []
    for d in (PROGRAM_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(d, "**", "*.java"), recursive=True)
    return sorted(files)


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    cp = [CLASSES]
    if os.path.isdir(PROGRAM_RESOURCES):
        cp.append(PROGRAM_RESOURCES)
    return os.pathsep.join(cp + [os.path.join(spark_jars(), "*")])


def ensure():
    """Compile unless the classes match the current sources."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    args_file = os.path.join(WORK, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    ensure()
    print(CLASSES)
