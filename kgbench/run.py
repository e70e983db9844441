#!/usr/bin/env python3
"""Runs one workload of the KG-build benchmark.

    python3 kgbench/run.py --workload bulk_load --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (build.py), generates the
workload's .nt files from the seed (gen.py), then runs the benchmark
(graft.kgbench.KgBench) in one JVM with the engine at local[N], N = the
CPUs this process may use. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A traced run also leaves its spans and per-layer report in
kgbench/.work/traces/. Exits non-zero, printing no result, when the
build, the set-up or the benchmark JVM fails.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

import build
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
TRACES = os.path.join(build.WORK, "traces")
TIMEOUT_S = 170
# C1 only (no C2): operations reach their steady speed within a few
# seconds instead of still speeding up a minute in, so a short window
# measures steady state; the price is slower peak code in hot loops
JIT = "-XX:TieredStopAtLevel=1"
# a fixed, pre-touched heap: peak RSS is then the heap plus what the JVM and
# Spark hold outside it, and does not depend on how many operations fit the
# window (an untouched heap fills with garbage at the rate operations run);
# a small young generation keeps the short-lived garbage cache-warm
HEAP = "2g"
YOUNG = "256m"
# what spark-submit adds for Spark on JDK 17 (the list build.sbt passes too)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description="KG-build benchmark: one workload, one run")
    ap.add_argument("--workload", required=True, choices=["bulk_load", "resume", "validate", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.ensure()
    work = os.path.join(build.WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        t0 = time.perf_counter()
        gen.generate(a.workload, a.seed, os.path.join(work, "in"))
        gen_s = time.perf_counter() - t0
        cores = len(os.sched_getaffinity(0))
        cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
               "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", JIT,
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Dderby.system.home={tmp}"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", m + "=ALL-UNNAMED"]
        launched_ms = int(time.time() * 1000)
        cmd += ["-cp", build.classpath(), "graft.kgbench.KgBench", a.workload, str(a.seed),
                str(a.seconds), str(a.trace), work, str(cores), str(launched_ms), str(gen_s)]
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"run: benchmark JVM exceeded {TIMEOUT_S} s")
        sys.stdout.write(stdout)
        result = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(result):
            sys.exit(f"run: benchmark JVM failed with exit code {proc.returncode}")
        trace_dir = os.path.join(work, "trace")
        if os.path.isdir(trace_dir):
            os.makedirs(TRACES, exist_ok=True)
            for f in os.listdir(trace_dir):
                shutil.copy(os.path.join(trace_dir, f), os.path.join(TRACES, f))
                print(f"kgbench trace: {os.path.join(TRACES, f)}")
        with open(result) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
