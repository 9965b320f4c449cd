#!/usr/bin/env python3
"""Run one benchmark run of one workload and print its result line.

    python3 perfbench/run.py --workload ingest_large --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program's sources
together with the harness in perfbench/src into perfbench/target; later
runs start one JVM each. The last
line of stdout is the JSON result: {"correct", "attempted", "failed",
"metrics"}, each metric with its unit from BENCHMARK.json. With --trace 1
the metrics are the per-layer ones (0 for a layer the workload does not
reach), and the spans are written to perfbench/out/. Everything the run
writes stays inside perfbench/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("ingest_large", "ingest_fanout", "suite_cold")
RUN_TIMEOUT_S = 170  # the probes and the measured JVM together
PROBE_TIMEOUT_S = 40
# setup_s is the median over the measured JVM and this many JVMs that only
# start a session and stop (one: each probe adds a JVM start to every run)
SETUP_PROBES = 1

# Spark 4 on JDK 17 outside spark-submit (the program's build.sbt uses the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars directory the program's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("[perfbench] build.sbt names no Spark jars directory")
    return m.group(1)


def sources():
    """Every Scala source the build compiles: the program's and the harness's."""
    files = []
    for r in (os.path.join(PROGRAM_SRC, "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def build():
    """Compile the program and the harness with the Scala compiler among the
    Spark jars (the version the program's build uses), into
    perfbench/target/classes; a changed source tree rebuilds. Nothing is
    written outside perfbench/target."""
    jars = os.path.join(spark_jars(), "*")
    resources = os.path.join(PROGRAM_SRC, "resources")
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs + [os.path.join(ROOT, "build.sbt")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classpath = os.pathsep.join([CLASSES, resources, jars])
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest and os.path.isdir(CLASSES):
                return classpath
    fresh = CLASSES + ".new"
    tmp = os.path.join(TARGET, "tmp")
    for d in (fresh, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    log(f"building: scalac over {len(srcs)} sources")
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                    "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", fresh, "-classpath", jars]
                   + srcs, stdout=sys.stderr, stderr=sys.stderr, check=True, timeout=700)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath


def driver_heap_gb():
    """Half the host memory, between 2 and 8 GB (the repo's test-run rule)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return min(8, max(2, kb // (2 * 1024 * 1024)))


def main():
    # subprocess.run kills and reaps its child on any exception, so turning
    # SIGTERM into SystemExit stops the build or the JVM with this script
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        log(f"program sources not found under {PROGRAM_SRC}; run from a checkout of the repo")
        return 2
    classpath = build()

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(HERE, "work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spans = os.path.join(HERE, "out", f"spans-{tag}.jsonl")
    cmd = (["java", f"-Xmx{driver_heap_gb()}g", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=classpath:graft-bench-log4j2.properties"]
           + [x for pkg in ADD_OPENS for x in ("--add-opens", f"{pkg}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores), "--spans", spans,
              "--data", os.path.join(HERE, "data", "sf0.01"),
              "--entry", os.path.join(PROGRAM_SRC, "scala", "graft", "SparkEntry.scala"),
              "--expected", os.path.join(HERE, "suite_expected.tsv")])
    started = time.monotonic()
    setups = []  # setup_s of the probe JVMs, which only start a session

    def jvm(extra, timeout):
        return subprocess.run(cmd + extra, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=timeout)
    try:
        for _ in range(0 if args.trace else SETUP_PROBES):
            probe = jvm(["--setup-only", "1"], PROBE_TIMEOUT_S)
            if probe.returncode != 0:
                log(f"set-up probe JVM exited with {probe.returncode}")
                return 1
            setups.append(json.loads(probe.stdout.strip().splitlines()[-1])["setup_s"])
        proc = jvm([], RUN_TIMEOUT_S - (time.monotonic() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM exited with {proc.returncode}")
        return 1
    result = json.loads(lines[-1])
    with open(SPEC) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    got = result["metrics"]
    for name in sorted(set(got) - {m["name"] for m in spec}):
        log(f"metric {name} is not in BENCHMARK.json; left out")
    missing = [m["name"] for m in spec if m["name"] not in got]
    if missing and not args.trace:
        log(f"no value for {missing}")
        return 1
    if setups:
        log(f"setup_s of {len(setups) + 1} JVMs: {setups + [got['setup_s']]}")
        got["setup_s"] = statistics.median(setups + [got["setup_s"]])
    result["metrics"] = {m["name"]: {"value": got.get(m["name"], 0), "unit": m["unit"]} for m in spec}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
