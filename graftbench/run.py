#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

Usage (from the repository root):

    python3 graftbench/run.py --workload etl_merge --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine sources together with the
benchmark runner (sbt, offline, against the jars of the Spark installation
named by SPARK_HOME or holding the spark-submit on PATH) into .bench_build/;
later runs reuse it while the sources are unchanged. Each run then starts
one JVM that does the workload's fixed, seed-derived work (see
graftbench/WORKLOADS.md).
`--seconds` is accepted for interface compatibility: runs do fixed work,
never a time box.

The last line of standard output is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics of BENCHMARK.json with --trace 0 and the
per-layer metrics with --trace 1. The full result, host diagnostics (CPU
steal share, load average) and, for traced runs, the span file are kept in
.bench_build/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "sbt", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_merge", "serve_queries", "curate_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, log, **kw):
    """Runs cmd in its own process group with output to `log`; kills the
    group on timeout and always waits for it to end. Returns the exit code,
    or None on timeout."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, start_new_session=True, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(log):
    with open(log) as f:
        sys.stderr.write("".join(f.readlines()[-40:]))


def heap_size():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, kb // (1024 * 1024) // 4))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return "%dg" % gb


def jvm_args(main, args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    jvm = ["java", "-Xmx" + heap_size(), "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.local.dir=" + os.path.join(BUILD, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(BUILD, "warehouse")]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    return jvm + ["-cp", cp, main] + args


def spark_home():
    """The Spark installation whose bin/ on PATH holds spark-submit next to
    a jars/ directory with spark-core (pip-installed wrappers have none)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        home = os.path.dirname(home)
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("no Spark installation: set SPARK_HOME or put its bin/ on PATH")


def build():
    digest = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    for d in (BUILD, os.path.join(BUILD, "tmp")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    t0 = time.time()
    log = os.path.join(BUILD, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                   BUILD_TIMEOUT_S, log, cwd=HERE, env=env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        tail(log)
        fail("build failed (rc=%s), see %s" % (rc, log))
    with open(STAMP, "w") as f:
        f.write(digest)
    print("built in %.1f s" % (time.time() - t0), file=sys.stderr)


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0  # total, steal


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under %s; run from a full checkout" % ENGINE_SRC)
    build()

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    results = os.path.join(BUILD, "results")
    work = os.path.join(BUILD, "work")
    scratch = os.path.join(BUILD, "run")
    for d in (results, work, scratch, os.path.join(BUILD, "tmp")):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    jvm = jvm_args("graftbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
                    "--work", work, "--out", out, "--cores", str(cores)])

    load0 = os.getloadavg()
    cpu0 = cpu_times()
    t0 = time.time()
    log = os.path.join(results, tag + ".log")
    rc = run_group(jvm, RUN_TIMEOUT_S, log, cwd=scratch)
    wall = time.time() - t0
    cpu1 = cpu_times()
    load1 = os.getloadavg()
    if rc != 0 or not os.path.exists(out):
        tail(log)
        fail("benchmark JVM failed (rc=%s) after %.1f s, see %s" % (rc, wall, log))
    with open(out) as f:
        res = json.load(f)

    d_total = cpu1[0] - cpu0[0]
    res["host"] = {
        "steal_share": (cpu1[1] - cpu0[1]) / d_total if d_total > 0 else 0.0,
        "loadavg_start": load0, "loadavg_end": load1,
        "cores": cores, "wall_s": wall,
    }
    with open(out, "w") as f:
        json.dump(res, f, indent=1)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail("metric %s missing from the result or in another unit" % m["name"])
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        print("%-34s %16.6g %s" % (m["name"], got["value"], m["unit"]))
    print("samples: %s" % json.dumps(res["samples"]))
    print("host: %s" % json.dumps(res["host"]))
    for msg in res["failures"]:
        print("FAILED: " + msg)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
