#!/usr/bin/env python3
"""Serving benchmark for the engine's HTTP façade.

Usage, from the repository root:

    python3 perfbench/run.py --workload explore|extract --seed N --seconds S --trace 0|1

Compiles the engine sources and perfbench/src with the Scala compiler that
ships in Spark's jars (into .bench_build/, reused while the sources are
unchanged), writes the seeded request plan, runs the JVM side, checks that
every operation succeeded, and prints the metrics: one human-readable line
per metric with its sample count, then, as the last line, one JSON object
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of the timed window; `--trace 1` adds a traced window
and a direct replay and reports the per-layer metrics.

The fixture tables are read from $SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1 (TESTDATA.md).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import harness  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found")
    return exe


def build(jars):
    """Compile the engine and the benchmark into .bench_build/classes."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    sources = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)) + \
        sorted(glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))
    if not glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True):
        fail("no engine sources under src/main/scala")
    digest = hashlib.sha256()
    for path in sources + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        digest.update(os.path.relpath(path, ROOT).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    t0 = time.time()
    done = subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                           "-cp", os.path.join(jars, "*"),
                           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                           "@" + args_file], capture_output=True, text=True, timeout=900)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:] + done.stderr[-4000:])
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return classes


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(harness.WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        fail("fixture tables not found in %s; set SPARK_GRAFT_SF_DIR" % sf)
    jars = spark_jars()
    classes = build(jars)
    cores = len(os.sched_getaffinity(0))

    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    plan_file, out_file = os.path.join(run_dir, "plan.tsv"), os.path.join(run_dir, "records.tsv")
    with open(plan_file, "w") as f:
        f.write("\n".join(harness.plan_lines(harness.make_plan(a.workload, a.seed, cores))))

    # C1 only: with C2 the JIT kept this workload warming for over 45 s
    # (about 150 s of compiler CPU on 4 cores), longer than a run can
    # afford; under C1 it settles within the 25 s warm-up at similar
    # latencies (perfbench/NOTES.md). C1 alone gets a 48 MB code cache by
    # default, which every fresh query's generated classes filled in about
    # 30 s, disabling the compiler; hence the larger cache. A fixed heap
    # keeps heap growth out of the window; no perf-data file is written
    # outside the checkout.
    cmd = [java()] + ["--add-opens=%s=ALL-UNNAMED" % m for m in ADD_OPENS] + [
        "-XX:-UsePerfData", "-Xmx2g", "-Xms2g", "-XX:TieredStopAtLevel=1",
        "-XX:ReservedCodeCacheSize=512m",
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dspark.local.dir=" + tmp, "-Djava.io.tmpdir=" + tmp,
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.PerfBench",
        "--workload", a.workload, "--plan", plan_file, "--out", out_file,
        "--seconds", str(a.seconds), "--trace", a.trace, "--threads", str(cores), "--sf", sf]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(run_dir, "jvm.log")
    launch_ms = time.time() * 1000.0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(out_file):
        sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
        fail("benchmark JVM %s" % ("timed out" if code is None else "exited with %s" % code), 1)

    with open(out_file) as f:
        recs = harness.Records(f)
    windows = ("A", "B", "R") if a.trace == "1" else ("A",)
    attempted, failed = harness.outcome(recs, windows)
    for o in [o for o in recs.ops if not o["ok"]][:5]:
        print("perfbench: failed op %s/%d/%d: %s" % (o["window"], o["client"], o["index"],
                                                     o["reason"]), file=sys.stderr)
    if a.trace == "1":
        metrics, samples = harness.layer_metrics(recs, cores), {}
    else:
        metrics, samples = harness.e2e_metrics(recs, launch_ms)
    for name, (value, unit) in metrics.items():
        n = samples.get(name)
        print("%-28s %14.4f %-6s%s" % (name, value, unit, "" if n is None else "  n=%d" % n))
    print(json.dumps({
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a class with no successful sample reads 0 (the run is then not correct)
        "metrics": {k: {"value": v if v == v else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    last = os.path.join(BUILD, "last")
    shutil.rmtree(last, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.rename(run_dir, last)


if __name__ == "__main__":
    main()
