#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, output in
.bench_build/), runs one JVM for the workload, and prints the run's result as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The metrics are BENCHMARK.json's end_to_end set with --trace 0 and its
per_layer set with --trace 1. The JVM's full record is kept under
.bench_build/records/. Exits non-zero, printing no result, if the build, the
run or a metric is missing.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
DIGEST = os.path.join(BUILD, "classpath.digest")
WORKLOADS = ("stream_live", "batch_queries")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return home


def source_digest():
    """Digest of every file the build reads: the record's commit, and the key
    that decides whether the compiled classes are current."""
    paths = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(env, digest):
    """Compiles the program and the harness unless the classes on record were
    compiled from sources with this digest; returns the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.exists(DIGEST):
        with open(DIGEST) as f:
            if f.read().strip() == digest:
                return open(CLASSPATH).read().strip()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no program sources under src/main/scala; run from a checkout root")
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness (sbt)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if r.returncode != 0 or not lines or "[" in lines[-1]:
        sys.exit(f"perfbench: build failed (exit {r.returncode})")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(DIGEST, "w") as f:
        f.write(digest)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.01")))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    digest = source_digest()
    classpath = build(env, digest)

    cpus = os.cpu_count() or 1
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    record_dir = os.path.join(BUILD, "records")
    os.makedirs(record_dir, exist_ok=True)
    record = os.path.join(record_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(record):
        os.remove(record)

    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap: no heap resizing or first-touch page
        # faults inside the measured window, and a peak RSS that moves with
        # native memory rather than with when the collector ran
        "-Xms4g", "-Xmx4g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={run_dir}", f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", run_dir, "--record", record,
        "--data", a.data, "--bench_dir", HERE, "--commit", digest]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jvm_log:
        # its own process group, so a timeout also stops the JVM's children
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jvm_log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; see {run_dir}/jvm.log")
    if code != 0 or not os.path.exists(record):
        sys.exit(f"perfbench: JVM exited {code} without a record; see {run_dir}/jvm.log")

    with open(record) as f:
        rec = json.load(f)
    got = rec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v["unit"] != m["unit"] or not isinstance(v["value"], (int, float)):
            sys.exit(f"perfbench: record lacks metric {m['name']} [{m['unit']}]")
        metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    for f in rec["failures"]:
        log(f"check failed: {f}")
    if rec["correct"]:
        # keep the log; the inputs, checkpoints and sink output are only
        # needed to debug a failed check
        for e in os.listdir(run_dir):
            path = os.path.join(run_dir, e)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif e != "jvm.log":
                os.remove(path)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
