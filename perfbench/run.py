#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload ingest|curate_x10 --seed N \
        --seconds S --trace 0|1

Run from the repository root. It compiles the engine (src/main/scala) and
the benchmark's JVM side (perfbench/scala) with the Scala compiler shipped
in the Spark distribution's jars ($SPARK_HOME/jars, else the directory
build.sbt names as unmanagedBase) into .bench_build/, generates the seeded inputs there, runs the workload on
local[nproc] and checks every output. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (the
span dump lands in .bench_build/out/<workload>-s<seed>-t1/trace.json).
Exit code 1 means an output check failed, 2 that the run could not be
made. See DESIGN.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
# Wall budget of the benchmark JVM, counted from after the build and the
# input generation (a cold build of the engine comes before it).
JVM_BUDGET_S = 150.0
DATA_VERSION = "v2"
BASE_SEED, BASE_SCALE = 42, 0.01

# Corpus copies for curate_x10.
CURATE_COPIES = 10

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def atomic_dir(final, make):
    """Create directory `final` via `make(tmp)` and a rename, once."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent builder won
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    engine build's own `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                              f.read())
        except OSError:
            m = None
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        fail("no Spark jars: set SPARK_HOME or run from the repo root")
    return d


def build(jars):
    """Compile engine + benchmark sources, keyed by their content hash."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        fail("no engine sources under src/main/scala; run from the repo root")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    jars = os.path.join(jars, "*")

    def compile_to(tmp):
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", jars] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")

    return atomic_dir(os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}"),
                      compile_to)


def inputs(workload, seed):
    """Generated inputs: the fixed base tables, plus the per-seed curate
    corpus."""
    data = os.path.join(BUILD, "data")
    base = atomic_dir(os.path.join(data, f"base-{DATA_VERSION}"),
                      lambda d: gen.base(d, BASE_SEED, BASE_SCALE))
    corpus = ""
    if workload == "curate_x10":
        corpus = atomic_dir(
            os.path.join(data, f"curate-{DATA_VERSION}-s{seed}"),
            lambda d: gen.curate_corpus(d, f"{base}/documents.parquet", seed,
                                        CURATE_COPIES))
    return base, corpus


def run_jvm(classes, jars, args, log):
    mem = "3g"
    cmd = (["java", f"-Xmx{mem}", "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={args['work']}/tmp",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main"] +
           [x for k, v in args.items() for x in (f"--{k}", str(v))])
    os.makedirs(f"{args['work']}/tmp", exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "curate_x10"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    base, corpus = inputs(a.workload, a.seed)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(BUILD, "out", tag)
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cpus = str(len(os.sched_getaffinity(0)))
    try:
        run_jvm(classes, jars, {
            "workload": a.workload, "data": base, "corpus": corpus or "-",
            "work": work, "out": out, "seconds": a.seconds,
            "trace": a.trace, "seed": a.seed, "cpus": cpus},
            os.path.join(BUILD, "out", f"{tag}.log"))
        with open(f"{out}/result.json") as f:
            res = json.load(f)
        bad, extra = checks.run(a.workload, out, base, corpus,
                                os.path.join(BUILD, "oracle"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_keys = set(res["op_keys_failed"]) | set(bad)
    keys = res["op_keys"]
    attempted = len(keys) + len(failed_keys - set(keys))
    failed = (sum(1 for k in keys if k in failed_keys) +
              len(failed_keys - set(keys)))
    if a.trace:
        # every per-layer metric BENCHMARK.json lists; 0 where the
        # workload does not exercise the layer
        layers = dict(res["layers"], **extra)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = json.load(f)["per_layer"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in listed}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "run_s": {"value": statistics.median(res["reps_s"]), "unit": "s"},
            "op_p50_s": {"value": statistics.median(res["ops_s"]),
                         "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
