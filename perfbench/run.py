#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload run per call.

    python3 perfbench/run.py --workload sql_core --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The first call builds the engine and the
harness (sbt, offline) into .bench_build/; later calls reuse the build
while the sources are unchanged. Each run starts one fresh JVM on
local[nproc] and runs the workload's queries in passes, each in an
order drawn from --seed. Set-up (setup_s) runs from JVM start through
the first pass, which warms every query up; then measured passes run
for --seconds (two at least). Every output is checked against
perfbench/expected.json.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer with --trace 1).
The full per-query ledger of the run is written to
.bench_build/ledger/<workload>-seed<seed>-trace<trace>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF_DIR = "/root/testdata/sf0.1"  # the repo's bench tables, see TESTDATA.md
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT = 150   # seconds, per JVM

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    """Hash of every file the build reads, to tell when to rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 installation")
    return os.path.join(home, "jars")


def clean_env():
    """The caller's environment minus anything that re-tunes Spark or the
    engine (SPARK_GRAFT_* plan knobs, SPARK_LOCAL_DIRS, SPARK_CONF_DIR)."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith(("SPARK_", "PYSPARK_", "JAVA_TOOL_OPTIONS",
                                 "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"))}


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = clean_env()
    env["COURSIER_MODE"] = "offline"
    env["SPARK_JARS"] = spark_jars()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
           "compile"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def jvm(args, work, log, timeout=JVM_TIMEOUT):
    """Runs the harness JVM with key=value args; returns its result JSON."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", f"{classes}:{spark_jars()}/*", "graftbench.Main",
            f"sf={SF_DIR}", f"work={work}", f"out={out}"] +
           [f"{k}={v}" for k, v in args.items()])
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=clean_env(), stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM timed out after {timeout} s, see {log}")
    if rc != 0 or not os.path.exists(out):
        fail(f"JVM exited with {rc}, see {log}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found: run from the root "
             "of a full checkout")
    if not os.path.isdir(SF_DIR):
        fail(f"input tables {SF_DIR} not found")
    build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for d in ("ledger", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    open(log, "w").close()
    work = os.path.join(BUILD, "work")
    ledger = os.path.join(BUILD, "ledger", f"{tag}.json")
    r = jvm({"mode": "run", "workload": a.workload, "seed": a.seed,
             "seconds": a.seconds, "trace": a.trace, "ledger": ledger,
             "expected": os.path.join(HERE, "expected.json")}, work, log)
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = r["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        fail(f"run reported no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(f"{a.workload}: {r['attempted']} queries attempted, "
          f"{r['failed']} failed ({r['failed_frac']:.4f}); "
          f"{r['latency_samples']} latency samples; "
          f"ledger {os.path.relpath(ledger, ROOT)}", file=sys.stderr)
    for q in r["failed_queries"]:
        print(f"  failed: {q}", file=sys.stderr)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
