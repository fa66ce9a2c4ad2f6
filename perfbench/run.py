#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <backlog|live|queries> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the repository's main sources together with the benchmark's
own (`perfbench/build.sbt`) when they changed since the last build,
runs one workload in a fresh JVM, checks the `queries` outputs against
the DuckDB oracle, and prints two lines: the run's context (host,
inputs, checks) and, last, the result object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer
ones. Everything the run makes stays under `.bench_work/` and the
build directories of `perfbench/`.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import mmap
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# workloads the benchmark runs; BENCHMARK.json times backlog and live
WORKLOADS = ("backlog", "live", "queries")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "perfbench/src/main"):
        for dirpath, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the classes match the sources."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    res = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_TIMEOUT_S, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def page_touch_gibps(mib=256):
    """First-touch rate of fresh anonymous memory, GiB/s: the host's
    page supply, measured outside the JVM (whose heap is pre-touched)."""
    size = mib << 20
    buf = mmap.mmap(-1, size)
    t0 = time.perf_counter()
    for off in range(0, size, 4096):
        buf[off] = 1
    dt = time.perf_counter() - t0
    buf.close()
    return size / (1 << 30) / dt


def oracle_check(root, ctx):
    """Run tools/oracle_check.py over the dumped query results: its
    type lint and typed hash compare against the DuckDB oracle.
    Returns (exit code, the lines it reported as failures)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        try:
            rc = oc.main(ctx["oracle_tables"], ctx["oracle_dir"])
        except Exception as e:  # an oracle that cannot run fails the check
            print(f"FAIL oracle_check: {e}")
            rc = 1
    lines = buf.getvalue().splitlines()
    return rc, [l for l in lines if l.startswith(("FAIL", "LINTFAIL"))] + lines[-1:]


def main():
    sys.dont_write_bytecode = True  # importing tools/oracle_check.py leaves no cache
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    for need in ("src/main/scala/graft", "fixtures/sentiment_vocab.parquet",
                 "tools/oracle_check.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a checkout of the repository: {need} is missing")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation")
    spec = json.load(open(spec_path))
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    classes = build(root)
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    fixtures = os.path.join(root, "fixtures")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # the heap is fixed and pre-touched before anything is timed: on a
    # VM that materialises guest pages lazily, heap growth during the
    # run otherwise charges page faults to whichever drain or batch
    # grows it, and the runs scatter with the host's page supply
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--fixtures", fixtures, "--result", result]
    env = dict(os.environ, GRAFT_FIXTURE_DIR=fixtures,
               GRAFT_MODEL_DIR=os.path.join(work, "no-model"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    host_pre = page_touch_gibps()
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"run failed ({rc}); log in {log_path}")

    res = json.load(open(result))
    ctx = res["context"]
    ctx["host_page_touch_gibps_pre"] = host_pre
    ctx["host_page_touch_gibps_post"] = page_touch_gibps()
    ctx["checks_failed"] = [c for c in res["checks"] if not c["ok"]]
    correct = res["correct"]
    failed = res["failed"]
    if "oracle_dir" in ctx:
        rc, report = oracle_check(root, ctx)
        ctx["oracle_check"] = report
        if rc != 0:
            failed += max(1, len(report) - 1)
            correct = False
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != wanted:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(wanted) - set(got))}, "
             f"extra {sorted(set(got) - set(wanted))}, units {[(k, got[k], u) for k, u in wanted.items() if k in got and got[k] != u]}")
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": res["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
