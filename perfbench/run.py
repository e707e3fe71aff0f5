#!/usr/bin/env python3
"""Layered throughput benchmark for the graft Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine (src/main/scala) together with the benchmark
(perfbench/src) on first use, runs one workload in one JVM at
local[nproc], and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The full record (every metric with unit, direction and sample
count, inputs, decisions, environment) is written under .bench_build/results.
Exits non-zero, printing no result, when the build, an operation or an
output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175.0
# a fixed-size heap and the throughput collector: heap resizing and
# concurrent collection made whole runs drift by 20% against each other
HEAP = "4g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(classpath, args, timeout_s):
    """Runs the benchmark JVM; returns (exit code, peak RSS in MB)."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}", "-Dspark.ui.enabled=false", *build.ADD_OPENS,
           "-cp", classpath, "graft.perfbench.Main", *args]
    # Spark's scratch space stays inside the checkout; a killed run leaves
    # its scratch behind, so each run starts from empty directories
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)
    os.makedirs(os.path.join(OUT, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(timeout_s, kill)
    timer.start()

    def stop(*_):
        # a stopped benchmark stops its JVM too (it runs in its own session)
        kill()
        try:
            os.waitpid(proc.pid, 0)
        except ChildProcessError:
            pass
        sys.exit(1)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    if timed_out.is_set():
        fail(f"run exceeded {timeout_s:.0f} s and was stopped")
    return proc.returncode, usage.ru_maxrss / 1024.0


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (smoke test)")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root: BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")

    classes = build.ensure(ROOT, OUT)
    limit = RUN_LIMIT_S - (time.monotonic() - start) if build.REUSED else RUN_LIMIT_S
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    record = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(record):
        os.remove(record)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", record, "--work", work,
            "--spec", spec_path, "--scale", str(a.scale),
            "--source-sha", build.source_hash(ROOT)]
    commit = git_commit()
    if commit:
        args += ["--commit", commit]
    try:
        code, rss_mb = run_jvm(build.classpath(ROOT, classes), args, limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.isfile(record):
        fail(f"benchmark JVM exited with {code} and wrote no record")
    with open(record) as f:
        rec = json.load(f)
    rec["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB", "better": "lower",
                                     "samples": 1, "kind": "per_layer"}
    with open(record, "w") as f:
        json.dump(rec, f, indent=1)
    if code != 0 or not rec["correct"]:
        for failure in rec["failures"]:
            print(f"perfbench: FAILED {failure}", file=sys.stderr)
        fail(f"{a.workload}: {rec['failed']} of {rec['attempted']} operations or checks failed")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = rec["metrics"].get(m["name"])
        if got is None:
            fail(f"metric {m['name']} missing from the record")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    print(f"record: {os.path.relpath(record, ROOT)}")
    print(json.dumps({"correct": True, "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
