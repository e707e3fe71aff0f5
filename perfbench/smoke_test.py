#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny size.

Run from the repository root:

    python3 perfbench/smoke_test.py

For every workload of BENCHMARK.json it runs the benchmark three times at
--scale 0.05 with two measured repetitions (--seconds 20; a traced run
traces the second): twice traced with one seed, once untraced with
another. It checks that

  * every metric BENCHMARK.json names is printed, with its unit;
  * the per-layer counts repeat exactly across the two same-seed runs;
  * the same seed gives the same inputs and another seed other inputs.

Exits non-zero on the first failed check. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

SCALE = "0.05"
SEED_A, SEED_B = 7, 8

# Per-layer values that are counts of rows, pairs, cells or files: a
# function of the inputs alone, so equal for equal seeds.
COUNTS = [
    "join.broadcast.probe_rows", "join.broadcast.candidates", "join.broadcast.refined",
    "join.salted.probe_rows", "join.salted.candidates", "join.salted.refined",
    "index.cover_cells_per_poly.z2", "index.cover_cells_per_poly.s2", "index.cover_cells_per_poly.hex",
    "density.cells_out", "layout.rows", "layout.buckets", "stored_bytes_per_row",
    "dedup.band_candidates", "dedup.verified_pairs", "ann.candidates", "ann.pairs",
    "dedup.recall", "ann.recall",
]


def fail(msg):
    print(f"smoke_test: FAIL {msg}", file=sys.stderr)
    sys.exit(1)


def run(workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "20", "--trace", str(trace), "--scale", SCALE]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        fail(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or not result["correct"]:
        fail(f"{workload}: malformed or incorrect result line {result}")
    with open(os.path.join(".bench_build", "results", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for w in (w["name"] for w in spec["workloads"]):
        res_a1, rec_a1 = run(w, SEED_A, 1)
        res_a2, rec_a2 = run(w, SEED_A, 1)
        res_b, rec_b = run(w, SEED_B, 0)
        for res, wanted in ((res_a1, spec["per_layer"]), (res_b, spec["end_to_end"])):
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    fail(f"{w}: metric {m['name']} missing or with another unit: {got}")
        for name in COUNTS:
            a1, a2 = rec_a1["metrics"][name]["value"], rec_a2["metrics"][name]["value"]
            if a1 != a2:
                fail(f"{w}: {name} differs across two runs of seed {SEED_A}: {a1} vs {a2}")
        if rec_a1["inputs_fingerprint"] != rec_a2["inputs_fingerprint"]:
            fail(f"{w}: seed {SEED_A} gave different inputs in two runs")
        if rec_a1["inputs_fingerprint"] == rec_b["inputs_fingerprint"]:
            fail(f"{w}: seeds {SEED_A} and {SEED_B} gave the same inputs")
        print(f"smoke_test: {w} ok ({rec_a1['attempted']} operations and checks per run)")
    print("smoke_test: all workloads ok")


if __name__ == "__main__":
    main()
