#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale: the sf0.001 catalog
tables and a 1 MB corpus, one pass per run. Run from a checkout's root:

    python3 perfbench/smoke.py

For each workload it checks that
  - an untraced run is correct and emits every end_to_end metric of
    BENCHMARK.json with its unit;
  - a traced run emits every per_layer metric with its unit, attributes
    every Spark job to a benchmark span, and its listener totals (jobs and
    tasks, summed over job groups) equal Spark's own account of the session;
  - a run with a planted wrong answer reports correct=false and names the
    mismatched result.
Runs every check and exits non-zero if any failed.
"""
import json
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
TINY = ["--catalog-dir", os.path.join(BENCH, "data", "catalog_sf0.001"), "--corpus-mb", "1",
        "--seconds", "1"]
FAILED = []


def run(workload, *extra):
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                          "--seed", "7", *TINY, *extra], capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} {extra}: exit {out.returncode}\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def expect(cond, what, detail=()):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILED.append(what)
        for line in detail:
            print("     " + line)


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = [w["name"] for w in spec["workloads"]]
    workloads += [w for w in ("mr_zipf", "catalog_scan", "catalog_iterative") if w not in workloads]
    for w in workloads:
        res, lines = run(w, "--trace", "0")
        wrong = [l for l in lines if l.startswith("[perfbench] WRONG")]
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w}: untraced run correct ({res['failed']} of {res['attempted']} jobs wrong)", wrong[:3])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == e2e, f"{w}: end_to_end metrics and units match BENCHMARK.json")
        expect(any(l.startswith("[perfbench] failed_frac") for l in lines), f"{w}: failed_frac printed")

        res, lines = run(w, "--trace", "1", "--check-totals", "1")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(res["correct"], f"{w}: traced run correct")
        expect(got == layers, f"{w}: per_layer metrics and units match BENCHMARK.json")
        expect(res["metrics"]["trace.unattributed_jobs"]["value"] == 0, f"{w}: no unattributed Spark jobs")
        tot = next(l for l in lines if l.startswith("[perfbench] totals"))
        m = re.search(r"mismatched=(\d+) jobs listener=(\d+) session=(\d+) tasks listener=(\d+) session=(\d+)", tot)
        expect(m and m.group(1) == "0" and m.group(2) == m.group(3) and m.group(4) == m.group(5),
               f"{w}: per-group listener totals equal the session's ({tot.split('totals ')[1]})")

        res, lines = run(w, "--trace", "0", "--plant-wrong", "1")
        mismatch = [l for l in lines if l.startswith("[perfbench] WRONG") and " != " in l]
        expect(not res["correct"] and res["failed"] >= 1 and mismatch,
               f"{w}: planted wrong answer fails the run as a mismatched result")
    if FAILED:
        sys.exit("smoke: failed checks:\n  " + "\n  ".join(FAILED))
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
