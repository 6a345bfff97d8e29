#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed, in one or more sets
of runs, and reports per metric the median, the quartiles and the quartile
spread as a share of the median, next to the metric's bound in
BENCHMARK.json. With two or more sets it also reports how much worse each
later set's median is than the first set's, as a share of the first.

    python3 perfbench/repeat.py --workload mr_zipf --runs 10 [--sets 2] [--seed0 1]

Run from the root of a checkout. Each run is untraced and measures
run_seconds of BENCHMARK.json. Set k uses seeds seed0 + k*runs and up.
Each run's result line is appended to .bench_work/repeat-<workload>.jsonl.
A spread at or above a third of its bound is flagged, and so is a median
shift beyond the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def run_set(a, seconds, seeds, log, watched):
    values = {}
    for seed in seeds:
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                             capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"run with seed {seed} failed (exit {out.returncode}):\n{out.stderr[-2000:]}")
        res = json.loads(lines[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, **res}) + "\n")
        if not res["correct"]:
            print(f"seed {seed}: correct=false, failed {res['failed']} of {res['attempted']}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())
                                          if k in watched), flush=True)
    return values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = str(spec["run_seconds"])
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    watched = {k for k, m in metrics.items() if "bound" in m}
    os.makedirs(".bench_work", exist_ok=True)
    log = os.path.join(".bench_work", f"repeat-{a.workload}.jsonl")

    sets = []
    for k in range(a.sets):
        seed1 = a.seed0 + k * a.runs
        print(f"\nset {k + 1}: seeds {seed1}..{seed1 + a.runs - 1}", flush=True)
        sets.append(run_set(a, seconds, range(seed1, seed1 + a.runs), log, watched))

    for k, values in enumerate(sets):
        print(f"\n{a.workload}, set {k + 1}: {a.runs} runs")
        print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name in sorted(values):
            vs = values[name]
            q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], vs[0], vs[0])
            spread = (q3 - q1) / med if med else float("nan")
            b = metrics.get(name, {}).get("bound")
            flag = "  <-- spread >= bound/3" if b is not None and not spread < b / 3 else ""
            print(f"{name:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {b if b is not None else '':>6}{flag}")

    for k in range(1, len(sets)):
        print(f"\n{a.workload}: set {k + 1} median against set 1 median (worse > 0)")
        print(f"{'metric':32} {'set 1':>12} {f'set {k + 1}':>12} {'worse':>8} {'bound':>6}")
        for name in sorted(watched & sets[0].keys() & sets[k].keys()):
            m0, mk = statistics.median(sets[0][name]), statistics.median(sets[k][name])
            sign = 1 if metrics[name]["better"] == "lower" else -1
            worse = sign * (mk - m0) / m0 if m0 else float("nan")
            b = metrics[name]["bound"]
            flag = "  <-- beyond bound" if not worse <= b else ""
            print(f"{name:32} {m0:12.5g} {mk:12.5g} {worse:8.3f} {b:>6}{flag}")


if __name__ == "__main__":
    main()
