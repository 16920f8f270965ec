#!/usr/bin/env python3
"""Steadiness report: run one workload repeatedly and summarise each metric.

    python3 perfbench/steady.py --workload change_sync --runs 10 [--first-seed 1] [--trace 0]

Each run uses the next seed. For every metric it prints the median, the
first and third quartiles (statistics.quantiles(values, n=4)), the
interquartile spread as a share of the median, and, for end-to-end
metrics, the bound from BENCHMARK.json and whether the spread stays
under a third of it. Also prints each run's wall time. Raw results are
appended to .bench_build/perfbench/steady/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(".bench_build", "perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{a.workload}.jsonl")
    results, walls = [], []
    for k in range(a.runs):
        seed = a.first_seed + k
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"run with seed {seed} failed (exit {p.returncode})")
        r = json.loads(lines[-1])
        r["seed"], r["wall_s"] = seed, walls[-1]
        results.append(r)
        with open(log, "a") as fh:
            fh.write(json.dumps(r) + "\n")
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={walls[-1]:.1f}s", flush=True)
    print(f"\n{a.workload}: {len(results)} runs, wall median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    print(f"{'metric':36} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
    ok = all(r["correct"] for r in results)
    for name, m in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        verdict = ""
        if bound is not None:
            verdict = "ok" if spread < bound / 3 else "WIDE"
            ok = ok and spread <= bound
        print(f"{name:36} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.4f} "
              f"{'' if bound is None else bound:>6} {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
