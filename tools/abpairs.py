#!/usr/bin/env python3
"""A/B the benchmark between two checkouts with alternating run pairs.

    python3 tools/abpairs.py --base DIR --change DIR --workload graph_serve \
        --pairs 10 --seeds 11-20 [--claim ops_per_s] [--log FILE]

Pair i runs BENCHMARK.json's command (`python3 perfbench/run.py`) for
its `run_seconds`, untraced, once in each checkout with seed number i of
--seeds (the list wraps when --pairs is longer);
odd pairs run the base first, even pairs the change first, so drift of a
shared host's load lands on both sides. Every run's result line is
appended to --log (default .bench_build/abpairs/<workload>.jsonl under
the change checkout).

Printed: each pair; per end-to-end metric of the change's
BENCHMARK.json, each side's median and quartiles, the change's win
fraction and whether the change median stays within the metric's bound
of the base median. The verdict passes when every run is correct with
no failed op, every bound holds, and, for the --claim metric (none to
skip), the change wins at least 9 of 10 pairs and its median beats the
base median by more than the base's interquartile spread. Exit status 0
on a passing verdict, 1 otherwise.

The tool only runs the benchmark command in each checkout; it changes
nothing under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def quartiles(vals):
    med = statistics.median(vals)
    if len(vals) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def run_once(bench, checkout, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"abpairs: run in {checkout} with seed {seed} failed (exit {p.returncode})")
    r = json.loads(lines[-1])
    r["seed"], r["wall_s"] = seed, wall
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,3,5")
    ap.add_argument("--claim", default="ops_per_s", help="metric the change claims to improve, or none")
    ap.add_argument("--log")
    a = ap.parse_args()
    base, change = os.path.abspath(a.base), os.path.abspath(a.change)
    with open(os.path.join(change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    seeds = parse_seeds(a.seeds)
    log = a.log or os.path.join(change, ".bench_build", "abpairs", f"{a.workload}.jsonl")
    os.makedirs(os.path.dirname(os.path.abspath(log)), exist_ok=True)
    claim = None if a.claim == "none" else a.claim
    if claim and claim not in [m["name"] for m in metrics]:
        sys.exit(f"abpairs: --claim {claim} is not an end-to-end metric of BENCHMARK.json")

    pairs = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = [("base", base), ("change", change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run_once(bench, checkout, a.workload, seed)
            with open(log, "a") as fh:
                fh.write(json.dumps(dict(got[side], side=side, pair=i + 1, workload=a.workload)) + "\n")
        pairs.append(got)
        shown = claim or metrics[0]["name"]
        b, c = (got[s]["metrics"][shown]["value"] for s in ("base", "change"))
        print(f"pair {i + 1:2d} seed {seed:3d} first={order[0][0]:6s} {shown} base {b:.4f} change {c:.4f} "
              f"correct {got['base']['correct']}/{got['change']['correct']} "
              f"failed {got['base']['failed']}/{got['change']['failed']}", flush=True)

    ok = all(p[s]["correct"] and p[s]["failed"] == 0 for p in pairs for s in p)
    n = len(pairs)
    print(f"\n{a.workload}: {n} pairs, {bench['run_seconds']} s runs; every run correct with 0 failed: {ok}")
    print(f"{'metric':28} {'side':6} {'q1':>12} {'median':>12} {'q3':>12}   wins  delta   bound")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        vals = {s: [p[s]["metrics"][name]["value"] for p in pairs] for s in ("base", "change")}
        qb, qc = quartiles(vals["base"]), quartiles(vals["change"])
        better = (lambda x, y: x > y) if higher else (lambda x, y: x < y)
        wins = sum(better(c, b) for b, c in zip(vals["base"], vals["change"]))
        delta = (qc[1] - qb[1]) / qb[1] if qb[1] else 0.0
        worse = -delta if higher else delta
        within = worse <= m["bound"]
        ok = ok and within
        note = f"{'ok' if within else 'WORSE'} ({m['bound']})"
        if name == claim:
            gap = (qc[1] - qb[1]) if higher else (qb[1] - qc[1])
            iqr = qb[2] - qb[0]
            claimed = wins >= 0.9 * n and gap > iqr
            ok = ok and claimed
            note += (f"; claim: wins {wins}/{n} (need >= {0.9 * n:g}), median gap {gap:.4f} "
                     f"vs base IQR {iqr:.4f}: {'PASS' if claimed else 'FAIL'}")
        print(f"{name:28} {'base':6} {qb[0]:12.4f} {qb[1]:12.4f} {qb[2]:12.4f}")
        print(f"{'':28} {'change':6} {qc[0]:12.4f} {qc[1]:12.4f} {qc[2]:12.4f}  {wins:2d}/{n:<2d} "
              f"{100 * delta:+6.1f}%  {note}")
    print(f"verdict: {'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
