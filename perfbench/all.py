#!/usr/bin/env python3
"""Run every workload once and print all its metrics by name and unit.

    python3 perfbench/all.py [--seed 1] [--trace 0]

Covers the gated workloads of BENCHMARK.json and change_sync. Exits 0
only if every run succeeded and every check passed.
"""
import argparse
import json
import subprocess
import sys

WORKLOADS = ["graph_serve", "change_sync", "dedup_ingest"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ok = True
    for w in WORKLOADS:
        print(f"== {w}", flush=True)
        p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(a.seed),
                                               "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        # the table and notes; the JSON result line is summarised instead
        print("\n".join(x for x in lines[:-1] if not x.startswith("input digest")))
        r = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        ok &= bool(r and r["correct"])
        print(f"-> correct={r and r['correct']} attempted={r and r['attempted']} "
              f"failed={r and r['failed']}\n", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
