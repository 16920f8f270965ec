#!/usr/bin/env python3
"""Self-test of the benchmark's generator and result checks.

    python3 perfbench/selftest.py

1. Generator: the same seed gives the same input digest, another seed a
   different one (per workload).
2. Corrupted-input mode: each workload runs with --corrupt 1, which adds
   an answer no correct program can give to every expected value. Every
   op must then be reported failed, and every end-of-run check (the
   accumulated sink of change_sync, the four one-shot comparisons of
   dedup_ingest) must report a difference.
Exits 0 only if every check fails when it should.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# (workload, end-of-run checks that must differ)
CASES = [("graph_serve", None), ("change_sync", (1, 1)), ("dedup_ingest", (4, 4))]


def main():
    ok = True
    code, out = run.run(["--gen-selftest"])
    print(out, end="")
    ok &= code == 0
    for workload, final in CASES:
        code, out = run.run(["--workload", workload, "--seed", "3", "--seconds", "3", "--trace", "0",
                             "--corrupt", "1"])
        r = run.result_of(out)
        if code != 0 or r is None:
            print(f"{workload}: run failed (exit {code})")
            ok = False
            continue
        every_op = r["failed"] == r["attempted"] and not r["correct"]
        m = re.search(r"final check: (\d+) of (\d+)", out)
        finals = (int(m.group(1)), int(m.group(2))) if m else None
        final_ok = final is None or finals == final
        print(f"{workload}: corrupted expectations -> {r['failed']}/{r['attempted']} ops failed"
              + ("" if final is None else f", end-of-run checks differing {finals}")
              + (" ok" if every_op and final_ok else " FAIL"))
        ok &= every_op and final_ok
    print("selftest " + ("PASS" if ok else "FAIL"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
