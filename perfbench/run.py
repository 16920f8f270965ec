#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles graft's sources
(src/main/scala) together with the benchmark's (perfbench/scala) into
.bench_build/perfbench/classes with the Scala compiler that ships among
Spark's jars; later runs reuse the classes while the sources hash the
same. Everything the run writes stays under .bench_build/perfbench.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 1 the metrics are
the per-layer ones, the full report (with self times per call) lands in
.bench_build/perfbench/trace/, and the tracing overhead is reported as
the traced ops_per_s against the median untraced ops_per_s of earlier
runs of the workload, with the same sources and --seconds, in this
checkout (0 when there is none yet). Extra flag:
  --corrupt 1   corrupt every expected answer; every check must then fail
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(WORK, "classes")
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]
RESOURCES = os.path.join("src", "main", "resources")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("Spark jars not found: set SPARK_HOME")
    return os.path.join(jars, "*")


def scala_files():
    files = []
    for src in SOURCES:
        if not os.path.isdir(src):
            die(f"{src} is missing: run from the root of a graft checkout")
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"timed out after {timeout}s: {cmd[0]}")
    return p.returncode, out


def build(jars):
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "STAMP")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    code, _ = run_bounded(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                           "-d", tmp, "-classpath", jars, "-nowarn"] + files, BUILD_TIMEOUT_S)
    if code != 0:
        die("compile failed")
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f}s", file=sys.stderr)
    return stamp


def java_cmd(jars, main_args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = {
        "java.io.tmpdir": tmp,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "run", "warehouse"),
        "derby.system.home": tmp,
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.host": "localhost",
        # bound Spark's own bookkeeping so the live heap measures graft's state
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "100",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "50",
        "spark.sql.streaming.ui.retainedQueries": "20",
    }
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([CLASSES, RESOURCES, jars])
    # C1 only: in runs this short, C2's background compiles take about half
    # of the JVM's CPU time and compete with the measured ops. C1 alone
    # defaults to a 48 MB code cache, which dedup_ingest fills; a full cache
    # stops compilation in the middle of a run.
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m"] + opens +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", cp, "perfbench.Main"] + main_args + ["--work", WORK])


def run(argv):
    """Build if needed, run the JVM; return (exit code, stdout text)."""
    jars = spark_jars()
    build(jars)
    return run_bounded(java_cmd(jars, argv), RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True)


def result_of(out):
    lines = out.strip().splitlines()
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["graph_serve", "change_sync", "dedup_ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--corrupt", default="0", choices=["0", "1"])
    a = ap.parse_args()
    # untraced results of the same sources and run length: the overhead baseline
    stamp = build(spark_jars())
    results = os.path.join(WORK, "results", f"{a.workload}-{a.seconds}s-{stamp[:12]}.jsonl")

    def once(trace):
        code, out = run(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", trace, "--corrupt", a.corrupt])
        r = result_of(out) if code == 0 else None
        if r is None:
            print(out, end="")
            die(f"run failed (exit {code})", code or 1)
        if trace == "0" and a.corrupt == "0" and r["correct"]:
            os.makedirs(os.path.dirname(results), exist_ok=True)
            with open(results, "a") as fh:
                fh.write(json.dumps(r) + "\n")
        return out, r

    def baseline():
        if not os.path.isfile(results):
            return []
        with open(results) as fh:
            return [json.loads(x)["metrics"]["ops_per_s"]["value"] for x in fh if x.strip()]

    out, r = once(a.trace)
    if a.trace == "1":
        untraced = statistics.median(baseline()) if baseline() else 0.0
        traced = r["metrics"]["trace.ops_per_s"]["value"]
        overhead = 100.0 * (untraced - traced) / untraced if untraced else 0.0
        r["metrics"]["trace.untraced_ops_per_s"] = {"value": untraced, "unit": "1/s"}
        r["metrics"]["trace.overhead_pct"] = {"value": overhead, "unit": "%"}
        print(out.strip().rsplit("\n", 1)[0])
        if untraced:
            print(f"tracing overhead: traced {traced:.4f} ops/s vs untraced median {untraced:.4f} "
                  f"ops/s ({len(baseline())} runs): {overhead:.2f}%")
        else:
            print("tracing overhead: no untraced run of this build and --seconds yet; "
                  "reported as 0 (make one with --trace 0 first)")
        print(json.dumps(r))
    else:
        print(out, end="")
    sys.exit(0)


if __name__ == "__main__":
    main()
