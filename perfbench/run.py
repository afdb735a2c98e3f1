#!/usr/bin/env python3
"""Build and run the repository benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --steady [--seed N]

A run builds the benchmark and the repository's main sources with sbt
(once per source change), runs one workload in a fresh JVM and prints
the JVM's report; the last stdout line is the result JSON. A run whose
checks failed prints its result and exits 1. Everything
the run leaves behind goes under .bench_build/ at the checkout root,
including one record per run in .bench_build/results/.

--steady runs every workload STEADY_RUNS times with consecutive seeds and
prints, per end-to-end metric, the spread (interquartile range over
median) against the metric's bound in BENCHMARK.json; then it runs each
workload once on the hold-out seed. It exits non-zero if a spread
exceeds its bound or any check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")

WORKLOADS = ["text_classify", "curation"]
DEFAULT_SEED = 1
HOLDOUT_SEED = 7919
STEADY_RUNS = 10
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "src", "main")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(PROGRAM):
        fail(f"program sources not found at {os.path.relpath(PROGRAM, ROOT)}; "
             "run from a checkout of the repository")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at a Spark 4.1 distribution")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "-batch", "compile"], cwd=HERE,
                             stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); full log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_once(workload, seed, seconds, trace, echo=True):
    """Run one workload in a fresh JVM; return (result dict, record path)."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(BUILD, "results",
                          f"{workload}-seed{seed}-trace{trace}-{stamp}-{os.getpid()}.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep
              + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
              "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work", work, "--out", record])
    errlog = os.path.join(BUILD, "results", os.path.basename(record)[:-5] + ".stderr")
    os.makedirs(os.path.dirname(record), exist_ok=True)
    lines = []
    with open(errlog, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                lines.append(line.rstrip("\n"))
                if echo:
                    print(line, end="", flush=True)
            proc.wait()
        finally:
            timed_out = not watchdog.is_alive()
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if timed_out:
            fail(f"{workload} did not finish within {JVM_TIMEOUT_S}s", 1)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        with open(errlog) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"{workload} exited with {proc.returncode}; stderr in {errlog}", 1)
    result = json.loads(lines[-1])
    return result, record


def steady(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        values = {m: [] for m in bounds}
        errors = 0
        for i in range(STEADY_RUNS):
            seed = args.seed + i
            res, _ = run_once(w, seed, spec["run_seconds"], 0, echo=False)
            errors += res["failed"]
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={res['metrics'][m]['value']:.4f}" for m in bounds)
                + f" failed={res['failed']}/{res['attempted']}", flush=True)
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread <= bounds[m] / 3 else (
                "WITHIN BOUND" if spread <= bounds[m] else "OVER BOUND")
            if spread > bounds[m]:
                ok = False
            print(f"{w:14s} {m:16s} median={med:.4f} spread={spread:.3f} "
                  f"bound={bounds[m]} {flag}", flush=True)
        res, _ = run_once(w, HOLDOUT_SEED, spec["run_seconds"], 0, echo=False)
        errors += res["failed"]
        print(f"{w} hold-out seed {HOLDOUT_SEED}: "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        if errors:
            ok = False
            print(f"{w}: {errors} failed checks", flush=True)
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", action="store_true")
    args = ap.parse_args()
    build()
    if args.steady:
        steady(args)
    if not args.workload:
        fail("--workload is required (or --steady)")
    result, record = run_once(args.workload, args.seed, args.seconds, args.trace)
    print(f"record: {os.path.relpath(record, ROOT)}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
