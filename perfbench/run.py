#!/usr/bin/env python3
"""The repository benchmark (see perfbench/README.md).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <q4112|sf_suite>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source when the sources changed
(sbt, output under .bench_build/), runs one workload in one JVM, checks
its outputs, prints every metric with its unit, and prints one JSON
object as the last line of standard output. All files it writes are
under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("q4112", "sf_suite")
DATA = os.path.join(BENCH, "data", "sf0.01")
SUITE = os.path.join(BENCH, "sf_suite.json")
# A fixed, pre-touched heap, as the library's own build runs its mains:
# heap pages are committed at JVM start, not during the timed section.
JVM_HEAP = "4g"
# Spark on JDK 17 needs these outside spark-submit (the library's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# A run must end within this many seconds (the benchmark's contract is 180).
DEADLINE_S = 175

SPEC = os.path.join(ROOT, "BENCHMARK.json")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def read(path):
    with open(path) as fh:
        return fh.read()


def source_files():
    """Every file the build reads: library sources and build, harness sources and build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles the library and the harness unless the stamp shows the same sources."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources (build.sbt, src/main/scala/graft) are not in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and read(stamp_file) == stamp:
        return read(cp_file).strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(cp_file):
        fail(f"build failed (exit {rc}); see {os.path.relpath(OUT, ROOT)}/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return read(cp_file).strip()


def run_jvm(classpath, args, timeout):
    """Runs perfbench.Main; stderr goes to a log file. Returns the exit code."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    with open(os.path.join(OUT, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=OUT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            proc.send_signal(signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            raise


def quantile(values, q):
    """Linear-interpolated quantile of `values` (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_samples(n, q):
    """Samples strictly beyond the q-quantile of n samples."""
    return n - 1 - int((n - 1) * q)


def end_to_end(raw):
    """The end-to-end metrics of one untraced run, and the failure counts."""
    samples = raw["samples"]
    times = [s["s"] for s in samples]
    per_query = {}
    for s in samples:
        per_query.setdefault(s["query"], []).append(s["s"])
    failed = sum(1 for s in samples if s["error"]) + \
        sum(1 for c in raw["checks"] if c["error"])
    attempted = len(samples) + len(raw["checks"])
    metrics = {
        "setup_s": raw["setup_s"],
        # one pass over the workload's queries, each at its median time
        "total_s": sum(statistics.median(v) for v in per_query.values()),
        "query_p50_s": quantile(times, 0.5),
        "query_p90_s": quantile(times, 0.9),
        "process_cpu_s": raw["process_cpu_s"] / raw["passes"],
        "ok_frac": (attempted - failed) / attempted,
        "heap_mb": raw["heap_mb"],
    }
    return metrics, attempted, failed


def report(workload, raw, metrics, units, attempted, failed):
    """Human-readable lines before the result line (all on stdout)."""
    n = len(raw["samples"])
    print(f"workload {workload} seed {raw['seed']} cores {raw['cores']}: "
          f"{n} timed queries in {raw['passes']} passes "
          f"({tail_samples(n, 0.9)} beyond p90)")
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {units[name]}")
    print(f"  attempted {attempted}, failed {failed}, "
          f"failed_frac {failed / attempted:.4g}")
    print(f"  unchecked ({len(raw['unchecked'])}): {' '.join(raw['unchecked']) or '-'}")
    for c in raw["checks"] + raw["samples"] + raw.get("traced_samples", []):
        if c["error"]:
            print(f"  FAILED {c['query']}: {c['error']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.monotonic()
    for f in (SPEC, SUITE, os.path.join(DATA, "documents.parquet")):
        if not os.path.isfile(f):
            fail(f"missing {os.path.relpath(f, ROOT)}")
    with open(SPEC) as fh:
        spec = json.load(fh)
    built = time.monotonic()
    classpath = build()
    started += time.monotonic() - built  # the build is not part of the run's deadline
    out = os.path.join(OUT, "out")
    os.makedirs(out, exist_ok=True)
    raw_path = os.path.join(out, f"{a.workload}-{a.seed}-trace{a.trace}.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    left = DEADLINE_S - (time.monotonic() - started)
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA, "--suite", SUITE, "--out", raw_path],
        timeout=left)
    if rc != 0 or not os.path.isfile(raw_path):
        fail(f"harness exited with {rc}; see {os.path.relpath(OUT, ROOT)}/jvm.log")
    with open(raw_path) as fh:
        raw = json.load(fh)
    metrics, attempted, failed = end_to_end(raw)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if a.trace:
        layers = dict(raw["layers"])
        traced = {"samples": raw["traced_samples"], "checks": [], "passes": raw["traced_passes"],
                  "setup_s": 0.0, "process_cpu_s": 0.0, "heap_mb": 0.0}
        traced_total = end_to_end(traced)[0]["total_s"]
        layers["trace.overhead_s"] = traced_total - metrics["total_s"]
        layers["trace.untraced_total_s"] = metrics["total_s"]
        layers["trace.timed_queries"] = float(len(raw["traced_samples"]))
        failed += sum(1 for s in raw["traced_samples"] if s["error"])
        attempted += len(raw["traced_samples"])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        missing = set(units) - set(layers)
        if missing:
            fail(f"harness did not report {sorted(missing)}")
        metrics = {k: layers[k] for k in units}
    report(a.workload, raw, metrics, units, attempted, failed)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
