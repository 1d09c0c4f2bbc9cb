#!/usr/bin/env python3
"""graft benchmark: one workload, one process, one closed-loop client.

Usage (from the repository root):
  python3 perfbench/run.py --workload feed|analytics --seed N \
      --seconds S --trace 0|1

Builds the program (src/main/scala) and the benchmark's own sources into
.bench_build/ when they changed, generates the workload's inputs from the
seed, runs graft.perfbench.Main on local[nproc], checks every output (DuckDB
oracle twins here, the rest inside the JVM), and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    return sorted(glob.glob(f"{PROGRAM_SRC}/**/*.scala", recursive=True) +
                  glob.glob(f"{HERE}/src/**/*.scala", recursive=True))


def build():
    """Compile program + benchmark with scalac when any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = f"{SPARK_JARS}/*"
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={BUILD}",
                        "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-cp", cp, f"@{argfile}"], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["feed", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common benchmark interface; a run's timed region is a
    # fixed amount of work (one feed drain, two analytics rounds) of about 10 s
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources under {PROGRAM_SRC}; "
                         "run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    # set-up runs from here (the program is built; only the first run in a
    # checkout compiles) to the end of the JVM's warm-up
    t0 = time.time()
    for old in glob.glob(os.path.join(BUILD, "run-*")):
        shutil.rmtree(old, ignore_errors=True)
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return run(a, classes, run_dir, t0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, classes, run_dir, t0):
    params_path = os.path.join(HERE, "params.json")
    with open(params_path) as f:
        params = json.load(f)
    data_dir = os.path.join(run_dir, "data")
    gen.generate(a.workload, data_dir, a.seed, params)
    out = os.path.join(run_dir, "result.json")
    cpus = os.cpu_count() or 1
    # the JVM options of the program's own forked runs (build.sbt); no
    # perf-data file, which the JVM would write outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={run_dir}", "-cp", f"{classes}:{SPARK_JARS}/*",
           "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--trace", str(a.trace), "--run-dir", run_dir, "--cpus", str(cpus),
           "--params", params_path, "--data-dir", data_dir,
           "--t0-ms", f"{t0 * 1000:.3f}", "--out", out]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            # the whole run, build aside, must end within 180 s
            rc = proc.wait(timeout=max(1.0, t0 + 165 - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    with open(jvm_log, errors="replace") as lf:
        lines = lf.read().splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        print("\n".join(lines[-40:]), file=sys.stderr)
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    failed = res["failed"]
    failures = list(res["failures"])
    for c in res["checks"]:
        ok, msg = oracle.check(c["sql"], c["data"], c["spark"])
        if not ok:
            failed += int(c["calls"])
            failures.append(f"{c['key']} on {os.path.basename(c['data'])}: {msg}")
    log(f"done in {time.time() - T0:.1f} s ({len(res['checks'])} oracle checks)")
    for f_ in failures:
        log(f"FAILED {f_}")
    attempted = res["attempted"]
    metrics = res["metrics"]
    if a.trace:
        metrics["op_error_ratio"] = failed / max(1, attempted)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
