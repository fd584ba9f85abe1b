#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline,
into the build directory, $CARGO_TARGET_DIR or .bench_build, with one
subdirectory per source state), generates the workload's inputs from the
seed (gen.py), runs the harness JVM, checks the outputs (DuckDB oracle
through scripts/check_oracle.py, the pinned no-oracle floors and, in a
traced run, the probe stream's verdict invariants) and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Exits non-zero on a wrong result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

JAVA_HEAP = "2g"
RUN_DEADLINE_S = 175  # generate + harness + checks, the build excluded
BUILD_TIMEOUT_S = 850
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the first Spark installation (a directory with
    bin/spark-submit and jars/) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: no Spark installation found; set SPARK_HOME")


def build(build_dir):
    """Compile engine + harness with sbt once per source state, into
    build_dir/<source stamp>; returns the runtime classpath. The classpath
    names only classes built from those exact sources."""
    sources = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    target = os.path.join(build_dir, source_stamp(sources))
    cp_file = os.path.join(target, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read()
    log("building engine and harness (sbt, offline)")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               PERFBENCH_TARGET=target,
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", "")] + opts))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13" in ln and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    # written last: its presence marks a finished build
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def run_harness(cp, workload, input_dir, out_dir, seconds, trace, timeout):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{JAVA_HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Harness",
           workload, input_dir, out_dir, str(seconds), str(trace), str(gen.STREAM_RATE)]
    with open(os.path.join(out_dir, "harness.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=out_dir)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    path = os.path.join(out_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(path):
        with open(os.path.join(out_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited {p.returncode}")
    with open(path) as f:
        return json.load(f)


def oracle_failures(out_dir, input_dir, timeout):
    """DuckDB comparison of the checked query outputs, with the rules of
    scripts/check_oracle.py (run as is)."""
    check = os.path.join(out_dir, "check")
    if not os.path.isdir(check):
        return []
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                        check, input_dir], capture_output=True, text=True,
                       timeout=max(timeout, 1))
    fails = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL")]
    if p.returncode != 0 and not fails:
        fails = [f"oracle check exited {p.returncode}: {p.stderr[-500:]}"]
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "src/main/scala", "scripts/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}; "
                             "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)

    t0 = time.time()
    input_dir = os.path.join(build_dir, "inputs", f"{a.workload}-{a.seed}")
    shutil.rmtree(input_dir, ignore_errors=True)
    gen.generate(a.workload, a.seed, input_dir)
    out_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    t1 = time.time()
    r = run_harness(cp, a.workload, input_dir, out_dir, a.seconds, a.trace,
                    t0 + RUN_DEADLINE_S - 15 - t1)
    t2 = time.time()
    failures = r["failures"] + oracle_failures(out_dir, input_dir, t0 + RUN_DEADLINE_S - t2)
    log(f"generate {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, oracle {time.time() - t2:.1f} s")
    for f in failures:
        log(f"FAILURE {f}")

    attempted, failed = max(r["attempted"], 1), len(failures)
    try:
        if a.trace:
            got = metrics.per_layer(r)
        else:
            got, n = metrics.end_to_end(r, failed, attempted)
            # no tail percentile is reported: a run's op kinds are too few
            # for one with ten samples beyond it
            log(f"op kinds n={n}; highest supported percentile: "
                f"p{metrics.supported_percentile(n)}")
    except (ValueError, KeyError, IndexError, ZeroDivisionError):
        if not failures:
            raise
        got = {}  # a failed run need not have measured anything
    out = {}
    for m in wanted:
        if m["name"] not in got:
            if failures:
                continue
            raise SystemExit(f"perfbench: metric {m['name']} was not measured")
        out[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        log(f"{m['name']:32s} {got[m['name']]:.6g} {m['unit']}")
    log(f"run took {time.time() - t0:.1f} s")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
