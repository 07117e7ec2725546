#!/usr/bin/env python3
"""Benchmark entry point: one workload run in one fresh JVM.

    python3 perfbench/run.py --workload ingest_64k --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the library and the benchmark from
source when needed (see build.py), starts one JVM with a fixed heap running
Spark on local[k], and prints the run's result as the LAST line of standard
output: one JSON object with `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with --trace 0, the per-layer ones with --trace 1,
named and with units as BENCHMARK.json declares them). The JVM writes that
object to a file, so no JVM or launcher log line can end up after it.
Progress lines, among them the run's wall-clock figures and host steal
(`perfbench: wall {...}`) and the timed phase's collector and compiler
figures (`perfbench: jvm {...}`), go to standard error. Every file the run makes
lives under a per-run directory of `.bench_build/runs/` that is removed
before exit; a traced run keeps its spans in
`.bench_build/traces/<workload>-<seed>.json`. Exits non-zero, printing no
result, when the program cannot be built or the run does not finish.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_64k", "replay_tier", "llm_curate")
# Held fixed for every workload and recorded in README.md: a fixed heap
# (-Xms = -Xmx), the serial collector, and Spark on local[2]
HEAP = "2g"
GC = "-XX:+UseSerialGC"
CORES = 2
RUN_LIMIT_S = 170  # a run must end within 180 s; builds get their own allowance
BUILD_LIMIT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--commit-batches", type=int,
                   help="ingest_64k batches per commit (default 512); see README.md")
    p.add_argument("--corpus-scale", type=int,
                   help="llm_curate corpus size as a multiple of about 510 documents (default 4); see README.md")
    return p.parse_args(argv)


def check_result(res):
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys %s" % sorted(res))
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(res["failed"], int) or not 0 <= res["failed"] <= res["attempted"]:
        raise ValueError("failed must be a whole number within attempted")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError("metric %s malformed: %s" % (name, m))


def declared_metrics(metrics, declared, fill):
    """The run's metrics checked against BENCHMARK.json's list `declared`:
    an undeclared name or a unit other than the declared one is an error.
    A declared metric the run did not report is an error too, unless `fill`
    (per-layer metrics: a layer the workload does not exercise reads 0)."""
    units = {m["name"]: m["unit"] for m in declared}
    extra = sorted(set(metrics) - set(units))
    if extra:
        raise ValueError("undeclared metrics %s" % extra)
    for name, m in metrics.items():
        if m["unit"] != units[name]:
            raise ValueError("metric %s in %s, declared in %s" % (name, m["unit"], units[name]))
    missing = sorted(set(units) - set(metrics))
    if missing and not fill:
        raise ValueError("metrics not reported: %s" % missing)
    return {name: metrics.get(name, {"value": 0, "unit": unit}) for name, unit in units.items()}


def main(argv):
    args = parse_args(argv)
    root = os.getcwd()
    t0 = time.monotonic()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    try:
        main_cls, bench_cls, jars = build.build(root)
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        sys.stderr.write("perfbench: build failed: %s\n" % e)
        return 2
    cores = max(1, min(CORES, os.cpu_count() or 1))
    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "result.json")
    trace_dir = os.path.join(root, build.BUILD_DIR, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_out = os.path.join(trace_dir, "%s-%d.json" % (args.workload, args.seed))
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, GC, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([bench_cls, main_cls, os.path.join(jars, "*")]),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--dir", os.path.join(run_dir, "data"),
              "--out", out, "--trace-out", trace_out]
           + (["--commit-batches", str(args.commit_batches)] if args.commit_batches else [])
           + (["--corpus-scale", str(args.corpus_scale)] if args.corpus_scale else []))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env.pop("SPARK_CONF_DIR", None)
    try:
        limit = max(30.0, RUN_LIMIT_S - max(0.0, time.monotonic() - t0 - BUILD_LIMIT_S))
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
            try:
                code = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write("perfbench: run exceeded %.0f s\n" % limit)
                return 3
        if code != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write("perfbench: JVM exited with %d\n" % code)
            return 4
        with open(out) as f:
            res = json.load(f)
        try:
            check_result(res)
            res["metrics"] = declared_metrics(res["metrics"], declared, fill=bool(args.trace))
        except ValueError as e:
            sys.stderr.write("perfbench: malformed result: %s\n" % e)
            return 5
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(l for l in f if l.startswith("perfbench:")))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
