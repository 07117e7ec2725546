#!/usr/bin/env python3
"""Per-layer table: runs every workload once traced and once untraced with
the same seed, and prints the traced per-layer metrics as a Markdown table
(a layer a workload does not exercise reads 0 and shows as "·"), then the
tracing overhead on op_cpu_ms_p50 and, from each trace file, the Spark jobs
attributed to the wrong operation (see misattributed_jobs).

    python3 perfbench/layers.py [--seed 11]

Run from the root of a checkout.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import steady  # noqa: E402


def misattributed_jobs(trace_path):
    """Jobs of a trace file that carry the wrong operation: an untagged job
    that starts inside an operation's window, or a tagged one that starts
    outside its own operation's window. Listener times are whole
    milliseconds, so a window's edges get 1 ms of slack. Returns the jobs
    and the number of operations."""
    with open(trace_path) as f:
        recs = [json.loads(line) for line in f]
    ops = {r["id"]: r for r in recs if r["kind"] == "op"}
    bad = []
    for j in (r for r in recs if r["kind"] == "job"):
        if j["op"] == -1:
            if any(o["start"] + 1 <= j["start"] < o["end"] - 1 for o in ops.values()):
                bad.append(j)
        elif j["op"] not in ops or not (
                ops[j["op"]]["start"] - 1 <= j["start"] < ops[j["op"]]["end"] + 1):
            bad.append(j)
    return bad, len(ops)


def trace_path(workload, seed):
    return os.path.join(".bench_build", "traces", "%s-%d.json" % (workload, seed))


def fmt(v):
    if v == 0:
        return "·"
    return "%.3g" % v if abs(v) < 1000 else "%.0f" % v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=11)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    traced, plain = {}, {}
    for w in names:
        traced[w] = steady.run_once(bench, w, args.seed, trace=1)
        plain[w] = steady.run_once(bench, w, args.seed, trace=0)
    print("| metric | unit | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for m in bench["per_layer"]:
        vals = [traced[w][0]["metrics"][m["name"]]["value"] for w in names]
        print("| `%s` | %s | %s |" % (m["name"], m["unit"], " | ".join(fmt(v) for v in vals)))
    print()
    print("| workload | op_cpu_ms_p50 untraced | traced | overhead | ops | misattributed jobs |")
    print("|---|---|---|---|---|---|")
    for w in names:
        u = plain[w][0]["metrics"]["op_cpu_ms_p50"]["value"]
        t = traced[w][1]["e2e"]["op_cpu_ms_p50"]
        bad, ops = misattributed_jobs(trace_path(w, args.seed))
        print("| %s | %.1f | %.1f | %+.1f%% | %d | %d |" % (w, u, t, 100 * (t / u - 1), ops, len(bad)))


if __name__ == "__main__":
    main()
