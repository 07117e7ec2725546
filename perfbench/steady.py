#!/usr/bin/env python3
"""Steadiness check: runs each workload in two separate sets of seeded runs
and prints, per set, every end-to-end metric's median and quartiles, the
spread (interquartile distance over the median) and how far the second
set's median moved from the first's, against the metric's bound in
BENCHMARK.json; beside them, the same runs' wall-clock medians, host
steal, host-speed probe and CPU metrics before scaling to the probe's
reference speed, which explain noise but are not gated.

    python3 perfbench/steady.py                      # 2 sets x 10 runs, every workload
    python3 perfbench/steady.py --runs 5 --sets 1 --workload llm_curate

Run from the root of a checkout. Every run is appended, one JSON line each,
to perfbench/results/steady.jsonl. Exits 1 when a run is incorrect or fails
an operation, a spread exceeds its bound, or a median moved by more than
its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(bench, workload, seed, trace=0):
    """(result, the figures the run printed to standard error by kind, as
    {"wall": {...}, "e2e": {...}, "cpu unscaled": {...}}, seconds the
    command took)."""
    cmd = list(bench["command"]) + ["--workload", workload, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    took = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit("%s seed %d failed with exit code %d" % (workload, seed, p.returncode))
    figs = {}
    for line in p.stderr.splitlines():
        for kind in ("wall", "e2e", "cpu unscaled"):
            if line.startswith("perfbench: %s {" % kind):
                figs[kind] = json.loads(line[len("perfbench: %s " % kind):])
    return json.loads(lines[-1]), figs, took


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    log = open(os.path.join(HERE, "results", "steady.jsonl"), "a")
    ok = True
    for w in args.workload or names:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.first_seed + s * args.runs + i
                res, figs, took = run_once(bench, w, seed)
                wall = dict(figs.get("wall", {}))
                wall.update(("unscaled " + k, v) for k, v in figs.get("cpu unscaled", {}).items())
                log.write(json.dumps({"workload": w, "set": s, "seed": seed, "took_s": round(took, 1),
                                      "result": res, "wall": wall}) + "\n")
                log.flush()
                if not res["correct"] or res["failed"]:
                    ok = False
                runs.append((res, wall, took))
            sets.append(runs)
        results = [r for runs in sets for r, _, _ in runs]
        took = [t for runs in sets for _, _, t in runs]
        print("\n%s: %d runs of %.0f s median (max %.0f); attempted %s; failed %d; "
              "failed share %s; all correct: %s" % (
                  w, len(results), statistics.median(took), max(took),
                  sorted({r["attempted"] for r in results}), sum(r["failed"] for r in results),
                  sorted({r["failed"] / r["attempted"] for r in results}),
                  all(r["correct"] for r in results)))
        print("  %-26s %-33s %-33s %7s %7s" % ("metric", "set 1 q1 / median / q3",
                                                "set 2 q1 / median / q3", "spread", "moved"))
        rows = [(m, bounds[m], lambda r, m=m: r[0]["metrics"][m]["value"]) for m in sorted(bounds)]
        rows += [(k, None, lambda r, k=k: r[1].get(k, 0.0))
                 for k in ("wall.setup_s", "wall.op_ms_p50", "host.steal_pct", "host.probe_ms",
                           "unscaled setup_s", "unscaled op_cpu_ms_p50", "unscaled mb_per_cpu_s")]
        for name, bound, get in rows:
            cols, spreads, meds = [], [], []
            for runs in sets:
                q1, med, q3 = quartiles([get(r) for r in runs])
                cols.append("%10.4g %10.4g %10.4g" % (q1, med, q3))
                spreads.append((q3 - q1) / med if med else 0.0)
                meds.append(med)
            moved = meds[-1] / meds[0] - 1 if len(meds) == 2 and meds[0] else 0.0
            flag = ""
            if bound is not None:
                if max(spreads) > bound:
                    flag, ok = "  SPREAD > bound %.2f" % bound, False
                elif max(spreads) > bound / 3:
                    flag = "  spread > bound/3"
                better = next(m["better"] for m in bench["end_to_end"] if m["name"] == name)
                worse = moved if better == "lower" else -moved
                if worse > bound:
                    flag, ok = flag + "  MOVED > bound %.2f" % bound, False
            else:
                flag = "  (not gated)"
            print("  %-26s %-33s %-33s %6.1f%% %+6.1f%%%s" % (
                name, cols[0], cols[-1] if len(cols) == 2 else "", 100 * max(spreads),
                100 * moved, flag))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
