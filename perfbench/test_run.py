#!/usr/bin/env python3
"""Self-test of the benchmark's command line contract.

    python3 -m unittest perfbench/test_run.py      # from the root of a checkout

The tests run the real command (the first run builds), one untraced run and
one traced run per workload, so the suite takes several minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import layers  # noqa: E402
import run  # noqa: E402

SEED = 7

# per workload, the per-layer metrics of the layers it exists to exercise
OWN_LAYERS = {
    "ingest_64k": lambda k: k.startswith(("append.", "meta.")),
    "replay_tier": lambda k: (k.startswith(("fetch.", "read.", "sql.", "export.", "backfill.",
                                            "codec.", "stream."))
                              and k != "stream.backlog_offsets") or k == "meta.load_cpu_ms",
    "llm_curate": lambda k: k.startswith("op.") and k != "op.spill_mb",
}


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def command(cwd, workload, trace):
    b = bench()
    return subprocess.run(
        b["command"] + ["--workload", workload, "--seed", str(SEED),
                        "--seconds", str(b["run_seconds"]), "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)


class LastLine(unittest.TestCase):
    def parse(self, workload, trace):
        """The command's last line, parsed as printed, naming exactly the
        metrics BENCHMARK.json declares for the run's kind."""
        p = command(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        run.check_result(res)
        self.assertTrue(res["correct"], p.stderr[-2000:])
        self.assertEqual(res["failed"], 0)
        declared = bench()["per_layer" if trace else "end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        return res

    def test_untraced_runs_print_every_end_to_end_metric_above_zero(self):
        for w in (w["name"] for w in bench()["workloads"]):
            with self.subTest(workload=w):
                res = self.parse(w, 0)
                self.assertEqual([k for k, m in res["metrics"].items() if not m["value"] > 0],
                                 [], res)

    def test_traced_runs_tag_every_job_inside_an_operation(self):
        for w in (w["name"] for w in bench()["workloads"]):
            with self.subTest(workload=w):
                res = self.parse(w, 1)
                bad, ops = layers.misattributed_jobs(
                    os.path.join(ROOT, layers.trace_path(w, SEED)))
                self.assertGreater(ops, 0)
                self.assertEqual(bad, [])
                # the layers the workload exists to exercise (README.md's
                # mapping) all report: a renamed span, a lost listener event
                # or a filter that matches nothing would read 0
                own = [k for k in res["metrics"] if OWN_LAYERS[w](k)]
                self.assertGreater(len(own), 0)
                self.assertEqual([k for k in own if not res["metrics"][k]["value"] > 0], [])


class Misattribution(unittest.TestCase):
    def check(self, recs):
        path = os.path.join(ROOT, ".bench_build", "test-trace.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs))
        try:
            return layers.misattributed_jobs(path)[0]
        finally:
            os.remove(path)

    def test_an_untagged_job_inside_an_operation_is_reported(self):
        op = {"kind": "op", "id": 3, "name": "append", "start": 1000.0, "end": 2000.0}
        inside = {"kind": "job", "id": 1, "op": -1, "start": 1500.0, "end": 1600.0}
        outside = {"kind": "job", "id": 2, "op": -1, "start": 2500.0, "end": 2600.0}
        tagged = {"kind": "job", "id": 4, "op": 3, "start": 1200.0, "end": 1300.0}
        self.assertEqual(self.check([op, inside, outside, tagged]), [inside])

    def test_a_tagged_job_outside_its_operation_is_reported(self):
        op = {"kind": "op", "id": 3, "name": "append", "start": 1000.0, "end": 2000.0}
        late = {"kind": "job", "id": 1, "op": 3, "start": 2100.0, "end": 2200.0}
        self.assertEqual(self.check([op, late]), [late])


class Malformed(unittest.TestCase):
    def test_check_result_rejects_extra_keys(self):
        with self.assertRaises(ValueError):
            run.check_result({"correct": True, "attempted": 1, "failed": 0, "metrics": {}, "x": 1})

    def test_check_result_rejects_failed_beyond_attempted(self):
        with self.assertRaises(ValueError):
            run.check_result({"correct": True, "attempted": 1, "failed": 2, "metrics": {}})

    def test_declared_metrics_rejects_undeclared_and_fills_layers(self):
        declared = [{"name": "a", "unit": "ms"}, {"name": "b", "unit": "count"}]
        with self.assertRaises(ValueError):
            run.declared_metrics({"c": {"value": 1, "unit": "ms"}}, declared, fill=True)
        with self.assertRaises(ValueError):
            run.declared_metrics({"a": {"value": 1, "unit": "s"}}, declared, fill=True)
        with self.assertRaises(ValueError):
            run.declared_metrics({"a": {"value": 1, "unit": "ms"}}, declared, fill=False)
        self.assertEqual(run.declared_metrics({"a": {"value": 1, "unit": "ms"}}, declared, fill=True),
                         {"a": {"value": 1, "unit": "ms"}, "b": {"value": 0, "unit": "count"}})

    def test_fails_without_the_program_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("results", "__pycache__"))
            # build.sbt names Spark's jars, so the build gets past finding
            # them and fails on the missing library sources
            shutil.copy(os.path.join(ROOT, "build.sbt"), bare)
            p = command(bare, "ingest_64k", 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
            self.assertIn("sources missing", p.stderr)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
