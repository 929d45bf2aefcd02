"""The benchmark's own tests.

  python3 -m unittest perfbench/test_perfbench.py            # fast checks
  PERFBENCH_RUN=1 python3 -m unittest perfbench/test_perfbench.py
                                  # also runs every workload once, traced
                                  # and untraced, and compares the names

Fast checks need no JVM: BENCHMARK.json against its format rules,
the end-to-end names against what run.py computes, the per-layer names
against what the tracer emits, and the output-comparison rules.
"""
import glob
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class ContractTest(unittest.TestCase):
    def test_keys_and_limits(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        self.assertEqual(BENCH["paths"], ["perfbench"])
        self.assertTrue(1 <= BENCH["run_seconds"] <= 60)
        self.assertLessEqual(len(BENCH["command"]), 32)
        for part in BENCH["command"]:
            self.assertFalse(part.startswith("/") or ".." in part, part)
        names = [w["name"] for w in BENCH["workloads"]]
        names += [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in BENCH["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in BENCH["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)

    def test_setup_metric_has_the_largest_bound(self):
        e2e = {m["name"]: m for m in BENCH["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_workloads_are_the_runners(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(run.WORKLOADS))


class NamesTest(unittest.TestCase):
    def fake_result(self, kinds):
        ops = [{"name": k, "kind": k, "s": 0.1 * (i + 1), "ok": True, "error": ""}
               for i, k in enumerate(kinds)]
        return {"nums": {"setup_s": [1.0], "pass_s": [2.0]}, "ops": ops}

    def test_end_to_end_names_and_units(self):
        declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        for kinds in (["query"] * 3, ["probe_ann", "probe_adc", "probe_bm25", "upsert_ann"]):
            shown, _ = run.metrics(self.fake_result(kinds), 100.0)
            self.assertEqual({k: u for k, (_, u) in shown.items()}, declared)

    def test_missing_or_zero_metric_is_refused(self):
        declared = [{"name": "a", "unit": "s"}, {"name": "b", "unit": "ms"}]
        self.assertEqual(run.shown(declared, {"a": 1.5, "b": 2.0, "c": 0.0}),
                         {"a": {"value": 1.5, "unit": "s"}, "b": {"value": 2.0, "unit": "ms"}})
        for values in ({"a": 1.5}, {"a": 1.5, "b": 0.0}, {"a": 1.5, "b": None},
                       {"a": 1.5, "b": float("nan")}):
            with self.assertRaises(SystemExit):
                run.shown(declared, values)

    def test_tracing_cost_against_the_untraced_run(self):
        cost = run.tracing_cost({"batch_s": 11.0, "probe_p50_ms": 90.0},
                                {"batch_s": 10.0, "probe_p50_ms": 100.0})
        self.assertAlmostEqual(cost["tracing.overhead_pct"], 10.0)
        self.assertAlmostEqual(cost["tracing.overhead_probe_p50_pct"], -10.0)

    def test_untraced_baseline_prefers_the_same_seed_and_build(self):
        with tempfile.TemporaryDirectory() as d:
            work, run.WORK = run.WORK, d
            try:
                for seed, batch, digest in ((1, 10.0, run.sources_digest()),
                                            (2, 20.0, run.sources_digest()),
                                            (3, 30.0, run.sources_digest()),
                                            (4, 1000.0, "another build")):
                    out = os.path.join(d, "out", f"w-{seed}-0")
                    os.makedirs(out)
                    run.write_record(out, {"config": {"seed": str(seed), "sources_sha1": digest},
                                           "failed": 0, "metrics": {"batch_s": batch}})
                self.assertEqual(run.untraced_metrics("w", 1, 1)["batch_s"], 10.0)
                # no run of seed 9: the median over this build's other seeds
                self.assertEqual(run.untraced_metrics("w", 9, 1)["batch_s"], 20.0)
            finally:
                run.WORK = work

    def test_per_layer_names_are_emitted(self):
        """Every declared per-layer name is a key the tracer writes (or,
        for the tracing cost, one run.py adds)."""
        src = "".join(open(p).read() for p in
                      glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
        emitted = set(re.findall(r'"([a-z]+\.[a-z_]+)"', src)) | {"tracing.overhead_pct"}
        for m in BENCH["per_layer"]:
            self.assertIn(m["name"], emitted)


class CompareTest(unittest.TestCase):
    def test_rows_sorted_and_floats_at_nine_decimals(self):
        a = pd.DataFrame({"b": [2.0000000001, 1.0], "a": ["y", "x"]})
        b = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
        self.assertTrue(run.canon(a).equals(run.canon(b)))
        c = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.00000001]})
        self.assertFalse(run.canon(a).equals(run.canon(c)))


@unittest.skipUnless(os.environ.get("PERFBENCH_RUN"), "set PERFBENCH_RUN=1 to run workloads")
class CommandTest(unittest.TestCase):
    def test_command_prints_the_declared_names(self):
        for w in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                cmd = BENCH["command"] + ["--workload", w, "--seed", "1", "--seconds",
                                          str(BENCH["run_seconds"]), "--trace", str(trace)]
                r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                out = json.loads(r.stdout.strip().splitlines()[-1])
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertEqual({n: m["unit"] for n, m in out["metrics"].items()},
                                 {m["name"]: m["unit"] for m in BENCH[key]})
                for n, m in out["metrics"].items():  # a 0 could never move
                    self.assertTrue(isinstance(m["value"], (int, float)) and m["value"] != 0, n)


if __name__ == "__main__":
    unittest.main()
