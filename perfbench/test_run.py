"""Tests of run.py's output contract; no JVM is started.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import contextlib
import io
import json
import os
import unittest
from unittest import mock

import run


def level(cores, rows_per_s, attempted=4, failed=0):
    e2e = {"setup_s": 1.5, "cold_s": 2.0, "rows_per_s": rows_per_s, "cpu_s_per_mrow": 3.0,
           "peak_rss_mb": 900.0}
    return {"cores": cores, "attempted": attempted, "failed": failed, "exit_code": int(failed > 0),
            "mismatches": [], "output": [["tile_counts", 10, 99]], "end_to_end": e2e, "per_layer": {}, "jdk": "17", "spark": "4",
            "rows": 1000, "warm_iterations": 3, "warm_s": [1.0], "traced_s": [],
            "setup_reps_s": [1.5]}


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_every_named_metric_has_the_unit_run_py_prints(self):
        for section in ("end_to_end", "per_layer"):
            for m in self.spec[section]:
                self.assertEqual(run.UNITS.get(m["name"]), m["unit"], m["name"])

    def test_every_workload_has_levels(self):
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(sorted(names), sorted(run.WORKLOADS))
        for w in names:
            self.assertEqual(run.LEVELS[w][0], 4)

    def test_contract_metrics_carry_value_and_unit(self):
        s = run.summarize("tile_headline", [level(4, 4000.0), level(1, 1250.0)])
        s["trace"] = 0
        names = [m["name"] for m in self.spec["end_to_end"]]
        out = run.contract_metrics(s, names)
        self.assertEqual(sorted(out), sorted(names))
        self.assertEqual(out["rows_per_s"], {"value": 4000.0, "unit": "rows/s"})
        self.assertAlmostEqual(s["end_to_end"]["scale_eff_1_4"], 0.8)
        del s["end_to_end"]["cold_s"]
        with self.assertRaises(run.BenchError):
            run.contract_metrics(s, names)

    def test_levels_with_different_outputs_fail(self):
        other = level(1, 1250.0)
        other["output"] = [["tile_counts", 10, 98]]
        s = run.summarize("tile_headline", [level(4, 4000.0), other])
        self.assertEqual((s["attempted"], s["failed"]), (9, 1))

    def test_a_wrong_output_raises_fail_ratio_and_the_exit_code(self):
        s = run.summarize("shuffle_skew", [level(4, 100.0, attempted=4, failed=1)])
        self.assertEqual(s["end_to_end"]["fail_ratio"], 0.25)
        with mock.patch.object(run, "build", return_value="cp"), \
                mock.patch.object(run, "run_workload", return_value=s), \
                mock.patch.object(run, "WORK", os.path.join(run.HERE, ".work", "test")):
            out = io.StringIO()
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
                rc = run.main(["--workload", "shuffle_skew", "--seed", "3"])
        last = json.loads(out.getvalue().strip().splitlines()[-1])
        self.assertEqual(rc, 1)
        self.assertEqual((last["correct"], last["attempted"], last["failed"]), (False, 4, 1))

    def test_missing_engine_sources_fail_without_a_result(self):
        with mock.patch.object(run, "ENGINE_SRC", os.path.join(run.HERE, "no-such-dir")):
            with self.assertRaises(run.BenchError):
                run.build()


if __name__ == "__main__":
    unittest.main()
