"""Tests of the benchmark driver's result handling.

Run from the repository root:  python3 -m unittest discover -s alertbench/tests
"""
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def jvm(metrics, correct=True, attempted=3, failed=0):
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "report": {"timed_batches": 2}}


class LastJsonLine(unittest.TestCase):

    def test_skips_log_noise_and_banners(self):
        out = "\n".join([
            "WARNING: Using incubator modules",
            '{"early": 1}',
            "[info] something {not json}",
            json.dumps(jvm({"setup_s": (1.5, "s")})),
            "[success] Total time: 3 s",
            "",
        ])
        self.assertEqual(run.last_json_line(out)["metrics"]["setup_s"]["value"], 1.5)

    def test_ignores_a_truncated_last_object(self):
        out = '{"a": 1}\n{"b": 2, "c": '
        self.assertEqual(run.last_json_line(out), {"a": 1})

    def test_none_without_json(self):
        self.assertIsNone(run.last_json_line("no result\n"))


class ResultLine(unittest.TestCase):

    def test_exact_keys_and_metric_order(self):
        j = jvm({"b": (2.0, "ms"), "a": (1.0, "s"), "extra": (9.0, "count")})
        line = run.result_line(j, ["a", "b"])
        self.assertEqual(list(line), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(list(line["metrics"]), ["a", "b"])
        self.assertEqual(line["metrics"]["b"], {"value": 2.0, "unit": "ms"})
        parsed = json.loads(json.dumps(line))
        self.assertIs(parsed["correct"], True)
        self.assertIsInstance(parsed["attempted"], int)

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(KeyError):
            run.result_line(jvm({"a": (1.0, "s")}), ["a", "b"])

    def test_failures_pass_through(self):
        line = run.result_line(jvm({"a": (1.0, "s")}, correct=False, attempted=4, failed=1), ["a"])
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (False, 4, 1))

    def test_names_follow_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for m in spec["end_to_end"]]
        self.assertIn("setup_s", names)
        self.assertEqual(len(names), len(set(names)))


class OracleCompare(unittest.TestCase):

    def setUp(self):
        try:
            import pandas  # noqa: F401
        except ImportError:
            self.skipTest("pandas not installed")
        import oracle
        self.oracle = oracle

    def frame(self, **cols):
        import pandas as pd
        return pd.DataFrame(cols)

    def test_equal_up_to_column_order_and_nan(self):
        got = self.frame(b=[1.0, math.nan], a=["x", "y"])
        exp = self.frame(a=["x", "y"], b=[1.0, math.nan])
        self.assertEqual(self.oracle.compare("q", got, exp), [])

    def test_value_row_and_column_differences(self):
        self.assertTrue(self.oracle.compare("q", self.frame(a=[1.0]), self.frame(a=[1.5])))
        self.assertTrue(self.oracle.compare("q", self.frame(a=[1, 2]), self.frame(a=[1])))
        self.assertTrue(self.oracle.compare("q", self.frame(a=[1]), self.frame(c=[1])))
        self.assertTrue(self.oracle.compare("q", self.frame(a=["x"]), self.frame(a=["y"])))


if __name__ == "__main__":
    unittest.main()
