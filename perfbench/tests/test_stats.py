"""Tests of the metric rules: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def record(ops, setup=(3.0, 1.0, 2.0)):
    return {"entries": sorted({o["entry"] for o in ops}), "ops": ops,
            "setup_s": list(setup), "register_s": [0.5], "passes": []}


def op(entry, pass_, ms, error=None):
    return {"entry": entry, "pass": pass_, "ms": ms, "cpu_ms": 2 * ms, "error": error}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.p90(list(range(1, 100))))   # 9 beyond
        self.assertEqual(stats.p90(list(range(1, 101))), 90)  # 10 beyond

    def test_p90_absent_from_small_runs(self):
        rec = record([op("a", 0, float(i)) for i in range(1, 30)])
        _, _, metrics = stats.end_to_end(rec, {"a": (True, "")})
        self.assertNotIn("op_ms_p90", metrics)
        self.assertIn("op_ms_p50", metrics)

    def test_percentile_of_nothing(self):
        self.assertIsNone(stats.percentile([], 0.5))


class FailedOperations(unittest.TestCase):
    def test_raised_and_mismatched_ops_are_excluded_from_timings(self):
        ops = [op("a", 0, 100.0), op("b", 0, 5000.0, error="boom"),
               op("c", 0, 7000.0), op("a", 1, 300.0), op("b", 1, 100.0),
               op("c", 1, 9000.0)]
        check = {"a": (True, ""), "b": (True, ""), "c": (False, "rows 1 vs 2")}
        attempted, failed, m = stats.end_to_end(record(ops), check)
        self.assertEqual((attempted, failed), (6, 3))
        # pass 0 keeps only a (0.1 s); pass 1 keeps a and b (0.4 s)
        self.assertAlmostEqual(m["pass_s"][0], 0.25)
        self.assertAlmostEqual(m["op_ms_p50"][0], 100.0)
        self.assertAlmostEqual(m["cpu_s_per_pass"][0], 0.5)

    def test_one_failed_entry_of_several_makes_the_run_incorrect(self):
        ops = [op(e, p, 100.0) for p in range(2) for e in "abcdefg"]
        check = {e: (True, "") for e in "abcdef"}
        check["g"] = (False, "rows 3 vs 4")
        attempted, failed, m = stats.end_to_end(record(ops), check)
        self.assertEqual((attempted, failed), (14, 2))
        got = json.loads(stats.result_line(attempted, failed, m, OutputLine.WANTED))
        self.assertIs(got["correct"], False)
        ops[0]["error"] = "boom"
        check["g"] = (True, "")
        attempted, failed, m = stats.end_to_end(record(ops), check)
        got = json.loads(stats.result_line(attempted, failed, m, OutputLine.WANTED))
        self.assertEqual((got["correct"], got["failed"]), (False, 1))

    def test_entry_missing_from_check_counts_as_failed(self):
        _, failed, _ = stats.end_to_end(record([op("a", 0, 1.0)]), {})
        self.assertEqual(failed, 1)

    def test_setup_is_the_median_of_the_rounds(self):
        _, _, m = stats.end_to_end(record([op("a", 0, 1.0)]), {"a": (True, "")})
        self.assertEqual(m["setup_s"], (2.0, "s"))


class OutputLine(unittest.TestCase):
    WANTED = {"setup_s": "s", "pass_s": "s", "op_ms_p50": "ms", "cpu_s_per_pass": "s"}

    def test_line_parses_with_each_unit(self):
        rec = record([op("a", 0, 10.0), op("a", 1, 12.0)])
        attempted, failed, m = stats.end_to_end(rec, {"a": (True, "")})
        line = stats.result_line(attempted, failed, m, self.WANTED)
        got = json.loads(line)
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((got["correct"], got["attempted"], got["failed"]), (True, 2, 0))
        self.assertEqual(set(got["metrics"]), set(self.WANTED))
        for name, unit in self.WANTED.items():
            self.assertEqual(got["metrics"][name]["unit"], unit)
            self.assertIsInstance(got["metrics"][name]["value"], float)

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.result_line(1, 0, {"setup_s": (1.0, "s")}, self.WANTED)

    def test_per_layer_units_cover_the_line(self):
        rec = record([op("a", 0, 10.0)])
        rec["passes"] = [{"layers": {"exec.jobs": 4.0, "stream.input_rows": 10.0,
                                     "stream.wall_ms": 2000.0},
                          "batch_ms": [5.0, 7.0]},
                         {"layers": {"exec.jobs": 2.0}, "batch_ms": []}]
        m = stats.per_layer(rec)
        self.assertEqual(m["exec.jobs"], (3.0, "count"))
        self.assertEqual(m["state.commit_ms"], (0.0, "ms"))
        self.assertEqual(m["stream.events_per_s"], (5.0, "1/s"))
        self.assertEqual(m["stream.batch_ms_p50"], (6.0, "ms"))
        self.assertNotIn("stream.batch_ms_p90", m)
        json.loads(stats.result_line(1, 0, m, {"exec.jobs": "count",
                                               "stream.events_per_s": "1/s"}))


if __name__ == "__main__":
    unittest.main()
