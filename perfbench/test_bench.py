"""Self-tests of the benchmark's own logic: the percentile rule, the
geometric means, the attribution of arrival files to stream triggers,
result canonicalisation, and the layer-diff rule.

    python3 -m unittest perfbench/test_bench.py
"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layerdiff  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(M.tail(list(range(19)))[0], 50)
        self.assertEqual(M.tail(list(range(39)))[0], 50)
        self.assertEqual(M.tail(list(range(40)))[0], 75)
        self.assertEqual(M.tail(list(range(99)))[0], 75)
        self.assertEqual(M.tail(list(range(100)))[0], 90)
        self.assertEqual(M.tail(list(range(999)))[0], 90)
        self.assertEqual(M.tail(list(range(1000)))[0], 99)

    def test_allows(self):
        self.assertTrue(M.allows(100, 90))
        self.assertFalse(M.allows(99, 90))

    def test_quantile_interpolates(self):
        self.assertEqual(M.quantile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(M.quantile([5], 90), 5)
        self.assertAlmostEqual(M.quantile(list(range(101)), 90), 90.0)

    def test_geomean_and_slower_half(self):
        self.assertAlmostEqual(M.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(M.geomean([0.5, 0.5, 0.5]), 0.5)
        # above the median only, for odd and even counts alike
        self.assertEqual(M.slower_half([5, 1, 4, 2, 3]), [4, 5])
        self.assertEqual(M.slower_half([4, 1, 3, 2]), [3, 4])
        self.assertEqual(M.slower_half([7]), [7])


def trig(batch, start_ms, dur_ms, rows):
    return {"batch": batch, "start_ms": start_ms, "end_ms": start_ms + dur_ms, "rows": rows,
            "durations": {"triggerExecution": dur_ms}, "state": []}


class Attribution(unittest.TestCase):
    def test_cumulative_rows_cover_files_in_order(self):
        trigs = [trig(0, 0, 100, 500), trig(1, 200, 100, 1500), trig(2, 400, 100, 500)]
        self.assertEqual(M.attribute(5, 500, trigs), [0, 1, 1, 1, 2])

    def test_uncovered_files_and_latency(self):
        trigs = [trig(0, 1000, 300, 1000)]
        self.assertEqual(M.attribute(3, 500, trigs), [0, 0, None])
        lat = M.file_latencies([900, 950, 1000], 500, trigs)
        self.assertEqual(lat[:2], [0.4, 0.35])
        self.assertIsNone(lat[2])
        # file 2 was never consumed, so it is backlog at any end time
        self.assertEqual(M.backlog([900, 950, 1000], 500, trigs, 2000), 1)
        # before the trigger ended nothing was consumed
        self.assertEqual(M.backlog([900, 950, 1000], 500, trigs, 1200), 3)

    def test_triggers_from_progress(self):
        prog = [
            {"batchId": 1, "timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 500,
             "durationMs": {"triggerExecution": 250}},
            {"batchId": 0, "timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 1000,
             "durationMs": {"triggerExecution": 400}},
            {"batchId": 1, "timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 500,
             "durationMs": {"triggerExecution": 250}},
            {"batchId": 2, "timestamp": "2026-01-01T00:00:02.000Z", "numInputRows": 0,
             "durationMs": {"triggerExecution": 5}},
        ]
        t = M.triggers(prog)
        self.assertEqual([x["batch"] for x in t], [0, 1])
        self.assertEqual(t[1]["end_ms"] - t[0]["start_ms"], 1250)


class Canonicalisation(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
        b = pd.DataFrame({"v": ["a", "b"], "k": [1, 2]})
        self.assertIsNone(oracle.same(oracle.canon(a), oracle.canon(b)))

    def test_values_within_1e9_agree(self):
        a = pd.DataFrame({"x": [1.0, 2.0]})
        self.assertIsNone(oracle.same(oracle.canon(a), oracle.canon(a + 1e-10)))
        self.assertIsNotNone(oracle.same(oracle.canon(a), oracle.canon(a + 1e-6)))

    def test_integer_and_float_kinds_must_agree(self):
        a = pd.DataFrame({"n": [1, 2]})
        b = pd.DataFrame({"n": [1.0, 2.0]})
        self.assertIn("dtype", oracle.same(oracle.canon(a), oracle.canon(b)))

    def test_missing_rows_and_columns_are_misses(self):
        a = pd.DataFrame({"n": [1, 2]})
        self.assertIn("shape", oracle.same(oracle.canon(a), oracle.canon(a.head(1))))
        self.assertIn("columns", oracle.same(oracle.canon(a), oracle.canon(a.rename(columns={"n": "m"}))))


class LayerDiff(unittest.TestCase):
    def run_of(self, v):
        return {"per_layer": {"exec.task_s": v, "plans.plan_s": 1.0}, "self_s": {}}

    def test_only_moves_beyond_spread_are_listed(self):
        before = [self.run_of(v) for v in (1.0, 1.1, 0.9, 1.0)]
        after = [self.run_of(v) for v in (2.0, 2.1, 1.9, 2.0)]
        rows = layerdiff.moved(before, after)
        self.assertEqual([r[1] for r in rows], ["exec.task_s"])
        self.assertEqual(layerdiff.moved(before, before), [])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "workload", "start_s": 0.0, "end_s": 10.0},
            {"id": 2, "parent": 1, "layer": "operators", "start_s": 1.0, "end_s": 3.0},
            {"id": 3, "parent": 1, "layer": "exec", "start_s": 3.0, "end_s": 9.0},
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st["workload"], 2.0)
        self.assertAlmostEqual(st["operators"], 2.0)
        self.assertAlmostEqual(st["exec"], 6.0)


if __name__ == "__main__":
    unittest.main()
