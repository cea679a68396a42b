"""Self-tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(layers.percentile(list(range(99)), 0.9))
        self.assertEqual(layers.percentile(list(range(100)), 0.9), 89)
        self.assertEqual(layers.percentile(list(range(1, 201)), 0.9), 180)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 5
        self.assertIsNone(layers.percentile(xs, 0.9))

    def test_median_needs_only_one_sample_beyond(self):
        self.assertEqual(layers.percentile([3, 1, 2], 0.5, min_beyond=1), 2)
        self.assertIsNone(layers.percentile([], 0.5))


def _records(digest, text="Tables (public.x)\n", passes=1):
    return [r for p in range(passes) for r in (
        {"kind": "op", "op": "q_a", "pass": p, "ok": True, "output": digest},
        {"kind": "op", "op": "catalog_estimated", "pass": p, "ok": True, "output": text})]


class OutputCheck(unittest.TestCase):
    expected = {"q_a": "42:123456789", "catalog_estimated": "Tables (public.x)\n"}
    ops = ["q_a", "catalog_estimated"]

    def test_matching_outputs_pass(self):
        c = layers.check_outputs(_records("42:123456789", passes=2), self.ops, self.expected)
        self.assertEqual(c["failed"], 0)
        self.assertEqual(c["attempted"], 2 + 4)

    def test_perturbed_digest_fails(self):
        for bad in ("42:123456788", "43:123456789", "42:-123456789"):
            c = layers.check_outputs(_records(bad), self.ops, self.expected)
            self.assertEqual(c["failed"], 1, bad)
            self.assertIn("q_a", c["failures"])

    def test_perturbed_render_fails_on_every_pass(self):
        recs = _records("42:123456789", text="Tables (public.y)\n", passes=2)
        c = layers.check_outputs(recs, self.ops, self.expected)
        self.assertEqual(sorted(c["failures"]), ["catalog_estimated"])
        self.assertEqual(c["failed"], 2)

    def test_missing_and_uncommitted_outputs_fail(self):
        c = layers.check_outputs(_records("42:123456789")[1:], self.ops, self.expected)
        self.assertEqual(c["failures"]["q_a"], ["no timed call"])
        c = layers.check_outputs(_records("42:123456789"), self.ops, {})
        self.assertEqual(sorted(c["failures"]), ["catalog_estimated", "q_a"])

    def test_exceptions_are_counted_by_op(self):
        recs = _records("42:123456789") + [
            {"kind": "warmup", "op": "q_b", "ok": False, "error": "boom"},
            {"kind": "op", "op": "q_b", "pass": 0, "ok": False, "error": "boom"}]
        c = layers.check_outputs(recs, self.ops + ["q_b"], self.expected)
        self.assertEqual(c["failures"]["q_b"], ["warmup: boom", "pass 0: boom"])
        self.assertEqual(c["attempted"], 3 + 3)
        self.assertEqual(c["failed"], 2)

    def test_footer_render_must_equal_estimated_render(self):
        recs = [{"kind": "op", "op": "catalog_estimated", "pass": 0, "ok": True, "output": "a"},
                {"kind": "op", "op": "catalog_footer", "pass": 0, "ok": True, "output": "b"}]
        exp = {"catalog_estimated": "a", "catalog_footer": "b"}
        c = layers.check_outputs(recs, list(exp), exp)
        self.assertEqual(list(c["failures"]), ["catalog_footer"])

    def test_record_then_check_round_trips(self):
        recs = _records("42:1", passes=2)
        self.assertEqual(layers.outputs(recs), {"q_a": "42:1", "catalog_estimated": "Tables (public.x)\n"})


class WallSplit(unittest.TestCase):
    def test_parts_sum_to_the_window(self):
        window = (0.0, 100.0)
        jobs = [(10.0, 40.0), (30.0, 60.0), (90.0, 120.0)]
        tasks = [(12.0, 20.0), (15.0, 25.0), (50.0, 55.0), (95.0, 130.0)]
        gap, wait, task = layers.split_wall(window, jobs, tasks)
        self.assertAlmostEqual(task, 13.0 + 5.0 + 5.0)
        self.assertAlmostEqual(gap, 100.0 - 50.0 - 10.0)
        self.assertAlmostEqual(wait, 60.0 - 23.0)
        self.assertAlmostEqual(gap + wait + task, 100.0)

    def test_no_jobs_is_all_driver_time(self):
        self.assertEqual(layers.split_wall((5.0, 9.0), [], []), (4.0, 0.0, 0.0))

    def test_overlapping_tasks_are_counted_once(self):
        gap, wait, task = layers.split_wall((0, 10), [(0, 10)], [(1, 5)] * 4 + [(4, 6)])
        self.assertEqual((gap, wait, task), (0, 5, 5))

    def test_union_merges_touching_intervals(self):
        self.assertEqual(layers.union([(3, 4), (1, 2), (2, 3), (7, 7)]), [[1, 4]])


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_the_printed_metrics(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        path = os.path.join(root, "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], layers.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], layers.PER_LAYER)
        with open(os.path.join(root, "perfbench", "workloads.json")) as f:
            self.assertEqual([w["name"] for w in spec["workloads"]], list(json.load(f)))


if __name__ == "__main__":
    unittest.main()
