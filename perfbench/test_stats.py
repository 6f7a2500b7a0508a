"""Self-tests for the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from stats import (attribute, beyond, parse_record, percentile, record,  # noqa: E402
                   self_times, tail_percentile, union_length)


def span(id, start, end, parent=-1, name="s"):
    return {"id": id, "name": name, "kind": "op", "parent": parent, "start_us": start,
            "end_us": end, "attrs": {}}


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(percentile([5], 75), 5)
        self.assertAlmostEqual(percentile(range(1, 41), 75), 30.25)

    def test_samples_beyond(self):
        self.assertEqual(beyond(40, 75), 10)
        self.assertEqual(beyond(20, 50), 10)
        self.assertEqual(beyond(37, 75), 9)
        self.assertEqual(beyond(0, 50), 0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(tail_percentile(19))
        self.assertEqual(tail_percentile(20), 50)
        self.assertEqual(tail_percentile(37), 50)
        self.assertEqual(tail_percentile(40), 75)
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(200), 95)
        self.assertEqual(tail_percentile(1001), 99)

    def test_rule_matches_counted_samples(self):
        for n in range(1, 300):
            xs = list(range(n))
            for p in (50, 75, 90, 95, 99):
                self.assertEqual(beyond(n, p), sum(1 for x in xs if x > percentile(xs, p)), (n, p))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, 0, 100), span(1, 10, 30, 0), span(2, 50, 60, 0), span(3, 12, 20, 1)]
        self.assertEqual(self_times(spans), {0: 70, 1: 12, 2: 10, 3: 8})

    def test_overlapping_children_count_once_and_clip_to_parent(self):
        spans = [span(0, 0, 100), span(1, 10, 40, 0), span(2, 30, 120, 0)]
        self.assertEqual(self_times(spans)[0], 10)

    def test_union_length(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([]), 0)


class Attribution(unittest.TestCase):
    def test_innermost_window_holding_the_submission(self):
        spans = [span(0, 0, 1000, name="pass"), span(1, 100, 400, 0, "query"),
                 span(2, 120, 200, 1, "build"), span(3, 500, 900, 0, "query")]
        self.assertEqual(attribute([150, 300, 450, 600, 1500], spans), [2, 1, 0, 3, None])

    def test_job_on_a_pool_thread_follows_the_window_not_the_thread(self):
        # a job submitted from another thread inside query 1's window is
        # still query 1's, even though it carries no job group
        spans = [span(0, 0, 100, name="q1"), span(1, 100, 200, name="q2")]
        self.assertEqual(attribute([99, 101], spans), [0, 1])


class OutputRecord(unittest.TestCase):
    def test_round_trip_names_and_units(self):
        line = record(True, 12, 0, {k: (1.5, u) for k, u in run.END_TO_END.items()})
        r = parse_record(line)
        self.assertEqual(set(r["metrics"]), set(run.END_TO_END))
        for name, m in r["metrics"].items():
            self.assertTrue(name)
            self.assertEqual(m["unit"], run.END_TO_END[name])

    def test_rejects_missing_unit_or_value(self):
        with self.assertRaises(ValueError):
            record(True, 1, 0, {"wall_s": (1.0, "")})
        with self.assertRaises(ValueError):
            record(True, 1, 0, {"wall_s": (float("nan"), "s")})
        with self.assertRaises(ValueError):
            parse_record(json.dumps({"correct": True, "attempted": 0, "failed": 0, "metrics": {}}))

    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


class Sampling(unittest.TestCase):
    POOL = {f"q{i}": (["a", "b", "c"][i % 3], i / 10) for i in range(40)}

    def test_sample_is_seeded_and_keeps_targets(self):
        a = gen.catalog_sample(1, self.POOL, ["q0", "q1"], 4)
        self.assertEqual(a, gen.catalog_sample(1, self.POOL, ["q0", "q1"], 4))
        self.assertNotEqual(a, gen.catalog_sample(2, self.POOL, ["q0", "q1"], 4))
        self.assertTrue({"q0", "q1"} <= set(a))
        self.assertEqual(len(set(a)), len(a))
        self.assertEqual(len(a), 6)

    def test_one_query_per_cost_band_spreading_families(self):
        for seed in range(20):
            a = gen.catalog_sample(seed, self.POOL, [], 3)
            costs = sorted(self.POOL[q][1] for q in a)
            # 40 candidates in three bands: [0, 1.3], [1.4, 2.6], [2.7, 3.9]
            self.assertLessEqual(costs[0], 1.3)
            self.assertTrue(1.4 <= costs[1] <= 2.6)
            self.assertGreaterEqual(costs[2], 2.7)
            self.assertEqual(len({self.POOL[q][0] for q in a}), 3)


if __name__ == "__main__":
    unittest.main()
