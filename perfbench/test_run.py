#!/usr/bin/env python3
"""Checks of the benchmark's pure logic: the tail percentile rule, the
self-time arithmetic, and that BENCHMARK.json registers what run.py
reports. Run with `python3 perfbench/test_run.py`."""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def span(i, parent, start, end, trace=1):
    return {"id": i, "parent": parent, "trace": trace, "name": f"s{i}",
            "start_ns": start, "end_ns": end}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_percentile(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, beyond = run.tail(xs)
        self.assertEqual((v, p, beyond), (90, 90, 10))

    def test_highest_percentile_with_ten_beyond(self):
        for n in (20, 37, 40, 99, 250, 1000):
            xs = [float(i) for i in range(n)]
            v, p, beyond = run.tail(xs)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:  # one percentile higher would leave fewer than ten beyond
                _, rank = run.nearest_rank(sorted(xs), p + 1)
                self.assertLess(n - rank, 10, n)

    def test_few_samples_fall_back_to_the_median(self):
        v, p, beyond = run.tail([5.0, 1.0, 3.0, 2.0, 4.0])
        self.assertEqual((v, p, beyond), (3.0, 50, 2))

    def test_order_of_samples_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5] * 10
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(run.self_times([span(1, 0, 0, 3_000_000_000)]), {1: 3.0})

    def test_children_are_subtracted(self):
        s = run.self_times([span(1, 0, 0, 10_000_000_000),
                            span(2, 1, 1_000_000_000, 3_000_000_000),
                            span(3, 1, 5_000_000_000, 9_000_000_000)])
        self.assertAlmostEqual(s[1], 4.0)
        self.assertAlmostEqual(s[2], 2.0)

    def test_overlapping_children_count_once(self):
        s = run.self_times([span(1, 0, 0, 10_000_000_000),
                            span(2, 1, 1_000_000_000, 6_000_000_000),
                            span(3, 1, 4_000_000_000, 8_000_000_000)])
        self.assertAlmostEqual(s[1], 3.0)

    def test_child_outside_parent_is_clipped(self):
        s = run.self_times([span(1, 0, 2_000_000_000, 4_000_000_000),
                            span(2, 1, 3_000_000_000, 9_000_000_000)])
        self.assertAlmostEqual(s[1], 1.0)

    def test_grandchildren_only_reduce_their_parent(self):
        s = run.self_times([span(1, 0, 0, 10_000_000_000),
                            span(2, 1, 0, 6_000_000_000),
                            span(3, 2, 0, 5_000_000_000)])
        self.assertAlmostEqual(s[1], 4.0)
        self.assertAlmostEqual(s[2], 1.0)
        self.assertAlmostEqual(s[3], 5.0)


class Registry(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        for w in b["workloads"]:
            self.assertEqual(w["why"], run.WORKLOAD[w["name"]][0])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [row[:3] for row in run.REGISTERED_PER_LAYER])
        res = {"workload": "command_stream", "samples": {"batch": [1.0, 2.0]}, "failed": 0,
               "attempted": 80, "peak_rss_mb": 1.0, "counts": {}, "info": {},
               "setup": {"session_s": 1.0, "load_s": 1.0, "warmup_s": [1.0]}}
        metrics, _, _ = run.end_to_end(res)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: u for k, (_, u) in metrics.items()})


if __name__ == "__main__":
    unittest.main()
