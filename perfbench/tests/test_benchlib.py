"""Tests of the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402


def percentile(values, q):
    return benchlib.weighted_percentile([(v, 1.0) for v in values], q)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile(xs, 99), 99)
        self.assertEqual(percentile(xs, 100), 100)
        self.assertEqual(percentile([7.0], 99), 7.0)
        self.assertEqual(percentile([], 50), 0.0)

    def test_order_does_not_matter(self):
        self.assertEqual(percentile([5, 1, 4, 2, 3], 50), 3)

    def test_weights_count_as_repeated_samples(self):
        pairs = [(10.0, 98), (500.0, 2)]
        self.assertEqual(benchlib.weighted_percentile(pairs, 50), 10.0)
        self.assertEqual(benchlib.weighted_percentile(pairs, 98), 10.0)
        self.assertEqual(benchlib.weighted_percentile(pairs, 99), 500.0)
        expanded = [10.0] * 98 + [500.0] * 2
        for q in (1, 50, 98, 99, 100):
            self.assertEqual(benchlib.weighted_percentile(pairs, q),
                             percentile(expanded, q))

    def test_zero_weights_ignored(self):
        self.assertEqual(benchlib.weighted_percentile([(1.0, 0), (2.0, 3)], 1), 2.0)


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "name": layer,
            "start_ms": float(start), "end_ms": float(end)}


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps_and_clips(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(benchlib.union_length([(-5, 5), (95, 105)], 0, 100), 10)
        self.assertEqual(benchlib.union_length([], 0, 100), 0)

    def test_self_time_subtracts_children(self):
        spans = [
            span(1, 0, "workload", 0, 1000),
            span(2, 1, "query", 100, 600),
            span(3, 2, "job", 200, 300),
            span(4, 2, "job", 250, 400),   # overlaps job 3
            span(5, 4, "stage", 260, 390),
        ]
        t = benchlib.self_times(spans)
        self.assertAlmostEqual(t["workload"], 0.5)   # 1000 - 500 ms
        self.assertAlmostEqual(t["query"], 0.3)      # 500 - union(200..400)
        self.assertAlmostEqual(t["job"], 0.1 + 0.02)  # 100 + (150 - 130) ms
        self.assertAlmostEqual(t["stage"], 0.13)

    def test_self_times_sum_to_root_duration(self):
        # holds when siblings do not overlap (concurrent siblings each
        # keep their own self time)
        spans = [span(1, 0, "workload", 0, 1000), span(2, 1, "call", 0, 400),
                 span(3, 1, "call", 400, 700), span(4, 3, "job", 450, 650)]
        self.assertAlmostEqual(sum(benchlib.self_times(spans).values()), 1.0)


class LatencyTest(unittest.TestCase):
    def test_backlog_latency_waits_for_every_query(self):
        ends = [{0: 3000.0, 1: 5000.0}, {0: 3500.0, 1: 4000.0}, {0: 2000.0, 1: 4500.0}]
        lat = benchlib.backlog_latencies(1000.0, ends, {0: 100, 1: 300})
        self.assertEqual(lat, [(2500.0, 100), (4000.0, 300)])
        self.assertEqual(benchlib.weighted_percentile(lat, 25), 2500.0)
        self.assertEqual(benchlib.weighted_percentile(lat, 50), 4000.0)

    def test_end_to_end_of_a_backlog_record(self):
        def q(ends):
            return {"trigger_batch": [0, 1, 2], "trigger_end_ms": ends,
                    "trigger_rows": [600, 400, 0]}
        raw = {"workload": "stream-backlog", "peak_rss_mb": 900.0,
               "setup": {"total_s": 12.0},
               "backlog": {"input_rows": 1000, "elapsed_s": 4.0, "t0_ms": 0.0},
               "stream": {"ann": q([1000.0, 2000.0, 2500.0]),
                          "sess": q([1500.0, 1800.0, 3900.0]),
                          "roll": q([900.0, 2200.0, 3000.0])}}
        e = benchlib.end_to_end(raw)
        self.assertEqual(e["setup_s"], 12.0)
        self.assertEqual(e["ops_per_s"], 250.0)
        self.assertEqual(e["time_to_result_s"], 4.0)
        # 600 turns done at 1.5 s, 400 at 2.2 s; the empty trigger weighs nothing
        self.assertEqual(e["latency_p50_ms"], 1500.0)


class ContractTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(benchlib.E2E))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         benchlib.per_layer_units())

    def test_end_to_end_of_a_batch_record(self):
        raw = {"workload": "batch-suite", "peak_rss_mb": 900.0,
               "setup": {"total_s": 10.0},
               "batch": {"batch_s": 4.0, "queries": [
                   {"seconds": 2.0}, {"seconds": 1.0}, {"seconds": 1.5}]},
               "curate": {"seconds": 3.0}}
        e = benchlib.end_to_end(raw)
        self.assertEqual(e["setup_s"], 10.0)
        self.assertEqual(e["ops_per_s"], 1.0)  # three queries and the release
        # the median query; the slower release is not among the latencies
        self.assertEqual(e["latency_p50_ms"], 1500.0)


if __name__ == "__main__":
    unittest.main()
