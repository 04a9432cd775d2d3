"""Tests of the benchmark's own statistics.

Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 99), 5.0)
        self.assertAlmostEqual(metrics.percentile(list(range(101)), 99), 99.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(100000)))[0], 99.0)
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail_percentile(list(range(999)))[0], 95.0)
        self.assertEqual(metrics.tail_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(metrics.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50.0)

    def test_too_few_samples_fall_back_to_median(self):
        p, v = metrics.tail_percentile([3, 1, 2])
        self.assertEqual((p, v), (50.0, 2.0))


class SustainedTest(unittest.TestCase):
    def step(self, rate, p99, growth):
        return {"rate": rate, "p99_ms": p99, "growth": growth,
                "delivered_eps": rate / (1 + growth)}

    def test_highest_holding_step_wins(self):
        steps = [self.step(500, 900, 0.0), self.step(4000, 1500, 0.05),
                 self.step(200000, 2500, 1.5)]
        self.assertAlmostEqual(metrics.sustained(steps, 5000, 0.5), 4000 / 1.05)
        self.assertEqual([s["holds"] for s in steps], [True, True, False])

    def test_p99_over_limit_fails(self):
        steps = [self.step(500, 900, 0.0), self.step(4000, 6000, 0.0)]
        self.assertEqual(metrics.sustained(steps, 5000, 0.5), 500.0)

    def test_growing_backlog_fails(self):
        steps = [self.step(500, 900, 0.0), self.step(4000, 1000, 0.6)]
        self.assertEqual(metrics.sustained(steps, 5000, 0.5), 500.0)

    def test_undelivered_events_fail(self):
        steps = [self.step(500, None, 0.0)]
        self.assertEqual(metrics.sustained(steps, 5000, 0.5), 0.0)

    def test_growth_is_slope_of_delivery_against_due(self):
        # every event 300 ms late: the pipeline keeps pace
        keeping = {"rates": [1000.0], "step_bounds": [0, 1000],
                   "due_ms": [float(g) for g in range(1000)],
                   "delivered_ms": [g + 300.0 for g in range(1000)],
                   "setup_s": [1.0]}
        cfg = {"tail_live": {"p99_limit_ms": 5000, "backlog_growth_limit": 0.5}}
        e2e, detail = metrics.tail_live(keeping, cfg)
        self.assertAlmostEqual(detail["steps"][0]["growth"], 0.0)
        self.assertAlmostEqual(e2e["pass_s"], 1.299)
        self.assertAlmostEqual(e2e["sustained_eps"], 1000 / 1.299)
        self.assertAlmostEqual(detail["sustained_decision_eps"], 1000.0)
        self.assertAlmostEqual(e2e["latency_p50_ms"], 300.0)
        # delivered at half the offered rate: the backlog grows one second per second
        falling = dict(keeping, delivered_ms=[2.0 * g + 300.0 for g in range(1000)])
        e2e, detail = metrics.tail_live(falling, cfg)
        self.assertAlmostEqual(detail["steps"][0]["growth"], 1.0)
        self.assertAlmostEqual(e2e["sustained_eps"], 1000 / 2.298)
        self.assertEqual(detail["sustained_decision_eps"], 0.0)


class SpanTest(unittest.TestCase):
    def span(self, id, parent, layer, a, b, name="x", **attrs):
        return {"id": id, "parent": parent, "layer": layer, "name": name,
                "start_ms": a, "end_ms": b, "trace": "t", "attrs": attrs}

    def test_covered_is_a_clipped_union(self):
        self.assertEqual(metrics.covered([(2, 5), (4, 8)], 0, 10), 6)
        self.assertEqual(metrics.covered([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(metrics.covered([], 0, 10), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [self.span(1, 0, "operators", 0, 10000),
                 self.span(2, 1, "spark", 2000, 5000),
                 self.span(3, 1, "spark", 4000, 8000),
                 self.span(4, 3, "spark", 4000, 8000)]
        self.assertEqual(metrics.self_times(spans), {"operators": 4.0, "spark": 7.0})

    def test_streaming_jobs_move_under_their_batch(self):
        spans = [self.span(1, 0, "streaming.exec", 0, 100, name="addBatch",
                           query_id="q", batch_id=7),
                 self.span(2, 9, "spark", 10, 50, name="job", query_id="q", batch_id="7"),
                 self.span(3, 9, "spark", 10, 50, name="job", query_id=None, batch_id=None)]
        metrics.reparent_streaming_jobs(spans)
        self.assertEqual([s["parent"] for s in spans], [0, 1, 9])

    def test_driver_gaps_are_between_jobs_of_one_operation(self):
        spans = [self.span(1, 0, "operators", 0, 1000, name="query"),
                 self.span(2, 1, "spark", 100, 300, name="job"),
                 self.span(3, 1, "spark", 500, 600, name="job"),
                 self.span(4, 0, "operators", 1000, 2000, name="query"),
                 self.span(5, 4, "spark", 1100, 1200, name="job")]
        self.assertAlmostEqual(metrics.driver_gaps(spans), 0.2)


class NamesTest(unittest.TestCase):
    def test_metric_names_are_valid_and_unique(self):
        config = load("config.json")
        names = [n for n, _ in metrics.END_TO_END + tuple(metrics.per_layer_metrics(config))]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        self.assertFalse(metrics.valid_name("bad name"))
        self.assertFalse(metrics.valid_name("_lead"))
        self.assertFalse(metrics.valid_name("x" * 65))

    def test_benchmark_json_lists_the_metrics_the_harness_prints(self):
        bench = load(os.path.join("..", "BENCHMARK.json"))
        config = load("config.json")
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_metrics(config))

    def test_failure_records_count_their_operations(self):
        self.assertEqual(metrics.failed_count([{"op": "a"}, {"op": "b", "count": 5}]), 6)


if __name__ == "__main__":
    unittest.main()
