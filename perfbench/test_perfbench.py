"""Tests for the benchmark's own arithmetic and its declared metrics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 distinct samples: p90 leaves exactly 10 above it, p95 only 5
        p, v, beyond = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((p, v, beyond), (90.0, 90.0, 10))

    def test_more_samples_reach_a_higher_percentile(self):
        p, v, beyond = stats.tail([float(i) for i in range(1, 1001)])
        self.assertEqual((p, v, beyond), (99.0, 990.0, 10))

    def test_ties_do_not_count_as_beyond(self):
        # the top 15 are equal: none of them lies beyond p90's value
        values = [1.0] * 85 + [5.0] * 15
        p, v, beyond = stats.tail(values)
        self.assertEqual((p, v, beyond), (75.0, 1.0, 15))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))

    def test_forty_samples_give_p75(self):
        p, _, beyond = stats.tail([float(i) for i in range(40)])
        self.assertEqual((p, beyond), (75.0, 10))


def span(id_, parent, name, start, end):
    return {"id": id_, "parent": parent, "name": name, "start_s": start, "end_s": end,
            "run": "r"}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, "run", 0.0, 10.0),
                 span(2, 1, "a", 1.0, 4.0),
                 span(3, 1, "b", 3.0, 6.0),   # overlaps a: union is 1..6
                 span(4, 2, "leaf", 1.5, 2.0)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t["run"], 5.0)
        self.assertAlmostEqual(t["a"], 2.5)
        self.assertAlmostEqual(t["b"], 3.0)
        self.assertAlmostEqual(t["leaf"], 0.5)

    def test_same_name_spans_add_up(self):
        spans = [span(1, 0, "batch", 0.0, 2.0), span(2, 0, "batch", 5.0, 6.5)]
        self.assertAlmostEqual(stats.self_times(spans)["batch"], 3.5)

    def test_child_outside_its_parent_is_clipped(self):
        spans = [span(1, 0, "p", 0.0, 1.0), span(2, 1, "c", 0.5, 3.0)]
        self.assertAlmostEqual(stats.self_times(spans)["p"], 0.5)


class LagTest(unittest.TestCase):
    def test_lag_runs_from_due_time(self):
        # a schedule of 4 blocks at 10/s; the sink gets two batches
        due = [0.0, 0.1, 0.2, 0.3]
        received = [1.25, 1.25, 2.5, 2.5]
        lags = stats.lags(due, received)
        for got, want in zip(lags, [1.25, 1.15, 2.3, 2.2]):
            self.assertAlmostEqual(got, want)
        self.assertAlmostEqual(stats.median(lags), (1.25 + 2.2) / 2)

    def test_a_late_generator_still_counts_from_due(self):
        # block 2 was made available 0.5 s late: its lag keeps that wait
        due, available, received = [0.0, 0.1], [0.0, 0.6], [1.0, 1.0]
        self.assertEqual(stats.lags(due, received), [1.0, 0.9])
        self.assertEqual(stats.lateness(due, available), [0.0, 0.5])

    def test_lateness_is_never_negative(self):
        self.assertEqual(stats.lateness([1.0], [0.999]), [0.0])

    def test_lengths_must_match(self):
        with self.assertRaises(ValueError):
            stats.lags([0.0], [1.0, 2.0])


class DeclaredMetricsTest(unittest.TestCase):
    """BENCHMARK.json and the runner name the same metrics and units."""

    def setUp(self):
        import run
        self.run = run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         self.run.END_TO_END)

    def test_per_layer(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         self.run.PER_LAYER)

    def test_workloads(self):
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]),
                         self.run.WORKLOADS)

    def test_bounds_are_within_the_limit(self):
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in self.bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
