"""Checks of the benchmark's arithmetic on hand-built inputs.

Run from the repository root:  python3 -m unittest perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_and_count(self):
        v, n = stats.percentile(list(range(1, 21)), 0.5)
        self.assertEqual(n, 20)
        self.assertAlmostEqual(v, 10.5)

    def test_interpolates_between_ranks(self):
        v, _ = stats.percentile([float(x) for x in range(100)], 0.9)
        self.assertAlmostEqual(v, 89.1)

    def test_needs_ten_samples_beyond(self):
        # p90 of 100 samples has exactly 10 beyond it: allowed
        stats.percentile(list(range(100)), 0.9)
        # 99 samples leave 9.9 beyond: refused
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(99)), 0.9)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(19)), 0.5)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile([], 0.5)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 10
        self.assertEqual(stats.percentile(xs, 0.5), stats.percentile(sorted(xs), 0.5))

    def test_loose_percentile_has_no_rule(self):
        self.assertEqual(stats.loose_percentile([7.0], 0.99), 7.0)
        self.assertEqual(stats.loose_percentile([], 0.5), 0.0)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 30)], 0, 10), 7)

    def test_driver_gap_is_wall_minus_job_union(self):
        # wall 0..100; jobs cover 10..40 (two overlapping) and 60..70
        jobs = [(10, 30), (20, 40), (60, 70)]
        self.assertEqual(stats.driver_gap(0, 100, jobs), 100 - 40)

    def test_driver_gap_ignores_jobs_outside_the_window(self):
        self.assertEqual(stats.driver_gap(0, 10, [(-20, -10), (5, 50)]), 5)

    def test_self_time_is_span_minus_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (15, 30), (90, 120)]), 100 - 30)
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)


class LatencyTest(unittest.TestCase):
    def test_serve_commit_minus_last_event(self):
        rows = [(0, 500), (3, 1000), (3, 1200), (4, 2000), (5, 2500)]
        commits = {0: 900, 3: 1500, 4: 2600}
        # batch 0 is warm-up; batch 5 has no recorded commit
        self.assertEqual(stats.serve_latencies(rows, commits, after_batch=0),
                         [500, 300, 600])

    def test_backlog_max(self):
        arrivals = [(0, 100), (10, 100), (20, 100)]
        departures = [(5, 100), (25, 150)]
        self.assertEqual(stats.backlog_max(arrivals, departures), 200)

    def test_backlog_hand_off_at_same_instant(self):
        self.assertEqual(stats.backlog_max([(10, 5)], [(10, 5)]), 0)


if __name__ == "__main__":
    unittest.main()
