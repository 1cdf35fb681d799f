import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [(v, 1) for v in range(1, 11)]
        self.assertEqual(stats.percentile(xs, 0.5), 5)
        self.assertEqual(stats.percentile(xs, 0.9), 9)
        self.assertEqual(stats.percentile(xs, 1.0), 10)

    def test_weights_count_as_samples(self):
        self.assertEqual(stats.percentile([(100.0, 1), (5.0, 9)], 0.9), 5.0)
        self.assertEqual(stats.percentile([(100.0, 2), (5.0, 8)], 0.9), 100.0)

    def test_order_independent(self):
        self.assertEqual(stats.percentile([(3, 1), (1, 1), (2, 1)], 0.5),
                         stats.percentile([(1, 1), (2, 1), (3, 1)], 0.5))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_sample_count_rule(self):
        self.assertFalse(stats.backed(99, 0.9))
        self.assertTrue(stats.backed(100, 0.9))
        self.assertTrue(stats.backed(20, 0.5))
        self.assertFalse(stats.backed(19, 0.5))


class LagTest(unittest.TestCase):
    # offset commits (epoch us, offset) in the order they happened
    COMMITS = [(1_000, 5), (2_000, 10), (3_500, 20)]

    def test_first_covering_commit_after_due(self):
        lags = stats.lags_ms([(1_500, 8, 3), (1_500, 15, 2), (0, 5, 1)], self.COMMITS)
        self.assertEqual(lags, [(0.5, 3), (2.0, 2), (1.0, 1)])

    def test_commit_before_due_does_not_count(self):
        self.assertEqual(stats.lags_ms([(2_500, 5, 1)], self.COMMITS), [(1.0, 1)])

    def test_uncovered_event_has_no_lag(self):
        self.assertEqual(stats.lags_ms([(0, 21, 4)], self.COMMITS), [(None, 4)])

    def test_backlog_counts_due_but_uncommitted(self):
        groups = [(500, 5, 2), (1_500, 12, 3), (3_000, 20, 4), (4_000, 25, 9)]
        self.assertEqual(stats.backlog_at(groups, self.COMMITS, 3_000), 7)
        self.assertEqual(stats.backlog_at(groups, self.COMMITS, 3_600), 0)


if __name__ == "__main__":
    unittest.main()
