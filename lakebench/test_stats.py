"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s lakebench -p 'test_*.py'
"""

import unittest

import metrics
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(reversed(xs), 0.99), 99)
        self.assertEqual(stats.percentile([7], 0.9), 7)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertTrue(stats.supported(100, 0.9))
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertFalse(stats.supported(99, 0.9))
        self.assertFalse(stats.supported(0, 0.5))
        self.assertTrue(stats.supported(20, 0.5))
        self.assertFalse(stats.supported(19, 0.5))


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1}

    def test_nested_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50), self.span(3, 2, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 60)  # 100 minus child 2's 40
        self.assertEqual(st[2], 30)  # 40 minus grandchild's 10
        self.assertEqual(st[3], 10)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 60)]
        self.assertEqual(stats.self_times(spans)[1], 50)  # covered 10..60

    def test_children_clipped_to_parent(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 0, 15), self.span(3, 1, 18, 40)]
        self.assertEqual(stats.self_times(spans)[1], 3)  # covered 10..15 and 18..20

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12), (11, 11)], 0, 100), 10)
        self.assertEqual(stats.union_length([], 0, 10), 0)


class LagTest(unittest.TestCase):
    def test_lag_runs_from_due_time(self):
        # the second commit was due at 1000 but its consumer only caught up at
        # 1900, behind a stall: its lag counts from when it was due, 900, not
        # from when the consumer started working on it
        ops = [{"committed": 0.0, "mirrored": 300.0},
               {"committed": 1000.0, "mirrored": 1900.0},
               {"committed": 2000.0}]
        self.assertEqual(stats.lags(ops), [300.0, 900.0])


class OpMsTest(unittest.TestCase):
    def test_weighted_by_mix(self):
        ops = [{"kind": "point", "t0": 0, "t1": t} for t in (10, 20, 30)] + \
              [{"kind": "agg", "t0": 0, "t1": 100}]
        self.assertEqual(metrics.op_ms(ops), (3 * 20 + 100) / 4)
        self.assertIsNone(metrics.op_ms([]))


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(stats.quartile_spread([8, 9, 10, 11, 12]), 0.1)


if __name__ == "__main__":
    unittest.main()
