"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402

EPOCH = stats.WS_REPLAY_EPOCH_MS


class TradeRecovery(unittest.TestCase):
    def test_seq_of_inverts_the_frame_generator(self):
        # trade i of frame s carries t = epoch + 3*s + i
        for s in (0, 1, 8, 9, 10, 12345):
            for i in range(stats.trades_in_frame(s)):
                self.assertEqual(stats.seq_of(EPOCH + 3 * s + i), s)

    def test_trades_per_frame_follow_ping_and_batching_rule(self):
        self.assertEqual([stats.trades_in_frame(s) for s in range(12)],
                         [1, 2, 3, 1, 2, 3, 1, 2, 3, 0, 2, 3])

    def test_expected_trades_matches_direct_enumeration(self):
        d = [3 * s + i for s in range(5, 23) for i in range(stats.trades_in_frame(s))]
        self.assertEqual(stats.expected_trades(5, 22), {
            "n": len(d), "d_min": min(d), "d_max": max(d),
            "d_sum": sum(d), "d_sq": sum(x * x for x in d)})

    def test_due_time_interpolates_between_first_and_last_frame(self):
        # 1000 frames per second: frame lo is due at ts_lo, hi at ts_hi
        self.assertEqual(stats.due_ms(2000, 2000, 2999, 50_000, 50_999), 50_000)
        self.assertEqual(stats.due_ms(2999, 2000, 2999, 50_000, 50_999), 50_999)
        self.assertEqual(stats.due_ms(2500, 2000, 2999, 50_000, 50_999), 50_500)
        self.assertEqual(stats.due_ms(7, 7, 7, 123, 123), 123)

    def test_latency_is_commit_minus_due_weighted_by_trades(self):
        lat = stats.trade_latencies(8, 10, 1000, 1002, 1500)
        # frame 9 is a ping and contributes no trades
        self.assertEqual(lat, [(500.0, 3), (498.0, 2)])
        values, weights = zip(*lat)
        self.assertEqual(stats.percentile(list(values), 50, list(weights)), 500.0)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_interpolated_quantile(self):
        self.assertEqual(stats.quantile([3, 1, 2], 50), 2)
        self.assertEqual(stats.quantile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(stats.quantile([1, 2, 3, 4, 5, 6, 7, 8], 90), 7.3)
        self.assertEqual(stats.quantile([5], 90), 5)

    def test_weights_count_as_repeated_samples(self):
        self.assertEqual(stats.percentile([1, 2], 50, [3, 1]), 1)
        self.assertEqual(stats.percentile([1, 2], 90, [3, 1]), 2)

    def test_ten_samples_beyond_rule(self):
        self.assertTrue(stats.supported(100, 90))
        self.assertFalse(stats.supported(99, 90))
        self.assertTrue(stats.supported(20, 50))
        self.assertFalse(stats.supported(19, 50))
        self.assertEqual(stats.highest_supported(1000), 99)
        self.assertEqual(stats.highest_supported(200), 95)
        self.assertEqual(stats.highest_supported(100), 90)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(39), 50)
        self.assertIsNone(stats.highest_supported(19))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_is_wall_time_outside_every_stage(self):
        # stages cover 10..40 and 50..60 of the 0..100 operation
        self.assertEqual(stats.driver_gap(0, 100, [(10, 30), (20, 40), (50, 60)]), 60)
        self.assertEqual(stats.driver_gap(0, 100, []), 100)
        self.assertEqual(stats.driver_gap(0, 100, [(-5, 120)]), 0)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 60},  # overlaps 2
            {"id": 4, "parent": 2, "start_ms": 15, "end_ms": 20},
        ]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 50)
        self.assertEqual(own[2], 25)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 5)


if __name__ == "__main__":
    unittest.main()
