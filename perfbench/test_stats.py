"""Tests for the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import run
import stats


class TailPercentileTest(unittest.TestCase):
    def test_p90_from_100_samples(self):
        self.assertEqual(stats.tail_percentile(100), 90)

    def test_never_above_target(self):
        self.assertEqual(stats.tail_percentile(10_000), 90)
        self.assertEqual(stats.tail_percentile(10_000, target=99), 99)

    def test_drops_below_p90_to_keep_ten_samples_beyond(self):
        # 50 samples: p80 leaves exactly 10 above it, p81 leaves 9
        self.assertEqual(stats.tail_percentile(50), 80)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(11), 9)

    def test_op_tail_is_the_choice_at_the_windows_least_reads(self):
        # 40 is OnlineServe.MinReads
        self.assertEqual(stats.tail_percentile(40), run.OP_TAIL_PCT)

    def test_none_without_enough_samples(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(0))

    def test_at_least_ten_samples_beyond(self):
        for n in range(11, 400):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            if p < 90:
                higher = stats.percentile(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > higher), 10, n)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(xs, 1), 1)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        self.assertEqual(stats.quartiles(xs), statistics.quantiles(xs, n=4))

    def test_spread_is_iqr_over_median(self):
        xs = [8, 9, 10, 11, 12, 10, 10, 10, 9, 11]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([7.0] * 10), 0.0)


class TallyTest(unittest.TestCase):
    def test_fail_ratio_counts_failed_over_attempted(self):
        t = stats.Tally(attempted=4, failed=1)
        self.assertEqual(t.fail_ratio, 0.25)
        self.assertEqual(t.ok_ratio, 0.75)

    def test_starts_from_counts_and_counts_later_failures(self):
        t = stats.Tally(attempted=10, failed=0)
        self.assertEqual(t.fail_ratio, 0.0)
        t.failed += 1  # a wrong answer found after the operation ran
        self.assertEqual(t.fail_ratio, 0.1)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.Tally().fail_ratio, 1.0)


if __name__ == "__main__":
    unittest.main()
