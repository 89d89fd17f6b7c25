"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_rank_with_ten_beyond(self):
        # 40 samples: rank 29 has exactly 10 above it -> p75
        self.assertEqual(stats.tail_percentile(40), (75.0, 29))
        # 100 samples -> p90 at rank 89
        self.assertEqual(stats.tail_percentile(100), (90.0, 89))
        # 11 samples: only the minimum has ten beyond
        self.assertEqual(stats.tail_percentile(11), (100.0 / 11, 0))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail_percentile(10), (100.0, 9))
        self.assertEqual(stats.tail_percentile(1), (100.0, 0))

    def test_tail_sits_at_the_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(57, 0, -1)]
        v, p, n = stats.tail(xs)
        self.assertEqual(n, 57)
        self.assertAlmostEqual(p, 100.0 * 47 / 57)
        # the estimate lies between its neighbouring order statistics
        self.assertTrue(46.5 < v < 48.5, v)

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 9.0, 4.0]), (9.0, 100.0, 3))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile(0)


class HarrellDavis(unittest.TestCase):
    def test_two_samples_give_their_mean(self):
        self.assertAlmostEqual(stats.p50([2.0, 5.0]), 3.5, places=6)

    def test_symmetric_samples_give_the_centre(self):
        self.assertAlmostEqual(stats.p50([1, 2, 3, 4, 5, 6, 7]), 4.0, places=6)
        self.assertAlmostEqual(stats.p50([5.0] * 9), 5.0, places=9)

    def test_smooth_when_neighbours_trade_places(self):
        # two clusters of entries; the sample median jumps by the gap when
        # one entry crosses, the estimate moves by a fraction of it
        low, high = [0.36] * 15, [0.50] * 15
        a = stats.p50(low[:-1] + high + [0.37])
        b = stats.p50(low[:-1] + high + [0.49])
        self.assertLess(b - a, 0.5 * (0.49 - 0.37))
        self.assertGreater(b, a)

    def test_estimates_increase_with_p(self):
        xs = [0.3, 0.9, 0.4, 1.2, 0.5, 0.7, 2.0, 0.35, 0.6, 0.45, 0.8, 1.0]
        self.assertLess(stats.hd_quantile(xs, 0.25), stats.p50(xs))
        self.assertLess(stats.p50(xs), stats.hd_quantile(xs, 0.75))


class Growth(unittest.TestCase):
    def test_quarter_split(self):
        xs = list(range(8))
        self.assertEqual(stats.quarter_split(xs), ([0, 1], [6, 7]))
        # ceil(5/4) = 2 from each end
        self.assertEqual(stats.quarter_split(list(range(5))), ([0, 1], [3, 4]))
        # two samples: one each; three samples: one each, never overlapping
        self.assertEqual(stats.quarter_split([1, 2]), ([1], [2]))
        self.assertEqual(stats.quarter_split([1, 2, 3]), ([1], [3]))
        self.assertEqual(stats.quarter_split([4]), ([4], [4]))

    def test_flat_cost_grows_by_one(self):
        self.assertEqual(stats.growth([2.0] * 12), 1.0)

    def test_growth_is_last_over_first_quarter_median(self):
        lat = [1.0, 1.2, 1.1, 1.5, 1.6, 1.4, 2.0, 2.2]
        # quarters of 2: median(1.0, 1.2) = 1.1, median(2.0, 2.2) = 2.1
        self.assertAlmostEqual(stats.growth(lat), 2.1 / 1.1)

    def test_cycles_compare_whole_passes(self):
        # three kinds of op per cycle; each cycle costs 6, then 12
        lat = [1, 2, 3, 1, 2, 3, 2, 4, 6, 2, 4, 6]
        self.assertEqual(stats.cycle_costs(lat, 3), [6, 6, 12, 12])
        self.assertEqual(stats.growth(lat, 3), 2.0)
        # a trailing partial cycle is dropped
        self.assertEqual(stats.cycle_costs(lat + [9], 3), [6, 6, 12, 12])


class DriverTime(unittest.TestCase):
    def test_gaps_between_tasks(self):
        # span 0..100; tasks cover 10..30 and 50..60 -> 70 without tasks
        self.assertEqual(stats.driver_time(0, 100, [(10, 30), (50, 60)]), 70)

    def test_overlapping_tasks_count_once(self):
        # four cores: tasks overlap in 20..40; union is 10..50
        tasks = [(10, 30), (20, 40), (25, 35), (30, 50)]
        self.assertEqual(stats.driver_time(0, 100, tasks), 60)

    def test_tasks_are_clipped_to_the_span(self):
        # a task that started before and one that ended after the span
        self.assertEqual(stats.driver_time(100, 200, [(50, 120), (190, 260)]), 70)

    def test_no_tasks_is_all_driver(self):
        self.assertEqual(stats.driver_time(5, 9, []), 4)

    def test_fully_covered_span(self):
        self.assertEqual(stats.driver_time(0, 10, [(0, 6), (5, 10)]), 0)


class Spread(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [10.0, 10.0, 10.0, 10.0]
        self.assertEqual(stats.spread(xs), 0.0)
        ys = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, _, q3 = 2.75, 5.5, 8.25
        self.assertAlmostEqual(stats.spread(ys), (q3 - q1) / 5.5)


if __name__ == "__main__":
    unittest.main()
