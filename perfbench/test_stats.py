"""Tests of the benchmark's own statistics (python3 perfbench/run.py
--self-test runs them, or python3 -m unittest discover perfbench)."""
import statistics
import unittest

import stats


class MedianAndQuartiles(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2.0)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [7.1, 3.2, 9.9, 4.4, 5.0, 6.3, 8.8, 1.5, 2.2, 10.4]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))

    def test_quartiles_single_sample(self):
        self.assertEqual(stats.quartiles([5]), (5.0, 5.0, 5.0))

    def test_spread_is_iqr_over_median(self):
        xs = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(stats.spread(xs), 0.0)
        q1, q2, q3 = statistics.quantiles(range(1, 11), n=4)
        self.assertAlmostEqual(stats.spread(list(range(1, 11))), (q3 - q1) / q2)


class Percentiles(unittest.TestCase):
    def test_percentile_endpoints_and_interpolation(self):
        xs = [40, 10, 30, 20]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 75), 32.5)

    def test_beyond_counts_samples_strictly_above(self):
        # 11 samples: the median is sample 5 (0-based); 5 lie above it
        self.assertEqual(stats.beyond(11, 50), 5)
        # 41 samples: p75 sits exactly on sample 30; 10 lie above it
        self.assertEqual(stats.beyond(41, 75), 10)
        self.assertEqual(stats.beyond(40, 75), 10)  # position 29.25
        self.assertEqual(stats.beyond(37, 75), 9)   # position 27

    def test_beyond_agrees_with_brute_force(self):
        for n in range(1, 300):
            xs = list(range(n))
            for p in stats.PERCENTILES:
                v = stats.percentile(xs, p)
                self.assertEqual(stats.beyond(n, p),
                                 sum(1 for x in xs if x > v), (n, p))

    def test_highest_supported(self):
        self.assertIsNone(stats.highest_supported(6))
        self.assertIsNone(stats.highest_supported(19))
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertEqual(stats.highest_supported(36), 50)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(101), 90)
        self.assertEqual(stats.highest_supported(201), 95)
        self.assertEqual(stats.highest_supported(1001), 99)


class FailureRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failure_ratio(4, 0), 0.0)
        self.assertEqual(stats.failure_ratio(4, 1), 0.25)
        self.assertEqual(stats.failure_ratio(3, 3), 1.0)

    def test_rejects_nothing_attempted_or_bad_counts(self):
        with self.assertRaises(ValueError):
            stats.failure_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.failure_ratio(2, 3)
        with self.assertRaises(ValueError):
            stats.failure_ratio(2, -1)


class RawToMetrics(unittest.TestCase):
    RAW = {
        "cpus": 4, "setup_s": [9.0, 3.0, 4.0], "peak_rss_mb": 900.0,
        "work_dir_mb": [5.0, 7.0],
        "units": [
            {"traced": False, "wall_s": 10.0, "crawl_s": 10.0,
             "scheduled": 1000,
             "rounds": [{"ms": 1000}, {"ms": 3000}, {"ms": 6000}]},
            {"traced": True, "wall_s": 12.0, "crawl_s": 12.0,
             "scheduled": 1000,
             "rounds": [{"ms": 2000}, {"ms": 4000}, {"ms": 6000}]},
        ],
    }

    def test_end_to_end_uses_untraced_units_only(self):
        m, n = stats.end_to_end(self.RAW)
        self.assertEqual(n, 3)
        self.assertEqual(m["urls_per_s"], 100.0)
        self.assertEqual(m["round_p50_ms"], 3000)
        self.assertEqual(m["round_p75_ms"], 4500)
        self.assertEqual(m["suite_s"], 10.0)
        self.assertEqual(m["setup_s"], 4.0)
        self.assertEqual(m["work_dir_mb"], 6.0)
        self.assertEqual(set(m), set(stats.UNITS))

    def test_overhead_is_traced_minus_untraced(self):
        raw = dict(self.RAW)
        # the untraced warm-up unit before the traced one is not compared
        raw["units"] = [dict(self.RAW["units"][0], wall_s=99.0)] + \
            self.RAW["units"][1:] + self.RAW["units"][:1]
        raw["round_listener"] = [
            {"wall_ms": 1000, "run_ms": 2000, "jobs": 20, "tasks": 100,
             "sched_delay_ms": 5, "gap_ms": 50, "shuffle_write_bytes": 1,
             "shuffle_read_bytes": 2, "spill_bytes": 0, "output_bytes": 3,
             "output_files": 4}]
        replayed = {k: 1.0 for k in stats.REPLAY}
        raw["replay"] = {"heaviest": {"metrics": replayed},
                         "median": {"metrics": replayed}}
        m = stats.per_layer(raw)
        self.assertEqual(m["overhead.suite_s"], 2.0)
        self.assertAlmostEqual(m["overhead.urls_per_s"], 1000 / 12 - 100)
        self.assertEqual(m["engine.core_util"], 0.5)
        self.assertEqual(m["engine.jobs_per_round"], 20)
        self.assertEqual(set(m), set(stats.per_layer_units()))


if __name__ == "__main__":
    unittest.main()
