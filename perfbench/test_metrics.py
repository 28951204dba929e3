"""Self-tests for the benchmark's metric arithmetic, on tiny inputs.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ten_beyond_the_tail(self):
        # 40 samples: p75 is rank 30, with exactly 10 beyond it; p76 would
        # leave 9
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.beyond(40, 75), 10)
        self.assertEqual(metrics.beyond(40, 76), 9)

    def test_320_queries_allow_p96(self):
        # the full suite: p95 leaves 16 beyond, p96 leaves 12, p97 only 9
        self.assertEqual(metrics.beyond(320, 95), 16)
        self.assertEqual(metrics.tail_percentile(320), 96)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(11), 9)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 75), 4)
        self.assertEqual(metrics.percentile(xs, 99), 5)
        self.assertEqual(metrics.percentile(xs, 1), 1)
        self.assertEqual(metrics.percentile([], 50), 0.0)


class DriverOnly(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # window 0..100; jobs 10..30 and 20..50 overlap, 60..70 is apart:
        # busy 40 + 10 = 50, so 50 driver-only
        jobs = [(10, 30), (20, 50), (60, 70)]
        self.assertEqual(metrics.union_length(jobs), 50)
        self.assertEqual(metrics.driver_only(jobs, [(0, 100)]), 50)

    def test_nested_and_touching_jobs(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_jobs_clipped_to_windows(self):
        # two windows 0..10 and 20..30; a job 5..25 is busy 5 + 5 inside
        # them, the gap 10..20 is outside every window
        windows = [(0, 10), (20, 30)]
        self.assertEqual(metrics.union_length([(5, 25)], windows), 10)
        self.assertEqual(metrics.driver_only([(5, 25)], windows), 10)

    def test_no_jobs(self):
        self.assertEqual(metrics.driver_only([], [(0, 7)]), 7)


class Freshness(unittest.TestCase):
    def test_from_scheduled_time_to_batch_end(self):
        # changes due at 0, 50, 100, 150 ms; a late generator committed
        # them later, which must not shorten freshness. Batch ends at
        # 400 and 900 ms; the first write group (pks 1-2) was modified at
        # 380 ms, the second (pks 3-4) at 850 ms.
        scheduled = [0, 50, 100, 150]
        groups = [(380, 1, 2), (850, 3, 4)]
        self.assertEqual(metrics.freshness(scheduled, groups, [400, 900]),
                         [0.4, 0.35, 0.8, 0.75])

    def test_group_maps_to_first_batch_ending_after_its_write(self):
        # a group written at 410 ms belongs to the batch ending at 900,
        # not to the one that ended at 400
        got = metrics.delivering_batch_ends([(410, 1, 1)], [400, 900])
        self.assertEqual(got, [(1, 1, 900)])
        # millisecond rounding: a file stamped 1 ms after its batch end
        # still belongs to that batch
        got = metrics.delivering_batch_ends([(401, 1, 1)], [400, 900])
        self.assertEqual(got, [(1, 1, 400)])

    def test_empty_batches(self):
        raw_batches = [10, 20, 30]
        used = {end for _, _, end in metrics.delivering_batch_ends([(15, 1, 3)], raw_batches)}
        self.assertEqual(used, {20})


class Growth(unittest.TestCase):
    def test_last_tenth_over_first_tenth(self):
        xs = [1.0] * 10 + [5.0] * 80 + [2.0] * 10
        self.assertEqual(metrics.growth(xs), 2.0)


if __name__ == "__main__":
    unittest.main()
