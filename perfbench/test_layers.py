"""Tests for the job-interval arithmetic behind `driver_only_s`.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import random
import unittest

from layers import clipped, driver_only, union_length


class UnionTest(unittest.TestCase):

    def test_disjoint_jobs_sum(self):
        self.assertEqual(union_length([(0, 2), (5, 6), (8, 10)]), 5)
        self.assertEqual(driver_only(0, 10, [(0, 2), (5, 6), (8, 10)]), 5)

    def test_overlapping_jobs_count_once(self):
        # AQE submits the next stage's job before the previous one ends
        self.assertEqual(union_length([(0, 4), (3, 7), (6, 9)]), 9)
        self.assertEqual(driver_only(0, 10, [(0, 4), (3, 7), (6, 9)]), 1)

    def test_nested_jobs_count_once(self):
        # a broadcast/subquery job running entirely inside a longer job
        jobs = [(1, 9), (2, 3), (4, 8), (5, 6)]
        self.assertEqual(union_length(jobs), 8)
        self.assertEqual(driver_only(0, 10, jobs), 2)

    def test_gap_sum_of_pairwise_differences_goes_negative_union_does_not(self):
        # summing (next.start - prev.end) assumes jobs never overlap and
        # yields a negative "gap" here; the union never does
        jobs = [(0, 6), (1, 5), (2, 9)]
        gaps = sum(b[0] - a[1] for a, b in zip(jobs, jobs[1:]))
        self.assertLess(gaps, 0)
        self.assertEqual(driver_only(0, 9, jobs), 0)

    def test_jobs_outside_the_span_are_clipped(self):
        self.assertEqual(clipped([(-5, 2), (3, 4), (9, 20), (30, 40)], 0, 10),
                         [(0, 2), (3, 4), (9, 10)])
        self.assertEqual(driver_only(0, 10, [(-5, 2), (9, 20)]), 7)

    def test_empty_and_degenerate(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(driver_only(0, 10, []), 10)

    def test_never_negative_on_random_aqe_like_intervals(self):
        rng = random.Random(7)
        for _ in range(2000):
            lo = rng.randint(0, 100)
            hi = lo + rng.randint(0, 100)
            jobs = []
            for _ in range(rng.randint(0, 12)):
                s = rng.randint(lo - 20, hi + 20)
                jobs.append((s, s + rng.randint(0, 60)))
            d = driver_only(lo, hi, jobs)
            self.assertGreaterEqual(d, 0)
            self.assertLessEqual(d, hi - lo)


if __name__ == "__main__":
    unittest.main()
