"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics as M  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_up_to_twenty_samples_reports_the_median(self):
        for n in (1, 3, 10, 11, 19, 20):
            self.assertIsNone(M.tail_percentile(n))
            values = list(range(1, n + 1))
            p, v, note = M.tail(values)
            self.assertEqual((p, v), (50, statistics.median(values)))
            self.assertIn(f"N={n}", note)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.tail_percentile(21), 52)
        self.assertEqual(M.tail_percentile(25), 60)
        self.assertEqual(M.tail_percentile(50), 80)
        self.assertEqual(M.tail_percentile(99), 89)

    def test_capped_at_p90_from_one_hundred_samples(self):
        for n in (100, 150, 1000):
            self.assertEqual(M.tail_percentile(n), 90)

    def test_at_least_ten_samples_beyond_and_no_higher_percentile_qualifies(self):
        for n in range(21, 400):
            values = list(range(n))
            p = M.tail_percentile(n)
            beyond = sum(1 for x in values if x > M.nearest_rank(values, p))
            self.assertGreaterEqual(beyond, 10, n)
            if p < 90:
                nxt = sum(1 for x in values if x > M.nearest_rank(values, p + 1))
                self.assertLess(nxt, 10, n)

    def test_note_names_percentile_and_count(self):
        p, v, note = M.tail([float(i) for i in range(100)])
        self.assertEqual((p, v), (90, 89.0))
        self.assertEqual(note, "p90 (N=100)")


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(M.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [[0, 4], [5, 7]])
        self.assertEqual(M.union_length([(0, 10), (2, 3), (9, 12), (20, 21)]), 13)

    def test_empty_and_degenerate_intervals(self):
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(4, 4), (5, 3)]), 0)

    def test_self_time_counts_overlapping_children_once(self):
        # [1,4] and [3,6] overlap; [8,12] sticks out past the span's end
        self.assertEqual(M.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]), 10 - (5 + 2))

    def test_self_time_ignores_children_outside(self):
        self.assertEqual(M.self_time(0, 10, [(-5, -1), (11, 20)]), 10)
        self.assertEqual(M.self_time(0, 10, [(-5, 20)]), 0)

    def test_job_union_and_driver_gap(self):
        jobs = [(10, 20), (15, 30), (50, 60)]
        self.assertEqual(M.covered(0, 100, jobs), 30)
        self.assertEqual(M.driver_gap(0, 100, jobs), 70)
        # a job straddling the op's start counts only inside the op
        self.assertEqual(M.driver_gap(12, 40, jobs), 40 - 12 - 18)


class FailedOps(unittest.TestCase):
    def test_expected_rejection_is_a_success(self):
        ok = {"checks_ok": True}
        rejected_as_expected = {"expected_rejection": True, "rejected": True, "outputs": []}
        self.assertTrue(M.op_ok(ok))
        self.assertTrue(M.op_ok(rejected_as_expected))
        self.assertEqual(M.failed_frac([ok, rejected_as_expected]), 0.0)

    def test_each_failure_kind_counts_once(self):
        ops = [
            {"checks_ok": True},
            {"expected_rejection": True, "rejected": True, "outputs": []},
            {"expected_rejection": True, "rejected": False, "outputs": []},  # slipped through
            {"expected_rejection": True, "rejected": True, "outputs": ["f"]},  # wrote anyway
            {"rejected": True, "checks_ok": True},  # rejected a valid message
            {"error": "boom", "checks_ok": True},
            {"checks_ok": False},  # wrong output
        ]
        self.assertEqual([M.op_ok(o) for o in ops], [True, True, False, False, False, False, False])
        self.assertAlmostEqual(M.failed_frac(ops), 5 / 7)

    def test_no_ops_is_an_error_not_zero(self):
        with self.assertRaises(ValueError):
            M.failed_frac([])


if __name__ == "__main__":
    unittest.main()
