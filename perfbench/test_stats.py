"""Self-tests for the benchmark's own arithmetic and output checks.

    python3 perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 10))

    def test_eleven_samples_leave_exactly_ten_beyond(self):
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_hundred_samples_give_p90(self):
        xs = [float(i) for i in range(100, 0, -1)]
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_ties_step_down_until_ten_are_strictly_beyond(self):
        xs = list(range(89)) + [500] * 11  # 100 samples, top 11 equal
        value, pct, _ = stats.tail(xs)
        self.assertEqual(value, 88)
        self.assertEqual(pct, 89.0)
        self.assertEqual(sum(1 for x in xs if x > value), 11)

    def test_all_equal_falls_back_to_the_maximum(self):
        self.assertEqual(stats.tail([2.0] * 30), (2.0, 100.0, 30))


class DriverGap(unittest.TestCase):
    def test_union_merges_overlapping_and_nested_intervals(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]), 4)

    def test_disjoint_and_empty_intervals(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 3), (4, 4)]), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_gap_is_window_minus_job_union_clipped_to_window(self):
        # window 0..10; jobs 1..3 and 2..4 overlap (3 s), 9..12 clipped (1 s)
        self.assertEqual(stats.driver_gap((0, 10), [(1, 3), (2, 4), (9, 12)]), 6)

    def test_no_jobs_means_all_driver_time(self):
        self.assertEqual(stats.driver_gap((5, 7), []), 2)


class StreamLatency(unittest.TestCase):
    def test_synthetic_progress_trace(self):
        # key 1: e0 (ts 100, created 1000), e1 (ts 200, created 2000) and a
        # late-created out-of-order e2 (ts 150, created 2500): rows at or
        # after ts 150 depend on e2, so their latency counts from 2500.
        events = [(0, 1, 100, 1000), (1, 1, 200, 2000), (2, 1, 150, 2500),
                  (3, 2, 120, 1200)]
        sink = [(0, 1500), (2, 3000), (1, 3000), (3, 1700)]
        lat = stats.event_latencies(events, sink)
        self.assertEqual(lat, {0: 500, 2: 500, 1: 500, 3: 500})

    def test_an_early_row_ignores_later_created_events_after_it(self):
        events = [(0, 7, 100, 1000), (1, 7, 300, 5000)]
        self.assertEqual(stats.event_latencies(events, [(0, 1800)]), {0: 800})

    def test_rows_of_unknown_events_are_skipped(self):
        self.assertEqual(stats.event_latencies([(0, 1, 1, 10)], [(9, 50)]), {})


class Fingerprint(unittest.TestCase):
    COLS = ["b", "a", "c"]
    ROWS = [(1, "x", 2.5), (2, "y", None), (3, "z", 4.0)]

    def test_order_insensitive(self):
        self.assertEqual(check.fingerprint(self.COLS, self.ROWS),
                         check.fingerprint(self.COLS, list(reversed(self.ROWS))))

    def test_column_order_insensitive(self):
        swapped = [(r[1], r[0], r[2]) for r in self.ROWS]
        self.assertEqual(check.fingerprint(self.COLS, self.ROWS),
                         check.fingerprint(["a", "b", "c"], swapped))

    def test_perturbed_value_missing_and_duplicated_rows_are_caught(self):
        ref = check.fingerprint(self.COLS, self.ROWS)
        self.assertNotEqual(ref, check.fingerprint(
            self.COLS, [(1, "x", 2.5), (2, "y", None), (3, "z", 4.000001)]))
        self.assertNotEqual(ref, check.fingerprint(self.COLS, self.ROWS[:2]))
        self.assertNotEqual(ref, check.fingerprint(self.COLS, self.ROWS + self.ROWS[:1]))

    def test_integral_double_equals_long_but_not_a_string(self):
        self.assertEqual(check.token(4.0), check.token(4))
        self.assertNotEqual(check.token("4"), check.token(4))
        self.assertEqual(check.token(-0.0), check.token(0))

    def test_column_names_are_part_of_the_fingerprint(self):
        self.assertNotEqual(check.fingerprint(["a"], [(1,)]), check.fingerprint(["b"], [(1,)]))


class StreamCompare(unittest.TestCase):
    EXPECTED = {1: (7, 1, 10, 1, 5), 2: (7, 2, 20, 2, 9), 3: (8, 3, 30, 1, 4)}

    def test_exact_output_has_no_failures(self):
        self.assertEqual(check.compare_stream(self.EXPECTED, list(self.EXPECTED.values())),
                         (3, 0))

    def test_wrong_missing_duplicate_and_extra_rows_count(self):
        got = [(7, 1, 10, 1, 5), (7, 2, 20, 3, 9), (7, 1, 10, 1, 5), (9, 4, 40, 1, 1)]
        # row 2 wrong, row 1 duplicated, row 4 unexpected, row 3 missing
        self.assertEqual(check.compare_stream(self.EXPECTED, got), (3, 4))


if __name__ == "__main__":
    unittest.main()
