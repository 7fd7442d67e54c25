import datetime
import os
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import check  # noqa: E402  (the project's oracle gate)
import stats  # noqa: E402


class PercentileRules(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.beyond(list(range(100)), 90), 10)
        self.assertTrue(stats.reportable(list(range(100)), 90))
        self.assertFalse(stats.reportable(list(range(99)), 90))
        self.assertFalse(stats.reportable(list(range(999)), 99))
        self.assertTrue(stats.reportable(list(range(1000)), 99))

    def test_ties_at_the_cut_are_not_beyond_it(self):
        xs = [1.0] * 85 + [2.0] * 15
        self.assertEqual(stats.percentile(xs, 90), 2.0)
        self.assertEqual(stats.beyond(xs, 90), 0)
        self.assertFalse(stats.reportable(xs, 90))

    def test_median_is_always_reported_with_its_count(self):
        s = stats.summary([3.0, 1.0, 2.0, 10.0])
        self.assertEqual(s, {"p50": 2.5, "n": 4})
        s = stats.summary([float(i) for i in range(120)])
        self.assertEqual(s["n"], 120)
        self.assertIn("p90", s)
        self.assertNotIn("p99", s)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class Fingerprints(unittest.TestCase):
    frame = pd.DataFrame({"b": [2, 1, 3], "a": ["x", "y", None], "c": [0.5, 1.25, 2.0]})

    def test_the_hash_is_the_oracle_gates(self):
        self.assertEqual(stats.fingerprint(self.frame), (3, check.canon(self.frame)))

    def test_row_and_column_order_do_not_matter(self):
        shuffled = self.frame.iloc[[2, 0, 1]][["c", "a", "b"]]
        self.assertEqual(stats.fingerprint(self.frame), stats.fingerprint(shuffled))

    def test_a_changed_value_changes_the_hash(self):
        other = self.frame.copy()
        other.loc[1, "c"] = 1.26
        self.assertEqual(stats.fingerprint(other)[0], 3)
        self.assertNotEqual(stats.fingerprint(self.frame), stats.fingerprint(other))

    def test_datetimes_compare_at_microseconds(self):
        t = [datetime.datetime(2024, 1, 1, 0, 0, 1, 5)]
        ns = pd.DataFrame({"t": pd.Series(t, dtype="datetime64[ns]")})
        us = pd.DataFrame({"t": pd.Series(t, dtype="datetime64[us]")})
        self.assertEqual(stats.fingerprint(ns), stats.fingerprint(us))

    def test_rows_only_compares_the_count(self):
        other = self.frame.assign(c=[9.0, 9.0, 9.0])
        self.assertEqual(stats.fingerprint(self.frame, rows_only=True), (3, None))
        self.assertEqual(stats.fingerprint(self.frame, rows_only=True),
                         stats.fingerprint(other, rows_only=True))


if __name__ == "__main__":
    unittest.main()
