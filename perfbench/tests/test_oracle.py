"""Canonical result form and the comparison against DuckDB's result."""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle  # noqa: E402


class CanonTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
        b = pd.DataFrame({"v": ["y", "x"], "k": [2, 1]})
        self.assertEqual(oracle.canon(a), oracle.canon(b))

    def test_floats_compare_at_full_precision(self):
        a = pd.DataFrame({"x": [0.1 + 0.2]})
        b = pd.DataFrame({"x": [0.3]})
        self.assertNotEqual(oracle.canon(a), oracle.canon(b))

    def test_missing_values_are_null(self):
        a = pd.DataFrame({"x": [1.0, float("nan")]})
        b = pd.DataFrame({"x": [1.0, None]})
        self.assertEqual(oracle.canon(a), oracle.canon(b))


class CompareTest(unittest.TestCase):
    base = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})

    def test_equal_frames_agree(self):
        self.assertIsNone(oracle.compare(oracle.summary(self.base), oracle.summary(self.base)))

    def test_each_difference_is_named(self):
        s = oracle.summary(self.base)
        cases = {
            "columns": self.base.rename(columns={"v": "w"}),
            "int/float": self.base.astype({"k": "float64"}),
            "rows": pd.concat([self.base, self.base]),
            "digest": self.base.assign(v=[0.5, 1.25]),
        }
        for word, other in cases.items():
            self.assertIn(word, oracle.compare(s, oracle.summary(other)))


if __name__ == "__main__":
    unittest.main()
