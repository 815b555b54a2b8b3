"""Tests of the output checker: it must reject corrupted results and accept
a result whose order the query leaves open.

Run: python3 perfbench/test_check.py
"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402


class CompareTest(unittest.TestCase):
    # Oracle side as DuckDB hands it over: Decimal, datetime and date values.
    COLS = ["l_returnflag", "n", "revenue", "shipped"]
    ORACLE = [
        ("A", 1478493, decimal.Decimal("5.6586554400730E+10"), datetime.date(1992, 1, 2)),
        ("N", 38854, decimal.Decimal("1.487504710380E+9"), datetime.date(1992, 1, 3)),
        ("R", 1478870, 56568041380.90022, datetime.date(1992, 1, 4)),
    ]
    # Engine side as the harness writes it: plain JSON numbers and strings,
    # with the last bits of the float sums different.
    ENGINE = [
        ["A", 1478493, 56586554400.73001, "1992-01-02"],
        ["N", 38854, 1487504710.3799999, "1992-01-03"],
        ["R", 1478870, 56568041380.90024, "1992-01-04"],
    ]

    def cmp(self, rows, cols=None):
        return check.compare(cols or self.COLS, rows, self.COLS, self.ORACLE)

    def test_accepts_equal_result(self):
        ok, msg = self.cmp(self.ENGINE)
        self.assertTrue(ok, msg)

    def test_rejects_changed_value(self):
        rows = [list(r) for r in self.ENGINE]
        rows[1][1] = 38855
        ok, _ = self.cmp(rows)
        self.assertFalse(ok)

    def test_rejects_changed_string(self):
        rows = [list(r) for r in self.ENGINE]
        rows[2][0] = "F"
        ok, _ = self.cmp(rows)
        self.assertFalse(ok)

    def test_rejects_dropped_row(self):
        ok, msg = self.cmp(self.ENGINE[:2])
        self.assertFalse(ok)
        self.assertIn("rows", msg)

    def test_rejects_float_beyond_tolerance(self):
        rows = [list(r) for r in self.ENGINE]
        rows[0][2] = rows[0][2] * (1 + 1e-7)
        ok, _ = self.cmp(rows)
        self.assertFalse(ok)

    def test_accepts_float_within_tolerance(self):
        rows = [list(r) for r in self.ENGINE]
        rows[0][2] = rows[0][2] * (1 + 1e-12)
        ok, msg = self.cmp(rows)
        self.assertTrue(ok, msg)

    def test_accepts_reordered_rows_and_columns(self):
        cols = ["shipped", "revenue", "n", "l_returnflag"]
        rows = [list(reversed(r)) for r in reversed(self.ENGINE)]
        ok, msg = self.cmp(rows, cols)
        self.assertTrue(ok, msg)

    def test_near_ties_in_float_keys_still_match(self):
        # Both rows round to the same six digits, so the sort leaves their
        # order to chance; the shape-wise matching must still pair them.
        a = [[1.00000000001, "x"], [1.0000000000, "y"]]
        b = [(1.0000000000, "y"), (1.00000000001, "x")]
        ok, msg = check.compare(["v", "s"], a, ["v", "s"], b)
        self.assertTrue(ok, msg)

    def test_rejects_renamed_column(self):
        ok, _ = self.cmp(self.ENGINE, ["l_returnflag", "n", "revenue", "shipdate"])
        self.assertFalse(ok)

    def test_nested_values(self):
        engine = [[[1.5, 2.0], {"$map": [["b", 2], ["a", 1]]}, {"x": 1, "y": "s"},
                   "2020-01-02T03:04:05.123000"]]
        oracle = [([decimal.Decimal("1.5"), 2.0], {"key": ["a", "b"], "value": [1, 2]},
                   {"x": 1, "y": "s"}, datetime.datetime(2020, 1, 2, 3, 4, 5, 123000))]
        cols = ["l", "m", "st", "ts"]
        ok, msg = check.compare(cols, engine, cols, oracle)
        self.assertTrue(ok, msg)
        engine[0][1]["$map"][0][1] = 3
        ok, _ = check.compare(cols, engine, cols, oracle)
        self.assertFalse(ok)


class ChecksumTest(unittest.TestCase):
    ROWS = [(1, "a", 2.5), (2, "b", None), (3, "c", 7.25)]

    def test_order_independent(self):
        self.assertEqual(check.checksum(self.ROWS), check.checksum(list(reversed(self.ROWS))))

    def test_detects_changed_and_dropped_rows(self):
        changed = [(1, "a", 2.5), (2, "b", None), (3, "c", 7.26)]
        self.assertNotEqual(check.checksum(self.ROWS), check.checksum(changed))
        self.assertNotEqual(check.checksum(self.ROWS), check.checksum(self.ROWS[:2]))


if __name__ == "__main__":
    unittest.main()
