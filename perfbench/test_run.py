"""Tests of run.py's failure accounting: python3 perfbench/test_run.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class FailureAccounting(unittest.TestCase):
    def result(self, ops, checks_ok=True):
        return {"attempted": len(ops),
                "ops": [{"name": n, "ok": ok} for n, ok in ops],
                "checks": [{"name": "c", "ok": checks_ok}]}

    def test_failed_ratio(self):
        self.assertEqual(run.failed_ratio(0, 8), 0.0)
        self.assertEqual(run.failed_ratio(2, 8), 0.25)
        for bad in ((1, 0), (-1, 3), (4, 3)):
            with self.assertRaises(ValueError):
                run.failed_ratio(*bad)

    def test_raised_and_oracle_mismatch_both_count(self):
        r = self.result([("q1", True), ("q2", False), ("q1", True), ("q3", True)])
        self.assertEqual(run.count_failed(r, {}), 1)
        self.assertEqual(run.count_failed(r, {"q1": ["differs"]}), 3)

    def test_a_failed_output_check_fails_every_operation(self):
        r = self.result([("etl_unit", True)], checks_ok=False)
        self.assertEqual(run.count_failed(r, {}), 1)


if __name__ == "__main__":
    unittest.main()
