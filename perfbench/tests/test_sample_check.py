"""Tests for the sample-versus-workload report in perfbench/sample_check.py.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import sample_check  # noqa: E402


def full_record():
    secs = {"a": 1.0, "b": 2.0, "c": 4.0}

    def one_pass(p, traced):
        per_query = {q: {"scheduler.jobs": 2.0 * (i + 1), "operators.build_s": 0.5}
                     for i, q in enumerate(secs)} if traced else None
        return {"pass": p, "traced": traced, "seconds": dict(secs),
                "layers": traced and {"per_query": per_query}}
    return {"run": "r", "workload": "w", "raw": {
        "full": True, "cpus": 4, "queries": ["a", "b", "c"], "sample": ["c"],
        "eager": ["c"],
        "passes": [one_pass(0, False)] + [one_pass(p, p % 2 == 0) for p in range(1, 6)]}}


class SampleCheck(unittest.TestCase):
    def test_workload_and_sample_rows(self):
        rows = {label: (w, s) for label, w, s in sample_check.check(full_record())}
        self.assertEqual(rows["queries"], (3, 1))
        self.assertEqual(rows["p50 s"], (2.0, 4.0))
        self.assertEqual(rows["max s"], (4.0, 4.0))
        self.assertAlmostEqual(rows["mean s"][0], 7.0 / 3)
        self.assertAlmostEqual(rows["eager share of time"][0], 4.0 / 7)
        self.assertEqual(rows["eager share of time"][1], 1.0)
        # jobs 2, 4, 6 per query; c alone has 6
        self.assertEqual(rows["jobs per query"], (4.0, 6.0))
        # 0.5 s of build in each query: 1.5 of 7 s, and 0.5 of 4 s
        self.assertAlmostEqual(rows["build share of wall"][0], 1.5 / 7)
        self.assertAlmostEqual(rows["build share of wall"][1], 0.5 / 4)

    def test_refuses_a_sample_run(self):
        rec = full_record()
        rec["raw"]["full"] = False
        with self.assertRaises(SystemExit):
            sample_check.check(rec)


if __name__ == "__main__":
    unittest.main()
