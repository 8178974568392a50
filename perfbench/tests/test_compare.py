"""Tests for the parent-versus-change rule in perfbench/compare.py.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402

STEADY = [10.0, 10.1, 9.9, 10.05, 9.95, 10.02, 9.98, 10.01, 9.99, 10.03]


def side(values):
    return list(enumerate(values))


class Verdict(unittest.TestCase):
    def test_same_code_is_same(self):
        r = compare.verdict(side(STEADY), side(list(reversed(STEADY))), "lower", 0.1)
        self.assertEqual(r["verdict"], "same")
        self.assertEqual(r["pairs"], 10)

    def test_clear_gain(self):
        r = compare.verdict(side(STEADY), side([v * 0.8 for v in STEADY]), "lower", 0.1)
        self.assertEqual(r["verdict"], "gain")
        self.assertEqual(r["win_share"], 1.0)

    def test_regression_beyond_bound(self):
        r = compare.verdict(side(STEADY), side([v * 1.2 for v in STEADY]), "lower", 0.1)
        self.assertEqual(r["verdict"], "regressed")
        self.assertAlmostEqual(r["worse_by"], 0.2, places=6)

    def test_worse_within_bound_is_not_a_regression(self):
        r = compare.verdict(side(STEADY), side([v * 1.05 for v in STEADY]), "lower", 0.1)
        self.assertEqual(r["verdict"], "same")

    def test_higher_is_better(self):
        r = compare.verdict(side(STEADY), side([v * 0.8 for v in STEADY]), "higher", 0.1)
        self.assertEqual(r["verdict"], "regressed")

    def test_wide_parent_spread_is_unresolved(self):
        noisy = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
        r = compare.verdict(side(noisy), side([v * 0.9 for v in noisy]), "lower", 0.1)
        self.assertEqual(r["verdict"], "unresolved")

    def test_wide_spread_resolves_when_every_run_wins(self):
        noisy = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
        r = compare.verdict(side(noisy), side([v / 10 for v in noisy]), "lower", 0.1)
        self.assertEqual(r["verdict"], "gain")

    def test_ties_count_for_neither_side(self):
        r = compare.verdict(side([1.0] * 10), side([1.0] * 10), "lower", 0.1)
        self.assertEqual((r["win_share"], r["verdict"]), (0.0, "same"))

    def test_pairs_follow_seeds(self):
        parent = [(1, 10.0), (2, 20.0)]
        change = [(2, 19.0), (1, 11.0)]
        self.assertEqual(compare.pairs(parent, change), [(10.0, 11.0), (20.0, 19.0)])

    def test_unbounded_metric_has_no_verdict(self):
        r = compare.verdict(side(STEADY), side(STEADY), "lower", None)
        self.assertIsNone(r["verdict"])


class Report(unittest.TestCase):
    SPEC = {
        "workloads": [{"name": "a"}, {"name": "b"}],
        "end_to_end": [{"name": "suite_s", "unit": "s", "better": "lower", "bound": 0.1}],
        "per_layer": [{"name": "scheduler.jobs", "unit": "count", "better": "lower"}],
    }

    @staticmethod
    def run_record(workload, seed, suite, jobs=None):
        return {"workload": workload, "seed": seed, "cpus": 4, "sf": "sf0.01",
                "trace": 1 if jobs else 0,
                "end_to_end": {"suite_s": {"value": suite, "unit": "s"}},
                "per_layer": jobs and {"scheduler.jobs": {"value": jobs, "unit": "count"}}}

    def test_one_row_per_workload(self):
        parent = ([self.run_record("a", s, v) for s, v in enumerate(STEADY)]
                  + [self.run_record("b", s, v) for s, v in enumerate(STEADY)])
        change = ([self.run_record("a", s, v * 1.3) for s, v in enumerate(STEADY)]
                  + [self.run_record("b", s, v) for s, v in enumerate(STEADY)])
        out = compare.compare(parent, change, self.SPEC)
        self.assertEqual(out["a"]["verdict"], "regressed")
        self.assertEqual(out["b"]["verdict"], "same")

    def test_each_metric_comes_from_its_own_trace_mode(self):
        # traced runs also carry an end_to_end block, slowed by tracing and
        # sharing seeds with the untraced runs; the report must ignore it
        parent = ([self.run_record("a", s, v) for s, v in enumerate(STEADY)]
                  + [self.run_record("a", s, v * 2, jobs=5.0) for s, v in enumerate(STEADY)])
        change = ([self.run_record("a", s, v) for s, v in enumerate(STEADY)]
                  + [self.run_record("a", s, v * 3, jobs=7.0) for s, v in enumerate(STEADY)])
        out = compare.compare(parent, change, self.SPEC)["a"]["metrics"]
        self.assertEqual(out["suite_s"]["parent"]["median"], compare.stats.quartiles(STEADY)[1])
        self.assertEqual(out["suite_s"]["verdict"], "same")
        self.assertEqual(out["suite_s"]["pairs"], 10)
        self.assertEqual(out["scheduler.jobs"]["parent"]["median"], 5.0)
        self.assertEqual(out["scheduler.jobs"]["change"]["median"], 7.0)

    def test_loads_record_directories_and_refuses_mixed_settings(self):
        with tempfile.TemporaryDirectory() as d:
            for s, v in enumerate(STEADY[:3]):
                with open(os.path.join(d, f"r{s}.json"), "w") as f:
                    json.dump(self.run_record("a", s, v), f)
            self.assertEqual(len(compare.load(d)), 3)
            odd = self.run_record("a", 9, 1.0)
            odd["cpus"] = 8
            with open(os.path.join(d, "odd.json"), "w") as f:
                json.dump(odd, f)
            with self.assertRaises(SystemExit):
                compare.load(d)


if __name__ == "__main__":
    unittest.main()
