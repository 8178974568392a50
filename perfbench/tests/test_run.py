"""Tests for the reduction of a raw driver record in perfbench/run.py.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

GOLDEN = {"q1": "3:a:b", "pipe": "5:c:d"}


def raw_record():
    def one_pass(p, secs, traced=False):
        return {"pass": p, "traced": traced, "heap_before_mb": 100.0 + p,
                "seconds": {"q1": secs, "pipe": 2 * secs}, "errors": {},
                "fingerprints": dict(GOLDEN), "layers": None}
    return {
        "queries": ["pipe", "q1"], "pipeline": "pipe",
        "setup_s": 5.0, "cold_pass_s": 9.0,
        "passes": [one_pass(0, 3.0)] + [one_pass(p, 1.0 + p / 10) for p in range(1, 6)],
        "heap_after_last_mb": 180.0,
        "pipeline_runs": [{"seconds": 2.0, "fingerprint": "5:c:d", "error": None}] * 3,
    }


class EndToEnd(unittest.TestCase):
    def test_clean_run(self):
        metrics, attempted, failed, detail = run.end_to_end(raw_record(), GOLDEN, 0.5)
        self.assertEqual((attempted, failed), (2 * 6 + 3, 0))
        self.assertEqual(metrics["setup_s"], (5.0, "s"))
        self.assertEqual(metrics["cold_pass_s"], (9.0, "s"))
        self.assertAlmostEqual(metrics["suite_s"][0], 1.3 + 2.6)
        # pass samples 2.2..3.0 and three back-to-back runs of 2.0
        self.assertAlmostEqual(metrics["pipeline_s"][0], 2.3)
        self.assertEqual(metrics["pass_ratio"], (1.0, "ratio"))
        self.assertEqual(detail["scratch_mb"], 0.5)
        self.assertEqual(detail["golden_missing"], [])

    def test_mismatch_and_failure_are_named_and_counted(self):
        raw = raw_record()
        raw["passes"][3]["fingerprints"]["q1"] = "3:a:x"
        del raw["passes"][4]["fingerprints"]["pipe"]
        raw["passes"][4]["errors"]["pipe"] = "run: boom"
        _, attempted, failed, detail = run.end_to_end(raw, GOLDEN, 0.0)
        self.assertEqual(failed, 2)
        self.assertEqual(detail["mismatches"], {"q1": [3]})
        self.assertEqual(detail["failures"], {"pipe": "run: boom"})
        self.assertAlmostEqual(detail["fail_ratio"], 2 / attempted)

    def test_cold_pass_is_checked_against_golden(self):
        golden = dict(GOLDEN, q1="3:a:other")
        _, _, failed, detail = run.end_to_end(raw_record(), golden, 0.0)
        self.assertEqual((failed, detail["mismatches"]), (1, {"q1": [0]}))

    def test_missing_golden_is_reported(self):
        _, _, failed, detail = run.end_to_end(raw_record(), {"pipe": "5:c:d"}, 0.0)
        self.assertEqual(detail["golden_missing"], ["q1"])
        self.assertEqual(failed, 1)

    def test_traced_passes_stay_out_of_the_end_to_end_numbers(self):
        raw = raw_record()
        slow = copy.deepcopy(raw)
        for p in slow["passes"][1:]:
            if p["pass"] % 2 == 0:
                p["traced"] = True
                p["seconds"] = {"q1": 50.0, "pipe": 50.0}
        m, _, _, _ = run.end_to_end(slow, GOLDEN, 0.0)
        self.assertAlmostEqual(m["suite_s"][0], 1.3 + 2.6)
        self.assertGreater(run.suite(slow, traced=True), 99.0)


class PerLayer(unittest.TestCase):
    SPEC = {"per_layer": [
        {"name": "scheduler.jobs", "unit": "count"},
        {"name": "codegen.compiles", "unit": "count"},
        {"name": "streaming.batch_p50_ms", "unit": "ms"},
        {"name": "retained_heap_mb", "unit": "MB"},
        {"name": "scratch_mb", "unit": "MB"},
        {"name": "trace.overhead_ratio", "unit": "ratio"},
    ]}

    def test_means_over_traced_passes_and_run_level_values(self):
        raw = raw_record()
        raw["cold_layers"] = {"codegen.compiles": 40.0}
        for p in raw["passes"][1:]:
            if p["pass"] % 2 == 0:
                p["traced"] = True
                p["seconds"] = {"q1": 1.5, "pipe": 3.0}
                p["layers"] = {"counters": {"scheduler.jobs": 10.0 * p["pass"]},
                               "batch_ms": [100.0, 300.0]}
        m = run.per_layer(raw, self.SPEC, 0.25)
        self.assertEqual(m["scheduler.jobs"], (30.0, "count"))
        self.assertEqual(m["codegen.compiles"], (40.0, "count"))
        self.assertEqual(m["streaming.batch_p50_ms"], (200.0, "ms"))
        # lowest heap after passes 1..4 (read before passes 2..5) and pass 5
        self.assertEqual(m["retained_heap_mb"], (102.0, "MB"))
        self.assertEqual(m["scratch_mb"], (0.25, "MB"))
        # untraced passes 1, 3, 5: q1 1.3, pipe 2.6; traced: 1.5, 3.0
        self.assertAlmostEqual(m["trace.overhead_ratio"][0], 4.5 / 3.9 - 1)


if __name__ == "__main__":
    unittest.main()
