"""Tests of the comparison and report scripts: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import report  # noqa: E402


def record(tmp, wl, seed, trace, metrics, passes=2, spans=None):
    tag = f"{wl}-s{seed}-t{trace}"
    rec = {"workload": wl, "seed": seed, "trace": trace, "passes": passes, "failed_frac": 0.0,
           "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}
    with open(os.path.join(tmp, tag + ".json"), "w") as f:
        json.dump(rec, f)
    if spans is not None:
        with open(os.path.join(tmp, tag + ".spans.jsonl"), "w") as f:
            f.write("\n".join(json.dumps(s) for s in spans) + "\n")


class CompareTest(unittest.TestCase):
    def test_summary_uses_statistics_quartiles(self):
        med, q1, q3, spread = compare.summary([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual(med, 3.0)
        self.assertEqual((q1, q3), (1.5, 4.5))
        self.assertAlmostEqual(spread, 1.0)

    def test_worsening_follows_the_better_direction(self):
        self.assertAlmostEqual(compare.worsening(10.0, 11.0, "lower"), 0.1)
        self.assertAlmostEqual(compare.worsening(10.0, 11.0, "higher"), -0.1)

    def test_verdicts(self):
        m = {"better": "lower", "bound": 0.1}
        steady = (10.0, 9.9, 10.1, 0.02)
        self.assertEqual(compare.verdict(steady, (10.5, 10.4, 10.6, 0.02), m), "ok")
        self.assertEqual(compare.verdict(steady, (11.5, 11.4, 11.6, 0.02), m), "WORSE")
        self.assertEqual(compare.verdict(steady, (10.0, 8.0, 12.0, 0.4), m), "NOISY")
        self.assertEqual(compare.verdict(steady, steady, {"better": "lower"}), "")

    def test_two_identical_sets_agree(self):
        with tempfile.TemporaryDirectory() as a:
            for seed, v in enumerate([1.00, 1.01, 0.99, 1.02]):
                record(a, "w", seed, 0, {"wall_s": v})
            self.assertEqual(compare.main(["compare.py", a, a]), 0)


class ReportTest(unittest.TestCase):
    def test_layer_rows_are_per_pass(self):
        spans = [{"name": "pass", "start_ns": 0, "end_ns": 4_000_000_000, "self_ns": 1_000_000_000,
                  "counts": {}},
                 {"name": "graph.pagerank", "start_ns": 0, "end_ns": 3_000_000_000,
                  "self_ns": 3_000_000_000, "counts": {"jobs": 10, "cpu_ns": 2_000_000_000}}]
        rows = report.layer_rows(spans, passes=2)
        self.assertEqual(rows["graph.pagerank"]["jobs"], 5)
        self.assertAlmostEqual(rows["graph.pagerank"]["self_s"], 1.5)
        self.assertAlmostEqual(rows["pass"]["total_s"], 2.0)

    def test_overhead_pairs_traced_and_untraced_seeds(self):
        with tempfile.TemporaryDirectory() as d:
            span = {"name": "pass", "start_ns": 0, "end_ns": 10, "self_ns": 10, "counts": {}}
            record(d, "w", 1, 1, {"trace.wall_s": 1.1}, spans=[span])
            record(d, "w", 1, 0, {"wall_s": 1.0})
            self.assertEqual(report.main(["report.py", d]), 0)


if __name__ == "__main__":
    unittest.main()
