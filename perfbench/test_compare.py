"""Tests of compare.py on the fixture result files under fixtures/.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import io
import json
import os
import unittest

import compare

FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


class CompareTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(FIX, "bench.json")) as fh:
            self.spec = json.load(fh)
        self.out = io.StringIO()
        self.regressions = compare.compare(compare.load(os.path.join(FIX, "base")),
                                           compare.load(os.path.join(FIX, "change")),
                                           self.spec, out=self.out)
        self.text = self.out.getvalue()

    def line(self, workload, metric):
        block = self.text.split(f"== {workload}:")[1].split("\n== ")[0]
        return next(l for l in block.splitlines() if l.strip().startswith(metric + " "))

    def test_verdicts(self):
        self.assertTrue(self.line("scan", "ops_per_s").endswith("better"))
        self.assertTrue(self.line("scan", "op_ms_p50").endswith("worse"))
        self.assertTrue(self.line("scan", "setup_s").endswith("unresolved"))
        for m in ("setup_s", "ops_per_s", "op_ms_p50"):
            self.assertTrue(self.line("cdc", m).endswith("same"), self.line("cdc", m))

    def test_regressions_counted(self):
        self.assertEqual(self.regressions, 1)

    def test_medians_and_quartiles_printed(self):
        # untraced runs only: base ops_per_s 9.9 10.0 10.0 10.1 10.2
        self.assertIn("base 10 [9.95, 10.15]", self.line("scan", "ops_per_s"))

    def test_moved_layers_listed(self):
        block = self.text.split("== scan:")[1].split("\n== ")[0]
        self.assertIn("spark.jobs_per_op", block)
        self.assertNotIn("sources.meta_files", block)
        self.assertIn("(1 taken with loadavg above nproc)", block)

    def test_unresolved_unless_change_wins_every_run(self):
        noisy = [1.0, 2.0, 3.0, 4.0]
        self.assertEqual(compare.verdict(noisy, [1.5, 2.5, 3.5, 4.5], "lower", 0.1), "unresolved")
        self.assertEqual(compare.verdict(noisy, [0.1, 0.2, 0.3, 0.4], "lower", 0.1), "better")


if __name__ == "__main__":
    unittest.main()
