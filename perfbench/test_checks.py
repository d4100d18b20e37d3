#!/usr/bin/env python3
"""The benchmark's own test: its output checks must fail on deliberately
corrupted results.

    python3 perfbench/test_checks.py

Run from the repository root. Checks the DuckDB oracle comparison
(batch_suite) directly, then builds the harness if needed and runs
perfbench.SelfTest for the stream checks (alerts against the batch twin,
planted offenders). Exits non-zero if a corruption goes unnoticed.
"""
import os
import subprocess
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run  # noqa: E402


class OracleCompare(unittest.TestCase):
    want = pd.DataFrame({"doc_id": [3, 1, 2], "score": [0.5, None, 2.0],
                         "label": ["a", "b", "c"]})

    def test_equal_in_any_order(self):
        got = self.want.iloc[[2, 0, 1]][["score", "label", "doc_id"]]
        self.assertIsNone(oracle.compare(got, self.want))

    def test_changed_value(self):
        got = self.want.copy()
        got.loc[0, "score"] = 0.25
        self.assertIn("col score", oracle.compare(got, self.want))

    def test_null_for_value(self):
        got = self.want.copy()
        got.loc[2, "score"] = None
        self.assertIsNotNone(oracle.compare(got, self.want))

    def test_dropped_row(self):
        self.assertIn("rows", oracle.compare(self.want.iloc[:2], self.want))

    def test_renamed_column(self):
        got = self.want.rename(columns={"label": "lbl"})
        self.assertIn("columns", oracle.compare(got, self.want))


class StreamChecks(unittest.TestCase):
    def test_self_test_main(self):
        root = os.path.dirname(HERE)
        build_dir = os.path.join(root, ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        cp, _ = run.build(root, build_dir)
        proc = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                              capture_output=True, text=True, timeout=120)
        sys.stderr.write(proc.stdout)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr)


if __name__ == "__main__":
    unittest.main()
