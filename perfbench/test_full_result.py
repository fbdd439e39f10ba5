#!/usr/bin/env python3
"""Pins the full-result rule the benchmark relies on.

    python3 perfbench/test_full_result.py

For every registry row the benchmark issues, the plans of both timed
actions (`collect`, and the Verify-style `coalesce(1)` parquet write)
must keep the row's root Sort as their top operator and output every
column. The same rows' `count()` plans are checked too, to show the
rule is not vacuous: Catalyst drops the final Sort from a count.
Runs one JVM at sf0.01 (about a minute with the harness built).
"""
import json
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class FullResultRule(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(run.BENCH, "workloads.json")) as fh:
            workloads = json.load(fh)
        cls.rows = sorted({r for w in workloads.values() for r in w["rows"]})
        classpath = run.build()
        work = os.path.join(run.BENCH, ".work", "test-full-result")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            out = os.path.join(work, "plans.json")
            run.run_jvm(classpath, work, ["--mode", "plancheck", "--rows", ",".join(cls.rows),
                                          "--sf-dir", os.path.join(run.BENCH, "data", "sf0.01"),
                                          "--out", out])
            with open(out) as fh:
                cls.plans = {p["name"]: p for p in json.load(fh)}
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_timed_action_keeps_root_sort_and_columns(self):
        for name in self.rows:
            for action in ("full", "write"):
                plan = self.plans[name][action]
                with self.subTest(row=name, action=action):
                    self.assertIsNotNone(plan, "the write's plan was not captured")
                    self.assertTrue(plan["sort_kept"], "executed plan lost the root Sort")
                    self.assertTrue(plan["columns_kept"], "executed plan lost output columns")
        # single-row aggregates need no sort; every other row ends in one
        for action in ("full", "write"):
            sorted_rows = [n for n in self.rows if self.plans[n][action]["root_sort"]]
            self.assertGreaterEqual(len(sorted_rows), 0.9 * len(self.rows), action)

    def test_count_prunes_the_sort(self):
        pruned = [n for n in self.rows
                  if self.plans[n]["count_sorts"] < self.plans[n]["full_sorts"]]
        print(f"\n{len(pruned)} of {len(self.rows)} rows: count() runs fewer sorts "
              f"({sum(p['count_sorts'] for p in self.plans.values())} vs "
              f"{sum(p['full_sorts'] for p in self.plans.values())} in the full-result plans)",
              file=sys.stderr)
        self.assertGreater(len(pruned), len(self.rows) // 2,
                           "count() no longer prunes the root Sort; revisit NOTES.md")


if __name__ == "__main__":
    unittest.main()
