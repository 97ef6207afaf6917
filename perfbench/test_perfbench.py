"""Tests of the benchmark's own arithmetic and checks (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa

import check
import compare
import metrics as M
import run


class TailPercentile(unittest.TestCase):
    def test_few_samples_fall_back_to_the_median(self):
        for n in (0, 1, 5, 19):
            self.assertEqual(M.tail_percentile(n), 50.0)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(20), 50.0)
        self.assertEqual(M.tail_percentile(40), 75.0)
        self.assertEqual(M.tail_percentile(99), 75.0)
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.tail_percentile(200), 95.0)
        self.assertEqual(M.tail_percentile(999), 95.0)
        self.assertEqual(M.tail_percentile(1000), 99.0)
        self.assertEqual(M.tail_percentile(10000), 99.9)

    def test_percentile_interpolates(self):
        self.assertEqual(M.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(M.percentile([5], 99), 5)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # children cover [1, 6] and [8, 10] of the span: 7 of its 10
        self.assertAlmostEqual(M.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]), 3.0)

    def test_nested_and_disjoint_children(self):
        self.assertAlmostEqual(M.self_time((0, 10), [(2, 8), (3, 4)]), 4.0)
        self.assertAlmostEqual(M.self_time((0, 10), [(-5, -1), (11, 12)]), 10.0)
        self.assertAlmostEqual(M.self_time((0, 10), []), 10.0)

    def test_layer_metrics_idle_is_pipeline_self_time_over_tasks(self):
        spans = [{"id": 0, "parent": -1, "pipeline": "q01_x#1", "name": "pipeline",
                  "start": 0.0, "end": 1000.0},
                 {"id": 1, "parent": 0, "pipeline": "q01_x#1", "name": "construct",
                  "start": 0.0, "end": 300.0}]
        g = "pb|q01_x#1|execute"
        events = [{"kind": "job", "group": g, "job": 0},
                  {"kind": "stage", "group": g, "stage": 0, "tasks": 2},
                  {"kind": "task", "group": g, "stage": 0, "start": 400, "end": 700, "run_ms": 250},
                  {"kind": "task", "group": g, "stage": 0, "start": 500, "end": 900, "run_ms": 350}]
        m = M.layer_metrics(spans, events, cpus=2, tracing_total_s=1.0)
        self.assertAlmostEqual(m["sched.idle_s"], 0.5)   # 1000 ms minus [400, 900]
        self.assertAlmostEqual(m["entry.construct_s"], 0.3)
        self.assertAlmostEqual(m["exec.busy_frac"], 600 / (1000 * 2))
        self.assertEqual(m["ops.Relational_jobs"], 1)
        self.assertEqual(m["ops.Dedup_jobs"], 0)


class DecisionRule(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_spread(self):
        change = [v - 1.0 for v in self.parent]
        self.assertEqual(compare.decide(self.parent, change, "lower", 0.1, True)[0], "gain")

    def test_too_few_wins_is_not_a_gain(self):
        change = [v - 1.0 for v in self.parent]
        change[0], change[1] = 11.0, 11.0   # 8 of 10 wins
        self.assertEqual(compare.decide(self.parent, change, "lower", 0.1, True)[0], "not shown")

    def test_gap_inside_the_parent_spread_is_not_a_gain(self):
        change = [v - 0.05 for v in self.parent]   # wins every pair, gap 0.05 < IQR
        self.assertEqual(compare.decide(self.parent, change, "lower", 0.1, True)[0], "not shown")

    def test_unclaimed_metric_against_its_bound(self):
        self.assertEqual(compare.decide(self.parent, [v * 1.05 for v in self.parent],
                                        "lower", 0.1, False)[0], "within bound")
        self.assertEqual(compare.decide(self.parent, [v * 1.5 for v in self.parent],
                                        "lower", 0.1, False)[0], "regression")

    def test_wide_parent_spread_is_unresolved(self):
        wide = [5, 15, 6, 14, 7, 13, 8, 12, 9, 11]
        self.assertEqual(compare.decide(wide, list(wide), "lower", 0.1, False)[0], "unresolved")

    def test_higher_is_better_direction(self):
        change = [v + 1.0 for v in self.parent]
        self.assertEqual(compare.decide(self.parent, change, "higher", 0.1, True)[0], "gain")


class OutputCheck(unittest.TestCase):
    cols = ["k", "v"]
    oracle = [(1, 0.5), (2, 1.25), (3, None)]

    def table(self, rows):
        return pa.table({"v": [r[1] for r in rows], "k": [r[0] for r in rows]})

    def test_equal_up_to_row_and_column_order_and_float_noise(self):
        rows = [(3, None), (2, 1.25 * (1 + 1e-12)), (1, 0.5)]
        self.assertIsNone(check.compare_table(self.table(rows), self.cols, self.oracle))

    def test_corrupted_value_is_caught(self):
        rows = [(1, 0.5), (2, 1.2500001), (3, None)]
        self.assertIn("rows differ", check.compare_table(self.table(rows), self.cols, self.oracle))

    def test_missing_row_and_schema_change_are_caught(self):
        self.assertIn("rows vs oracle",
                      check.compare_table(self.table(self.oracle[:2]), self.cols, self.oracle))
        renamed = pa.table({"k": [1, 2, 3], "w": [0.5, 1.25, None]})
        self.assertIn("schema", check.compare_table(renamed, self.cols, self.oracle))

    def test_fifo_violation(self):
        self.assertIsNone(check.fifo_violation([0, 1, 0, 1], [0, 0, 1, 1]))
        self.assertEqual(check.fifo_violation([0, 1, 1, 0], [0, 1, 0, 1]), 1)


class BuildSources(unittest.TestCase):
    """A run builds the library sources of the checkout it runs in, also
    when its run.py comes from another checkout (compare.py record)."""

    def test_sbt_compiles_the_sources_of_the_run_checkout(self):
        parent = Path("/x/parent")
        env = run.sbt_env(parent, parent / ".bench_build")
        self.assertEqual(env["PERFBENCH_SRC_DIR"], "/x/parent/src/main/scala")
        self.assertEqual(env["PERFBENCH_BUILD_DIR"], "/x/parent/.bench_build")
        self.assertNotEqual(Path(env["PERFBENCH_SRC_DIR"]), run.HERE.parent / "src" / "main" / "scala")

    def test_exported_source_dirs_are_parsed(self):
        log = ("[info] welcome to sbt\n* /b/perfbench/src/main/scala\n"
               "* /x/parent/src/main/scala\n/b/a.jar:/b/c.jar\n")
        self.assertEqual(run.exported_dirs(log),
                         ["/b/perfbench/src/main/scala", "/x/parent/src/main/scala"])

    def test_source_hash_follows_the_run_checkout(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for root, body in ((a, "object A"), (b, "object B")):
                f = Path(root) / "src" / "main" / "scala" / "A.scala"
                f.parent.mkdir(parents=True)
                f.write_text(body)
            self.assertNotEqual(run.source_hash(Path(a)), run.source_hash(Path(b)))


if __name__ == "__main__":
    unittest.main()
