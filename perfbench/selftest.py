#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic.

    python3 perfbench/selftest.py
"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import compare  # noqa: E402
import metrics  # noqa: E402


class Percentile(unittest.TestCase):
    def test_interpolates_between_ranks_and_counts_samples(self):
        xs = [float(i) for i in range(10, 0, -1)]
        self.assertEqual(metrics.percentile(xs, 50), (5.5, 10))
        p90, n = metrics.percentile(xs, 90)
        self.assertAlmostEqual(p90, 9.1)
        self.assertEqual(n, 10)

    def test_single_and_no_sample(self):
        self.assertEqual(metrics.percentile([3.0], 90), (3.0, 1))
        self.assertEqual(metrics.percentile([], 50), (None, 0))


class JobUnion(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)]), 7)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)], 3, 8.5), 3.5)

    def test_driver_idle_is_window_minus_busy(self):
        raw = {
            "spans": [
                {"id": 0, "parent": -1, "kind": "pass", "name": "1", "start": 0, "end": 100},
                {"id": 1, "parent": 0, "kind": "query", "name": "q", "start": 0, "end": 100},
                {"id": 2, "parent": 1, "kind": "build", "name": "q", "start": 0, "end": 40},
                {"id": 3, "parent": 1, "kind": "exec", "name": "q", "start": 40, "end": 90},
                {"id": 4, "parent": 1, "kind": "flush", "name": "q", "start": 90, "end": 100},
            ],
            "jobs": [_job(1, 10, 20), _job(2, 15, 25), _job(3, 50, 80)],
            "passes": [{"pass": 1, "end": 100, "scratch_mb": 0.0}],
            "execs": [{"pass": 1, "span": 1, "query": "q", "module": "text",
                       "latency_s": 0.09, "flush_s": 0.01, "gc_jvm_ms": 0,
                       "retained_mb": 0.0, "heap_mb": 1.0, "build_s": 0.04,
                       "plan_s": 0.0, "exec_s": 0.05}],
        }
        layers = metrics.per_pass_layers(raw)[1]
        self.assertAlmostEqual(layers["exec.job_busy_s"], 0.045)
        self.assertAlmostEqual(layers["exec.driver_idle_s"], 0.045)
        self.assertEqual(layers["build.jobs"], 2)
        self.assertEqual(layers["exec.jobs"], 3)
        self.assertAlmostEqual(layers["build.eager_job_share"], 2 / 3)


def _job(i, start, end):
    return {"id": i, "start": start, "end": end, "stages": 2, "stages_run": 1,
            "tasks": 1, "tasks_failed": 0, "run_ms": 5, "cpu_ns": 2000000,
            "gc_ms": 0, "fetch_wait_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "input": 0, "output": 0,
            "peak_mem": 0}


class SelfTime(unittest.TestCase):
    def test_duration_minus_covered_by_children(self):
        span = {"start": 0, "end": 10}
        kids = [{"start": 1, "end": 4}, {"start": 3, "end": 5}, {"start": 9, "end": 12}]
        self.assertEqual(metrics.self_time(span, kids), 5)

    def test_no_children(self):
        self.assertEqual(metrics.self_time({"start": 2, "end": 7}, []), 5)


class Fingerprint(unittest.TestCase):
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, -0.0, float("nan")],
                       "s": ["a", None, "c"], "l": [[1, 2], [], [3]]})

    def test_row_and_column_order_do_not_matter(self):
        shuffled = self.df.iloc[[2, 0, 1]][["s", "l", "v", "k"]]
        self.assertEqual(checks.fingerprint(self.df), checks.fingerprint(shuffled))

    def test_a_changed_value_changes_it(self):
        other = self.df.copy()
        other.loc[1, "s"] = "b"
        self.assertNotEqual(checks.fingerprint(self.df)["hash"],
                            checks.fingerprint(other)["hash"])

    def test_a_duplicated_row_changes_it(self):
        dup = pd.concat([self.df, self.df.iloc[[0]]])
        self.assertNotEqual(checks.fingerprint(self.df), checks.fingerprint(dup))

    def test_integers_never_match_floats(self):
        ints = pd.DataFrame({"x": [1, 2]})
        floats = pd.DataFrame({"x": [1.0, 2.0]})
        self.assertNotEqual(checks.fingerprint(ints), checks.fingerprint(floats))

    def test_timestamps_beyond_the_nanosecond_range(self):
        import duckdb
        sql = "SELECT TIMESTAMP '9999-12-31 00:00:00' AS t, 1 AS k"
        fp = checks.fingerprint(duckdb.connect().execute(sql).df())
        self.assertEqual(fp["kinds"], ["i", "t"])

    def test_integer_widths_and_negative_zero_match(self):
        a = pd.DataFrame({"x": pd.Series([1, 2], dtype="int32"), "y": [0.0, 1.0]})
        b = pd.DataFrame({"x": pd.Series([2, 1], dtype="int64"), "y": [1.0, -0.0]})
        self.assertEqual(checks.fingerprint(a), checks.fingerprint(b))


class CompareRule(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_improved_needs_wins_and_a_gap_beyond_the_spread(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "improved")

    def test_a_small_shift_inside_the_bound_is_no_worse(self):
        change = [x + 0.3 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "no worse")

    def test_worse_beyond_the_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "worse")

    def test_a_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [x * 1.02 for x in noisy]
        self.assertEqual(compare.verdict(noisy, change, "lower", 0.1)["verdict"],
                         "unresolved")

    def test_fewer_than_ten_pairs_never_improve(self):
        change = [x - 1.0 for x in self.parent[:5]]
        self.assertNotEqual(compare.verdict(self.parent[:5], change, "lower", 0.1)["verdict"],
                            "improved")


if __name__ == "__main__":
    unittest.main()
