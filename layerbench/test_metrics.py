"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s layerbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


def ex(op, secs, ok=True, value=7, pass_=1):
    return {"op": op, "pass": pass_, "start_us": 0, "end_us": int(secs * 1e6),
            "ok": ok, "value": value}


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        vals = list(range(1, 101))  # n = 100
        # p99 leaves 1 beyond, p95 leaves 5, p90 leaves exactly 10
        self.assertEqual(M.tail(vals), (90.0, 90))

    def test_small_sample_falls_back(self):
        self.assertEqual(M.tail(list(range(1, 41)))[0], 75.0)
        self.assertEqual(M.tail(list(range(1, 21)))[0], 50.0)
        self.assertEqual(M.tail([3, 1, 2]), (None, 3))

    def test_failures_count_as_infinite(self):
        vals = [1.0] * 95 + [math.inf] * 11
        p, v = M.tail(vals)
        self.assertEqual(p, 90.0)
        self.assertTrue(math.isinf(v))
        ok = [1.0] * 95 + [2.0] * 11
        self.assertEqual(M.tail(ok), (90.0, 2.0))


class BestOfPassesTest(unittest.TestCase):
    def test_sum_of_per_op_minimum(self):
        execs = [ex("a", 1.0, pass_=1), ex("b", 2.0, pass_=1),
                 ex("a", 0.5, pass_=2), ex("b", 3.0, pass_=2)]
        self.assertAlmostEqual(M.best_of_passes(execs), 2.5)

    def test_failed_pass_is_skipped_but_all_failed_is_infinite(self):
        execs = [ex("a", 1.0), ex("a", 0.1, ok=False)]
        self.assertAlmostEqual(M.best_of_passes(execs), 1.0)
        self.assertTrue(math.isinf(M.best_of_passes([ex("a", 1.0, ok=False)])))


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        st = M.self_times({"p": (0, 10, None), "a": (1, 3, "p"), "b": (5, 9, "p")})
        self.assertEqual(st, {"p": 4.0, "a": 2.0, "b": 4.0})

    def test_overlapping_children_share_and_sum_to_wall(self):
        spans = {"p": (0, 10, None), "a": (1, 5, "p"), "b": (3, 7, "p")}
        st = M.self_times(spans)
        self.assertEqual(st, {"p": 4.0, "a": 3.0, "b": 3.0})
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_nested_overlap_and_clipping(self):
        spans = {"p": (0, 10, None), "a": (0, 6, "p"), "b": (4, 12, "p"),
                 "a1": (2, 5, "a")}
        st = M.self_times(spans)
        # b is clipped to 10; [4,6) is shared by a and b, and a hands
        # its half of [4,5) down to a1
        self.assertAlmostEqual(st["a1"], 2.0 + 0.5)
        self.assertAlmostEqual(st["a"], 2.0 + 0.5)
        self.assertAlmostEqual(st["b"], 1.0 + 4.0)
        self.assertAlmostEqual(st["p"], 0.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)


class DigestTest(unittest.TestCase):
    rows = [(1, "x", 2.5), (2, None, -0.0), (3, "z", float("nan"))]

    def test_row_and_column_order_do_not_matter(self):
        a = M.digest(["k", "s", "f"], self.rows)
        b = M.digest(["f", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(self.rows)])
        self.assertEqual(a, b)

    def test_value_changes_show(self):
        a = M.digest(["k", "s", "f"], self.rows)
        changed = [(1, "x", 2.5), (2, None, 0.0), (3, "y", float("nan"))]
        self.assertNotEqual(a, M.digest(["k", "s", "f"], changed))
        self.assertNotEqual(a, M.digest(["k", "s", "f"], self.rows + [self.rows[0]]))

    def test_force_value_counts_non_nulls(self):
        self.assertEqual(M.force_value(self.rows), 8)


class CheckRunsTest(unittest.TestCase):
    def test_wrong_digest_gives_positive_fail_ratio(self):
        execs = [ex("a", 1.0), ex("b", 1.0), ex("a", 1.0, pass_=2), ex("b", 1.0, pass_=2)]
        good = {"a": {"digest_ok": True, "value": 7}, "b": {"digest_ok": True, "value": 7}}
        self.assertEqual(M.check_runs(execs, good), (0, []))
        wrong = dict(good, b={"digest_ok": False, "value": 7})
        failed, bad = M.check_runs(execs, wrong)
        self.assertEqual(bad, ["b"])
        self.assertGreater(failed / len(execs), 0)

    def test_force_value_and_exceptions_fail(self):
        good = {"a": {"digest_ok": True, "value": 7}}
        self.assertEqual(M.check_runs([ex("a", 1.0, value=8)], good)[0], 1)
        self.assertEqual(M.check_runs([ex("a", 1.0, ok=False)], good)[0], 1)
        # no oracle: executions must agree with each other
        self.assertEqual(M.check_runs([ex("c", 1, value=3), ex("c", 1, value=4)], {})[0], 1)


class SpreadTest(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        s = M.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual(s["median"], 5.5)
        self.assertAlmostEqual(s["iqr_rel"], (8.25 - 2.75) / 5.5)
        self.assertAlmostEqual(s["range_rel"], 9 / 5.5)


if __name__ == "__main__":
    unittest.main()
