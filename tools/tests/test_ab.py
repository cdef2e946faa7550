"""Tests of tools/ab.py's pure logic: run order, the wins rule, the bound verdict.

Run from the root of the checkout:  python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import ab  # noqa: E402


class Order(unittest.TestCase):
    def test_sides_alternate_parent_first(self):
        self.assertEqual([ab.order(i)[0] for i in range(4)],
                         ["parent", "change", "parent", "change"])
        for i in range(4):
            self.assertEqual(sorted(ab.order(i)), ["change", "parent"])

    def test_seed_ranges(self):
        self.assertEqual(ab.seeds_arg("71-74", 10), [71, 72, 73, 74])
        self.assertEqual(ab.seeds_arg(None, 3), [1, 2, 3])


class Gain(unittest.TestCase):
    PARENT = [900, 950, 920, 980, 940, 910, 960, 930, 970, 990]

    def test_nine_of_ten_wins_holds(self):
        change = [p - 300 for p in self.PARENT]
        change[3] = 1000  # one lost pair
        self.assertEqual(ab.wins(self.PARENT, change, "lower"), 9)
        self.assertTrue(ab.gain_holds(self.PARENT, change, "lower"))

    def test_eight_of_ten_wins_does_not(self):
        change = [p - 300 for p in self.PARENT]
        change[3] = change[5] = 1000
        self.assertEqual(ab.wins(self.PARENT, change, "lower"), 8)
        self.assertFalse(ab.gain_holds(self.PARENT, change, "lower"))

    def test_wins_inside_the_parent_spread_do_not(self):
        change = [p - 1 for p in self.PARENT]  # wins every pair, by less than q3 - q1
        self.assertEqual(ab.wins(self.PARENT, change, "lower"), 10)
        self.assertFalse(ab.gain_holds(self.PARENT, change, "lower"))

    def test_fewer_than_ten_pairs_never_hold(self):
        self.assertFalse(ab.gain_holds(self.PARENT[:9], [p - 300 for p in self.PARENT[:9]],
                                       "lower"))

    def test_ties_count_for_neither_side(self):
        change = [p - 300 for p in self.PARENT]
        change[0], change[1] = self.PARENT[0], self.PARENT[1]  # two ties
        self.assertEqual(ab.wins(self.PARENT, change, "lower"), 8)
        self.assertFalse(ab.gain_holds(self.PARENT, change, "lower"))

    def test_higher_is_better(self):
        parent = [1000.0] * 10
        self.assertTrue(ab.gain_holds(parent, [1100.0] * 10, "higher"))
        self.assertFalse(ab.gain_holds(parent, [900.0] * 10, "higher"))


class Verdict(unittest.TestCase):
    def test_regression_past_the_bound_is_worse(self):
        parent = [10.0, 10.1, 9.9, 10.0]
        self.assertEqual(ab.verdict(parent, [13.0, 13.1, 12.9, 13.0], "lower", 0.25), "worse")
        self.assertEqual(ab.verdict(parent, [7.0, 7.1, 6.9, 7.0], "higher", 0.25), "worse")

    def test_small_drift_is_within(self):
        parent = [10.0, 10.1, 9.9, 10.0]
        self.assertEqual(ab.verdict(parent, [10.5, 10.6, 10.4, 10.5], "lower", 0.25), "within")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 15.0, 5.0, 15.0]
        self.assertEqual(ab.verdict(parent, [10.0, 10.0, 10.0, 10.0], "lower", 0.25),
                         "unresolved")

    def test_separated_runs_are_within_however_wide_the_spread(self):
        parent = [5.0, 15.0, 5.0, 15.0]
        self.assertEqual(ab.verdict(parent, [4.0, 1.0, 4.5, 2.0], "lower", 0.25), "within")
        self.assertEqual(ab.verdict(parent, [16.0, 30.0, 17.0, 40.0], "higher", 0.25),
                         "within")
        # One change run inside the parent's range: the runs overlap.
        self.assertEqual(ab.verdict(parent, [4.0, 1.0, 6.0, 2.0], "lower", 0.25),
                         "unresolved")

    def test_report_names_the_worse_metric(self):
        def res(v):
            return {"metrics": {"pass_s": {"value": v}, "peak_rss_mb": {"value": 100.0}}}
        runs = [{"seed": s, "first": ab.order(i)[0], "parent": res(10.0), "change": res(14.0)}
                for i, s in enumerate(range(3))]
        contract = {"pass_s": ("lower", 0.25), "peak_rss_mb": ("lower", 0.2)}
        import contextlib
        import io
        with contextlib.redirect_stdout(io.StringIO()):
            self.assertEqual(ab.report(runs, contract), ["pass_s"])


if __name__ == "__main__":
    unittest.main()
