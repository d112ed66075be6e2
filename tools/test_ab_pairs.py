#!/usr/bin/env python3
"""Unit tests of tools/ab_pairs.py's pair arithmetic.

Usage: python3 tools/test_ab_pairs.py   (or python3 -m unittest discover -s tools -p 'test_ab*.py')
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(ab_pairs.quartiles([1, 2, 3, 4, 5]), (2, 3, 4))
        self.assertEqual(ab_pairs.quartiles([4, 1, 3, 2]), (1.75, 2.5, 3.25))

    def test_single_value(self):
        self.assertEqual(ab_pairs.quartiles([7]), (7, 7, 7))


class WinsTest(unittest.TestCase):
    def test_lower_is_better_and_ties_count_for_neither(self):
        self.assertEqual(ab_pairs.wins([10, 10, 10], [9, 10, 11], "lower"), 1)

    def test_higher_is_better(self):
        self.assertEqual(ab_pairs.wins([10, 10, 10], [9, 10, 11], "higher"), 1)


class CompareTest(unittest.TestCase):
    def test_clear_latency_gain(self):
        parent = [170, 172, 168, 175, 171, 169, 180, 166, 173, 171]
        change = [136, 140, 133, 138, 135, 137, 139, 130, 136, 134]
        c = ab_pairs.compare(parent, change, "lower", 0.25, 10)
        self.assertEqual(c["wins"], 10)
        self.assertEqual(c["pairs"], 10)
        self.assertAlmostEqual(c["parent"][1], 171.0)
        self.assertAlmostEqual(c["change"][1], 136.0)
        self.assertAlmostEqual(c["parent_iqr"], 172.75 - 169.25)
        self.assertAlmostEqual(c["rel_change"], -35 / 171)
        self.assertTrue(c["gap_beyond_iqr"])
        self.assertFalse(c["beyond_bound"])

    def test_gap_inside_iqr_is_not_a_gain(self):
        c = ab_pairs.compare([10, 20, 30, 40], [9, 19, 29, 39], "lower", 0.25, 4)
        self.assertEqual(c["wins"], 4)
        self.assertFalse(c["gap_beyond_iqr"])

    def test_regression_beyond_bound(self):
        # Throughput (higher is better) falling by 30% crosses a 0.25 bound.
        c = ab_pairs.compare([10, 10, 10], [7, 7, 7], "higher", 0.25, 3)
        self.assertEqual(c["wins"], 0)
        self.assertTrue(c["beyond_bound"])
        self.assertAlmostEqual(c["rel_change"], -0.3)
        # Memory (lower is better) rising 5% stays inside a 0.10 bound.
        c = ab_pairs.compare([100, 100], [105, 105], "lower", 0.10, 2)
        self.assertFalse(c["beyond_bound"])


def run(latency, correct=True, failed=0):
    return {"correct": correct, "failed": failed,
            "metrics": {"latency_ms": {"value": latency}}}


class IncompletePairsTest(unittest.TestCase):
    METRICS = [{"name": "latency_ms", "better": "lower", "bound": 0.25}]

    def test_a_failed_run_counts_in_the_denominator_and_wins_nothing(self):
        pairs = [{"seed": s, "parent": run(100), "change": run(80)} for s in range(9)]
        pairs.append({"seed": 9, "parent": run(100), "change": {"error": "exit 1"}})
        [(name, _, c)] = ab_pairs.table(pairs, self.METRICS)
        self.assertEqual((c["wins"], c["pairs"]), (9, 10))
        self.assertEqual(c["change"][1], 80)
        self.assertEqual(ab_pairs.flags(pairs[9]), ["change run did not finish"])

    def test_flags_incorrect_change_and_more_failures(self):
        self.assertEqual(ab_pairs.flags({"parent": run(100), "change": run(80)}), [])
        self.assertEqual(
            ab_pairs.flags({"parent": run(100, failed=1),
                            "change": run(80, correct=False, failed=2)}),
            ["change not correct", "change failed 2 ops, parent 1"])
        # Fewer failures than the parent is no flag.
        self.assertEqual(
            ab_pairs.flags({"parent": run(100, failed=2), "change": run(80, failed=1)}), [])


class SeedsTest(unittest.TestCase):
    def test_ranges_and_lists(self):
        self.assertEqual(ab_pairs.parse_seeds("401-403,9"), [401, 402, 403, 9])


if __name__ == "__main__":
    unittest.main()
