"""Statistics of tools/ab_pairs.py on canned benchmark records.

    python3 -m unittest discover -s tools/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True

import ab_pairs  # noqa: E402


def rec(wall, setup=20.0, correct=True, failed=0):
    return {"correct": correct, "attempted": 15000, "failed": failed,
            "metrics": {"wall_s": {"value": wall, "unit": "s"},
                        "setup_s": {"value": setup, "unit": "s"}}}


class SeedsAndRecords(unittest.TestCase):
    def test_seed_range(self):
        self.assertEqual(ab_pairs.parse_seeds("501-505"), [501, 502, 503, 504, 505])
        self.assertEqual(ab_pairs.parse_seeds("7"), [7])
        with self.assertRaises(ValueError):
            ab_pairs.parse_seeds("9-3")

    def test_last_json_line_is_the_record(self):
        out = "[perfbench] built\n" + json.dumps(rec(3.0)) + "\n"
        self.assertEqual(ab_pairs.last_record(out)["metrics"]["wall_s"]["value"], 3.0)
        self.assertIsNone(ab_pairs.last_record("no record here\n"))
        self.assertIsNone(ab_pairs.last_record(""))


class Quartiles(unittest.TestCase):
    def test_inclusive_interpolation(self):
        self.assertEqual(ab_pairs.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(ab_pairs.quartiles([1.0, 2.0, 3.0, 4.0]), (1.75, 2.5, 3.25))
        self.assertEqual(ab_pairs.quartiles([6.0]), (6.0, 6.0, 6.0))


class Rule(unittest.TestCase):
    def test_ten_wins_and_a_gap_past_the_parent_iqr_hold(self):
        parent = [6.0, 6.1, 6.2, 6.3, 6.4, 6.5, 6.6, 6.7, 6.8, 6.9]
        change = [3.0 + i / 10 for i in range(10)]
        s = ab_pairs.summarize([(rec(p), rec(c)) for p, c in zip(parent, change)], "wall_s")
        self.assertEqual(s["wins"], 10)
        self.assertAlmostEqual(s["parent"]["median"], 6.45)
        self.assertAlmostEqual(s["parent_iqr"], 0.45)
        self.assertAlmostEqual(s["median_gap"], 3.0)
        self.assertTrue(s["gain_holds"])

    def test_eight_of_ten_wins_do_not_hold(self):
        parent = [5.0] * 10
        change = [4.0] * 8 + [6.0, 6.0]
        s = ab_pairs.summarize([(rec(p), rec(c)) for p, c in zip(parent, change)], "wall_s")
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["gain_holds"])

    def test_ties_count_for_neither_side(self):
        s = ab_pairs.summarize([(rec(5.0), rec(5.0))] * 10, "wall_s")
        self.assertEqual(s["wins"], 0)
        self.assertFalse(s["gain_holds"])

    def test_a_gap_inside_the_parent_iqr_does_not_hold(self):
        # the change wins every pair, but by less than the parent's spread
        parent = [4.0, 4.5, 5.0, 5.5, 6.0, 4.0, 4.5, 5.0, 5.5, 6.0]
        change = [p - 0.1 for p in parent]
        s = ab_pairs.summarize([(rec(p), rec(c)) for p, c in zip(parent, change)], "wall_s")
        self.assertEqual(s["wins"], 10)
        self.assertLess(s["median_gap"], s["parent_iqr"])
        self.assertFalse(s["gain_holds"])

    def test_a_failed_run_wins_no_pair(self):
        pairs = [(rec(6.0), rec(3.0))] * 9 + [(rec(6.0), None)]
        s = ab_pairs.summarize(pairs, "wall_s")
        self.assertEqual(s["wins"], 9)
        self.assertEqual(s["change_failed_runs"], 1)
        self.assertTrue(s["gain_holds"])  # 9 of 10 is nine tenths
        pairs = [(None, rec(3.0))] + [(rec(6.0), rec(3.0))] * 9
        self.assertEqual(ab_pairs.summarize(pairs, "wall_s")["wins"], 10)

    def test_higher_is_better_flips_the_direction(self):
        pairs = [(rec(2.0), rec(3.0))] * 10
        self.assertTrue(ab_pairs.summarize(pairs, "wall_s", better="higher")["gain_holds"])
        self.assertFalse(ab_pairs.summarize(pairs, "wall_s")["gain_holds"])


if __name__ == "__main__":
    unittest.main()
