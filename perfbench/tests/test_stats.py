"""Tests of the benchmark's own helpers: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import Failures, spread, summarize  # noqa: E402
from oracle import expected_groups  # noqa: E402


class SummarizeTest(unittest.TestCase):
    def test_no_tail_below_eleven_samples(self):
        s = summarize([5, 1, 3])
        self.assertEqual(s, {"n": 3, "median": 3, "tail": None})
        self.assertIsNone(summarize(range(10))["tail"])

    def test_tail_leaves_ten_samples_beyond(self):
        s = summarize(range(1, 101))  # 1..100
        self.assertEqual(s["tail"], {"p": 90, "value": 90, "beyond": 10})
        s = summarize(range(1, 12))  # 1..11: p9 -> rank 1
        self.assertEqual(s["tail"], {"p": 9, "value": 1, "beyond": 10})

    def test_tail_for_odd_counts(self):
        for n in range(11, 400):
            t = summarize(range(n))["tail"]
            self.assertGreaterEqual(t["beyond"], 10)
            # one percentile higher would leave fewer than ten beyond
            p = t["p"] + 1
            self.assertLess(n - -(-p * n // 100), 10)

    def test_empty(self):
        self.assertEqual(summarize([]), {"n": 0, "median": None, "tail": None})

    def test_spread(self):
        self.assertAlmostEqual(spread([10] * 10), 0.0)
        self.assertGreater(spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


class FailuresTest(unittest.TestCase):
    def test_counts_every_failure(self):
        f = Failures()
        f.add(10, 1, ["x"])
        f.add(4, 2, ["y", "z"])
        self.assertEqual((f.attempted, f.failed), (14, 3))
        self.assertAlmostEqual(f.error_rate, 3 / 14)
        self.assertEqual(f.reasons, ["x", "y", "z"])

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            Failures().add(1, 2)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(Failures().error_rate, 1.0)


class GroupsOracleTest(unittest.TestCase):
    def test_exact_and_near_copies_group(self):
        a = "the key agg row scan slow fast table value part hash"
        b = a.replace("hash", "merge")  # 8 of 10 shingles shared: jaccard 0.67
        docs = {0: (a, "en", len(a)), 1: (a.upper(), "en", len(a)), 2: (b, "en", len(b)),
                3: ("a completely different document text here", "en", 41)}
        self.assertEqual(expected_groups(docs), {0: (0, 3), 1: (0, 3), 2: (0, 3)})


if __name__ == "__main__":
    unittest.main()
