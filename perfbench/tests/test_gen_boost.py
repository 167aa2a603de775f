"""Determinism of the boost_fit_score input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_boost  # noqa: E402


class GenBoostTest(unittest.TestCase):
    ROWS = 5000

    def test_same_seed_same_digest(self):
        a = gen_boost.digest(gen_boost.make_table(7, self.ROWS))
        b = gen_boost.digest(gen_boost.make_table(7, self.ROWS))
        self.assertEqual(a, b)

    def test_other_seed_other_digest(self):
        a = gen_boost.digest(gen_boost.make_table(7, self.ROWS))
        b = gen_boost.digest(gen_boost.make_table(8, self.ROWS))
        self.assertNotEqual(a, b)

    def test_planted_signal_and_markers(self):
        t = gen_boost.make_table(7, self.ROWS).to_pandas()
        # f0 decides the labels, so the quality gates hold on any seed
        self.assertGreater(((t.f0 > 0) == (t.label == 1)).mean(), 0.9)
        self.assertGreater(t.y.corr(t.f0), 0.9)
        for j in gen_boost.NAN_FEATURES:
            share = t[f"f{j}"].isna().mean()
            self.assertTrue(0.05 < share < 0.15, share)
        self.assertAlmostEqual(t.is_test.mean(), 0.2, places=2)
        self.assertEqual(sorted(t.cls.unique()), [0, 1, 2, 3])


if __name__ == "__main__":
    unittest.main()
