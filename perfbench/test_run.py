"""Checks of the metric arithmetic in run.py.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import run


class StealTest(unittest.TestCase):
    def test_net_ms(self):
        self.assertAlmostEqual(run.net_ms({"ms": 200.0, "steal": 0.25}), 150.0)


class MixTest(unittest.TestCase):
    def test_geomean_weighs_types_by_their_share(self):
        # medians 10 and 1000; weights 3:1 -> 10^(3/4) * 1000^(1/4)
        by = {"k:a": [10.0, 9.0, 11.0], "k:b": [1000.0]}
        self.assertAlmostEqual(run.geomean(by, {"k:a": 3, "k:b": 1}), 10 ** 1.5)

    def test_pass_seconds_stands_in_for_types_without_samples(self):
        by = {"k:a": [1000.0], "k:b": [3000.0, 3000.0]}
        self.assertAlmostEqual(run.pass_seconds(by, {"k:a": 2, "k:b": 1}), 5.0)
        # k:c failed every time: the pass is scaled by total / covered weight
        self.assertAlmostEqual(run.pass_seconds(by, {"k:a": 2, "k:b": 1, "k:c": 1}), 5.0 * 4 / 3)

    def test_groups_keep_only_successful_timed_ops(self):
        ops = [{"kind": "k", "name": "a", "timed": True, "ok": True, "ms": 10.0, "steal": 0.0},
               {"kind": "k", "name": "a", "timed": False, "ok": True, "ms": 99.0, "steal": 0.0},
               {"kind": "k", "name": "a", "timed": True, "ok": False, "ms": 99.0, "steal": 0.0},
               {"kind": "j", "name": "b", "timed": True, "ok": True, "ms": 20.0, "steal": 0.5}]
        self.assertEqual(run.groups(ops, "k"), {"k:a": [10.0]})
        self.assertEqual(run.groups(ops), {"k:a": [10.0], "j:b": [10.0]})


class MixedQuantileTest(unittest.TestCase):
    def test_types_weigh_by_their_share_of_a_pass_not_their_sample_count(self):
        # a partial last pass left three samples of a, one of b; by count
        # the median would be a's 10, by share a and b weigh one half
        # each: the weighted midpoints are 1/12, 3/12, 5/12 (a) and 9/12
        # (b), so q=0.5 lies a quarter of the way from 10 to 30
        by = {"k:a": [10.0, 10.0, 10.0], "k:b": [30.0]}
        mix = {"k:a": 1, "k:b": 1}
        self.assertAlmostEqual(run.mixed_quantile(by, mix, 0.5), 15.0)
        self.assertEqual(run.mixed_quantile(by, mix, 0.0), 10.0)
        self.assertEqual(run.mixed_quantile(by, mix, 1.0), 30.0)

    def test_single_sample(self):
        self.assertEqual(run.mixed_quantile({"k:a": [7.0]}, {"k:a": 2}, 0.9), 7.0)


if __name__ == "__main__":
    unittest.main()
