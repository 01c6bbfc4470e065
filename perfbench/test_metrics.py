"""Tests for the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
from run import unit_of  # noqa: E402


def span(i, parent, start, end, name="s", qid=""):
    return [i, parent, name, qid, start, end]


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(0, -1, 10.0, 25.0)]), {0: 15.0})

    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0.0, 100.0), span(1, 0, 10.0, 30.0),
                 span(2, 0, 50.0, 90.0), span(3, 1, 12.0, 20.0)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 40.0)  # 100 - 20 - 40
        self.assertEqual(st[1], 12.0)  # 20 - 8 (grandchildren are the child's)
        self.assertEqual(st[2], 40.0)
        self.assertEqual(st[3], 8.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 5.0), span(2, 0, 3.0, 7.0)]
        self.assertEqual(metrics.self_times(spans)[0], 4.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 8.0, 15.0)]
        self.assertEqual(metrics.self_times(spans)[0], 8.0)


class Medians(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)

    def test_empty_is_zero(self):
        self.assertEqual(metrics.median([]), 0.0)

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        # quantiles(n=4), exclusive method: q1 = 11.75, q3 = 17.25
        self.assertAlmostEqual(metrics.quartile_spread(xs), (17.25 - 11.75) / 14.5)

    def test_warm_pass_is_the_median_of_later_passes(self):
        raw = {"setup_s": 5.0, "passes": [
            {"kind": "cold", "wall_s": 9.0, "traced": False},
            {"kind": "warm", "wall_s": 3.0, "traced": False},
            {"kind": "warm", "wall_s": 7.0, "traced": False},
            {"kind": "warm", "wall_s": 4.0, "traced": False}]}
        self.assertEqual(metrics.end_to_end(raw),
                         {"setup_s": 5.0, "cold_pass_s": 9.0, "warm_pass_s": 4.0})


class WriteAmp(unittest.TestCase):
    def test_ratio_of_written_to_increment_bytes(self):
        self.assertEqual(metrics.write_amp(9000, 1000), 9.0)

    def test_no_increment_is_zero(self):
        self.assertEqual(metrics.write_amp(500, 0), 0.0)

    def test_lake_summary_takes_the_median_cycle(self):
        raw = {"passes": [
            {"kind": "cold", "traced": True, "persist_s": {"band": 2.0, "phash": 1.0}},
            {"kind": "warm", "traced": True, "cycle": "c00", "served_s": 3.0,
             "append_s": {"band": 0.5}},
            {"kind": "warm", "traced": False, "cycle": "c01", "served_s": 5.0,
             "append_s": {"band": 0.7}}],
            "written": [{"bytes": 300, "files": 3, "increment_bytes": 100},
                        {"bytes": 500, "files": 5, "increment_bytes": 100}],
            "buckets": {"t1": {"files": 64, "buckets": 32}, "t2": {"files": 8, "buckets": 8}}}
        s = metrics.lake_summary(raw)
        self.assertEqual(s["lake.persist_s"], 3.0)
        self.assertEqual(s["lake.persist_s.band"], 2.0)
        self.assertEqual(s["lake.append_s.band"], 0.6)
        self.assertEqual(s["lake.served_pass_s"], 4.0)
        self.assertEqual(s["lake.write_amp"], 4.0)
        self.assertEqual(s["lake.files_per_bucket"], 1.5)


class ResultCheck(unittest.TestCase):
    df = pd.DataFrame({"b": [1.0, 2.5], "a": ["x", "y"]})

    def test_same_result_passes(self):
        want = metrics.fingerprint(self.df)
        self.assertIsNone(metrics.check(metrics.fingerprint(self.df.copy()), want))

    def test_wrong_hash_is_rejected(self):
        want = metrics.fingerprint(self.df)
        bad = metrics.fingerprint(pd.DataFrame({"b": [1.0, 2.6], "a": ["x", "y"]}))
        self.assertEqual(bad["rows"], want["rows"])
        self.assertIn("hash", metrics.check(bad, want))
        self.assertIn("hash", metrics.check({"rows": 2, "hash": "0" * 64}, want))

    def test_row_order_matters(self):
        flipped = self.df.iloc[::-1].reset_index(drop=True)
        self.assertIsNotNone(metrics.check(metrics.fingerprint(flipped),
                                           metrics.fingerprint(self.df)))

    def test_wrong_row_count_is_rejected(self):
        self.assertIn("rows", metrics.check(metrics.fingerprint(self.df.head(1)),
                                            metrics.fingerprint(self.df)))

    def test_float_noise_past_12_digits_is_ignored(self):
        noisy = pd.DataFrame({"b": [1.0 + 1e-14, 2.5], "a": ["x", "y"]})
        self.assertIsNone(metrics.check(metrics.fingerprint(noisy),
                                        metrics.fingerprint(self.df)))

    def test_column_order_does_not_matter(self):
        self.assertIsNone(metrics.check(metrics.fingerprint(self.df[["a", "b"]]),
                                        metrics.fingerprint(self.df)))


class Units(unittest.TestCase):
    def test_units_follow_the_names(self):
        self.assertEqual(unit_of("setup_s"), "s")
        self.assertEqual(unit_of("lake.persist_s.band"), "s")
        self.assertEqual(unit_of("lake.signature_ms.after"), "ms")
        self.assertEqual(unit_of("exec.shuffle_read_mb"), "MB")
        self.assertEqual(unit_of("functions.graft_dot.rows_per_s"), "rows/s")
        self.assertEqual(unit_of("exec.parallelism"), "ratio")
        self.assertEqual(unit_of("exec.jobs"), "count")


class Dominant(unittest.TestCase):
    def test_largest_layer_wins(self):
        self.assertEqual(metrics.dominant_layer(
            {"construct": 1.0, "plan": 0.1, "execute": 2.0}), "execute")


if __name__ == "__main__":
    unittest.main()
