"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class Averages(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_once(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(5, 15), (0, 10), (15, 16)]), 16)
        # empty and inverted intervals cover nothing
        self.assertEqual(stats.union_length([(3, 3), (9, 2)]), 0)

    def test_gap_is_window_minus_busy(self):
        self.assertEqual(stats.gap((0, 100), [(10, 20), (15, 30), (90, 120)]), 100 - 20 - 10)
        self.assertEqual(stats.gap((0, 100), []), 100)

    def test_self_time_subtracts_union_of_children(self):
        spans = {
            1: (0, 0, 100),     # root
            2: (1, 10, 40),     # child
            3: (1, 30, 60),     # overlapping child (another thread)
            4: (2, 15, 20),     # grandchild
            5: (1, 90, 130),    # child running past its parent: clipped
        }
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 40)


class FailureCounting(unittest.TestCase):
    def test_failures(self):
        self.assertEqual(stats.failures([]), (0, 0))
        self.assertEqual(stats.failures([True, False, True, False]), (4, 2))

    def test_records_count_failed_ops_in_window_only(self):
        lines = [
            "sample\tface.gr_recommend\t100\t200\t1",
            "sample\tface.f11_winsorize\t300\t900\t0",      # failed face
            "sample\tface.pr17_phik\t950\t990\t1",
            "sample\tface.gr_recommend\t2000\t2100\t0",    # after the window
            "sample\twarm.gr_recommend\t0\t50\t1",
        ]
        with tempfile.NamedTemporaryFile("w", suffix=".tsv", delete=False) as f:
            f.write("\n".join(lines) + "\n")
        try:
            rec = run.Records(f.name)
        finally:
            os.unlink(f.name)
        ops = rec.samples(run.op_series("faces_sweep"), (0, 1000))
        self.assertEqual(stats.failures(o[3] for o in ops), (3, 1))
        self.assertEqual(run.ms(ops), [0.0001, 0.0006, 0.00004])


if __name__ == "__main__":
    unittest.main()
