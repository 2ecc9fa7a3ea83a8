"""The benchmark's own arithmetic on fixed inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402
import gen  # noqa: E402
from check import canon  # noqa: E402  (tools/check.py, on the path benchlib sets)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_sample_count(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(benchlib.percentile(xs, 50), (50, 100))
        self.assertEqual(benchlib.percentile(xs, 99), (99, 100))
        self.assertEqual(benchlib.percentile(xs, 100), (100, 100))

    def test_small_samples_round_up_the_rank(self):
        self.assertEqual(benchlib.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        # 99th of ten samples is the largest: ceil(9.9) = 10
        self.assertEqual(benchlib.percentile(range(10), 99), (9, 10))
        self.assertEqual(benchlib.percentile([7.5], 1), (7.5, 1))

    def test_empty(self):
        v, n = benchlib.percentile([], 50)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 0)

    def test_median(self):
        self.assertEqual(benchlib.median([4, 1, 3]), 3)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)


class DriverGapTest(unittest.TestCase):
    def test_overlapping_and_nested_jobs_count_once(self):
        jobs = [(10, 20), (15, 30), (16, 18), (40, 50)]
        self.assertEqual(benchlib.union_length(jobs), 30)
        self.assertEqual(benchlib.driver_gap(0, 100, jobs), 70)

    def test_jobs_clipped_to_the_window(self):
        jobs = [(-5, 5), (95, 120), (50, 60)]
        self.assertEqual(benchlib.union_length(jobs, 0, 100), 20)
        self.assertEqual(benchlib.driver_gap(0, 100, jobs), 80)

    def test_jobs_outside_the_window_and_touching_intervals(self):
        self.assertEqual(benchlib.driver_gap(0, 10, [(20, 30)]), 10)
        self.assertEqual(benchlib.union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(benchlib.driver_gap(0, 10, []), 10)


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25]})
        b = pd.DataFrame({"v": [1.25, 0.5], "k": [1, 2]})
        self.assertEqual(benchlib.digest(a), benchlib.digest(b))

    def test_floats_compare_at_six_places(self):
        a = pd.DataFrame({"v": [0.1 + 0.2]})
        b = pd.DataFrame({"v": [0.3]})
        c = pd.DataFrame({"v": [0.300001]})
        self.assertEqual(benchlib.digest(a), benchlib.digest(b))
        self.assertNotEqual(benchlib.digest(b), benchlib.digest(c))

    def test_nan_lists_and_column_names(self):
        a = pd.DataFrame({"v": [float("nan")], "xs": [[1.0000001, 2.0]]})
        b = pd.DataFrame({"v": [float("nan")], "xs": [(1.0, 2.0)]})
        self.assertEqual(benchlib.digest(a), benchlib.digest(b))
        renamed = pd.DataFrame({"w": [float("nan")], "xs": [(1.0, 2.0)]})
        self.assertNotEqual(benchlib.digest(b), benchlib.digest(renamed))

    def test_canon_matches_the_oracle_compare(self):
        df = pd.DataFrame({"b": [2.0000004, 1.0], "a": ["y", "x"]})
        c = canon(df)
        self.assertEqual(list(c.columns), ["a", "b"])
        self.assertEqual(c.astype(str).values.tolist(), [["x", "1.0"], ["y", "2.0"]])


class ComponentsTest(unittest.TestCase):
    def test_shingles(self):
        self.assertEqual(benchlib.shingles("  AB  cd "), {"ab cd"})
        self.assertEqual(benchlib.shingles("abc"), {"abc"})
        self.assertEqual(benchlib.shingles("abcdef"), {"abcde", "bcdef"})

    def test_near_duplicates_chain_into_one_cluster(self):
        base = "spark stream table window value join merge"
        docs = [(5, base), (9, base + " dup"), (7, "something else entirely here"),
                (12, base + " dup dup")]
        self.assertEqual(benchlib.components(docs), {5: 5, 9: 5, 7: 7, 12: 5})


class HostTest(unittest.TestCase):
    def test_steal_field(self):
        stat = "cpu  10 0 5 100 2 0 1 37 0 0\ncpu0 5 0 2 50 1 0 0 20 0 0\n"
        self.assertEqual(benchlib.read_steal_ticks(stat), 37)


class GenTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = gen.tables(7), gen.tables(7), gen.tables(8)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertEqual(a["lineitem"].num_rows, gen.SIZES["lineitem"])


if __name__ == "__main__":
    unittest.main()
