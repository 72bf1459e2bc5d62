"""Self-tests of the benchmark: the tail percentile rule, self time from
overlapping spans, and generator determinism.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertEqual(stats.tail(list(range(11))), (9, 0))

    def test_ten_samples_beyond(self):
        for n in (11, 12, 17, 24, 60, 100, 1000):
            xs = [float(i) for i in range(n)]
            p, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # the next percentile up would leave fewer than 10 beyond
            rank = -(-(p + 1) * n // 100)
            self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail(list(range(1, 61))), (83, 50))
        self.assertEqual(stats.tail([5.0, 1.0, 4.0, 2.0, 3.0] * 4), (50, 3.0))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [{"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
                 {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
                 {"id": 4, "parent": 1, "start": 8.0, "end": 9.0},
                 {"id": 5, "parent": 3, "start": 3.5, "end": 4.5}]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[5], 1.0)

    def test_children_clipped_to_parent(self):
        spans = [{"id": 1, "parent": 0, "start": 2.0, "end": 5.0},
                 {"id": 2, "parent": 1, "start": 0.0, "end": 3.0},
                 {"id": 3, "parent": 1, "start": 4.5, "end": 9.0}]
        self.assertAlmostEqual(stats.self_times(spans)[1], 1.5)

    def test_nested_and_identical_children(self):
        self.assertAlmostEqual(stats.covered([(1, 5), (2, 3), (1, 5)], 0, 10), 4.0)
        self.assertAlmostEqual(stats.covered([], 0, 10), 0.0)


class GeneratorDeterminism(unittest.TestCase):
    def generate_twice(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            gen.generate(workload, seed, a)
            gen.generate(workload, seed, b)
            files = sorted(os.path.relpath(os.path.join(r, f), a)
                           for r, _, fs in os.walk(a) for f in fs)
            self.assertTrue(files)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            c = os.path.join(d, "c")
            gen.generate(workload, seed + 1, c)
            _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            self.assertTrue(differ, "another seed gave identical inputs")

    def test_arrivals(self):
        self.generate_twice("etl_arrivals", 7)

    @mock.patch.object(gen, "CURATE_DOCS", 300)
    def test_corpus(self):
        self.generate_twice("curate_corpus", 7)

    def test_lake(self):
        self.generate_twice("lake_queries", 7)


if __name__ == "__main__":
    unittest.main()
