"""Unit tests of the benchmark's pure helpers.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def span(sid, start, end, parent=0, trace="t"):
    return {"trace": trace, "id": sid, "parent": parent, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(1, 0.0, 2.5)])[("t", 1)], 2.5)

    def test_children_are_subtracted(self):
        spans = [span(1, 0.0, 10.0), span(2, 1.0, 3.0, parent=1), span(3, 5.0, 6.0, parent=1)]
        self.assertAlmostEqual(stats.self_times(spans)[("t", 1)], 7.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0.0, 10.0), span(2, 1.0, 4.0, parent=1), span(3, 3.0, 5.0, parent=1)]
        self.assertAlmostEqual(stats.self_times(spans)[("t", 1)], 6.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 2.0, 4.0), span(2, 1.0, 3.0, parent=1)]
        self.assertAlmostEqual(stats.self_times(spans)[("t", 1)], 1.0)

    def test_grandchildren_do_not_count_against_the_root(self):
        spans = [span(1, 0.0, 10.0), span(2, 0.0, 4.0, parent=1), span(3, 1.0, 2.0, parent=2)]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[("t", 1)], 6.0)
        self.assertAlmostEqual(selfs[("t", 2)], 3.0)

    def test_ids_are_per_trace(self):
        spans = [span(1, 0.0, 4.0, trace="a"), span(1, 0.0, 9.0, trace="b"),
                 span(2, 0.0, 1.0, parent=1, trace="b")]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[("a", 1)], 4.0)
        self.assertAlmostEqual(selfs[("b", 1)], 8.0)


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_nested_and_touching(self):
        self.assertAlmostEqual(stats.union_length([(0, 1), (2, 3)]), 2.0)
        self.assertAlmostEqual(stats.union_length([(0, 5), (1, 2)]), 5.0)
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertEqual(stats.union_length([]), 0.0)


if __name__ == "__main__":
    unittest.main()
