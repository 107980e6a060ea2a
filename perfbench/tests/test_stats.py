"""Self-tests of the benchmark's arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import layers  # noqa: E402
from stats import beyond, covered, median, percentile, self_time, union, union_length, valid_tail  # noqa: E402,E501


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(percentile(xs, 0.5), 50)
        self.assertEqual(percentile(xs, 0.75), 75)
        self.assertEqual(percentile(xs, 0.9), 90)
        self.assertEqual(percentile(xs, 0.99), 99)
        self.assertEqual(percentile([7.0], 0.99), 7.0)

    def test_ten_beyond_rule(self):
        self.assertEqual(beyond(100, 0.9), 10)
        self.assertTrue(valid_tail(100, 0.9))
        self.assertFalse(valid_tail(99, 0.9))
        self.assertTrue(valid_tail(40, 0.75))
        self.assertFalse(valid_tail(39, 0.75))
        self.assertTrue(valid_tail(1000, 0.99))
        self.assertFalse(valid_tail(999, 0.99))
        self.assertFalse(valid_tail(0, 0.5))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(union([(5, 6), (0, 2), (1, 3), (3, 4), (7, 7)]),
                         [(0, 4), (5, 6)])
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_the_covered_part_once(self):
        # children overlap each other and one sticks out past the span
        kids = [(2, 4), (3, 6), (8, 12)]
        self.assertEqual(covered((0, 10), kids), 6)
        self.assertEqual(self_time((0, 10), kids), 4)
        self.assertEqual(self_time((0, 10), []), 10)

    def test_overlap_ratio(self):
        # two jobs run side by side for half their length: sum 8, union 6
        jobs = [(0, 4), (2, 6)]
        self.assertEqual(sum(b - a for a, b in jobs) / union_length(jobs), 8 / 6)


class LayersTest(unittest.TestCase):
    def span(self, i, name, req, a, b, parent=0, **attrs):
        return dict(id=i, parent=parent, name=name, req=req, start_us=a, end_us=b, **attrs)

    def test_listener_spans_hang_under_the_innermost_span_of_their_request(self):
        spans = [self.span(1, "serving.jdbc", "req-1", 0, 100),
                 self.span(2, "serving.guard", "req-1", 0, 10, parent=1),
                 self.span(3, "exec.job", "req-1", 20, 60, module="serving.Thrift"),
                 self.span(4, "exec.job", "req-2", 30, 50, module="serving.Thrift")]
        kids = layers.link_children(spans)
        self.assertEqual(sorted(k["id"] for k in kids[1]), [2, 3])
        table = layers.span_table(spans)
        # 100 us minus guard (10) and job (40) = 50 us self
        self.assertAlmostEqual(table["serving.jdbc"][2], 0.05)

    def test_units_follow_names(self):
        self.assertEqual(layers.unit("exec.job_s.lake.Catalog"), "s")
        self.assertEqual(layers.unit("exec.mb_written"), "MB")
        self.assertEqual(layers.unit("serving.guard_ms"), "ms")
        self.assertEqual(layers.unit("par.overlap"), "ratio")
        self.assertEqual(layers.unit("lake.fs.rename"), "count")


if __name__ == "__main__":
    unittest.main()
