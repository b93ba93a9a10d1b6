import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class Tail(unittest.TestCase):
    def test_highest_ladder_percentile_with_ten_beyond(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(xs), (990, 99.0, 1000))  # 10 beyond p99
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90.0, 100))
        self.assertEqual(metrics.tail(list(range(1, 201))), (190, 95.0, 200))

    def test_rank_needs_ten_samples_beyond(self):
        # n=999: p99 is rank 990 with only 9 beyond, so p95 is the tail
        self.assertEqual(metrics.tail(list(range(1, 1000)))[1], 95.0)
        self.assertEqual(metrics.tail(list(range(1, 41)))[1:], (75.0, 40))
        self.assertEqual(metrics.tail(list(range(1, 40)))[1:], (50.0, 39))
        self.assertEqual(metrics.tail(list(range(1, 21))), (10, 50.0, 20))

    def test_too_few_samples_gives_the_median_rank(self):
        self.assertEqual(metrics.tail([5.0, 1.0, 3.0]), (3.0, 50.0, 3))
        self.assertEqual(metrics.tail(list(range(1, 13))), (6, 50.0, 12))
        self.assertEqual(metrics.tail(list(range(19))), (9, 50.0, 19))

    def test_order_does_not_matter(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 5), (3, 7), (4, 6)]), 4)

    def test_nested_and_touching_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(2, 8), (3, 4), (8, 9)]), 3)

    def test_children_clipped_to_span(self):
        self.assertEqual(metrics.self_time((10, 20), [(5, 12), (18, 30), (40, 50)]), 6)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
