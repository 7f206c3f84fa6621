import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class MedianAndTail(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([0, 10], 50), 5)
        self.assertEqual(stats.percentile(list(range(101)), 90), 90)

    def test_tail_picks_highest_level_with_ten_beyond(self):
        xs = list(range(1000))
        value, level, beyond = stats.tail(xs)
        self.assertEqual((level, beyond), (99.0, 10))
        self.assertAlmostEqual(value, stats.percentile(xs, 99.0))
        self.assertEqual(stats.tail(list(range(200)))[1:], (95.0, 10))
        self.assertEqual(stats.tail(list(range(100)))[1:], (90.0, 10))
        self.assertEqual(stats.tail(list(range(30)))[1], 60.0)

    def test_tail_falls_back_to_median_on_few_samples(self):
        value, level, _ = stats.tail([5, 1, 9])
        self.assertEqual((value, level), (5, 50.0))


class SchedulerGap(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_gap_is_window_minus_union(self):
        self.assertEqual(stats.sched_gap((0, 10), [(1, 3), (2, 4), (6, 7)]), 6)

    def test_gap_clips_stages_to_window(self):
        self.assertEqual(stats.sched_gap((5, 10), [(0, 6), (9, 20)]), 3)
        self.assertEqual(stats.sched_gap((5, 10), [(0, 4)]), 5)


class SpanSelfTime(unittest.TestCase):
    SPANS = [
        # id, parent, name, layer, op, start, end
        (1, 0, "op.copy", "harness", 1, 0.0, 10.0),
        (2, 1, "sink.lake", "sinks", 1, 1.0, 5.0),
        (3, 2, "transform", "functions", 1, 1.5, 2.0),
        (4, 1, "sink.hot", "sinks", 1, 5.0, 9.0),
    ]

    def test_self_is_span_minus_children(self):
        own = stats.self_times(self.SPANS)
        self.assertEqual(own, {1: 2.0, 2: 3.5, 3: 0.5, 4: 4.0})

    def test_self_times_sum_to_root_wall(self):
        self.assertEqual(sum(stats.self_times(self.SPANS).values()), 10.0)

    def test_self_by_layer(self):
        self.assertEqual(stats.self_by_layer(self.SPANS),
                         {"harness": 2.0, "sinks": 7.5, "functions": 0.5})


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([2, 8]), 4.0)


if __name__ == "__main__":
    unittest.main()
