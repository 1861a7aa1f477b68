"""Self-test of the benchmark's own arithmetic.

    python3 perfbench/test_stats.py
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_median_even_and_odd(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_tail_keeps_ten_samples_beyond(self):
        # 100 samples: p90 is the highest with ten samples beyond it
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        # 1000 samples: p99
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        # 26 samples: rank 16 is the highest with ten beyond
        q, v = stats.tail(list(range(1, 27)))
        self.assertEqual(v, 16)
        self.assertEqual(26 - math.ceil(q / 100 * 26), 10)
        # ten samples or fewer: the largest stands in
        self.assertEqual(stats.tail([5, 1, 3]), (100.0, 5))


class SpanTest(unittest.TestCase):
    def span(self, name, parent, a, b):
        return {"name": name, "parent": parent, "start": a, "end": b}

    def test_self_times_account_for_the_wall(self):
        spans = [self.span("op", "", 0, 100), self.span("build", "op", 0, 30),
                 self.span("execute", "op", 30, 100),
                 self.span("job", "", 5, 15), self.span("job", "", 40, 90)]
        got = dict((n, t) for n, t in stats.self_times(spans) if n != "job")
        self.assertEqual(got, {"op": 0, "build": 20, "execute": 20})
        self.assertEqual(sum(t for _, t in stats.self_times(spans)), 100)

    def test_overlapping_children_count_once(self):
        spans = [self.span("op", "", 0, 100), self.span("job", "", 10, 60),
                 self.span("job", "", 40, 80)]
        got = stats.self_times(spans)
        self.assertEqual(got[0], ("op", 30))

    def test_union_length_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(stats.union_length([(0, 10), (5, 20)], 8, 12), 4)


class OpenLoopTest(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # the generator wrote 40 ms late; the wait still counts
        events = [{"from": 1000.0, "emitted": 1300.0}]
        self.assertEqual(stats.due_latencies(events), [300.0])

    def test_generator_lag(self):
        writes = [{"due": 0.0, "at": 2.5}, {"due": 100.0, "at": 99.0}]
        self.assertEqual(stats.generator_lag(writes), [2.5, 0.0])


if __name__ == "__main__":
    unittest.main()
