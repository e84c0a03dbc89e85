"""Tests for the benchmark's own arithmetic.

Run from the repository root:  python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (100.0 / 11, 0))

    def test_exactly_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        p, v = stats.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(p, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_p99_needs_a_thousand_samples(self):
        p, v = stats.tail(list(range(1, 1001)))
        self.assertEqual((p, v), (99.0, 990))


class ClosedLoopTest(unittest.TestCase):
    def test_failed_ops_count_as_attempted_not_completed(self):
        ops = [(0, 100, True), (100, 250, False), (250, 300, True), (0, 400, True)]
        r = stats.closed_loop(ops, wall_s=2.0)
        self.assertEqual(r["attempted"], 4)
        self.assertEqual(r["failed"], 1)
        self.assertEqual(r["failed_frac"], 0.25)
        self.assertEqual(r["ops_per_s"], 1.5)

    def test_empty_run(self):
        r = stats.closed_loop([], wall_s=0.0)
        self.assertEqual((r["attempted"], r["failed_frac"], r["ops_per_s"]), (0, 0.0, 0.0))


class AmplificationTest(unittest.TestCase):
    def test_write_amp_is_over_batch_input_bytes(self):
        self.assertEqual(stats.write_amp(bytes_written=5000, input_bytes=1000), 5.0)
        self.assertEqual(stats.write_amp(5000, 0), 0.0)

    def test_space_amp_is_over_the_compact_live_state(self):
        self.assertEqual(stats.space_amp(on_disk_bytes=3000, compact_bytes=1200), 2.5)
        self.assertEqual(stats.space_amp(3000, 0), 0.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1}

    def test_sequential_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 50, 90)]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 20, 3: 40})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60), self.span(3, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_grandchildren_do_not_reduce_the_root_twice(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 0, 40)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 10, 3: 40})


class WaitTest(unittest.TestCase):
    def test_wait_frac(self):
        self.assertEqual(stats.wait_frac(task_s=4.0, wall_s=2.0, cores=4), 0.5)
        self.assertEqual(stats.wait_frac(1.0, 0.0, 4), 0.0)


if __name__ == "__main__":
    unittest.main()
