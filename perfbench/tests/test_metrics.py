"""Unit tests of the benchmark's reductions.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, p, n = metrics.tail(xs)
        # the 90th smallest leaves exactly ten samples beyond it
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        v, p, n = metrics.tail(xs)
        self.assertEqual(n, 25)
        self.assertAlmostEqual(p, 60.0)
        self.assertEqual(v, sorted(xs)[14])
        self.assertGreaterEqual(sum(1 for x in xs if x >= v) - 1, 10)

    def test_eleven_samples_is_the_minimum(self):
        v, p, n = metrics.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(p, 100.0 / 11)

    def test_ten_or_fewer_fall_back_to_max(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([7.0] * 10), (7.0, 100.0, 10))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start": s, "end": e, "name": f"s{i}"}

    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_covered_clips_to_the_span(self):
        self.assertEqual(metrics.covered(10, 20, [(0, 12), (18, 30)]), 4)
        self.assertEqual(metrics.covered(10, 20, [(0, 5), (25, 30)]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),   # overlaps span 2
                 self.span(4, 2, 15, 20),   # grandchild: not a child of 1
                 self.span(5, 0, 50, 70)]   # sibling, not a child
        self.assertEqual(metrics.self_time(spans[0], spans), 100 - 50)
        self.assertEqual(metrics.self_time(spans[1], spans), 30 - 5)
        self.assertEqual(metrics.self_time(spans[2], spans), 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 50)]
        self.assertEqual(metrics.self_time(spans[0], spans), 5)

    def test_self_times_sum_by_name(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 0, 4)]
        spans[1]["name"] = "s1"
        self.assertEqual(metrics.span_self_times(spans), {"s1": 6 + 4})


class Reductions(unittest.TestCase):
    def raw(self):
        it = lambda i, s, e: {"id": i, "start": s, "end": e, "units": 100,
                              "input_bytes": 1000, "driver_written_bytes": 500,
                              "codegen_ns": 0, "ok": True}
        job = lambda s, e, layer, busy: {
            "start": s, "end": e, "layer": layer, "stages": 2,
            "single_task_stages": 1, "tasks": 5, "failed_tasks": 0,
            "busy_ms": busy, "cpu_ns": 0, "wait_ms": 0, "gc_ms": 0,
            "input_bytes": 2000, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 100, "output_bytes": 400, "spill_bytes": 0}
        return {
            "cores": 4, "setup_s": [3.0, 1.0, 2.0], "peak_heap_mb": 10.0,
            "iters": [it(1, 0, 1000), it(2, 2000, 4000)],
            "checks": [{"name": "a", "ok": True}, {"name": "b", "ok": False}],
            "jobs": [job(100, 300, "io", 400), job(2100, 2500, "operators", 800),
                     job(1500, 1600, "io", 9999)],  # between iterations
            "catalyst": [[10, 20], [1500, 99]], "extra": {}}

    def test_end_to_end(self):
        m, notes = metrics.end_to_end(self.raw())
        self.assertEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["throughput_rows_per_s"], 200 / 3.0)
        self.assertEqual(m["tick_p50_s"], 1.5)
        self.assertEqual(m["tick_tail_s"], 2.0)
        self.assertEqual(m["ok_share"], 0.75)
        self.assertEqual(notes["failed_share"], 0.25)
        # (2 jobs x 500 bytes written + 2 x 500 by the driver) / 2000 input
        self.assertEqual(m["write_amp"], 1.0)

    def test_per_layer_ignores_jobs_outside_iterations(self):
        pl = metrics.per_layer(self.raw())
        self.assertEqual(pl["io.jobs"], 0.5)
        self.assertEqual(pl["io.busy_s"], 0.2)
        self.assertEqual(pl["io.wall_s"], 0.1)
        # iteration 1 lasts 1000 ms, io jobs cover 200 ms of it
        self.assertEqual(pl["io.driver_s"], 0.4)
        self.assertEqual(pl["profile.jobs"], 0.0)
        self.assertAlmostEqual(pl["pipeline.core_util"], 1.2 / (3.0 * 4))
        self.assertEqual(pl["catalyst.queries"], 0.5)
        self.assertEqual(pl["io.scan_amp"], 2.0)
        self.assertEqual(set(pl), {n for n, _, _ in metrics.per_layer_names()})


if __name__ == "__main__":
    unittest.main()
