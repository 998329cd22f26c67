"""Tests of the benchmark's own arithmetic on synthetic spans.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import unittest

import metrics


def trace(spans, jobs, stage_tasks=(), task_ms=0, tasks=0):
    return {
        "spans": [{"op": o, "layer": l, "start": a, "end": b} for o, l, a, b in spans],
        "jobs": [list(j) for j in jobs],
        "task_ms": [list(t) for t in stage_tasks],
        "telemetry": {"task_ms": task_ms, "tasks": tasks, "shuffle_write_bytes": 0,
                      "shuffle_read_bytes": 0, "spill_bytes": 0, "bytes_read": 0},
        "plan_ms": {"analysis": 1.0, "optimization": 2.0, "planning": 3.0, "executions": 1},
        "streaming": {"batches": 0, "batch_ms": 0.0},
    }


class UnionTest(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 10), (20, 30)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(metrics.union_length([(0, 100), (10, 20), (30, 40)]), 100)

    def test_touching_unsorted_and_empty(self):
        self.assertEqual(metrics.union_length([(10, 20), (0, 10)]), 20)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 10), (15, 30), (40, 50)], 5, 20), [(5, 10), (15, 20)])


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        # two overlapping children cover 40..70 of a 0..100 span
        self.assertEqual(metrics.self_time((0, 100), [(40, 60), (50, 70)]), 70)

    def test_children_outside_span_are_clipped(self):
        self.assertEqual(metrics.self_time((10, 20), [(0, 15), (18, 40)]), 3)


class RatioTest(unittest.TestCase):
    def test_parallel_eff(self):
        self.assertAlmostEqual(metrics.parallel_eff(8.0, 4.0, 4), 0.5)
        self.assertEqual(metrics.parallel_eff(1.0, 0.0, 4), 0.0)

    def test_skew_one_busy_task_of_four(self):
        self.assertAlmostEqual(metrics.skew([1450, 0, 0, 0]), 4.0)
        self.assertAlmostEqual(metrics.skew([5, 5, 5, 5]), 1.0)

    def test_geomean_counts_subsecond_values(self):
        self.assertAlmostEqual(metrics.geomean([0.1, 10.0]), 1.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0]), 4.0)

    def test_fail_ratio(self):
        self.assertEqual(metrics.fail_ratio(0, 27), 0.0)
        self.assertAlmostEqual(metrics.fail_ratio(3, 12), 0.25)
        self.assertEqual(metrics.fail_ratio(0, 0), 1.0)

    def test_quartile_spread(self):
        self.assertAlmostEqual(metrics.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


class TraceLayersTest(unittest.TestCase):
    def test_replication_op_splits_into_layers(self):
        # op 0..1000: parse 0..10, plan 10..60, write 60..1000 holding a
        # job 300..800; a second job 20..40 runs inside the plan span
        t = trace([("t", "op", 0, 1000), ("t", "cli.parse", 0, 10),
                   ("t", "core.plan", 10, 60), ("t", "core.write", 60, 1000)],
                  [(300, 800), (20, 40)], stage_tasks=[[500, 0, 0, 0], [10]],
                  task_ms=510, tasks=5)
        m, layers, acct = metrics.trace_layers(t, cores=4)
        self.assertAlmostEqual(m["op.build_s"], 0.060)
        self.assertAlmostEqual(m["op.action_s"], 0.940)
        self.assertAlmostEqual(m["op.action_jobs_s"], 0.500)
        self.assertAlmostEqual(m["op.action_driver_s"], 0.440)
        self.assertAlmostEqual(m["op.self_s"], 0.0)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.480)
        self.assertAlmostEqual(m["spark.parallel_eff"], 0.510 / (1.0 * 4))
        self.assertAlmostEqual(m["spark.stage_skew"], 4.0)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.stages"], 2)
        self.assertAlmostEqual(layers["core.plan"]["jobs"], 20)
        # layer self times, op glue and job time tile the op span
        self.assertAlmostEqual(acct["layer_self_s"] + acct["op_self_s"] + acct["job_s"],
                               m["trace.wall_s"])

    def test_op_glue_and_jobs_outside_layers(self):
        # a 100 ms query: build 10..30, action 40..90, a job 0..5 before the
        # build; glue is 0..10 minus the job, 30..40 and 90..100
        t = trace([("q", "op", 0, 100), ("q", "query.build", 10, 30),
                   ("q", "query.action", 40, 90)], [(0, 5), (50, 70)])
        m, _, acct = metrics.trace_layers(t, cores=2)
        self.assertAlmostEqual(m["op.self_s"], 0.025)
        self.assertAlmostEqual(acct["job_s"], 0.025)
        self.assertTrue(math.isclose(
            acct["layer_self_s"] + acct["op_self_s"] + acct["job_s"], 0.1))


if __name__ == "__main__":
    unittest.main()
