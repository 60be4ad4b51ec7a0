"""Tests of perfbench's analysis code on synthetic traces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analysis  # noqa: E402


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, n = analysis.tail(xs)
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_odd_count_and_order_insensitive(self):
        xs = [float(x) for x in range(37, 0, -1)]  # 37 samples, reversed
        v, p, n = analysis.tail(xs)
        self.assertEqual(v, 27.0)
        self.assertAlmostEqual(p, 100 * 27 / 37)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_twenty_is_the_smallest_count_with_a_percentile(self):
        self.assertEqual(analysis.tail(range(20)), (9, 50.0, 20))

    def test_fewer_than_twenty_samples_fall_back_to_max(self):
        self.assertEqual(analysis.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(analysis.tail(range(19)), (18, 100.0, 19))
        self.assertEqual(analysis.tail([]), (0.0, 100.0, 0))


class OpMediansTest(unittest.TestCase):
    def test_one_latency_per_operation(self):
        samples = [("q1", 1.0), ("q2", 5.0), ("q1", 3.0), ("q2", 4.0),
                   ("q1", 2.0), ("q3", 7.0)]
        self.assertEqual(analysis.op_medians(samples), [2.0, 4.5, 7.0])

    def test_one_slow_pass_does_not_reach_the_tail(self):
        samples = [(f"q{i}", 1.0) for i in range(20) for _ in range(3)]
        samples[0] = ("q0", 9.0)
        self.assertEqual(analysis.tail(analysis.op_medians(samples))[0], 1.0)


class SelfTimeTest(unittest.TestCase):
    # pass 1 [0,90) > op 2 [0,90) > build 3 [0,40), exec 4 [40,90).
    # Times in ms.
    SPANS = {1: (0, "pass:0", 0, 90), 2: (1, "op:q1", 0, 90),
             3: (2, "build", 0, 40), 4: (2, "exec", 40, 90)}

    def test_nested_spans_without_jobs(self):
        out = analysis.self_times(self.SPANS, {}, [], [1])
        self.assertAlmostEqual(out["queries.build"], 0.040)
        self.assertAlmostEqual(out["exec.driver"], 0.050)
        self.assertAlmostEqual(out["bench"], 0.0)
        self.assertAlmostEqual(sum(out.values()), 0.090)

    def test_jobs_and_overlapping_tasks(self):
        # job 7 in build [10,30) with tasks [12,20) and [15,25): busy
        # [12,25) = 13 ms, idle 7 ms; job 8 in exec [50,80) with one task
        # [55,75).
        jobs = {7: (3, 10, 30), 8: (4, 50, 80)}
        tasks = [(7, 12, 20), (7, 15, 25), (8, 55, 75)]
        out = analysis.self_times(self.SPANS, jobs, tasks, [1])
        self.assertAlmostEqual(out["exec.tasks"], 0.013 + 0.020)
        self.assertAlmostEqual(out["sched"], 0.007 + 0.010)
        self.assertAlmostEqual(out["queries.build"], 0.020)
        self.assertAlmostEqual(out["exec.driver"], 0.020)
        self.assertAlmostEqual(sum(out.values()), 0.090)

    def test_concurrent_jobs_are_not_double_counted(self):
        spans = {1: (0, "pass:0", 0, 50), 2: (1, "exec", 0, 50)}
        jobs = {1: (2, 0, 30), 2: (2, 10, 40)}
        tasks = [(1, 0, 20), (2, 15, 35)]
        out = analysis.self_times(spans, jobs, tasks, [1])
        self.assertAlmostEqual(out["exec.tasks"], 0.035)
        self.assertAlmostEqual(out["sched"], 0.005)
        self.assertAlmostEqual(out["exec.driver"], 0.010)
        self.assertAlmostEqual(sum(out.values()), 0.050)

    def test_union_length(self):
        self.assertEqual(analysis.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(analysis.union_length([]), 0)


class ModuleTest(unittest.TestCase):
    def test_first_product_frame_names_the_module(self):
        details = ("count at LdaEm.scala:88\n"
                   "graft.topic.LdaEm$.fit(LdaEm.scala:88)\n"
                   "graft.queries.MlQueries$.$anonfun$defs$3(MlQueries.scala:40)\n"
                   "perfbench.Harness$.main(Harness.scala:280)")
        self.assertEqual(analysis.module_of(details), "topic")

    def test_harness_and_top_level_entry_points_are_bench(self):
        self.assertEqual(analysis.module_of(
            "save at Harness.scala:290\n"
            "perfbench.Harness$.$anonfun$main$9(Harness.scala:290)"), "bench")
        self.assertEqual(analysis.module_of(
            "count at Bench.scala:20\ngraft.Bench$.main(Bench.scala:20)"), "bench")

    def test_falls_back_to_the_sql_execution_details(self):
        self.assertEqual(analysis.module_of(
            "run at ThreadPoolExecutor.java:1136",
            "localCheckpoint at Pipelines.scala:272\n"
            "graft.pipeline.Pipelines$.ingestBatch(Pipelines.scala:272)"),
            "pipeline")

    def test_no_user_frame_is_spark(self):
        self.assertEqual(analysis.module_of("run at ThreadPoolExecutor.java:1136",
                                            None), "spark")

    def test_harness_started_jobs_go_to_the_operation_module(self):
        # the noop write of a lazy plan: only harness frames
        write = ("save at Harness.scala:290\n"
                 "perfbench.Harness$.$anonfun$main$9(Harness.scala:290)")
        self.assertEqual(analysis.module_of(write, op_module="topic"), "topic")
        self.assertEqual(analysis.module_of("run at ThreadPoolExecutor.java:1136",
                                            None, op_module="ops"), "ops")
        # an eager job inside the build keeps its own call site
        eager = ("count at Tables.scala:27\n"
                 "graft.io.Tables$.table(Tables.scala:27)\n" + write)
        self.assertEqual(analysis.module_of(eager, op_module="topic"), "io")

    def test_enclosing_operation_of_a_job_span(self):
        spans = {1: (0, "pass:0", 0, 100), 2: (1, "op:q194_lda", 0, 100),
                 3: (2, "exec", 40, 90)}
        self.assertEqual(analysis.enclosing(spans, 3, "op:"), "q194_lda")
        self.assertEqual(analysis.enclosing(spans, 1, "op:"), None)
        self.assertEqual(analysis.enclosing(spans, 0, "op:"), None)

    def test_every_product_module_maps_to_itself(self):
        for m in analysis.MODULES:
            if m != "bench":
                self.assertEqual(analysis.module_of(f"graft.{m}.X$.f(X.scala:1)"), m)


if __name__ == "__main__":
    unittest.main()
