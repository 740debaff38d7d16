"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import statistics
import unittest

import metrics


class GeomeanTest(unittest.TestCase):
    def test_known_values(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0, 4.0]), 4.0)

    def test_single_value_is_itself(self):
        self.assertAlmostEqual(metrics.geomean([0.37]), 0.37)

    def test_at_most_the_mean(self):
        xs = [0.3, 1.2, 7.5, 0.9]
        self.assertLessEqual(metrics.geomean(xs), sum(xs) / len(xs))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.geomean([])


class PercentileTest(unittest.TestCase):
    def test_median_of_odd_and_even_counts(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)

    def test_median_of_the_workloads_sample_counts(self):
        # 30 queries on bdb-power, 8 pipelines on ext-pipelines
        self.assertAlmostEqual(
            metrics.percentile([float(i) for i in range(30)], 50), 14.5)
        self.assertAlmostEqual(
            metrics.percentile([float(i) for i in range(8)], 50), 3.5)

    def test_matches_statistics_inclusive_quartiles(self):
        xs = [0.4, 1.9, 0.7, 3.3, 2.2, 0.1, 5.0, 1.1, 0.9, 2.8]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 25), q1)
        self.assertAlmostEqual(metrics.percentile(xs, 50), q2)
        self.assertAlmostEqual(metrics.percentile(xs, 75), q3)

    def test_extremes(self):
        xs = [5.0, 2.0, 9.0]
        self.assertEqual(metrics.percentile(xs, 0), 2.0)
        self.assertEqual(metrics.percentile(xs, 100), 9.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class DriverGapTest(unittest.TestCase):
    def test_no_stages_is_all_gap(self):
        self.assertEqual(metrics.driver_gap(0, 100, []), 100)

    def test_disjoint_stages(self):
        self.assertEqual(metrics.driver_gap(0, 100, [(10, 20), (50, 80)]), 60)

    def test_overlapping_stages_count_once(self):
        # [10,40] and [30,60] overlap: covered 10..60 = 50
        self.assertEqual(metrics.driver_gap(0, 100, [(30, 60), (10, 40)]), 50)

    def test_nested_stage_adds_nothing(self):
        self.assertEqual(metrics.driver_gap(0, 100, [(10, 90), (20, 30)]), 20)

    def test_stages_are_clipped_to_the_query(self):
        self.assertEqual(metrics.driver_gap(0, 100, [(-50, 10), (90, 200)]), 80)

    def test_stage_outside_the_query_is_ignored(self):
        self.assertEqual(metrics.driver_gap(0, 100, [(120, 130)]), 100)


class SelfTimeTest(unittest.TestCase):
    def test_synthetic_tree(self):
        spans = {
            "run": dict(t0=0, t1=100, parent=None),
            "q1": dict(t0=0, t1=60, parent="run"),
            "q2": dict(t0=70, t1=100, parent="run"),
            "build": dict(t0=0, t1=20, parent="q1"),
            "write": dict(t0=20, t1=60, parent="q1"),
            "j1": dict(t0=25, t1=45, parent="write"),
            "j2": dict(t0=40, t1=55, parent="write"),   # overlaps j1
            "s1": dict(t0=30, t1=40, parent="j1"),
        }
        got = metrics.self_times(spans)
        self.assertEqual(got["run"], 10)     # 60..70 has no query
        self.assertEqual(got["q1"], 0)       # build + write cover it
        self.assertEqual(got["q2"], 30)      # leaf
        self.assertEqual(got["build"], 20)
        self.assertEqual(got["write"], 10)   # 40 - union(25..55) = 40 - 30
        self.assertEqual(got["j1"], 10)
        self.assertEqual(got["j2"], 15)
        self.assertEqual(got["s1"], 10)

    def test_child_outside_parent_is_clipped(self):
        spans = {"p": dict(t0=0, t1=10, parent=None),
                 "c": dict(t0=5, t1=50, parent="p")}
        self.assertEqual(metrics.self_times(spans)["p"], 5)

    def test_self_times_sum_to_root_duration(self):
        spans = {"r": dict(t0=0, t1=100, parent=None),
                 "a": dict(t0=10, t1=50, parent="r"),
                 "b": dict(t0=60, t1=90, parent="r"),
                 "c": dict(t0=20, t1=30, parent="a")}
        self.assertTrue(math.isclose(
            sum(metrics.self_times(spans).values()), 100))


def _events():
    """A two-query traced run: the load, then q05 (ML class) and q01."""
    return [
        {"k": "load_start", "t": 1000.0},
        {"k": "job", "id": 0, "t0": 1010.0, "group": "load",
         "stages": [0]},
        {"k": "job_end", "id": 0, "t1": 1090.0},
        {"k": "stage", "id": 0, "attempt": 0, "t0": 1020.0,
         "t1": 1080.0, "tasks": 2, "run_ms": 50, "cpu_ms": 40.0, "gc_ms": 1,
         "task_delay_ms": 3, "shuffle_write": 0, "shuffle_read": 0,
         "fetch_wait_ms": 0, "spill": 0, "input": 500, "output": 300},
        {"k": "load_end", "t": 1100.0,
         "tables": [{"table": "store_sales", "s": 0.07, "dim": False},
                    {"table": "item", "s": 0.02, "dim": True}]},
        {"k": "setup_done", "t": 1100.0},
        {"k": "suite_start", "t": 1100.0},
        {"k": "job", "id": 1, "t0": 1150.0, "group": "0/q05",
         "stages": [1]},
        {"k": "job_end", "id": 1, "t1": 1180.0},
        {"k": "stage", "id": 1, "attempt": 0, "t0": 1155.0,
         "t1": 1175.0, "tasks": 4, "run_ms": 60, "cpu_ms": 30.0, "gc_ms": 2,
         "task_delay_ms": 5, "shuffle_write": 100, "shuffle_read": 100,
         "fetch_wait_ms": 1, "spill": 0, "input": 0, "output": 70},
        {"k": "plan", "func": "command", "path": "file:/o/results/q05",
         "t": 1170.0, "analysis_ms": 1.0, "optimization_ms": 2.0,
         "planning_ms": 3.0},
        # an eager action of the build, and a write of another query
        {"k": "plan", "func": "count", "path": None, "t": 1120.0,
         "analysis_ms": 9.0, "optimization_ms": 9.0, "planning_ms": 9.0},
        {"k": "plan", "func": "command", "path": "file:/o/results/q01",
         "t": 1170.0, "analysis_ms": 9.0, "optimization_ms": 9.0,
         "planning_ms": 9.0},
        {"k": "query", "group": "0/q05", "name": "q05", "pass": 0,
         "t0": 1100.0, "t_build": 1140.0, "t1": 1200.0, "ok": True,
         "error": None},
        # a job under a foreign group inside q01's span (a micro-batch)
        {"k": "job", "id": 2, "t0": 1250.0, "group": "stream-run",
         "stages": []},
        {"k": "job_end", "id": 2, "t1": 1260.0},
        {"k": "stream_batch", "id": "s", "batch": 0, "ms": 10, "t": 1260.0},
        {"k": "query", "group": "0/q01", "name": "q01", "pass": 0,
         "t0": 1200.0, "t_build": 1210.0, "t1": 1300.0, "ok": True,
         "error": None},
        {"k": "suite_end", "t": 1300.0, "passes": 1},
        {"k": "blocks", "peak_blocks": 3, "peak_bytes": 4096},
        {"k": "host", "cpus": 4, "heap_bytes": 1, "vm_hwm_kb": 2048},
    ]


class RunMetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        m = metrics.end_to_end(_events(), start_ms=0.0)
        self.assertAlmostEqual(m["setup_s"], 1.1)  # the load included
        self.assertAlmostEqual(m["suite_s"], 0.2)
        self.assertAlmostEqual(m["geomean_s"], 0.1)
        self.assertAlmostEqual(m["qph"], 2 / 0.2 * 3600)
        self.assertAlmostEqual(m["latency_p50_s"], 0.1)
        self.assertAlmostEqual(m["peak_rss_mb"], 2.0)

    def test_per_layer(self):
        m = metrics.per_layer(_events(), ["q01", "q05", "q30"])
        self.assertAlmostEqual(m["load_s"], 0.1)
        self.assertAlmostEqual(m["load.fact_s"], 0.07)
        self.assertAlmostEqual(m["load.dim_s"], 0.02)
        self.assertEqual(m["load.input_bytes"], 500)
        self.assertEqual(m["load.output_bytes"], 300)
        self.assertAlmostEqual(m["build_s"], 0.05)
        self.assertAlmostEqual(m["build_s.ml"], 0.04)
        self.assertEqual(m["plan.planning_ms"], 3.0)  # the write only
        self.assertEqual(m["sched.jobs"], 2)
        self.assertEqual(m["sched.stages"], 1)
        self.assertEqual(m["sched.tasks"], 4)
        # q05: 100 ms wall, stage covers 20; q01: 100 ms, no stage
        self.assertEqual(m["sched.driver_gap_ms"], 180)
        self.assertEqual(m["shuffle.write_bytes"], 100)
        self.assertEqual(m["sink.output_bytes"], 70)
        self.assertEqual(m["mat.rdd_bytes_peak"], 4096)
        self.assertEqual(m["stream.batches"], 1)
        self.assertEqual(m["stream.overhead_ms"], 90)
        self.assertAlmostEqual(m["class.ml_s"], 0.1)
        self.assertAlmostEqual(m["class.sql_s"], 0.1)
        self.assertEqual(m["jobs.q05"], 1)
        self.assertEqual(m["jobs.q01"], 1)  # the micro-batch job
        self.assertEqual(m["jobs.q30"], 0)
        self.assertEqual(m["self.stage_ms"], 80)

    def test_layer_split_parts_sum_to_query_wall(self):
        line = metrics.layer_split(metrics.per_layer(_events(), ["q01"]))
        # wall 0.2 s = planning 0.006 + gap 0.174 + in stages 0.02
        self.assertTrue(line.startswith(
            "of 0.2 s query wall: planning 0.0 s / scheduling gap 0.2 s / "
            "in stages 0.0 s"), line)


if __name__ == "__main__":
    unittest.main()
