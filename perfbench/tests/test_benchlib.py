"""Self-tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_percentile(19))
        self.assertEqual(benchlib.tail_percentile(20), 50.0)
        self.assertEqual(benchlib.tail_percentile(39), 50.0)
        self.assertEqual(benchlib.tail_percentile(40), 75.0)
        self.assertEqual(benchlib.tail_percentile(100), 90.0)
        self.assertEqual(benchlib.tail_percentile(199), 90.0)
        self.assertEqual(benchlib.tail_percentile(200), 95.0)
        self.assertEqual(benchlib.tail_percentile(1000), 99.0)
        self.assertEqual(benchlib.tail_percentile(10000), 99.9)

    def test_rule_holds_on_the_samples(self):
        for n in range(20, 400):
            p = benchlib.tail_percentile(n)
            xs = list(range(n))
            v = benchlib.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_summary_reports_count_and_null_tail(self):
        s = benchlib.latency_summary([1.0, 2.0, 3.0])
        self.assertEqual((s["n"], s["p50"], s["tail_pct"], s["tail"]), (3, 2.0, None, None))
        s = benchlib.latency_summary([float(i) for i in range(1, 41)])
        self.assertEqual((s["tail_pct"], s["tail"]), (75.0, 30.0))


class SelfTime(unittest.TestCase):
    def test_span_minus_child_and_job_coverage(self):
        self.assertAlmostEqual(benchlib.self_time(0, 10, []), 10)
        self.assertAlmostEqual(benchlib.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_overlaps_count_once_and_are_clipped(self):
        self.assertAlmostEqual(benchlib.self_time(0, 10, [(1, 4), (2, 5), (4.5, 6)]), 5)
        self.assertAlmostEqual(benchlib.self_time(2, 8, [(0, 3), (7, 12)]), 4)
        self.assertAlmostEqual(benchlib.self_time(0, 10, [(11, 12)]), 10)
        self.assertAlmostEqual(benchlib.self_time(0, 10, [(-1, 11)]), 0)

    def test_per_layer_gap_and_attribution(self):
        rec = {
            "spans": [
                {"id": 1, "parent": 0, "name": "cycle", "layer": "unit", "phase": "traced",
                 "t0": 0.0, "t1": 10.0, "ok": True},
                {"id": 2, "parent": 1, "name": "write_state", "layer": "etl", "phase": "traced",
                 "t0": 1.0, "t1": 5.0, "ok": True},
                {"id": 3, "parent": 1, "name": "agg", "layer": "analytics", "phase": "traced",
                 "t0": 5.0, "t1": 9.0, "ok": False},
            ],
            "jobs": [
                {"id": 0, "span": 2, "group": "etl:write_state", "t0": 2.0, "t1": 4.0,
                 "stages": [0]},
                # no span id: attributed to the innermost span open at t0
                {"id": 1, "span": 0, "group": "", "t0": 6.0, "t1": 7.0, "stages": [1]},
            ],
            "stages": [
                {"id": 0, "tasks": 4, "run_s": 1, "cpu_s": 0.5, "gc_s": 0.1, "read_b": 1048576,
                 "written_b": 2097152, "shuffle_b": 0, "spill_b": 0, "max_task_s": 3.0,
                 "median_task_s": 1.0},
                {"id": 1, "tasks": 1, "run_s": 1, "cpu_s": 0.25, "gc_s": 0, "read_b": 0,
                 "written_b": 0, "shuffle_b": 0, "spill_b": 0, "max_task_s": 1.0,
                 "median_task_s": 1.0},
            ],
            "execs": [{"exec": 7, "plan_s": 0.2, "scan_rows": 100, "result_rows": 25,
                       "files": 3}],
            "exec_spans": {"7": 2},
        }
        lay = benchlib.per_layer(rec)
        etl, an = lay["etl"], lay["analytics"]
        self.assertEqual((etl["calls"], etl["failed"]), (1, 0))
        self.assertAlmostEqual(etl["busy_s"], 4.0)
        self.assertAlmostEqual(etl["gap_s"], 2.0)
        self.assertAlmostEqual(etl["job_s"], 2.0)
        self.assertAlmostEqual(etl["written_mb"], 2.0)
        self.assertEqual(etl["files_written"], 3)
        self.assertAlmostEqual(etl["skew"], 3.0)
        self.assertAlmostEqual(etl["rows_in_per_row_out"], 4.0)
        self.assertAlmostEqual(etl["plan_s"], 0.2)
        self.assertEqual((an["calls"], an["failed"]), (1, 1))
        self.assertAlmostEqual(an["gap_s"], 3.0)
        self.assertAlmostEqual(an["task_cpu_s"], 0.25)
        self.assertEqual(lay["llm"]["calls"], 0)


class CycleGrowth(unittest.TestCase):
    def test_last_third_over_cycles_two_to_one_plus_third(self):
        lat = [9.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 2.0]
        # third = 3: early = cycles 2..4, late = cycles 7..9
        self.assertAlmostEqual(benchlib.cycle_growth(lat), 2.0)

    def test_flat_history_reads_one(self):
        self.assertAlmostEqual(benchlib.cycle_growth([5.0] + [3.0] * 11), 1.0)

    def test_too_few_cycles(self):
        self.assertIsNone(benchlib.cycle_growth([1.0, 1.0]))
        self.assertAlmostEqual(benchlib.cycle_growth([1.0, 2.0, 3.0]), 1.5)


class KnobRefusal(unittest.TestCase):
    def test_tuning_knobs_refused(self):
        env = {"SPARK_GRAFT_WRITE_SPREAD": "8", "SPARK_GRAFT_STATE_PROVIDER": "hdfs",
               "SPARK_GRAFT_INDEX_BUCKETS": "4", "PATH": "/bin"}
        self.assertEqual(benchlib.refused_knobs(env), [
            "SPARK_GRAFT_INDEX_BUCKETS", "SPARK_GRAFT_STATE_PROVIDER",
            "SPARK_GRAFT_WRITE_SPREAD"])

    def test_cpus_and_sf_dir_allowed(self):
        env = {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_SF_DIR": "/x", "SPARK_DRIVER_MEM": "2g"}
        self.assertEqual(benchlib.refused_knobs(env), [])


class Spread(unittest.TestCase):
    def test_quartile_spread_matches_statistics_quantiles(self):
        self.assertAlmostEqual(benchlib.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


if __name__ == "__main__":
    unittest.main()
