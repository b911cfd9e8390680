"""Tests of the benchmark's own logic. Run from the repo root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import unittest

import layers
import modules
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
GRAFT_SRC = os.path.join(os.path.dirname(HERE), "src", "main", "scala", "graft")


class ReportingTest(unittest.TestCase):
    def test_median_tail_and_count(self):
        s = stats.summary([float(x) for x in range(1, 65)])
        self.assertEqual(s["n"], 64)
        self.assertEqual(s["p50"], 32.5)
        # p84 is the highest percentile with at least 10 of 64 samples above it
        self.assertEqual(s["tail_pct"], 84)
        self.assertEqual(s["tail"], 54.0)
        self.assertEqual(sum(1 for x in range(1, 65) if x > s["tail"]), 10)

    def test_too_few_samples_have_no_tail(self):
        s = stats.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["p50"], s["tail_pct"], s["tail"]), (3, 2.0, None, None))
        self.assertIsNone(stats.tail_level(20))
        self.assertEqual(stats.tail_level(21), 52)
        self.assertEqual(stats.tail_level(100), 90)
        self.assertEqual(stats.tail_level(1000), 99)

    def test_best_of_each_operation(self):
        ops = [{"name": n, "s": s} for n, s in
               [("a", 1.0), ("a", 0.8), ("b", 2.0), ("b", 2.5), ("c", 0.5), ("c", 0.4)]]
        self.assertAlmostEqual(stats.pass_best(ops), 0.8 + 2.0 + 0.4)
        self.assertAlmostEqual(stats.op_geomean(ops), (0.8 * 2.0 * 0.4) ** (1 / 3))
        batches = [{"name": "b0", "s": 1.0, "gold_s": 0.5}, {"name": "b0", "s": 0.9, "gold_s": 0.8}]
        self.assertAlmostEqual(stats.pass_best(batches), 1.5)

    def test_nearest_rank_percentile(self):
        xs = [10.0, 20.0, 30.0, 40.0]
        self.assertEqual(stats.percentile(xs, 0.25), 10.0)
        self.assertEqual(stats.percentile(xs, 0.5), 20.0)
        self.assertEqual(stats.percentile(xs, 0.51), 30.0)
        self.assertEqual(stats.percentile(xs, 1.0), 40.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class PairRuleTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_clear_gain(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(stats.pair_gain(self.parent, change), (True, 10, 10))

    def test_nine_of_ten_is_enough(self):
        change = [x - 1.0 for x in self.parent]
        change[3] = self.parent[3] + 0.5
        self.assertEqual(stats.pair_gain(self.parent, change), (True, 9, 10))

    def test_eight_of_ten_is_not(self):
        change = [x - 1.0 for x in self.parent]
        change[3] = self.parent[3] + 0.5
        change[5] = self.parent[5]  # a tie counts for neither side
        self.assertEqual(stats.pair_gain(self.parent, change), (False, 8, 10))

    def test_gap_must_exceed_parent_spread(self):
        # every pair wins, but by less than the parent's interquartile distance
        change = [x - 0.05 for x in self.parent]
        claimed, wins, _ = stats.pair_gain(self.parent, change)
        self.assertEqual(wins, 10)
        self.assertFalse(claimed)

    def test_higher_is_better(self):
        change = [x + 1.0 for x in self.parent]
        self.assertTrue(stats.pair_gain(self.parent, change, lower_is_better=False)[0])
        self.assertFalse(stats.pair_gain(self.parent, change)[0])

    def test_needs_pairs(self):
        with self.assertRaises(ValueError):
            stats.pair_gain([1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0])


class ModuleTableTest(unittest.TestCase):
    def test_every_library_file_maps_to_exactly_one_module(self):
        files = modules.library_files(GRAFT_SRC)
        self.assertGreater(len(files), 50)
        for rel in files:
            self.assertEqual(len(modules.rules_for(rel)), 1, rel)

    def test_file_names_resolve_call_sites_unambiguously(self):
        index = modules.file_index(GRAFT_SRC)
        self.assertEqual(len(index), len(modules.library_files(GRAFT_SRC)))

    def test_call_site_to_module(self):
        index = modules.file_index(GRAFT_SRC, ["Catalog.scala"])
        self.assertEqual(modules.module_of("parquet at VersionedTable.scala:106", index),
                         "sources")
        self.assertEqual(modules.module_of("start at StreamPipes.scala:56", index),
                         "streaming")
        self.assertEqual(modules.module_of("localCheckpoint at ScaleLint.scala:96", index),
                         "plans")
        self.assertEqual(modules.module_of("parquet at Tables.scala:24", index), "tables")
        self.assertEqual(modules.module_of("save at Catalog.scala:41", index),
                         modules.BENCHMARK)
        self.assertEqual(modules.module_of(
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", index),
            modules.SPARK)
        self.assertEqual(modules.module_of("", index), modules.SPARK)

    def test_overlapping_rules_are_rejected(self):
        saved = dict(modules.MODULES)
        try:
            modules.MODULES["extra"] = ["ext/Dedup.scala"]
            with self.assertRaises(ValueError):
                modules.file_index(GRAFT_SRC)
        finally:
            modules.MODULES.clear()
            modules.MODULES.update(saved)


class LayersTest(unittest.TestCase):
    def test_union_of_intervals(self):
        self.assertEqual(layers.union_us([]), 0)
        self.assertEqual(layers.union_us([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(layers.union_us([(0, 10), (2, 3)]), 10)

    def test_jobs_nest_under_the_innermost_span(self):
        spans = [dict(id=1, start=0, end=100), dict(id=2, start=10, end=50),
                 dict(id=3, start=60, end=90)]
        jobs = [dict(id=7, start=20), dict(id=8, start=55), dict(id=9, start=70),
                dict(id=10, start=200)]
        nested = layers.nest_jobs(spans, jobs)
        self.assertEqual({k: [j["id"] for j in v] for k, v in nested.items()},
                         {2: [7], 1: [8], 3: [9]})

    def test_build_jobs_stay_out_of_the_execution_layer(self):
        stage = dict(tasks=0, durations_ms=[], gc_ms=0, bytes_read=0, records_read=0,
                     bytes_written=0, shuffle_written=0, shuffle_read=0,
                     fetch_wait_ms=0, spilled=0)
        res = {
            # one query: op [0, 10 s] = build [0, 4 s] + exec [4 s, 10 s]
            "spans": [(1, 0, 1, "op", 0, 10_000_000), (2, 1, 1, "build", 0, 4_000_000),
                      (3, 1, 1, "exec", 4_000_000, 10_000_000)],
            # a barrier job in build, the sink's job in exec (ms)
            "jobs": [(1, 1000, 3000, "localCheckpoint at ScaleLint.scala:96", "", [1]),
                     (2, 5000, 9000, "save at Catalog.scala:41", "", [2])],
            "stages": [dict(stage, id=1, tasks=4, durations_ms=[2000] * 4, bytes_read=700),
                       dict(stage, id=2, tasks=2, durations_ms=[1000, 1000],
                            bytes_read=50, records_read=20)],
            "phases": [], "passes": [{"pass": 1, "s": 10.0, "traced": True}],
        }
        timed = [{"name": "q", "pass": 1, "s": 10.0, "rows": 5, "traced": True}]
        index = modules.file_index(GRAFT_SRC, ["Catalog.scala"])
        m = layers.per_layer(res, timed, index, cores=4)
        self.assertEqual((m["build_s"], m["build.jobs"], m["build.driver_s"]), (4.0, 1, 2.0))
        self.assertEqual((m["exec_s"], m["exec.driver_s"]), (6.0, 2.0))
        self.assertEqual((m["jobs"], m["stages"], m["tasks"]), (1, 1, 2))
        self.assertEqual(m["task_busy_s"], 2.0)
        self.assertAlmostEqual(m["core_util"], 2.0 / (6.0 * 4))
        self.assertEqual((m["scan.bytes_read"], m["scan.rows_per_row_out"]), (50, 4.0))
        self.assertEqual((m["plans.job_s"], m["benchmark.job_s"]), (2.0, 4.0))

    def test_streaming_jobs_attributed_by_output(self):
        index = modules.file_index(GRAFT_SRC)
        site = "start at StreamPipes.scala:56"
        self.assertEqual(layers.job_module(site, "file:/w/ingest/p1/silver/v3", index),
                         "sources")
        self.assertEqual(layers.job_module(site, "file:/w/ingest/p1/quarantine/batch=2",
                                           index), "silver")
        self.assertEqual(layers.job_module(site, "", index), "streaming")


if __name__ == "__main__":
    unittest.main()
