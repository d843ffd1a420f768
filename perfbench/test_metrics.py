"""Unit checks for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import metrics as M

# Call sites as Spark records them (StageInfo.details): the frames from
# the first non-Spark frame down, one per line. All but the catalog-query
# ones were recorded from traced runs of the two workloads.
MAIN_GATE = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)
graft.ops.Relational$.assertQualityAll(Relational.scala:269)
graft.Pipeline$.run(Pipeline.scala:84)
perfbench.Run.$anonfun$lake$2(Runner.scala:153)
graft.Pipeline$.backfill(Pipeline.scala:175)"""

# Jobs submitted from `Pipeline.run`'s Future threads: the stack bottoms
# out in the pool, not in main. The lake export's first program frame is
# the lake writer; the serving future's is the serving sink.
FUTURE_EXPORT = """org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)
graft.io.LakeZones$.writePartitioned(LakeZones.scala:37)
graft.io.LakeZones$.$anonfun$exportAll$3(LakeZones.scala:252)
scala.util.Try$.apply(Try.scala:217)
graft.io.LakeZones$.$anonfun$exportAll$2(LakeZones.scala:252)
scala.concurrent.Future$.$anonfun$apply$1(Future.scala:691)
scala.concurrent.impl.Promise$Transformation.run(Promise.scala:500)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
java.base/java.util.concurrent.ThreadPoolExecutor$Worker.run(ThreadPoolExecutor.java:635)
java.base/java.lang.Thread.run(Thread.java:840)"""

FUTURE_SERVING = """org.apache.spark.sql.DataFrameWriter.text(DataFrameWriter.scala:409)
graft.io.ServingSink$.writeBulk(ServingSink.scala:140)
graft.Pipeline$.$anonfun$run$2(Pipeline.scala:115)
scala.concurrent.Future$.$anonfun$apply$1(Future.scala:691)
scala.concurrent.impl.Promise$Transformation.run(Promise.scala:500)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
java.base/java.util.concurrent.ThreadPoolExecutor$Worker.run(ThreadPoolExecutor.java:635)
java.base/java.lang.Thread.run(Thread.java:840)"""

# `CurateIncremental`'s concurrent index group: each append runs on a pool
# thread. Through the bucketed-table helper (not a layer) it lands on the
# module that owns the state; the exact-join index append lands on
# `ops.ExactJoinState`, its first layer frame.
INDEX_APPEND = """org.apache.spark.sql.classic.DataFrameWriter.saveAsTable(DataFrameWriter.scala:432)
graft.ops.BucketedTables$.appendBucketed(BucketedTables.scala:122)
graft.ops.CurateIncremental$.$anonfun$appendStateHooked$14(CurateIncremental.scala:357)
scala.runtime.java8.JFunction0$mcV$sp.apply(JFunction0$mcV$sp.scala:18)
scala.util.Try$.apply(Try.scala:217)
graft.ops.CurateIncremental$.$anonfun$runAllConcurrently$3(CurateIncremental.scala:389)
scala.concurrent.Future$.$anonfun$apply$1(Future.scala:691)
scala.concurrent.impl.Promise$Transformation.run(Promise.scala:500)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
java.base/java.lang.Thread.run(Thread.java:840)"""

EXACT_INDEX_APPEND = """org.apache.spark.sql.classic.Dataset.rdd(Dataset.scala:1612)
graft.ops.ExactJoinState$.appendHooked(ExactJoinState.scala:242)
graft.ops.ExactJoinState$.append(ExactJoinState.scala:210)
graft.ops.CurateIncremental$.$anonfun$appendStateHooked$8(CurateIncremental.scala:347)
scala.runtime.java8.JFunction0$mcV$sp.apply(JFunction0$mcV$sp.scala:18)
scala.util.Try$.apply(Try.scala:217)
graft.ops.CurateIncremental$.$anonfun$runAllConcurrently$3(CurateIncremental.scala:389)
scala.concurrent.Future$.$anonfun$apply$1(Future.scala:691)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
java.base/java.lang.Thread.run(Thread.java:840)"""

# An eager cut inside a kernel is the cut's own job.
KERNEL_CUT = """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
graft.ops.Lineage$.cut(Lineage.scala:64)
graft.ops.Lineage$.cut(Lineage.scala:54)
graft.ops.Dedup$.exactJaccardPairs(Dedup.scala:855)
graft.ops.ExactJoinState$.probe(ExactJoinState.scala:155)
graft.ops.CurateIncremental$.curateDelta(CurateIncremental.scala:1183)
graft.ops.CurateIncremental$.daily(CurateIncremental.scala:718)
perfbench.Run.daily$1(Runner.scala:224)"""

# AQE materializes shuffle stages from its own pool: no program frame.
AQE_STAGE = """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)"""

# Lazy modules are skipped: a schema-inference job under the testdata
# loader lands on the catalog builder that called it.
LAZY_SOURCE = """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:100)
graft.sources.Testdata$.table(Testdata.scala:30)
graft.queries.LlmQueries$.$anonfun$queries$7(LlmQueries.scala:283)
perfbench.Run.exec$1(Runner.scala:250)"""

NOOP_WRITE = """org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:120)
perfbench.Run.$anonfun$queries$4(Runner.scala:262)
perfbench.Run.queries(Runner.scala:261)
perfbench.Runner$.main(Runner.scala:53)"""


class Statistics(unittest.TestCase):
    def test_tail_needs_ten_beyond(self):
        self.assertIsNone(M.tail(list(range(10))))
        p, v = M.tail([float(i) for i in range(1, 101)])
        self.assertEqual(p, 90.0)
        self.assertEqual(v, 90.0)  # exactly ten samples (91..100) above it

    def test_tail_percentile_tracks_sample_count(self):
        p, v = M.tail([float(i) for i in range(20)])
        self.assertEqual(p, 50.0)
        self.assertEqual(v, 9.0)

    def test_geomean(self):
        self.assertAlmostEqual(M.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(M.geomean([2.0, 2.0, 2.0]), 2.0)
        with self.assertRaises(ValueError):
            M.geomean([1.0, 0.0])

    def test_geomean_credits_short_queries_the_sum_hides(self):
        before = [0.2, 10.0]
        after = [0.1, 10.0]
        self.assertLess(sum(before) - sum(after), 0.011 * sum(before))
        self.assertAlmostEqual(M.geomean(after) / M.geomean(before), math.sqrt(0.5))

    def test_median(self):
        self.assertEqual(M.median([3.0, 1.0, 2.0]), 2.0)


class DefectExposure(unittest.TestCase):
    def test_counts_aliases_of_dropped_bootstrap_docs_only(self):
        aliases = [[[1000060, 7], [1000061, 8], [1000062, 1000003]], [[2000060, 9]]]
        # 7 and 9 were dropped, 8 survived; 1000003 is a delta doc
        self.assertEqual(M.aliases_of_dropped(aliases, [8, 1000060], n_boot=300), 2)
        self.assertEqual(M.aliases_of_dropped(aliases[:1], [8], n_boot=300), 1)
        self.assertEqual(M.aliases_of_dropped([], [], n_boot=300), 0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # three concurrent writes overlap; only their union counts
        jobs = [(10, 40), (20, 50), (30, 45), (70, 80)]
        self.assertEqual(M.driver_gap((0, 100), jobs), 100 - 40 - 10)

    def test_driver_gap_clips_jobs_to_the_operation(self):
        self.assertEqual(M.driver_gap((10, 20), [(0, 15), (18, 30)]), 10 - 5 - 2)


class Attribution(unittest.TestCase):
    def test_main_thread_gate(self):
        self.assertEqual(M.layer_of_site(MAIN_GATE), "ops.Relational")

    def test_future_threads_of_pipeline_run(self):
        self.assertEqual(M.layer_of_site(FUTURE_EXPORT), "io.LakeZones")
        self.assertEqual(M.layer_of_site(FUTURE_SERVING), "io.ServingSink")

    def test_concurrent_index_writes(self):
        self.assertEqual(M.layer_of_site(INDEX_APPEND), "ops.CurateIncremental")
        self.assertEqual(M.layer_of_site(EXACT_INDEX_APPEND), "ops.ExactJoinState")

    def test_eager_cut_is_its_own_layer(self):
        self.assertEqual(M.layer_of_site(KERNEL_CUT), "ops.Lineage")

    def test_lazy_module_cost_lands_on_the_trigger(self):
        self.assertEqual(M.layer_of_site(LAZY_SOURCE), "queries")

    def test_benchmark_noop_write(self):
        self.assertEqual(M.layer_of_site(NOOP_WRITE), "bench.exec")

    def test_frame_without_program_code(self):
        self.assertEqual(M.layer_of_site(AQE_STAGE), "other")

    def test_pool_job_falls_back_to_its_sql_execution(self):
        sites = [AQE_STAGE, MAIN_GATE]
        job = {"site": 0, "exec": 7}
        self.assertEqual(M.job_layer(job, sites, {7: 1}), "ops.Relational")
        self.assertEqual(M.job_layer({"site": 0, "exec": -1}, sites, {7: 1}), "other")

    def test_curate_is_not_curate_incremental(self):
        self.assertEqual(M.layer_of_module("ops.Curate"), "ops.Curate")
        self.assertEqual(M.layer_of_module("ops.CurateIncremental"), "ops.CurateIncremental")
        self.assertEqual(M.layer_of_module("queries.LlmQueries"), "queries")
        self.assertIsNone(M.layer_of_module("ops.Par"))

    def test_module_of_strips_lambdas_and_objects(self):
        self.assertEqual(M.module_of("graft.Pipeline$.$anonfun$run$2(Pipeline.scala:97)"),
                         "Pipeline")
        self.assertIsNone(M.module_of("scala.concurrent.Future$.apply(Future.scala:1)"))


class LayerRollup(unittest.TestCase):
    def trace(self):
        return {
            "sites": [MAIN_GATE, FUTURE_EXPORT, AQE_STAGE],
            "jobs": [
                {"id": 1, "t0": 100, "t1": 200, "exec": 1, "site": 0, "stages": [1], "ok": True},
                {"id": 2, "t0": 250, "t1": 400, "exec": 2, "site": 1, "stages": [2], "ok": True},
                {"id": 3, "t0": 300, "t1": 450, "exec": 2, "site": 2, "stages": [3, 2],
                 "ok": True},
                {"id": 4, "t0": 900, "t1": 950, "exec": 3, "site": 0, "stages": [4], "ok": True},
            ],
            "stages": [
                {"id": 1, "task_ms": 300, "tasks": [100, 100, 100], "shuffle_write": 10,
                 "spill": 0, "out_bytes": 0},
                {"id": 2, "task_ms": 400, "tasks": [100, 300], "shuffle_write": 0,
                 "spill": 0, "out_bytes": 5000},
                {"id": 3, "task_ms": 100, "tasks": [100], "shuffle_write": 20,
                 "spill": 0, "out_bytes": 0},
                {"id": 4, "task_ms": 50, "tasks": [50], "shuffle_write": 0,
                 "spill": 0, "out_bytes": 0},
            ],
            "execs": [{"id": 1, "t0": 90, "t1": 210, "site": 0},
                      {"id": 2, "t0": 240, "t1": 460, "site": 1},
                      {"id": 3, "t0": 890, "t1": 960, "site": 0}],
            "planning": [{"id": 1, "ms": 20.0, "files": 0},
                         {"id": 2, "ms": 30.0, "files": 3},
                         {"id": 3, "ms": 99.0, "files": 0}],
        }

    def test_rollup_over_one_operation(self):
        ops = [{"t0": 0, "t1": 500}]  # job 4 / exec 3 fall outside: untraced
        out, other = M.layer_metrics(self.trace(), ops)
        self.assertEqual(out["ops.Relational.jobs"], 1)
        self.assertEqual(out["io.LakeZones.jobs"], 2)  # pool job joins its execution
        self.assertEqual(other, 0)
        self.assertAlmostEqual(out["io.LakeZones.wall_s"], 0.2)  # union of 250..450
        self.assertAlmostEqual(out["io.LakeZones.task_s"], 0.5)  # stage 2 counted once
        self.assertEqual(out["io.LakeZones.output_bytes"], 5000)
        self.assertEqual(out["io.LakeZones.output_files"], 3)
        self.assertAlmostEqual(out["ops.Relational.planning_s"], 0.02)
        self.assertEqual(out["io.LakeZones.shuffle_write_bytes"], 20)
        self.assertAlmostEqual(out["driver_gap_s"], (500 - 100 - 200) / 1000)
        self.assertEqual(out["jobs_total"], 3)
        self.assertEqual(out["ops.Dedup.jobs"], 0)

    def test_rollup_is_per_operation(self):
        ops = [{"t0": 0, "t1": 500}, {"t0": 800, "t1": 1000}]
        out, _ = M.layer_metrics(self.trace(), ops)
        self.assertEqual(out["ops.Relational.jobs"], 1.0)  # (1 + 1) / 2
        self.assertEqual(out["jobs_total"], 2.0)

    def test_task_skew_weights_stages_by_task_time(self):
        self.assertEqual(M.stage_skew([100, 300]), 1.5)
        self.assertEqual(M.stage_skew([5]), 1.0)
        self.assertEqual(M.stage_skew([0, 0, 7]), 1.0)

    def test_every_named_metric_is_produced(self):
        out, _ = M.layer_metrics(self.trace(), [{"t0": 0, "t1": 500}])
        layer_names = [n for n in M.per_layer_names() if n not in M.WORKLOAD_FIELDS]
        self.assertEqual(sorted(layer_names), sorted(k for k in out
                                                     if k not in ("driver_gap_s", "jobs_total")))
        self.assertEqual(len(M.per_layer_names()), 99)


if __name__ == "__main__":
    unittest.main()
