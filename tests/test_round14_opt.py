"""Round-14 optimization pins.

1. The iterative graph loops size their working partitioning by measured
   bytes (``iterutil.work_partitions``), clamped to the session width — the
   formula must stay scale-adaptive (grow with rows, clamp at the session,
   floor at 1), or the bench-scale win silently becomes a 100 TB
   single-partition pathology.
2. graph_pagerank / graph_common_neighbors checkpoint their shared ``deg``
   aggregate (verdict r13 #5, saturated-host A/B): the final plan must
   reference the degree table as a materialized leaf instead of inlining
   the aggregate once per reference.
3. The re-attributed maintenance queries perform their refresh per
   invocation (verdict r13 #1): a second call must NOT return the cached
   generation's identical DataFrame object.
4. sim_recall_report owns its six branch frames and releases them at the
   next call (ADVICE r14 #3): a second call must not leave six more
   persisted RDDs behind, and the first call's report must still evaluate.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


class TestWorkPartitionsFormula:
    def test_scale_adaptive(self):
        from ad_hoc_olap_query_processing_engine_spark.operators.iterutil import (
            WORK_BYTES_PER_PART,
            work_partitions,
        )

        # tiny working sets collapse to one partition regardless of width
        assert work_partitions(300_000, 24, 32) == 1
        assert work_partitions(0, 24, 32) == 1
        # grows with measured rows…
        rows_per_part = WORK_BYTES_PER_PART // 24
        assert work_partitions(10 * rows_per_part, 24, 1024) == 10
        # …and clamps at the session's shuffle width (never exceeds it)
        assert work_partitions(10**12, 24, 32) == 32
        # monotone in rows
        prev = 0
        for rows in (10**3, 10**6, 10**9, 10**12):
            cur = work_partitions(rows, 24, 10**6)
            assert cur >= prev
            prev = cur


class TestDegCheckpointInPlan:
    def test_pagerank_deg_is_materialized_leaf(self, spark):
        from ad_hoc_olap_query_processing_engine_spark.operators import graph

        plan = (
            graph.graph_pagerank(spark, SF)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # the checkpointed deg table appears as LogicalRDD leaves; the
        # degree aggregate itself must not be inlined into the round plan
        # (PR_ROUNDS+1 copies pre-round-14)
        assert "LogicalRDD" in plan
        assert plan.count("count(1) AS deg") == 0

    def test_common_neighbors_deg_is_materialized_leaf(self, spark):
        from ad_hoc_olap_query_processing_engine_spark.operators import graph

        plan = (
            graph.graph_common_neighbors(spark, SF)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "LogicalRDD" in plan
        assert plan.count("count(1) AS deg") == 0


class TestRefreshPerInvocation:
    def test_minhash_incremental_refreshes_each_call(self, spark):
        from ad_hoc_olap_query_processing_engine_spark.operators import pipeline

        a = pipeline.pipe_minhash_incremental(spark, SF)
        b = pipeline.pipe_minhash_incremental(spark, SF)
        # each invocation builds a fresh store generation (same rows, new
        # frames) and then retires the previous one — a cached identical
        # object would mean the timed query is a cache read again
        assert a is not b

    def test_stream_maintenance_redrives_each_call(self, spark):
        from ad_hoc_olap_query_processing_engine_spark.streaming import maintenance

        a = maintenance.stream_minhash_maintenance(spark, SF)
        b = maintenance.stream_minhash_maintenance(spark, SF)
        assert a is not b


class TestRecallReportReleasesBranches:
    def test_second_call_releases_the_first_calls_branches(self, spark):
        from ad_hoc_olap_query_processing_engine_spark.operators import similarity

        def n_persisted() -> int:
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        first = similarity.sim_recall_report(spark, SF)
        rows = sorted(first.collect())
        n1 = n_persisted()
        second = similarity.sim_recall_report(spark, SF)
        assert sorted(second.collect()) == rows
        assert n_persisted() <= n1
        assert sorted(first.collect()) == rows
