"""Fan-out policy and checkpoint lifecycle of the near-dup and graph
pipelines.

- ``qcommon.spread_by`` hash-partitions on its key to the session's
  ``defaultParallelism`` (the executor core count), and the document
  pipelines (q20 here) fan out through it rather than a fixed count.
  q20's repartition feeds its signature relation, which one eager
  checkpoint builds, so the pin reads the plan the checkpoint was
  taken of.
- The graph operators' ``localCheckpoint`` RDDs are released by the
  cache registries: after ``clear_all`` + ``clear_shared`` nothing the
  graph keys persisted is left, with no JVM collection needed.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.driver_queries import QUERIES
from product_analytics_spark.qcommon import spread_by
from tests.conftest import SF_SMALL

_REPARTITION = re.compile(r"hashpartitioning\((\w+)#\d+L?, (\d+)\), REPARTITION_BY_NUM")


def _repartitions(df) -> set[tuple[str, int]]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {(col, int(n)) for col, n in _REPARTITION.findall(plan)}


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


class TestSpreadBy:
    def test_default_parallelism_hash_partitions_on_key(self, spark):
        n = spark.sparkContext.defaultParallelism
        df = spark.range(500).select((F.col("id") % 97).alias("doc_id"))
        out = spread_by(df, "doc_id")
        assert out.rdd.getNumPartitions() == n
        assert _repartitions(out) == {("doc_id", n)}
        # every row sits in the partition its key hashes to
        misplaced = out.filter(
            F.spark_partition_id() != F.pmod(F.hash("doc_id"), F.lit(n))
        ).count()
        assert misplaced == 0

    def test_q20_repartitions_documents_to_default_parallelism(self, spark, monkeypatch):
        frame = type(spark.range(1))
        take = frame.localCheckpoint
        sources = []

        def record(df, *args, **kwargs):
            sources.append(df)
            return take(df, *args, **kwargs)

        monkeypatch.setattr(frame, "localCheckpoint", record)
        try:
            QUERIES["q20_fuzzy_dedup"](spark, SF_SMALL)
            assert [_repartitions(df) for df in sources] == [
                {("doc_id", spark.sparkContext.defaultParallelism)}
            ]
        finally:
            cache.clear_all()


class TestCheckpointRelease:
    KEYS = (
        "q56_dup_clusters",
        "q118_triangle_counts",
        "q123_bfs_hops",
        "q277_dup_cluster_histogram",
    )

    def test_graph_keys_leave_no_persisted_rdds(self, spark):
        cache.clear_all()
        cache.clear_shared()
        before = _persistent_ids(spark)
        for k in self.KEYS:
            assert QUERIES[k](spark, SF_SMALL).collect()
        cache.clear_all()
        cache.clear_shared()
        left = _persistent_ids(spark) - before
        assert not left, f"RDDs still persisted after clearing: {sorted(left)}"
