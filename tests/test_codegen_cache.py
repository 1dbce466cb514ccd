"""Generated-code cache sized to the engine's working set.

``get_spark`` sets ``spark.sql.codegen.cache.maxEntries`` so a warm
re-run of the same queries reuses the classes Spark compiled the first
time, instead of evicting and recompiling them: with Spark's 100-entry
default, q123 alone compiled 108 of its 136 classes again on a warm
re-run.

The count read here is Spark's ``CodegenMetrics`` compilation
histogram: one entry per class compiled, a cache hit adds nothing.
A re-run can still compile a little new code: AQE picks the broadcast
side of q56's and q118's self-joins from whichever side's statistics
arrive first, and the other side is different code. That has added at
most 4 classes per key (Spark's cache is keyed by code and class
loader, so one stage can count twice); a recompiled working set is
well over a hundred.
"""

from __future__ import annotations

from product_analytics_spark import cache
from product_analytics_spark.driver_queries import QUERIES
from product_analytics_spark.session import CODEGEN_CACHE_ENTRIES
from tests.conftest import SF_SMALL

KEYS = ("q56_dup_clusters", "q118_triangle_counts", "q123_bfs_hops")
RACE_SLACK = 8


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _run_keys(spark) -> int:
    """Run KEYS, release what they cached; return the classes compiled."""
    before = _compiles(spark)
    for k in KEYS:
        assert QUERIES[k](spark, SF_SMALL).collect()
    cache.clear_all()
    cache.clear_shared()
    return _compiles(spark) - before


def test_session_carries_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_warm_rerun_recompiles_nothing(spark):
    _run_keys(spark)
    assert _run_keys(spark) <= RACE_SLACK
