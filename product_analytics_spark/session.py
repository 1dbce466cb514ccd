"""SparkSession factory.

One place to encode the execution-model choices that matter at 100 TB:
AQE (runtime re-plan, skew-join splitting, partition coalescing),
a UTC session timezone (determinism), Arrow for any Python exchange,
and a shuffle-partition count sized to the local harness (the driver
runs local[N]; on a real cluster this is overridden to ~2-3x total
cores via --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "product_analytics_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale notes: every config here is also correct on a 1000-executor
    cluster except ``master`` and ``driver.memory``, which a cluster
    submit overrides. AQE handles skew joins and post-shuffle
    coalescing at any scale; broadcast threshold is left at default
    (10 MB) because dimension tables (region/nation/customer at
    typical star-schema ratios) stay under it and AQE upgrades joins
    to broadcast at runtime when a side turns out small.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # File-listing job threshold (guide §6): below this many input
        # paths the driver lists files itself; above it Spark launches
        # a distributed listing JOB. The 32-path default is tuned for
        # slow object-store listings; every log-managed read here
        # passes the commit's explicit file list, so a >32-file table
        # paid a ~200-500 ms listing job PER READ (measured round-12:
        # 240 explicit paths 787 ms -> 261 ms). A driver stats ~1000
        # local paths in single-digit ms; env-overridable for object
        # stores where the distributed listing is the right call.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_JOB_THRESHOLD", "1024"),
        )
        # Generated-class cache (static conf, sized once per JVM at the
        # first compile). Spark's default keeps 100 classes, fewer than
        # this engine's working sets: the 18 analyst_mix keys fill 298
        # entries, the CDC DAG's full refresh and first incremental run
        # 122 (seed 7). At 100, a warm replay of the analyst keys
        # compiled 436 classes again and each warm CDC run 28-57; at
        # 1024 they compile 0 and 8 (new code: README "Generated code").
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Keep the whole-stage codegen stage id out of the generated
        # class name. AQE numbers stages in the order they are planned,
        # which varies run to run, so with the id in the name the same
        # stage code misses the cache (q123: 8 classes per re-run); the
        # same code at another position in another query shares it too.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Respect an existing master (e.g. a real cluster submit); default local.
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
