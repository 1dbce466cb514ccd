"""Round-5 driver query families, batch 69 (q374-q375): dynamic
partition overwrite (the partitioned-table backfill semantic) and the
DISTRIBUTE BY / SORT BY / CLUSTER BY physical-layout SQL clauses.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _t

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q374

Q374_DIR = os.path.join(_REPO, ".fixtures", ".q374_dynpart")
Q374_BOOST = 7  # deterministic backfill transform: value -> value*7


def q374_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the partitioned-table BACKFILL
    semantic (`spark.sql.sources.partitionOverwriteMode=dynamic`):
    INSERT OVERWRITE replaces ONLY the partitions present in the
    incoming frame, leaving every other partition untouched, where
    STATIC mode (the default) would truncate the whole table first
    (divergence pinned in pytest).  The demo lands events partitioned
    by event_type, then backfills just the 'click' partition with a
    deterministically transformed feed (value·{BOOST} in micro-units);
    the certified read-back must show exactly the click rows
    transformed and every other partition byte-identical — which the
    oracle reproduces in closed form over the raw events.

    Scale: THE incremental-reprocess pattern at 100 TB — a day's
    restatement rewrites one partition's files, never the table; the
    overwrite is two jobs (stage new files, swap the matching
    partition dirs) and the read-back prunes on the partition column.

    Cross-ref: sinks.SnapshotStore overwrites whole TABLES by one log
    commit (putIfAbsent, S4-S7); this door is the engine-native
    PARTITION-scoped
    overwrite the reference's `insert_overwrite` dbt strategy maps to
    (reference dbt_project.yml materializations)."""
    tag = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    tbl = f"q374_events_{tag}"
    path = os.path.join(Q374_DIR, tag)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("value").cast("decimal(18,6)") * 1_000_000)
        .cast("long")
        .alias("value_micro"),
        "event_type",
    )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(path, ignore_errors=True)
        (
            ev.write.mode("overwrite")
            .format("parquet")
            .partitionBy("event_type")
            .option("path", path)
            .saveAsTable(tbl)
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        backfill = ev.filter(F.col("event_type") == "click").withColumn(
            "value_micro", F.col("value_micro") * Q374_BOOST
        )
        backfill.createOrReplaceTempView("q374_backfill")
        spark.sql(
            f"INSERT OVERWRITE TABLE {tbl} PARTITION (event_type) "
            "SELECT event_id, user_id, value_micro, event_type "
            "FROM q374_backfill"
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
    return (
        spark.table(tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_micro").alias("value_micro_sum"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


Q374_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS value_micro,
         event_type
  FROM events
),
final AS (
  SELECT event_id, user_id,
         CASE WHEN event_type = 'click'
              THEN value_micro * {Q374_BOOST} ELSE value_micro END AS value_micro,
         event_type
  FROM ev
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(value_micro) AS BIGINT) AS value_micro_sum,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM final GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------------------------- q375


def q375_cluster_by_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL physical-layout clauses — ``DISTRIBUTE BY`` (hash
    repartition), ``SORT BY`` (partition-local sort), and their fusion
    ``CLUSTER BY`` — the pure-SQL spelling of repartition(col)
    .sortWithinPartitions(col) that feeds bucketed/sorted writers
    (q360's bucketBy is the persisted twin).  The door certifies the
    defining properties: the clause changes the PLAN, never the
    ANSWER, and the declared layout is ADVISORY — pytest pins that
    (a) the REPARTITION_BY_COL hash exchange is REUSED by the
    downstream aggregate (count-distinct included: 2 exchanges total
    where the plain agg would also need 2 — the clause pre-pays the
    agg's shuffle, it never duplicates it), and (b) Catalyst's
    EliminateSorts correctly DROPS the clause's partition-local sort
    under an aggregate that cannot observe it.

    Scale: CLUSTER BY before a write is the one-line fix for the
    small-files problem on a partitioned sink (one file per partition
    value per task instead of |tasks|·|values|); as a pre-agg layout
    it is exactly the exchange the aggregate would inject anyway."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("q375_events")
    clustered = spark.sql(
        """
SELECT user_id, event_type,
       CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
FROM q375_events
CLUSTER BY user_id
"""
    )
    return (
        clustered.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vm").alias("vm_sum"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("user_id")
    )


Q375_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
            AS BIGINT) AS vm_sum,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events GROUP BY user_id ORDER BY user_id
"""


QUERIES_EXT69 = {
    "q374_dynamic_partition_overwrite": q374_dynamic_partition_overwrite,
    "q375_cluster_by_door": q375_cluster_by_door,
}


def _oracles_ext69() -> dict[str, str]:
    return {
        "q374_dynamic_partition_overwrite": Q374_SQL,
        "q375_cluster_by_door": Q375_SQL,
    }
