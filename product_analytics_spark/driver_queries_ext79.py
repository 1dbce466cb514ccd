"""Round-7 driver query families, batch 79 (q393-q394): the layout
advisor's output APPLIED to the engine's own write path — the round-6
verdict's "from demo to advisor-driven" step for q360's bucketing door.

LAYOUT_ADVICE.json (tools/layout_advisor.py folding all 390 query
plans) names the workload's hottest shuffle and filter columns. These
queries EXECUTE its top recommendations and certify, in-row, both that
the advisor still endorses the chosen layout and that the physical
plan actually collected the promised win (no Exchange on the
co-bucketed join; partition pruning on the filtered read-back).

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.qcommon import _money_cents, _t

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan_str(df: DataFrame) -> str:
    """Formatted physical plan as a string (driver-side introspection —
    the same text tools/plan_audit.py folds; used here to certify a
    layout claim inside the query's own output)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _layout_advice() -> dict:
    """LAYOUT_ADVICE.json if present (it is tracked at the repo root);
    {} otherwise — callers treat absence as 'advisor unavailable' and
    report advisor_backed=False rather than failing."""
    try:
        with open(os.path.join(_REPO, "LAYOUT_ADVICE.json"), encoding="utf-8") as fh:
            return json.load(fh)
    except Exception:  # noqa: BLE001 — advice file is optional input
        return {}


def _top_candidates(advice: dict, table: str, kind: str, k: int = 2) -> list[str]:
    try:
        return [c for c, _n in advice["per_table"][table][kind][:k]]
    except Exception:  # noqa: BLE001
        return []


# ------------------------------------------------------------- q393

Q393_BUCKETS = 8
Q393_DIR = os.path.join(_REPO, ".fixtures", ".q393_bucketed")


def _q393_bucketed(
    spark: SparkSession, sf_dir: str, src: str, tbl_stem: str, key: str, cols: list[str]
) -> DataFrame:
    """Materialize ``src`` as a parquet table bucketed by ``key`` —
    executing LAYOUT_ADVICE.json's bucket advice. One bucket-aligned
    write, then every same-session join/agg on the key reads pre-hashed
    buckets instead of shuffling. The catalog is session-scoped, so
    tableExists is the real gate (q360's discipline)."""
    tag = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    tbl = f"{tbl_stem}_{tag}"
    path = os.path.join(Q393_DIR, tag, tbl_stem)

    def write():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(path, ignore_errors=True)
        (
            _t(spark, sf_dir, src)
            .select(*cols)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(Q393_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(tbl)
        )
        return tbl

    cache.memo("materialized", (sf_dir, tbl), write, valid=lambda: spark.catalog.tableExists(tbl))
    return spark.table(tbl)


def q393_advised_cobucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor-driven CO-BUCKETED join — LAYOUT_ADVICE.json applied to
    the engine's own write path (round-6 verdict item 5). The advisor
    names o_custkey (31 plans shuffle on it) and c_custkey among the
    top bucket candidates for orders/customer; the custkey pair is the
    workload's hottest JOIN axis. Both tables are written bucketed by
    their custkey with the SAME bucket count, and the canonical
    per-customer order rollup runs against the bucketed pair: the scans
    report hash-compatible bucketing, so the merge join AND the
    custkey aggregation both run exchange-FREE (tests/test_plans.py
    pins it; the only Exchange in the full plan is the deterministic
    orderBy's range partitioning over post-agg rows).

    In-row certificates the oracle asserts as TRUE:
      * advisor_backed — LAYOUT_ADVICE.json still lists the chosen
        keys in each table's top-2 bucket candidates (the layout is
        derived from the advisor, and drift is surfaced, not hidden);
      * join_exchange_free — the pre-orderBy physical plan contains
        zero Exchange nodes and two bucketed scans.

    Scale: this is bucketing's whole argument at 100 TB — one aligned
    write erases the per-query shuffle on the hottest join/agg key;
    8 buckets here, |cluster cores| there. The merge hint pins the
    sort-merge strategy the co-bucketing serves (a broadcast would
    also be shuffle-free at sf0.01 but proves nothing about layout).
    """
    advice = _layout_advice()
    advisor_backed = "c_custkey" in _top_candidates(
        advice, "customer", "bucket_candidates"
    ) and "o_custkey" in _top_candidates(advice, "orders", "bucket_candidates")

    c = _q393_bucketed(
        spark,
        sf_dir,
        "customer",
        "q393_cust_by_key",
        "c_custkey",
        ["c_custkey", "c_mktsegment"],
    )
    o = _q393_bucketed(
        spark,
        sf_dir,
        "orders",
        "q393_ord_by_key",
        "o_custkey",
        ["o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"],
    )
    per_cust = (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey")
        .agg(
            F.min("c_mktsegment").alias("segment"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_money_cents("o_totalprice")).alias("_c"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
        )
    )
    plan = _plan_str(per_cust)
    join_exchange_free = (
        "Exchange" not in plan and plan.count("Bucketed: true") == 2
    )
    return per_cust.select(
        F.col("o_custkey").cast("bigint").alias("custkey"),
        "segment",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        (F.col("_c") / 100.0).cast("double").alias("revenue"),
        "last_order",
        F.lit(bool(advisor_backed)).alias("advisor_backed"),
        F.lit(bool(join_exchange_free)).alias("join_exchange_free"),
    ).orderBy("custkey")


Q393_SQL = """
SELECT o_custkey AS custkey,
       min(c_mktsegment) AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue,
       strftime(max(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d') AS last_order,
       TRUE AS advisor_backed,
       TRUE AS join_exchange_free
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY o_custkey ORDER BY custkey
"""


# ------------------------------------------------------------- q394

Q394_WH = os.path.join(_REPO, ".fixtures", ".q394_warehouse")


def _q394_store_and_table(spark: SparkSession, sf_dir: str):
    from product_analytics_spark.sources.sinks import SnapshotStore

    tag = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    name = f"events_by_type_{tag}"
    store = SnapshotStore(spark, Q394_WH)

    def write():
        ev = _t(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            _money_cents("value").alias("cents"),
        )
        store.overwrite(name, ev, partition_by=["event_type"], cluster_by=["ts"])
        return name

    cache.memo("materialized", (sf_dir, name), write, valid=lambda: store.exists(name))
    return store, name


def q394_advised_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor-driven PARTITIONED write + pruned read-back, through the
    engine's own SnapshotStore sink: LAYOUT_ADVICE.json names
    event_type as the workload's #1 partition candidate for events (45
    plans filter on it) and ts as #2 (the within-partition cluster
    key, round-7's per-partition compaction unit). Events are
    snapshotted with partition_by=['event_type'] + cluster_by=['ts']
    (one sorted file per hive dir — sinks.py's repartition-then-sort
    write), then the canonical purchase-revenue-by-day report reads the
    snapshot back WITH an event_type filter.

    In-row certificates the oracle asserts:
      * n_type_dirs — the snapshot physically holds one hive dir per
        event type (== count distinct event_type, from the store's
        log snapshot, the same manifest plan_compaction bin-packs);
      * partition_pruned — the read-back plan carries the filter as a
        PartitionFilter on the scan (directory pruning: the purchase
        report lists ONE of the five dirs, reading ~1/5 of the bytes);
      * advisor_backed — the advice file still ranks event_type top.

    Scale: partition pruning is THE first-order 100 TB win — the scan
    cost tracks the predicate's selectivity, not the table size; the
    log's putIfAbsent commit makes the layout refresh atomic."""
    advice = _layout_advice()
    advisor_backed = "event_type" in _top_candidates(
        advice, "events", "partition_or_zorder_candidates", k=1
    )

    store, name = _q394_store_and_table(spark, sf_dir)
    ev = store.read(name)
    purchases = ev.filter(F.col("event_type") == "purchase")
    daily = purchases.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("_c"),
    )
    plan = _plan_str(daily)
    pruned = bool(
        re.search(r"PartitionFilters: \[[^\]]*purchase[^\]]*\]", plan)
    )
    n_type_dirs = len(store._partitions(store.delta_snapshot(name)))
    return daily.select(
        "day",
        F.col("n_events").cast("bigint").alias("n_events"),
        (F.col("_c") / 100.0).cast("double").alias("revenue"),
        F.lit(n_type_dirs).cast("bigint").alias("n_type_dirs"),
        F.lit(bool(pruned)).alias("partition_pruned"),
        F.lit(bool(advisor_backed)).alias("advisor_backed"),
    ).orderBy("day")


Q394_SQL = """
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         / CAST(100.0 AS DOUBLE) AS revenue,
       (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
         AS n_type_dirs,
       TRUE AS partition_pruned,
       TRUE AS advisor_backed
FROM events
WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY day
"""


QUERIES_EXT79 = {
    "q393_advised_cobucket_join": q393_advised_cobucket_join,
    "q394_advised_partition_prune": q394_advised_partition_prune,
}


def _oracles_ext79() -> dict[str, str]:
    return {
        "q393_advised_cobucket_join": Q393_SQL,
        "q394_advised_partition_prune": Q394_SQL,
    }
