"""Round-7 driver query families, batch 87 (q410-q411): copy-on-write
DML through the engine's own snapshot sink — DELETE and UPDATE with
file-level rewrite granularity (sources/sinks.py:_rewrite_where).

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _money_cents, _t, combine_single_rows

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q410

Q410_WH = os.path.join(_REPO, ".fixtures", ".q410_warehouse")


def q410_cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE, executed end-to-end (Delta ``DELETE FROM
    … WHERE`` semantics on the SnapshotStore): events snapshotted with
    event_type hive partitions (q394's advised layout), then every
    third user's clicks are deleted. The kernel rewrites ONLY files
    containing a matching row — the four non-click partition dirs
    survive as HARDLINKS (zero data movement; the in-row cert counts
    them) — and commits atomically through the log's putIfAbsent; the
    pre-delete version
    stays time-travelable (rows_before re-read from it).

    Compared values: per-type survivor counts + cents sums (the DuckDB
    oracle applies the same anti-predicate), rows deleted, and the
    file-granularity certs (links >= untouched dirs, rewrites confined
    to the click partition).

    Scale: touched-file discovery is ONE filtered scan projecting
    input_file_name() — partition pruning + row-group stats make it
    metadata-cheap; the driver receives a file manifest, never rows.
    This is the COW story at 100 TB: deletion cost tracks the
    predicate's file footprint, not the table size."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q410_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q410_WH, retain_versions=2)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        _money_cents("value").alias("cents"),
    )
    store.overwrite("ev", ev, partition_by=["event_type"])
    n_dirs = len(store._partition_dirs(store.current_data_dir("ev")))

    stats = store.delete_where("ev", "event_type = 'click' AND user_id % 3 = 0")

    prior_rows = store.read("ev", version=0).count()
    per_type = (
        store.read("ev")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents") / 100.0).cast("double").alias("value_sum"),
        )
    )
    return per_type.select(
        "event_type",
        "n_events",
        "value_sum",
        F.lit(stats["rows_before"] - stats["rows_after"])
        .cast("bigint")
        .alias("n_deleted"),
        F.lit(stats["files_linked"] >= n_dirs - 1).alias("untouched_dirs_linked"),
        F.lit(
            stats["files_rewritten"]
            <= stats["files_total"] - stats["files_linked"]
        ).alias("rewrite_confined"),
        F.lit(prior_rows == stats["rows_before"]).alias("time_travel_ok"),
    ).orderBy("event_type")


Q410_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
kept AS (
  SELECT * FROM ev WHERE NOT (event_type = 'click' AND user_id % 3 = 0)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS value_sum,
       (SELECT CAST(count(*) AS BIGINT) FROM ev
        WHERE event_type = 'click' AND user_id % 3 = 0) AS n_deleted,
       TRUE AS untouched_dirs_linked,
       TRUE AS rewrite_confined,
       TRUE AS time_travel_ok
FROM kept GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------------------------- q411

Q411_WH = os.path.join(_REPO, ".fixtures", ".q411_warehouse")
Q411_CUT_FRAC = 0.9  # update the top ~10% of the key range


def q411_cow_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE (Delta ``UPDATE … SET … WHERE``): orders
    snapshotted as 8 RANGE-partitioned files on o_orderkey, then a
    key-range predicate (top decile) gets a surcharge applied to its
    cents. Because files are range-clustered, parquet min/max stats
    confine the touched-file set to the tail file(s) — the cert pins
    files_rewritten <= 2 of 8, everything else hardlinked. Type
    preservation is part of the contract: the assignment result is
    cast back to the column's original type, or the rewritten file's
    schema would drift from the linked files' (caught by a test the
    hard way). The pre-update version remains time-travelable; its
    total must equal the original sum.

    Compared values: per-status counts/sums after the update (oracle
    applies the same CASE), plus the granularity/time-travel certs."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q411_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q411_WH, retain_versions=2)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _money_cents("o_totalprice").alias("cents")
    )
    # Integer arithmetic both engines share: max*9 div 10 (a float
    # fraction would truncate in Python but round in DuckDB's cast).
    cut = o.agg(F.max("o_orderkey")).collect()[0][0] * 9 // 10
    store.overwrite(
        "ord",
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
    )
    stats = store.update_where(
        "ord", f"o_orderkey >= {cut}", {"cents": "cents + 100"}
    )
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate sum() collects of the v0 snapshot and the base).
    pr = combine_single_rows(
        store.read("ord", version=0).agg(
            F.sum("cents").alias("__prior_sum")
        ),
        o.agg(F.sum("cents").alias("__orig_sum")),
    ).collect()[0]
    prior_sum = pr["__prior_sum"]
    orig_sum = pr["__orig_sum"]
    per_status = (
        store.read("ord")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents") / 100.0).cast("double").alias("total"),
        )
    )
    return per_status.select(
        "o_orderstatus",
        "n_orders",
        "total",
        F.lit(stats["rows_after"] == stats["rows_before"]).alias(
            "rows_preserved"
        ),
        F.lit(stats["files_rewritten"] <= 2).alias("range_pruned_rewrite"),
        F.lit(stats["files_linked"] >= 6).alias("untouched_linked"),
        F.lit(prior_sum == orig_sum).alias("time_travel_ok"),
        F.lit(cut).cast("bigint").alias("cut_key"),
    ).orderBy("o_orderstatus")


Q411_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
cut AS (
  SELECT CAST(max(o_orderkey) * 9 // 10 AS BIGINT) AS c FROM o
),
upd AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey >= (SELECT c FROM cut)
              THEN cents + 100 ELSE cents END AS cents
  FROM o
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS total,
       TRUE AS rows_preserved,
       TRUE AS range_pruned_rewrite,
       TRUE AS untouched_linked,
       TRUE AS time_travel_ok,
       (SELECT c FROM cut) AS cut_key
FROM upd GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ------------------------------------------------------------- q412

Q412_WH = os.path.join(_REPO, ".fixtures", ".q412_warehouse")


def q412_occ_conflict_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency control, executed end-to-end (the
    Delta/Iceberg commit-conflict protocol on the SnapshotStore):
    writer A snapshots the account table at version vA; writer B's
    merge commits FIRST; A's commit — carrying expected_version=vA —
    must be REFUSED (ConcurrentWriteError, its uncommitted version dir
    cleaned up, B's rows intact), because a last-writer-wins overwrite
    here would silently drop B's update. A then retries through the
    ``merge(isolated=True)`` loop: re-read, re-merge, commit against
    the fresh version — and the final table carries BOTH writers'
    changes with A-over-B on the overlap (serializable order B→A).

    The oracle replays the same serial history in SQL (two sequential
    keyed merges); the compared values are the per-segment balance
    aggregates of the final state plus the protocol booleans
    (conflict_raised / loser_cleaned / retry_committed).

    Scale: the conflict check is a log-version compare inside a
    microsecond lock and the commit point is the log's putIfAbsent —
    version data is on disk before commit, so contention cost is
    retry WORK, never corruption."""
    from product_analytics_spark.operators.incremental import merge_upsert
    from product_analytics_spark.sources.sinks import (
        ConcurrentWriteError,
        SnapshotStore,
    )

    shutil.rmtree(Q412_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q412_WH, retain_versions=3)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base)

    # --- writer A snapshots ---
    v_a = store.current_version("acct")
    prev_a = store.read("acct")
    batch_a = base.filter(F.col("k") % 7 == 0).withColumn(
        "cents", F.col("cents") + 700
    )
    # --- writer B commits first ---
    batch_b = base.filter(F.col("k") % 10 == 0).withColumn(
        "cents", F.col("cents") + 500
    )
    store.merge("acct", batch_b, "k")

    # --- A's stale commit must be refused, leaving B intact ---
    conflict_raised = False
    try:
        store.overwrite(
            "acct", merge_upsert(prev_a, batch_a, "k"), expected_version=v_a
        )
    except ConcurrentWriteError:
        conflict_raised = True
    n_version_dirs = len(
        [d for d in os.listdir(store.path("acct")) if d.startswith("v_")]
    )
    loser_cleaned = n_version_dirs <= 3  # retention window only, no orphan

    # --- A retries through the isolated-merge loop ---
    store.merge("acct", batch_a, "k", isolated=True)

    final = store.read("acct")
    return (
        final.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / 100.0).cast("double").alias("balance_sum"),
        )
        .select(
            "seg",
            "n",
            "balance_sum",
            F.lit(bool(conflict_raised)).alias("conflict_raised"),
            F.lit(bool(loser_cleaned)).alias("loser_cleaned"),
            F.lit(True).alias("retry_committed"),
        )
        .orderBy("seg")
    )


Q412_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
final AS (
  SELECT k, seg,
         CASE WHEN k % 7 = 0 THEN cents + 700
              WHEN k % 10 = 0 THEN cents + 500
              ELSE cents END AS cents
  FROM base
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       TRUE AS conflict_raised,
       TRUE AS loser_cleaned,
       TRUE AS retry_committed
FROM final GROUP BY seg ORDER BY seg
"""


QUERIES_EXT87 = {
    "q410_cow_delete": q410_cow_delete,
    "q411_cow_update": q411_cow_update,
    "q412_occ_conflict_retry": q412_occ_conflict_retry,
}


def _oracles_ext87() -> dict[str, str]:
    return {
        "q410_cow_delete": Q410_SQL,
        "q411_cow_update": Q411_SQL,
        "q412_occ_conflict_retry": Q412_SQL,
    }
