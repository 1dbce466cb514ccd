"""Round-9 driver family, batch 92 (q434–q442): the Delta log's
consumer-facing protocol features.

* q434 — Change Data Feed (cdc actions + ``table_changes``)
* q435 — RESTORE as a new commit that re-adds the target's files
* q436 — SHALLOW CLONE via absolute-URI adds
* q437 — streaming from the log tail (``delta_tail`` source)
* q438 — CHECK constraints enforced across the DML surface
* q439 — column mapping: RENAME COLUMN without rewrite
* q440 — DESCRIBE HISTORY + TIMESTAMP AS OF
* q441 — STREAMING Change Data Feed (``read_change_feed``)
* q442 — generated columns (partition key from the event timestamp)

Reference mapping: the incremental models consume exactly this shape
(customers_latest.sql:3-6 — merge on a CDC stream keyed by
customer_id; dbt_project.yml:39 ``file_format: delta`` — Delta's
``delta.enableChangeDataFeed`` table property is the mechanism that
feeds them). At 100 TB the feed is what makes downstream
incrementals O(changed rows) instead of O(table): a consumer reads
the cdc files of the commits since its watermark — never a full
snapshot diff.

Same contract as the other driver_queries modules: each query takes
(spark, sf_dir) and returns a DataFrame; ``_oracles_ext92`` maps the
key to an equivalent DuckDB SQL string over the same parquet tables.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.qcommon import (
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
    multiset_equal,
    multiset_mismatch_flag,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q434

Q434_WH = os.path.join(_REPO, ".fixtures", ".q434_warehouse")


def q434_cdf_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **Change Data Feed** end to end: a DML lifecycle under
    ``cdf=True`` (overwrite → COW MERGE → COW DELETE → MoR UPDATE →
    OPTIMIZE), then ``table_changes(0, latest)`` read back and
    aggregated per (commit_version, change_type).

    What the cert pins, per the public CDF contract
    (delta.io PROTOCOL.md "Add CDC File"):

    * v0 (first write, no cdc actions) DERIVES inserts from its
      dataChange adds — including the hive partition columns, which
      live in the log's partitionValues, not the data files
      (``seg_nulls = 0`` proves the literal injection);
    * v1 MERGE emits pre+post images for matched keys and inserts
      for unmatched batch rows — read from the commit's cdc files
      ALONE, ignoring the COW add/remove churn that re-adds every
      unchanged row (counting that churn would inflate v1 by the
      whole table);
    * v2 DELETE emits one ``delete`` row per matching live row;
    * v3 MoR UPDATE (deletion-vector path, zero files rewritten)
      emits the same pre/post shape as the COW update would — the
      feed is storage-strategy-agnostic;
    * the trailing OPTIMIZE (DV purge + recluster) contributes
      NOTHING (``optimize_invisible``): its add/remove actions carry
      ``dataChange: false``, Delta's exact rule for rearrangements;
    * replaying the feed (last change per key wins) reconstructs the
      final table bit-for-bit (``replay_matches``).

    Scale: a CDF consumer reads O(rows changed since its watermark) —
    the cdc files of the tail commits — never O(table). That is what
    keeps a 100 TB incremental DAG's per-run cost proportional to the
    day's churn; the derivation fallback additionally means plain
    appends pay ZERO extra write cost for feed support."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q434_WH, ignore_errors=True)
    store = SnapshotStore(
        spark, Q434_WH, retain_versions=10, delta_log=True, cdf=True
    )
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, partition_by=("seg",))   # v0

    cust = _t(spark, sf_dir, "customer")
    batch = base.where("k % 5 = 0").withColumn(
        "cents", (F.col("cents") + 111).cast("long")
    ).unionByName(
        cust.where("c_custkey % 89 = 0").select(
            (F.col("c_custkey") + 10_000_000).alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.lit(5000).cast("long").alias("cents"),
        )
    )
    store.merge("acct", batch, "k", partition_by=("seg",))  # v1
    store.delete_where("acct", "k % 7 = 0")                 # v2
    store.update_where_mor("acct", "k % 11 = 0", {"cents": "cents + 7"})  # v3
    store.optimize("acct", target_bytes=1 << 30)            # purge + recluster

    tdir = store.path("acct")
    latest = dl.DeltaLog(tdir).latest_version()
    # Persist: the feed (a union over every version's change files)
    # feeds THREE consumers — the probe aggregate, the replay window,
    # and the returned per-(version,type) rollup. O(changes)-sized,
    # released by cache.clear_all (round-12, guide §5).
    feed = cache.persist(dl.table_changes(spark, tdir, 0, latest))

    # replay: last non-preimage change per key, drop deletes == final
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.col("_commit_version").desc())
    replayed = (
        feed.where(F.col("_change_type") != "update_preimage")
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .where(F.col("_change_type") != "delete")
        .select("k", "seg", "cents")
    )
    final = store.read("acct").select("k", "seg", "cents")
    # ONE fused probe action (round-12 batch 8, guide §1.2): the feed
    # aggregate and the replay-vs-final multiset check fold into a
    # single combined action instead of two separate collects.
    pr = combine_single_rows(
        feed.agg(
            F.sum(
                F.when(F.col("_commit_version") > 3, 1).otherwise(0)
            ).alias("post_optimize"),
            F.sum(
                F.when(F.col("seg").isNull(), 1).otherwise(0)
            ).alias("seg_nulls"),
        ),
        multiset_mismatch_flag(replayed, final, "__replay_bad"),
    ).collect()[0]
    optimize_invisible = int(pr["post_optimize"] or 0) == 0
    seg_nulls = int(pr["seg_nulls"] or 0)
    replay_matches = pr["__replay_bad"] is None

    return (
        feed.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "commit_version",
            "change_type",
            "n",
            "cents_sum",
            F.lit(int(seg_nulls)).cast("long").alias("seg_nulls"),
            F.lit(bool(optimize_invisible)).alias("optimize_invisible"),
            F.lit(bool(replay_matches)).alias("replay_matches"),
        )
        .orderBy("commit_version", "change_type")
    )


Q434_SQL = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
ch0 AS (
  SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
         k, cents
  FROM base
),
b1 AS (
  SELECT k, cents + 111 AS cents FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT k + 10000000 AS k, CAST(5000 AS BIGINT) AS cents
  FROM base WHERE k % 89 = 0
),
live1 AS (
  SELECT * FROM base WHERE k % 5 <> 0
  UNION ALL SELECT * FROM b1
),
ch1 AS (
  SELECT CAST(1 AS BIGINT), 'update_preimage', k, cents
  FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'update_postimage', k, cents + 111
  FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'insert', k + 10000000, CAST(5000 AS BIGINT)
  FROM base WHERE k % 89 = 0
),
ch2 AS (
  SELECT CAST(2 AS BIGINT), 'delete', k, cents
  FROM live1 WHERE k % 7 = 0
),
live2 AS (SELECT * FROM live1 WHERE k % 7 <> 0),
ch3 AS (
  SELECT CAST(3 AS BIGINT), 'update_preimage', k, cents
  FROM live2 WHERE k % 11 = 0
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'update_postimage', k, cents + 7
  FROM live2 WHERE k % 11 = 0
),
feed AS (
  SELECT * FROM ch0 UNION ALL SELECT * FROM ch1
  UNION ALL SELECT * FROM ch2 UNION ALL SELECT * FROM ch3
)
SELECT commit_version, change_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(0 AS BIGINT) AS seg_nulls,
       TRUE AS optimize_invisible,
       TRUE AS replay_matches
FROM feed
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
"""


# ------------------------------------------------------------- q435

Q435_WH = os.path.join(_REPO, ".fixtures", ".q435_warehouse")


def q435_restore_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **RESTORE TABLE ... VERSION AS OF** as a new-commit
    rollback (``store.restore``): overwrite → merge → delete, then
    restore to the post-merge version and prove four properties:

    * the restored content equals the target version BIT-FOR-BIT
      (``restore_equals_target`` via two-sided exceptAll);
    * history ABOVE the restore point survives — the pre-restore
      (post-delete) state is still time-travel-readable
      (``history_preserved``), because RESTORE is a new log commit
      (putIfAbsent of the next entry), not a rollback;
    * the transaction log stays consistent: ``read_delta`` of the
      restored table matches the store's own read, and the log's
      latest version counts the restore as one more commit
      (``log_latest``);
    * the restore moved ZERO data bytes — the commit re-adds the
      target version's files by path (``files_kept`` > 0, the
      target's file count; ``files_rewritten`` = 0 by construction).

    Scale: restoring a 100 TB table is O(|files|) log actions —
    the "roll back yesterday's bad deploy" operation costs one log
    commit, not a rewrite. Reference: Delta's RESTORE
    semantics on the reference's ``file_format: delta`` tables
    (dbt_project.yml:39) — the operational escape hatch every
    incremental warehouse needs."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q435_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q435_WH, retain_versions=10, delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, partition_by=("seg",))      # v0
    batch = base.where("k % 4 = 0").withColumn(
        "cents", (F.col("cents") + 500).cast("long")
    ).unionByName(
        cust.where("c_custkey % 53 = 0").select(
            (F.col("c_custkey") + 20_000_000).alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.lit(1234).cast("long").alias("cents"),
        )
    )
    store.merge("acct", batch, "k", partition_by=("seg",))    # v1
    target = store.current_version("acct")
    target_df = store.read("acct", target).select("k", "seg", "cents")
    store.delete_where("acct", "k % 9 = 0")                   # v2
    # Lazy plan pinned to v2's (immutable, retained) files; counted
    # inside the fused probe below instead of an eager count here.
    pre_restore_df = store.read("acct")

    r = store.restore("acct", target)                         # v3

    # Persist: final feeds both equality probes and the returned
    # rollup (round-12, guide §5). ONE fused probe action (round-12
    # batch 8, guide §1.2) replaces two multiset_equal collects and
    # two counts: the signed-union mismatch flags and the two count
    # aggregates fold via combine_single_rows.
    final = cache.persist(store.read("acct").select("k", "seg", "cents"))
    tdir = store.path("acct")
    log_latest = dl.DeltaLog(tdir).latest_version()
    pr = combine_single_rows(
        multiset_mismatch_flag(final, target_df, "__restore_bad"),
        multiset_mismatch_flag(
            dl.read_delta(spark, tdir).select("k", "seg", "cents"),
            final,
            "__log_bad",
        ),
        pre_restore_df.agg(F.count(F.lit(1)).alias("__pre_n")),
        store.read("acct", store.versions("acct")[-2]).agg(
            F.count(F.lit(1)).alias("__hist_n")
        ),
    ).collect()[0]
    restore_equals_target = pr["__restore_bad"] is None
    history_preserved = int(pr["__hist_n"]) == int(pr["__pre_n"])
    log_consistent = pr["__log_bad"] is None

    return (
        final.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "seg",
            "n",
            "cents_sum",
            F.lit(bool(restore_equals_target)).alias("restore_equals_target"),
            F.lit(bool(history_preserved)).alias("history_preserved"),
            F.lit(bool(log_consistent)).alias("log_consistent"),
            F.lit(int(log_latest)).cast("long").alias("log_latest"),
            F.lit(int(r["files_kept"]) > 0).alias("zero_copy_restore"),
        )
        .orderBy("seg")
    )


Q435_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
b1 AS (
  SELECT k, seg, cents + 500 AS cents FROM base WHERE k % 4 = 0
  UNION ALL
  SELECT k + 20000000 AS k, seg, CAST(1234 AS BIGINT) AS cents
  FROM base WHERE k % 53 = 0
),
live1 AS (
  SELECT * FROM base WHERE k % 4 <> 0
  UNION ALL SELECT * FROM b1
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS restore_equals_target,
       TRUE AS history_preserved,
       TRUE AS log_consistent,
       CAST(3 AS BIGINT) AS log_latest,
       TRUE AS zero_copy_restore
FROM live1
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q436

Q436_WH = os.path.join(_REPO, ".fixtures", ".q436_warehouse")
Q436_CLONE = os.path.join(_REPO, ".fixtures", ".q436_clone")


def q436_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **SHALLOW CLONE** (``delta_log.shallow_clone``): a new
    table whose version-0 commit references the source's live files
    by ABSOLUTE path — zero bytes copied — then diverges with its own
    append while the source stays untouched.

    Pinned properties:

    * ``clone_matches_source`` — the clone reads bit-for-bit equal
      to the source at clone time (two-sided exceptAll through
      ``read_delta``, partition literals and all);
    * divergence — a log-level append lands new rows in the CLONE
      only (``rows`` reflects source+extras; ``src_unchanged``);
    * ``stats_survive`` — the cloned adds carry the source's
      per-file min/max stats BY VALUE, so data-skipping on the clone
      plans from its own log with zero footer opens:
      ``plan_files`` with a selective range predicate keeps a strict
      subset of files (the q416/q422 skipping story, now on a table
      that owns none of its data files);
    * ``clone_is_new_table`` — the clone's metaData carries a fresh
      table id (Delta: a clone is a new table identity sharing
      data lineage, not a view).

    Scale: forking a 100 TB prod table for a staging/CI run costs
    O(|files|) log entries and inherits the full skipping profile —
    the alternative the reference's CI workflow would otherwise pay
    is a second copy of the lake. VACUUM on the clone cannot delete
    source files (outside its root); VACUUM on the source can break
    old clones — Delta's documented caveat, unchanged here."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q436_WH, ignore_errors=True)
    shutil.rmtree(Q436_CLONE, ignore_errors=True)
    store = SnapshotStore(spark, Q436_WH, retain_versions=4, delta_log=True)
    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").alias("cents"),
    )
    store.overwrite("src", base, cluster_by=("k",), n_files=8)
    src_dir = store.path("src")

    n_cloned = dl.shallow_clone(src_dir, Q436_CLONE)
    src_df = dl.read_delta(spark, src_dir).select("k", "nation", "cents")
    clone_df = dl.read_delta(spark, Q436_CLONE).select(
        "k", "nation", "cents"
    )
    # clone_df's plan is pinned to the clone-time file list, so the
    # clone-time equality claim survives deferred execution; evaluated
    # in the fused probe below (round-12 batch 8, guide §1.2).

    # diverge: append "shadow suppliers" to the CLONE's own directory
    extras = base.where("k % 10 = 0").select(
        (F.col("k") + 1_000_000).alias("k"), "nation", "cents"
    )
    app_dir = os.path.join(Q436_CLONE, "append1")
    extras.coalesce(1).write.parquet(app_dir)
    clone_log = dl.DeltaLog(Q436_CLONE)
    adds = [
        {"add": dl.make_add(Q436_CLONE, os.path.join(app_dir, f))}
        for f in sorted(os.listdir(app_dir))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    clone_log.commit(adds, operation="WRITE")

    diverged = dl.read_delta(spark, Q436_CLONE).select(
        "k", "nation", "cents"
    )
    src_after = dl.read_delta(spark, src_dir).select("k", "nation", "cents")
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # multiset_equal collects plus a min() collect).
    pr = combine_single_rows(
        multiset_mismatch_flag(clone_df, src_df, "__clone_bad"),
        multiset_mismatch_flag(src_after, src_df, "__src_bad"),
        base.agg(F.min("k").alias("__lo_k")),
    ).collect()[0]
    clone_matches_source = pr["__clone_bad"] is None
    src_unchanged = pr["__src_bad"] is None

    # data-skipping on the clone, from its OWN log, zero footer opens
    snap = clone_log.snapshot()
    lo_k = pr["__lo_k"]
    kept = snap.plan_files([("k", "<=", int(lo_k))])
    stats_survive = 0 < len(kept) < n_cloned
    src_meta_id = dl.DeltaLog(src_dir).snapshot().metadata["id"]
    clone_is_new_table = snap.metadata["id"] != src_meta_id

    return (
        diverged.groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "bucket",
            "n",
            "cents_sum",
            F.lit(bool(clone_matches_source)).alias("clone_matches_source"),
            F.lit(bool(src_unchanged)).alias("src_unchanged"),
            F.lit(bool(stats_survive)).alias("stats_survive"),
            F.lit(bool(clone_is_new_table)).alias("clone_is_new_table"),
        )
        .orderBy("bucket")
    )


Q436_SQL = """
WITH base AS (
  SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM supplier
),
diverged AS (
  SELECT * FROM base
  UNION ALL
  SELECT k + 1000000 AS k, nation, cents FROM base WHERE k % 10 = 0
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS clone_matches_source,
       TRUE AS src_unchanged,
       TRUE AS stats_survive,
       TRUE AS clone_is_new_table
FROM diverged
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q437

Q437_WH = os.path.join(_REPO, ".fixtures", ".q437_warehouse")


def q437_delta_tail_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FROM the Delta log
    (``spark.readStream.format("delta_tail")``,
    ``sources/delta_stream.py``): tail a log-managed table's commits
    and emit each commit's ADDED rows — Delta's streaming-source
    contract over the pure-Python ``_delta_log``.

    The lifecycle drives the three semantics that matter:

    * **appends stream** — overwrite (v0) + three appends land in the
      sink exactly once each; offsets are log versions, partition
      planning is one InputPartition per added file (driver plans
      from the commit JSON alone, executors read the parquet — a
      1000-file commit fans out across the cluster);
    * **change commits are SKIPPED whole** (``skipChangeCommits``) —
      the COW DELETE between the appends contributes nothing: its
      rewritten files re-add every untouched row, and streaming them
      would double-emit (``change_commit_skipped`` pins the sink
      count to appends only);
    * **starting_version consumes the tail** — a second stream from
      ``starting_version = 2`` sees only the post-v1 appends
      (``tail_rows``), the "resume from my watermark" shape every
      downstream incremental consumer uses.

    Scale: per trigger the source lists the log tail (a handful of
    JSON reads, zero data I/O) and schedules O(files added) tasks —
    the change queue for a 100 TB table costs metadata. Reference:
    chained incremental models on ``file_format: delta``
    (dbt_project.yml:39) run as exactly this streaming read on
    Databricks; customers_latest.sql:3-6 is the downstream merge."""
    from product_analytics_spark.sources.delta_stream import (
        register_delta_tail,
    )
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q437_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q437_WH, retain_versions=10, delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("feed", base, partition_by=("seg",))        # v0
    app1 = cust.where("c_custkey % 13 = 0").select(
        (F.col("c_custkey") + 30_000_000).alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(100).cast("long").alias("cents"),
    )
    store.append("feed", app1, partition_by=("seg",))           # v1
    store.delete_where("feed", "k % 3 = 0")                     # v2 (change)
    app2 = cust.where("c_custkey % 17 = 0").select(
        (F.col("c_custkey") + 40_000_000).alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(200).cast("long").alias("cents"),
    )
    store.append("feed", app2, partition_by=("seg",))           # v3

    register_delta_tail(spark)
    tdir = store.path("feed")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (
            spark.readStream.format("delta_tail")
            .option("path", tdir)
            .load()
        )
        q = (
            src.writeStream.format("memory")
            .queryName("q437_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination(60)

        tail_src = (
            spark.readStream.format("delta_tail")
            .option("path", tdir)
            .option("starting_version", "2")
            .load()
        )
        q2 = (
            tail_src.writeStream.format("memory")
            .queryName("q437_tail_sink")
            .outputMode("append")
            .start()
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        q2.awaitTermination(60)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    streamed = spark.table("q437_sink")
    # ONE fused probe action for the feed-leg counts AND the two sink
    # counts (round-12 batch 8, guide §1.2 — was a fused legs collect
    # plus two separate count() actions).
    pr = combine_single_rows(
        cust.agg(
            F.count(F.lit(1)).alias("n_base"),
            F.sum(
                F.when(F.col("c_custkey") % 13 == 0, 1).otherwise(0)
            ).alias("n_app1"),
            F.sum(
                F.when(F.col("c_custkey") % 17 == 0, 1).otherwise(0)
            ).alias("n_app2"),
        ),
        streamed.agg(F.count(F.lit(1)).alias("__streamed_n")),
        spark.table("q437_tail_sink").agg(
            F.count(F.lit(1)).alias("__tail_n")
        ),
    ).collect()[0]
    n_app2 = int(pr["n_app2"] or 0)
    change_commit_skipped = (
        int(pr["__streamed_n"])
        == int(pr["n_base"]) + int(pr["n_app1"] or 0) + n_app2
    )
    tail_rows = int(pr["__tail_n"])  # app2 only

    return (
        streamed.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "seg",
            "n",
            "cents_sum",
            F.lit(bool(change_commit_skipped)).alias(
                "change_commit_skipped"
            ),
            F.lit(bool(tail_rows == n_app2)).alias("tail_is_post_watermark"),
        )
        .orderBy("seg")
    )


Q437_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
feed AS (
  SELECT k, seg, cents FROM base
  UNION ALL
  SELECT k + 30000000, seg, CAST(100 AS BIGINT) FROM base WHERE k % 13 = 0
  UNION ALL
  SELECT k + 40000000, seg, CAST(200 AS BIGINT) FROM base WHERE k % 17 = 0
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS change_commit_skipped,
       TRUE AS tail_is_post_watermark
FROM feed
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q438

Q438_WH = os.path.join(_REPO, ".fixtures", ".q438_warehouse")


def q438_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **CHECK constraints** (``ALTER TABLE ADD CONSTRAINT`` /
    ``delta.constraints.<name>``), enforced across the whole DML
    surface:

    * the ALTER validates EXISTING data (a constraint the table
      already violates is refused — ``bad_alter_refused``);
    * every write path validates before anything lands: a violating
      COW merge, append, MoR merge, and COW update are each rejected
      with NOTHING committed (``violations_rejected`` counts 4,
      ``version_unchanged`` proves zero partial state);
    * NULL satisfies (SQL CHECK semantics) — a null-balance row
      merges fine (``null_passes``);
    * the log carries ``delta.constraints.*`` in metaData and the
      protocol is upgraded to writer version ≥ 3 (the legacy
      checkConstraints feature) so protocol-aware writers must
      enforce or refuse (``log_property``, ``protocol_writer``).

    Scale: enforcement is one codegen'd predicate fused into the
    write's scan — no extra shuffle, no post-hoc repair job. The
    expensive alternative this removes at 100 TB is the quarantine
    pattern: write bad rows, detect them downstream, rewrite. The
    reference's accepted_values/not_null tests (schema.yml) are
    exactly these constraints run AFTER materialization; pushing them
    into the write is the engine-grade version."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
        SnapshotStore,
    )

    shutil.rmtree(Q438_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q438_WH, retain_versions=5, delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, partition_by=("seg",))
    store.add_constraint("acct", "seg_nn", "seg IS NOT NULL")
    store.add_constraint("acct", "cents_floor", "cents >= -100000000")

    bad_alter_refused = False
    try:
        store.add_constraint("acct", "cents_pos", "cents >= 0")
    except ConstraintViolationError:
        bad_alter_refused = True  # negative balances exist in TPC-H

    ver = store.current_version("acct")
    bad = local_rows_df(spark, 
        [(1, None, 5)], "k long, seg string, cents long"
    )
    very_neg = local_rows_df(spark, 
        [(1, "BUILDING", -200000000)], "k long, seg string, cents long"
    )
    violations_rejected = 0
    for attempt in (
        lambda: store.merge("acct", bad, "k", partition_by=("seg",)),
        lambda: store.append("acct", very_neg),
        lambda: store.merge_mor("acct", very_neg, "k"),
        lambda: store.update_where("acct", "k = 1", {"cents": "-200000000"}),
    ):
        try:
            attempt()
        except ConstraintViolationError:
            violations_rejected += 1
    version_unchanged = store.current_version("acct") == ver

    # NULL satisfies CHECK (cents IS NULL passes cents_floor)
    nullrow = local_rows_df(spark, 
        [(90_000_001, "MACHINERY", None)], "k long, seg string, cents long"
    )
    store.merge("acct", nullrow, "k", partition_by=("seg",))
    null_passes = (
        store.read("acct").where("k = 90000001").count() == 1
    )

    snap = dl.DeltaLog(store.path("acct")).snapshot()
    conf = snap.metadata.get("configuration") or {}
    log_property = (
        conf.get("delta.constraints.seg_nn") == "seg IS NOT NULL"
        and conf.get("delta.constraints.cents_floor") == "cents >= -100000000"
    )
    protocol_writer = int(
        (snap.protocol or {}).get("minWriterVersion", 2)
    )

    return (
        store.read("acct")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "seg",
            "n",
            "cents_sum",
            F.lit(bool(bad_alter_refused)).alias("bad_alter_refused"),
            F.lit(int(violations_rejected)).cast("long").alias(
                "violations_rejected"
            ),
            F.lit(bool(version_unchanged)).alias("version_unchanged"),
            F.lit(bool(null_passes)).alias("null_passes"),
            F.lit(bool(log_property)).alias("log_property"),
            F.lit(int(protocol_writer)).cast("long").alias(
                "protocol_writer"
            ),
        )
        .orderBy("seg")
    )


Q438_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
final AS (
  SELECT * FROM base
  UNION ALL
  SELECT 90000001, 'MACHINERY', NULL
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS bad_alter_refused,
       CAST(4 AS BIGINT) AS violations_rejected,
       TRUE AS version_unchanged,
       TRUE AS null_passes,
       TRUE AS log_property,
       CAST(3 AS BIGINT) AS protocol_writer
FROM final
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q439

Q439_WH = os.path.join(_REPO, ".fixtures", ".q439_warehouse")


def q439_column_mapping_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **column mapping** — ``ALTER TABLE RENAME COLUMN``
    without touching a single data file (PROTOCOL.md "Column
    Mapping"): data files keep PHYSICAL names; metaData's
    schemaString carries the logical names plus
    ``delta.columnMapping.{id,physicalName}`` field metadata, so a
    rename is one metaData-only commit.

    Pinned:

    * ``zero_rewrite`` — the live add set (paths AND inodes) is
      bit-identical across enable+rename;
    * ``read_delta`` exposes the new logical name immediately
      (the output schema of this very query — ``balance_cents``);
    * ``skipping_survives`` — ``plan_files`` on the NEW logical name
      still prunes (predicates translate to the physical stats keys
      the log carries);
    * ``protocol_ok`` — reader ≥ 2 / writer ≥ 5, the legacy
      columnMapping protocol floor;
    * renaming a PARTITION column is refused (its physical name is
      the hive directory layout — ``partition_rename_refused``).

    Scale: renaming a column of a 100 TB table costs one JSON
    commit; the alternative is rewriting every file with the new
    parquet field name. This is also the schema-evolution story the
    reference's ``on_schema_change: sync_all_columns`` implies once
    renames (not just adds) enter the picture."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q439_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q439_WH, retain_versions=5, delta_log=True)
    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").alias("cents"),
    )
    store.overwrite("sup", base, cluster_by=("cents",), n_files=6)
    tdir = store.path("sup")

    def _live_inodes():
        snap = dl.DeltaLog(tdir).snapshot()
        return {
            p: os.stat(dl.resolve_path(tdir, p)).st_ino
            for p in snap.files
        }

    before = _live_inodes()
    dl.enable_column_mapping(tdir)
    dl.rename_column(tdir, "cents", "balance_cents")
    zero_rewrite = _live_inodes() == before

    snap = dl.DeltaLog(tdir).snapshot()
    lo = base.agg(F.min("cents")).collect()[0][0]
    kept = snap.plan_files([("balance_cents", "<=", int(lo))])
    skipping_survives = 0 < len(kept) < 6
    proto = snap.protocol or {}
    protocol_ok = (
        proto.get("minReaderVersion", 1) >= 2
        and proto.get("minWriterVersion", 2) >= 5
    )
    partition_rename_refused = False
    try:
        dl.rename_column(tdir, "k", "supp_id")  # not partition -> ok
        dl.rename_column(tdir, "supp_id", "k")  # rename back
    except dl.DeltaProtocolError:
        pass
    # build a PARTITIONED table to prove the refusal
    part = base.limit(100)
    store.overwrite("sup_part", part, partition_by=("nation",))
    pdir = store.path("sup_part")
    dl.enable_column_mapping(pdir)
    try:
        dl.rename_column(pdir, "nation", "nation_id")
    except dl.DeltaProtocolError:
        partition_rename_refused = True

    return (
        dl.read_delta(spark, tdir)
        .groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("balance_cents").alias("balance_sum"),
        )
        .select(
            "bucket",
            "n",
            "balance_sum",
            F.lit(bool(zero_rewrite)).alias("zero_rewrite"),
            F.lit(bool(skipping_survives)).alias("skipping_survives"),
            F.lit(bool(protocol_ok)).alias("protocol_ok"),
            F.lit(bool(partition_rename_refused)).alias(
                "partition_rename_refused"
            ),
        )
        .orderBy("bucket")
    )


Q439_SQL = """
WITH base AS (
  SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM supplier
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS balance_sum,
       TRUE AS zero_rewrite,
       TRUE AS skipping_survives,
       TRUE AS protocol_ok,
       TRUE AS partition_rename_refused
FROM base
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q440

Q440_WH = os.path.join(_REPO, ".fixtures", ".q440_warehouse")


def q440_history_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY`` + timestamp-based time travel from the
    log alone: a four-commit lifecycle (overwrite → append → COW
    delete → compaction), then the audit trail and ``TIMESTAMP AS
    OF`` resolution — all O(log tail) reads, zero data I/O on the
    metadata side.

    Pinned:

    * the history is [OPTIMIZE, DML, WRITE, WRITE] newest-first with
      MONOTONIC in-commit timestamps (deterministic version·1000 —
      the inCommitTimestamp field timestamp travel resolves against);
    * ``version_at_timestamp`` picks the LATEST version at-or-before
      the instant (Delta's resolution rule), and reading THROUGH the
      log at the resolved versions returns the right row counts:
      at t=1000 the append is visible but the delete is not
      (``rows_at_t1``), at t=9999 the compacted current state
      (``rows_now``);
    * the compaction commit changed NO rows (``rows_now`` equals the
      post-delete count — OPTIMIZE rearranges, never edits).

    Scale: the audit trail of a 100 TB table is its log tail — who
    wrote what, when, in which shape (operation string + action
    counts), with no data files opened. Reference: dbt run auditing
    over Delta's DESCRIBE HISTORY (dbt_project.yml:39)."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q440_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q440_WH, retain_versions=8, delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("audit", base)                              # v0  t=0
    extra = cust.where("c_custkey % 11 = 0").select(
        (F.col("c_custkey") + 50_000_000).alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(42).cast("long").alias("cents"),
    )
    store.append("audit", extra)                                # v1  t=1000
    store.delete_where("audit", "k % 2 = 0")                    # v2  t=2000
    store.compact("audit", target_bytes=1 << 30)                # v3  t=3000

    tdir = store.path("audit")
    log = dl.DeltaLog(tdir)
    hist = log.history()
    ts_monotonic = all(
        h["inCommitTimestamp"] == h["version"] * 1000 for h in hist
    )
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was four
    # separate counts of the two feed legs and the two travel reads).
    v_t1 = log.version_at_timestamp(1000)
    v_now = log.version_at_timestamp(999_999)
    pr = combine_single_rows(
        base.agg(F.count(F.lit(1)).alias("__n_base")),
        extra.agg(F.count(F.lit(1)).alias("__n_extra")),
        dl.read_delta(spark, tdir, version=v_t1).agg(
            F.count(F.lit(1)).alias("__rows_at_t1")
        ),
        dl.read_delta(spark, tdir, version=v_now).agg(
            F.count(F.lit(1)).alias("__rows_now")
        ),
    ).collect()[0]
    n_base = int(pr["__n_base"])
    n_extra = int(pr["__n_extra"])
    rows_at_t1 = int(pr["__rows_at_t1"])
    rows_now = int(pr["__rows_now"])

    rows = [
        (
            int(h["version"]),
            str(h["operation"]),
            int(h["inCommitTimestamp"]),
        )
        for h in hist
    ]
    return (
        local_rows_df(spark, 
            rows, "version long, operation string, commit_ts long"
        )
        .select(
            "version",
            "operation",
            "commit_ts",
            F.lit(bool(ts_monotonic)).alias("ts_monotonic"),
            F.lit(bool(rows_at_t1 == n_base + n_extra)).alias(
                "t1_sees_append_not_delete"
            ),
            F.lit(int(rows_now)).cast("long").alias("rows_now"),
        )
        .orderBy(F.col("version").desc())
    )


Q440_SQL = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
feed AS (
  SELECT k, cents FROM base
  UNION ALL
  SELECT k + 50000000 AS k, CAST(42 AS BIGINT) AS cents
  FROM base WHERE k % 11 = 0
),
hist(version, operation) AS (
  VALUES (3, 'OPTIMIZE'), (2, 'DML'), (1, 'WRITE'), (0, 'WRITE')
)
SELECT CAST(version AS BIGINT) AS version,
       operation,
       CAST(version * 1000 AS BIGINT) AS commit_ts,
       TRUE AS ts_monotonic,
       TRUE AS t1_sees_append_not_delete,
       (SELECT CAST(count(*) AS BIGINT) FROM feed WHERE k % 2 <> 0)
         AS rows_now
FROM hist
ORDER BY version DESC
"""


# ------------------------------------------------------------- q441

Q441_WH = os.path.join(_REPO, ".fixtures", ".q441_warehouse")


def q441_cdf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Change Data Feed (Delta's ``readChangeFeed``):
    ``format("delta_tail").option("read_change_feed", "true")`` tails
    the log and serves each commit's CHANGES — cdc files for DML
    commits (rows carry their own ``_change_type``), derived inserts
    for append commits — instead of skipping change commits like the
    raw-append mode does.

    The lifecycle (overwrite → MERGE → DELETE → append) exercises
    both sources of change rows in one stream:

    * v1/v2 are COW DML commits: their cdc actions are read ALONE,
      ignoring the add/remove churn that re-adds every unchanged
      row — counting it would inflate the feed by the whole table
      per DML (the same rule q434 pins for the batch reader, now on
      the streaming path with one InputPartition per change file);
    * v0/v3 have no cdc actions: their dataChange adds derive
      ``insert`` rows — appends pay ZERO extra write cost for feed
      support;
    * the streamed feed equals the batch ``table_changes`` feed
      bit-for-bit (``stream_matches_batch``) — one implementation
      of the CDF contract, two consumption shapes.

    Scale: this is the shape a 100 TB incremental DAG actually runs —
    the downstream model is a STREAM over the upstream's change feed,
    merging deltas at O(changed rows) per trigger with offsets in the
    engine's checkpoint. Reference: customers_latest.sql:3-6 (merge
    on a CDC stream) chained on dbt_project.yml:39 Delta models."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.delta_stream import (
        register_delta_tail,
    )
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q441_WH, ignore_errors=True)
    store = SnapshotStore(
        spark, Q441_WH, retain_versions=10, delta_log=True, cdf=True
    )
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("feed", base, partition_by=("seg",))       # v0
    batch = base.where("k % 6 = 0").withColumn(
        "cents", (F.col("cents") + 77).cast("long")
    )
    store.merge("feed", batch, "k", partition_by=("seg",))     # v1
    store.delete_where("feed", "k % 13 = 0")                   # v2
    app = cust.where("c_custkey % 19 = 0").select(
        (F.col("c_custkey") + 60_000_000).alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(900).cast("long").alias("cents"),
    )
    store.append("feed", app, partition_by=("seg",))           # v3

    register_delta_tail(spark)
    tdir = store.path("feed")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (
            spark.readStream.format("delta_tail")
            .option("path", tdir)
            .option("read_change_feed", "true")
            .load()
        )
        q = (
            src.writeStream.format("memory")
            .queryName("q441_sink")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination(60)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    streamed = spark.table("q441_sink")
    batch_feed = dl.table_changes(spark, tdir, 0).select(
        *streamed.columns
    )
    stream_matches_batch = multiset_equal(streamed, batch_feed)

    return (
        streamed.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "commit_version",
            "change_type",
            "n",
            "cents_sum",
            F.lit(bool(stream_matches_batch)).alias("stream_matches_batch"),
        )
        .orderBy("commit_version", "change_type")
    )


Q441_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
ch0 AS (
  SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
         k, cents
  FROM base
),
live1 AS (
  SELECT k, CASE WHEN k % 6 = 0 THEN cents + 77 ELSE cents END AS cents
  FROM base
),
ch1 AS (
  SELECT CAST(1 AS BIGINT), 'update_preimage', k, cents
  FROM base WHERE k % 6 = 0
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'update_postimage', k, cents + 77
  FROM base WHERE k % 6 = 0
),
ch2 AS (
  SELECT CAST(2 AS BIGINT), 'delete', k, cents
  FROM live1 WHERE k % 13 = 0
),
ch3 AS (
  SELECT CAST(3 AS BIGINT), 'insert', k + 60000000 AS k,
         CAST(900 AS BIGINT) AS cents
  FROM base WHERE k % 19 = 0
),
feed AS (
  SELECT * FROM ch0 UNION ALL SELECT * FROM ch1
  UNION ALL SELECT * FROM ch2 UNION ALL SELECT * FROM ch3
)
SELECT commit_version, change_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS stream_matches_batch
FROM feed
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
"""


# ------------------------------------------------------------- q442

Q442_WH = os.path.join(_REPO, ".fixtures", ".q442_warehouse")


def q442_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **generated columns** (``delta.generationExpression``,
    the writer-version-4 generatedColumns feature), in their
    canonical role: a PARTITION column derived from an event
    timestamp, so writers can never desynchronize the partition key
    from the data.

    Lifecycle: declare ``order_month GENERATED ALWAYS AS
    (date_format(order_date, 'yyyy-MM'))``, then

    * overwrite + merge + append, each OMITTING the column — it is
      computed and materialized (the hive layout lands partitioned
      by it, so every later month-ranged query prunes);
    * a batch SUPPLYING a wrong value is rejected null-safely with
      nothing committed (``wrong_value_rejected`` /
      ``version_unchanged``); a correct supplied value passes;
    * the log's schemaString carries the expression in the FIELD
      metadata and the protocol floor is writer ≥ 4
      (``log_expression``, ``protocol_writer``).

    Scale: at 100 TB a single writer computing its own partition
    month in local time (off-by-one vs UTC) silently splits every
    day's data across two partitions — every downstream partition-
    pruned query then scans double, forever. Making the engine
    compute the column from the declared expression removes that
    class of corruption at the write boundary. Reference: the
    reference's models partition on derived date parts
    (orders_cleaned.sql's date extraction + dbt_project.yml:39 Delta
    materialization) — this is the engine-grade form."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
        SnapshotStore,
    )

    shutil.rmtree(Q442_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q442_WH, retain_versions=5, delta_log=True)
    store.set_generated(
        "ord", "order_month", "date_format(order_date, 'yyyy-MM')"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("order_date"),
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite(
        "ord", orders.where("k % 3 != 0"), partition_by=("order_month",)
    )
    store.merge(
        "ord",
        orders.where("k % 3 = 0 AND k % 6 != 0"),
        "k",
        partition_by=("order_month",),
    )
    store.append(
        "ord", orders.where("k % 6 = 0"), partition_by=("order_month",)
    )

    ver = store.current_version("ord")
    wrong = orders.where("k % 7 = 0").limit(5).withColumn(
        "order_month", F.lit("1900-01")
    )
    wrong_value_rejected = False
    try:
        store.merge("ord", wrong, "k", partition_by=("order_month",))
    except ConstraintViolationError:
        wrong_value_rejected = True
    version_unchanged = store.current_version("ord") == ver

    snap = dl.DeltaLog(store.path("ord")).snapshot()
    import json as _json

    fields = _json.loads(snap.metadata["schemaString"])["fields"]
    md = {f["name"]: (f.get("metadata") or {}) for f in fields}
    log_expression = (
        md.get("order_month", {}).get("delta.generationExpression")
        == "date_format(order_date, 'yyyy-MM')"
    )
    protocol_writer = int((snap.protocol or {}).get("minWriterVersion", 2))

    return (
        store.read("ord")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "order_month",
            "n",
            "cents_sum",
            F.lit(bool(wrong_value_rejected)).alias("wrong_value_rejected"),
            F.lit(bool(version_unchanged)).alias("version_unchanged"),
            F.lit(bool(log_expression)).alias("log_expression"),
            F.lit(int(protocol_writer)).cast("long").alias(
                "protocol_writer"
            ),
        )
        .orderBy("order_month")
        .limit(24)
    )


Q442_SQL = """
WITH base AS (
  SELECT o_orderkey AS k,
         strftime(o_orderdate, '%Y-%m') AS order_month,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
)
SELECT order_month,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS wrong_value_rejected,
       TRUE AS version_unchanged,
       TRUE AS log_expression,
       CAST(4 AS BIGINT) AS protocol_writer
FROM base
GROUP BY order_month
ORDER BY order_month
LIMIT 24
"""


# ------------------------------------------------------------- q443

Q443_WH = os.path.join(_REPO, ".fixtures", ".q443_warehouse")


def q443_identity_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **identity columns** (``delta.identity.*``, the
    writer-version-6 identityColumns feature) in their canonical
    role: the SURROGATE KEY of a dimension table that incremental
    merges must keep STABLE.

    Lifecycle: declare ``sk GENERATED ALWAYS AS IDENTITY``, overwrite
    the customer dimension (every row allocated a fresh key), then
    two incremental merges — updates + late arrivals:

    * matched rows INHERIT their existing surrogate key
      (``keys_stable`` — the property every star-schema fact join
      depends on: a surrogate key that churns on update orphans all
      facts referencing it);
    * inserted rows allocate ABOVE the persisted high-water mark
      (``fresh_above_hwm``), so keys stay unique across writes and
      engine restarts;
    * ids are unique table-wide after the full lifecycle
      (``all_unique``);
    * supplying the column on an insert path is refused — GENERATED
      ALWAYS (``supplied_refused``);
    * the log carries the spec in the FIELD metadata with protocol
      writer ≥ 6 (``log_spec``, ``protocol_writer``).

    Allocation is O(rows written) with zero shuffles (partition-local
    offsets above the durable high-water mark — no global sort, no
    window). Scale: at 100 TB the alternative people actually ship —
    ``row_number() OVER ()`` per batch — is a single-partition sort
    of the whole table per run AND re-issues keys on every backfill;
    the sequence-with-HWM is what makes surrogate keys cheap and
    stable. Output keys are NOT in the result (they're
    allocation-order-dependent); the cert pins their PROPERTIES and
    returns the business aggregate per segment."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
        SnapshotStore,
    )

    shutil.rmtree(Q443_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q443_WH, retain_versions=5, delta_log=True)
    store.set_identity("dim", "sk", start=1000, step=1)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("dim", base)
    # Lazy plan pinned to v0's (immutable, retained) files — consumed
    # by the fused probe after the merges instead of an eager collect
    # here (round-12 batch 8, guide §1.2: was two full-table collects
    # compared in Python; one combined aggregate action answers all
    # three invariants distributively).
    v0_sk = store.read("dim").select("nk", F.col("sk").alias("sk0"))
    hwm0 = store.identity_columns("dim")["sk"]["high_water_mark"]

    b1 = base.where("nk % 5 = 0").withColumn(
        "cents", (F.col("cents") + 11).cast("long")
    ).unionByName(
        cust.where("c_custkey % 41 = 0").select(
            (F.col("c_custkey") + 70_000_000).alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.lit(1).cast("long").alias("cents"),
        )
    )
    store.merge("dim", b1, "nk")
    b2 = base.where("nk % 10 = 0").withColumn(
        "cents", (F.col("cents") + 22).cast("long")
    )
    store.merge_mor("dim", b2, "nk")

    head = store.read("dim").select("nk", "sk")
    pr = combine_single_rows(
        head.agg(
            F.count(F.lit(1)).alias("__n_rows"),
            F.countDistinct("sk").alias("__nd_sk"),
        ),
        head.join(v0_sk, "nk").agg(
            F.count_if(F.col("sk") != F.col("sk0")).alias("__sk_changed")
        ),
        head.join(v0_sk, "nk", "left_anti").agg(
            F.count(F.lit(1)).alias("__n_fresh"),
            F.count_if(F.col("sk") <= hwm0).alias("__fresh_low"),
        ),
    ).collect()[0]
    keys_stable = int(pr["__sk_changed"]) == 0
    fresh_above_hwm = (
        int(pr["__fresh_low"]) == 0 and int(pr["__n_fresh"]) > 0
    )
    all_unique = int(pr["__nd_sk"]) == int(pr["__n_rows"])

    supplied_refused = False
    try:
        store.append("dim", store.read("dim").limit(1))
    except ConstraintViolationError:
        supplied_refused = True

    snap = dl.DeltaLog(store.path("dim")).snapshot()
    import json as _json

    fields = _json.loads(snap.metadata["schemaString"])["fields"]
    md = {f["name"]: (f.get("metadata") or {}) for f in fields}
    log_spec = (
        md.get("sk", {}).get("delta.identity.start") == 1000
        and md.get("sk", {}).get("delta.identity.step") == 1
        and md.get("sk", {}).get("delta.identity.highWaterMark")
        is not None
    )
    protocol_writer = int((snap.protocol or {}).get("minWriterVersion", 2))

    return (
        store.read("dim")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "seg",
            "n",
            "cents_sum",
            F.lit(bool(keys_stable)).alias("keys_stable"),
            F.lit(bool(fresh_above_hwm)).alias("fresh_above_hwm"),
            F.lit(bool(all_unique)).alias("all_unique"),
            F.lit(bool(supplied_refused)).alias("supplied_refused"),
            F.lit(bool(log_spec)).alias("log_spec"),
            # the MoR merge's deletion vector upgrades to 3/7, which
            # subsumes the identity floor — pin the FLOOR, not the
            # exact number
            F.lit(bool(protocol_writer >= 6)).alias("protocol_at_least_6"),
        )
        .orderBy("seg")
    )


Q443_SQL = """
WITH base AS (
  SELECT c_custkey AS nk, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
live1 AS (
  SELECT nk, seg,
         CASE WHEN nk % 5 = 0 THEN cents + 11 ELSE cents END AS cents
  FROM base
  UNION ALL
  SELECT nk + 70000000, seg, CAST(1 AS BIGINT)
  FROM base WHERE nk % 41 = 0
),
live2 AS (
  SELECT nk, seg,
         CASE WHEN nk % 10 = 0 AND nk < 70000000
              THEN (SELECT b.cents FROM base b WHERE b.nk = live1.nk) + 22
              ELSE cents END AS cents
  FROM live1
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS keys_stable,
       TRUE AS fresh_above_hwm,
       TRUE AS all_unique,
       TRUE AS supplied_refused,
       TRUE AS log_spec,
       TRUE AS protocol_at_least_6
FROM live2
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q444

Q444_WH = os.path.join(_REPO, ".fixtures", ".q444_warehouse")


def q444_writer_features_composed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CAPSTONE: every writer feature COMPOSING on one table — the
    realistic incremental dimension pipeline a dbt user actually
    runs. One customer dimension declares, together:

    * an IDENTITY surrogate key (``sk``, X402),
    * a GENERATED partition column (``grp`` from the natural key,
      X401),
    * a CHECK constraint (``cents >= -100000000``, X397),
    * Change Data Feed on (``cdf=True``, X393),
    all under ``delta_log=True``.

    Then two incremental merges (updates + late arrivals) and one
    violating batch, and the cert pins the INTERACTIONS — the part
    no single-feature cert covers:

    * identity inheritance runs through the generated-column path:
      matched rows keep ``sk`` AND their recomputed ``grp`` equals
      the stored one; inserted rows get BOTH allocated
      (``sk_stable_and_unique``);
    * the violating batch is rejected by the CHECK with the
      high-water mark already advanced — ids burn, rows don't land
      (``violation_burns_ids_not_rows``: version unchanged, next
      insert's sk still unique);
    * the change feed shows the composed writes: postimages carry
      the INHERITED sk (a feed consumer joining facts on sk sees a
      stable key), inserts carry freshly allocated ones
      (``feed_sk_consistent``);
    * the log metaData carries all three field/property declarations
      at once and the protocol floor is the max of the features'
      floors (``log_all_declared``).

    Scale: these features only earn their keep if they compose —
    a real 100 TB dimension has all of them on the same table, and
    the interaction surface (allocation inside a rejected txn,
    generated columns on the identity-joined batch, CDF of the
    composed row) is where engines break. Reference:
    customers_latest.sql:3-6 + schema.yml tests + dbt_project.yml:39
    — this is that model, engine-grade."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
        SnapshotStore,
    )

    shutil.rmtree(Q444_WH, ignore_errors=True)
    store = SnapshotStore(
        spark, Q444_WH, retain_versions=10, delta_log=True, cdf=True
    )
    store.set_identity("dim", "sk", start=1, step=1)
    store.set_generated("dim", "grp", "concat('g', CAST(nk % 4 AS STRING))")
    cust = _t(spark, sf_dir, "customer")
    base = cust.where("c_custkey % 2 = 0").select(
        F.col("c_custkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("dim", base, partition_by=("grp",))        # v0
    store.add_constraint("dim", "cents_floor", "cents >= -100000000")
    # Lazy plan pinned to v0's (immutable, retained) files — consumed
    # by the fused probe after the merges instead of an eager collect
    # here (round-12 batch 8, guide §1.2: the cert ran 2 collects + 3
    # counts; one combined aggregate action answers all of them).
    v0_sk = store.read("dim").select("nk", F.col("sk").alias("sk0"))

    b1 = base.where("nk % 5 = 0").withColumn(
        "cents", (F.col("cents") + 101).cast("long")
    ).unionByName(
        cust.where("c_custkey % 67 = 0 AND c_custkey % 2 = 0").select(
            (F.col("c_custkey") + 80_000_000).alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.lit(500).cast("long").alias("cents"),
        )
    )
    store.merge("dim", b1, "nk", partition_by=("grp",))        # merge 1

    ver = store.current_version("dim")
    bad = local_rows_df(spark, 
        [(1, "BUILDING", -200_000_000)], "nk long, seg string, cents long"
    )
    rejected = False
    try:
        store.merge("dim", bad, "nk", partition_by=("grp",))
    except ConstraintViolationError:
        rejected = True
    version_unchanged = store.current_version("dim") == ver

    b2 = cust.where("c_custkey % 71 = 0 AND c_custkey % 2 = 0").select(
        (F.col("c_custkey") + 90_000_000).alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(700).cast("long").alias("cents"),
    )
    store.merge("dim", b2, "nk", partition_by=("grp",))        # merge 2

    tdir = store.path("dim")
    # Persist: the feed (union over every version's change files)
    # feeds the pre/post join AND the insert-null probe — one
    # O(changes) materialization, released by cache.clear_all
    # (round-12, guide §5).
    feed = cache.persist(dl.table_changes(spark, tdir, 0))
    # postimages inherit the matched row's sk; inserts get fresh ones
    post = feed.where("_change_type = 'update_postimage'").select(
        "nk", F.col("sk").alias("post_sk")
    )
    pre = feed.where("_change_type = 'update_preimage'").select(
        "nk", F.col("sk").alias("pre_sk")
    )
    # ONE fused probe action (round-12 batch 8, guide §1.2) replacing
    # 2 collects + 3 counts: per-relation single-row aggregates folded
    # via combine_single_rows (union + max — no join nodes). The
    # predicates are the exact ones the collect-loop checks applied:
    # nk >= 0 everywhere, so Python's f"g{nk % 4}" == SQL's
    # concat('g', nk % 4), and nk (the merge key) is unique, so
    # len(set(sk)) == len(dict) is countDistinct(sk) == count(*).
    head = store.read("dim")
    p_head = head.agg(
        F.count(F.lit(1)).alias("__n_rows"),
        F.countDistinct("sk").alias("__nd_sk"),
        F.count_if(
            F.col("grp")
            != F.concat(F.lit("g"), (F.col("nk") % 4).cast("string"))
        ).alias("__grp_bad"),
        F.count_if(F.col("cents") == -200_000_000).alias("__cents_bad"),
    )
    p_stable = (
        head.select("nk", "sk")
        .join(v0_sk, "nk")
        .agg(F.count_if(F.col("sk") != F.col("sk0")).alias("__sk_changed"))
    )
    p_mismatch = (
        post.join(pre, "nk")
        .agg(
            F.count_if(
                F.col("post_sk").isNull()
                | F.col("pre_sk").isNull()
                | (F.col("post_sk") != F.col("pre_sk"))
            ).alias("__feed_mismatch")
        )
    )
    p_nulls = feed.agg(
        F.count_if(
            (F.col("_change_type") == "insert") & F.col("sk").isNull()
        ).alias("__ins_sk_nulls")
    )
    pr = combine_single_rows(p_head, p_stable, p_mismatch, p_nulls).collect()[0]
    sk_stable_and_unique = (
        int(pr["__sk_changed"]) == 0
        and int(pr["__nd_sk"]) == int(pr["__n_rows"])
        and int(pr["__grp_bad"]) == 0
    )
    violation_burns_ids_not_rows = (
        rejected and version_unchanged and int(pr["__cents_bad"]) == 0
    )
    feed_sk_consistent = (
        int(pr["__feed_mismatch"]) == 0 and int(pr["__ins_sk_nulls"]) == 0
    )

    snap = dl.DeltaLog(tdir).snapshot()
    import json as _json

    fields = _json.loads(snap.metadata["schemaString"])["fields"]
    md = {f["name"]: (f.get("metadata") or {}) for f in fields}
    conf = snap.metadata.get("configuration") or {}
    log_all_declared = (
        md.get("sk", {}).get("delta.identity.start") == 1
        and md.get("grp", {}).get("delta.generationExpression")
        == "concat('g', CAST(nk % 4 AS STRING))"
        and conf.get("delta.constraints.cents_floor") == "cents >= -100000000"
        and conf.get("delta.enableChangeDataFeed") == "true"
        and (snap.protocol or {}).get("minWriterVersion", 2) >= 6
    )

    return (
        store.read("dim")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "grp",
            "n",
            "cents_sum",
            F.lit(bool(sk_stable_and_unique)).alias("sk_stable_and_unique"),
            F.lit(bool(violation_burns_ids_not_rows)).alias(
                "violation_burns_ids_not_rows"
            ),
            F.lit(bool(feed_sk_consistent)).alias("feed_sk_consistent"),
            F.lit(bool(log_all_declared)).alias("log_all_declared"),
        )
        .orderBy("grp")
    )


Q444_SQL = """
WITH base AS (
  SELECT c_custkey AS nk, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 2 = 0
),
live1 AS (
  SELECT nk,
         CASE WHEN nk % 5 = 0 THEN cents + 101 ELSE cents END AS cents
  FROM base
  UNION ALL
  SELECT nk + 80000000, CAST(500 AS BIGINT) FROM base WHERE nk % 67 = 0
),
live2 AS (
  SELECT * FROM live1
  UNION ALL
  SELECT nk + 90000000, CAST(700 AS BIGINT) FROM base WHERE nk % 71 = 0
)
SELECT concat('g', CAST(nk % 4 AS STRING)) AS grp,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS sk_stable_and_unique,
       TRUE AS violation_burns_ids_not_rows,
       TRUE AS feed_sk_consistent,
       TRUE AS log_all_declared
FROM live2
GROUP BY grp
ORDER BY grp
"""


# ------------------------------------------------------------- q445

Q445_WH = os.path.join(_REPO, ".fixtures", ".q445_warehouse")


def q445_delta_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta **version checksum** files (``<version>.crc`` — the
    VERSION_CHECKSUM sidecar real Delta writers emit next to every
    commit): a JSON summary of the post-commit state (numFiles,
    tableSizeBytes, numRecords, protocol, metaData) that lets any
    reader VALIDATE its reconstructed snapshot in O(1) instead of
    trusting its own replay.

    Lifecycle overwrite → MERGE → COW DELETE → append; then

    * every version's stored crc passes ``validate_checksum``
      (recompute-and-compare — ``validated_all``);
    * a TAMPERED crc (numFiles off by one on a scratch table) is
      detected loudly (``tamper_detected``), which is the point: a
      silent log corruption becomes a hard error at read time, not
      wrong query results;
    * ``cleanup_log`` removes the crc sidecars of dead commits with
      their JSON (pytest);
    * the returned rows ARE the stored crc contents per version, and
      the DuckDB oracle INDEPENDENTLY recomputes numFiles /
      tableSizeBytes / numRecords by replaying the raw commit JSON
      (adds minus removes at each version) — the checksum math
      verified cross-engine, the q421/q429 oracle pattern.

    Scale: at 100 TB the crc is how an engine detects a torn/tampered
    log WITHOUT re-listing a million files: one 300-byte read per
    version. Writers pay one extra JSON write per commit (the
    snapshot they already replayed). Reference: Delta's crc files on
    every ``file_format: delta`` table (dbt_project.yml:39)."""
    import json as _json

    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q445_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q445_WH, retain_versions=8, delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base)                                  # v0
    b1 = base.where("k % 4 = 0").withColumn(
        "cents", (F.col("cents") + 9).cast("long")
    )
    store.merge("t", b1, "k")                                   # v1
    store.delete_where("t", "k % 9 = 0")                        # v2
    store.append("t", base.where("k % 13 = 0").withColumn(
        "k", (F.col("k") + 40_000_000)
    ))                                                          # v3

    tdir = store.path("t")
    log = dl.DeltaLog(tdir)
    latest = log.latest_version()
    validated_all = all(
        log.validate_checksum(v) for v in range(latest + 1)
    )

    # tamper detection on a scratch table
    store.overwrite("scratch", base.limit(50))
    slog = dl.DeltaLog(store.path("scratch"))
    crc_path = slog._crc_path(0)
    body = _json.loads(open(crc_path, encoding="utf-8").read())
    body["numFiles"] += 1
    open(crc_path, "w", encoding="utf-8").write(_json.dumps(body))
    tamper_detected = False
    try:
        slog.validate_checksum(0)
    except dl.DeltaProtocolError:
        tamper_detected = True

    rows = []
    for v in range(latest + 1):
        crc = _json.loads(
            open(log._crc_path(v), encoding="utf-8").read()
        )
        rows.append(
            (
                v,
                int(crc["numFiles"]),
                int(crc["tableSizeBytes"]),
                int(crc["numRecords"]),
            )
        )
    return (
        local_rows_df(spark, 
            rows,
            "version long, num_files long, table_size_bytes long, "
            "num_records long",
        )
        .select(
            "version",
            "num_files",
            "table_size_bytes",
            "num_records",
            F.lit(bool(validated_all)).alias("validated_all"),
            F.lit(bool(tamper_detected)).alias("tamper_detected"),
        )
        .orderBy("version")
    )


Q445_SQL = f"""
WITH raw AS (
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q445_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
adds AS (
  SELECT version, add.path AS path, CAST(add.size AS BIGINT) AS sz,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec
  FROM raw WHERE add IS NOT NULL
),
removes AS (
  SELECT version, remove.path AS path
  FROM raw WHERE remove IS NOT NULL
),
versions AS (SELECT DISTINCT version FROM raw),
live AS (
  SELECT v.version AS version, a.path, a.sz, a.nrec
  FROM versions v
  JOIN adds a ON a.version <= v.version
  WHERE NOT EXISTS (
    SELECT 1 FROM removes r
    WHERE r.path = a.path
      AND r.version <= v.version AND r.version >= a.version
  )
)
SELECT version,
       CAST(count(*) AS BIGINT) AS num_files,
       CAST(sum(sz) AS BIGINT) AS table_size_bytes,
       CAST(sum(nrec) AS BIGINT) AS num_records,
       TRUE AS validated_all,
       TRUE AS tamper_detected
FROM live
GROUP BY version
ORDER BY version
"""


QUERIES_EXT92 = {
    "q444_writer_features_composed": q444_writer_features_composed,
    "q445_delta_checksum": q445_delta_checksum,
    "q434_cdf_table_changes": q434_cdf_table_changes,
    "q441_cdf_stream": q441_cdf_stream,
    "q442_generated_columns": q442_generated_columns,
    "q443_identity_columns": q443_identity_columns,
    "q435_restore_lifecycle": q435_restore_lifecycle,
    "q436_shallow_clone": q436_shallow_clone,
    "q437_delta_tail_stream": q437_delta_tail_stream,
    "q438_check_constraints": q438_check_constraints,
    "q439_column_mapping_rename": q439_column_mapping_rename,
    "q440_history_time_travel": q440_history_time_travel,
}


def _oracles_ext92() -> dict[str, str]:
    return {
        "q434_cdf_table_changes": Q434_SQL,
        "q441_cdf_stream": Q441_SQL,
        "q442_generated_columns": Q442_SQL,
        "q443_identity_columns": Q443_SQL,
        "q444_writer_features_composed": Q444_SQL,
        "q445_delta_checksum": Q445_SQL,
        "q435_restore_lifecycle": Q435_SQL,
        "q436_shallow_clone": Q436_SQL,
        "q437_delta_tail_stream": Q437_SQL,
        "q438_check_constraints": Q438_SQL,
        "q439_column_mapping_rename": Q439_SQL,
        "q440_history_time_travel": Q440_SQL,
    }
