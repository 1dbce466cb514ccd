"""Round-8 driver query families, batch 88 (q413-q414): optimistic
concurrency control threaded through the copy-on-write DML and
compaction commit paths — the round-7 verdict's top item. A concurrent
merge landing between a DML/compaction snapshot scan and its log
commit (the putIfAbsent of the next entry) must be detected
(ConcurrentWriteError), never silently lost;
the loser re-scans the fresh version and retries, yielding the serial
history the DuckDB oracle replays.

Reference mapping: Delta/Iceberg commit-conflict protocol under
``DELETE FROM``/``OPTIMIZE`` (the reference's dbt project materializes
with Delta, dbt_project.yml:39, where concurrent MERGE vs DELETE gets
exactly this resolution).

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import (
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _live_files(store, name: str) -> list[str]:
    """The live data files of store table ``name``: its log snapshot's
    adds, as absolute paths in path order."""
    from product_analytics_spark.sources import delta_log as dl

    return [
        dl.resolve_path(store.path(name), rel)
        for rel in sorted(store.delta_snapshot(name).files)
    ]

# ------------------------------------------------------------- q413

Q413_WH = os.path.join(_REPO, ".fixtures", ".q413_warehouse")


def q413_occ_dml_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCC across a COW DELETE interleaved with a concurrent MERGE —
    the exact lost-update VERDICT r7 flagged (sinks.py committed DML
    rewrites UNCHECKED before this round). The interleaving is made
    deterministic with the fault-injection hook: ``delete_where``
    scans version v0's files, then — inside the scan→commit window —
    a merge commits v1 (+500 cents on every k%10 account). The
    delete's commit presents expected_version=v0, is REFUSED, and the
    retry loop re-scans v1 and commits against it: serial history
    merge→delete, both writers preserved.

    The compared values are the per-segment aggregates of the final
    table (oracle replays merge-then-delete in SQL) plus the protocol
    certs: ``conflict_retried`` (the hook saw a second scan),
    ``merge_preserved`` (survivor k%10 rows carry the concurrent
    writer's +500 — with the pre-fix unchecked commit this is exactly
    the boolean that flips false), and ``n_survivor_merged`` so the
    overlap the lost update would erase is a compared COUNT, not just
    a flag.

    Scale: conflict detection is a log-version compare in a
    microsecond critical section ending in the log's putIfAbsent; the
    retry re-pays only the touched-file scan
    (one input_file_name() manifest pass) — contention costs retry
    work, never correctness, same as Delta's commit-retry loop."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q413_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q413_WH, retain_versions=3)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base)

    batch_b = base.filter(F.col("k") % 10 == 0).withColumn(
        "cents", F.col("cents") + 500
    )
    scans = {"n": 0}

    def _concurrent_merge():
        scans["n"] += 1
        if scans["n"] == 1:  # land B's commit inside A's scan→commit window
            store.merge("acct", batch_b, "k")

    store.delete_where("acct", "k % 3 = 0", post_scan=_concurrent_merge)
    conflict_retried = scans["n"] >= 2

    final = store.read("acct")
    # Lost-update detector: every surviving k%10 account must carry the
    # concurrent merge's +500. Blind v0-based commit loses all of them.
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate collects of the expected and surviving sums).
    pr = combine_single_rows(
        base.filter((F.col("k") % 10 == 0) & (F.col("k") % 3 != 0)).agg(
            F.count(F.lit(1)).alias("__exp_cnt"),
            F.sum("cents").alias("__exp_sum"),
        ),
        final.filter(F.col("k") % 10 == 0).agg(
            F.sum("cents").alias("__got_sum")
        ),
    ).collect()[0]
    merge_preserved = (
        pr["__got_sum"] == pr["__exp_sum"] + 500 * pr["__exp_cnt"]
    )

    return (
        final.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / 100.0).cast("double").alias("balance_sum"),
            F.sum(((F.col("k") % 10) == 0).cast("bigint")).alias(
                "n_survivor_merged"
            ),
        )
        .select(
            "seg",
            "n",
            "balance_sum",
            "n_survivor_merged",
            F.lit(bool(conflict_retried)).alias("conflict_retried"),
            F.lit(bool(merge_preserved)).alias("merge_preserved"),
        )
        .orderBy("seg")
    )


Q413_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
merged AS (  -- writer B commits first: serial order is merge -> delete
  SELECT k, seg,
         CASE WHEN k % 10 = 0 THEN cents + 500 ELSE cents END AS cents
  FROM base
),
final AS (
  SELECT * FROM merged WHERE NOT (k % 3 = 0)
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       CAST(sum(CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivor_merged,
       TRUE AS conflict_retried,
       TRUE AS merge_preserved
FROM final GROUP BY seg ORDER BY seg
"""


# ------------------------------------------------------------- q414

Q414_WH = os.path.join(_REPO, ".fixtures", ".q414_warehouse")


def q414_occ_compact_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCC across a compaction interleaved with a concurrent MERGE —
    the second unchecked commit path VERDICT r7 flagged
    (sinks.py compact). Orders land as 8 small range-clustered files;
    ``compact`` plans the 8-file manifest, then — inside its
    plan→commit window — a merge commits a +100-cent adjustment on
    every F-status order. The compaction's stale single-file rewrite
    (built from pre-merge bytes) must be REFUSED and discarded, the
    plan re-drawn against the merged version, and the second commit
    accepted: the final table is BOTH compacted (8 files → 1) and
    merged — a blind commit would resurrect the pre-merge balances
    wholesale.

    Compared values: per-status aggregates of the final table (oracle
    applies the merge), files_after as a compared column, and the
    protocol certs (replanned / merge_preserved).

    Scale: compaction is the archetypal rewrite-only transaction —
    Delta OPTIMIZE retries it cheaply on conflict because it changes
    layout, not logical content; re-planning costs one metadata pass
    over the new manifest."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q414_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q414_WH, retain_versions=3)
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite(
        "ord", o.repartitionByRange(8, "k").sortWithinPartitions("k")
    )

    batch = o.filter(F.col("status") == "F").withColumn(
        "cents", F.col("cents") + 100
    )
    plans = {"n": 0}

    def _concurrent_merge():
        plans["n"] += 1
        if plans["n"] == 1:
            store.merge("ord", batch, "k")

    stats = store.compact("ord", post_scan=_concurrent_merge)
    replanned = plans["n"] >= 2

    final = store.read("ord")
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate collects of the expected and post-compaction sums).
    pr = combine_single_rows(
        o.filter(F.col("status") == "F").agg(
            F.count(F.lit(1)).alias("__exp_cnt"),
            F.sum("cents").alias("__exp_sum"),
        ),
        final.filter(F.col("status") == "F").agg(
            F.sum("cents").alias("__got_sum")
        ),
    ).collect()[0]
    merge_preserved = (
        pr["__got_sum"] == pr["__exp_sum"] + 100 * pr["__exp_cnt"]
    )

    return (
        final.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents") / 100.0).cast("double").alias("total"),
        )
        .select(
            "status",
            "n_orders",
            "total",
            F.lit(int(stats["files_after"])).cast("bigint").alias("files_after"),
            F.lit(bool(replanned)).alias("replanned"),
            F.lit(bool(merge_preserved)).alias("merge_preserved"),
        )
        .orderBy("status")
    )


Q414_SQL = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
merged AS (
  SELECT k, status,
         CASE WHEN status = 'F' THEN cents + 100 ELSE cents END AS cents
  FROM o
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS total,
       CAST(1 AS BIGINT) AS files_after,
       TRUE AS replanned,
       TRUE AS merge_preserved
FROM merged GROUP BY status ORDER BY status
"""


# ------------------------------------------------------------- q415

Q415_WH = os.path.join(_REPO, ".fixtures", ".q415_warehouse")


def q415_dag_executor_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt's concurrent DAG scheduler, executed end-to-end (reference
    profiles.yml:8 ``threads: 5``): a diamond DAG — two root models
    (customer cleanup, watermarked order enrichment) scheduled in the
    same wave on a 5-thread FAIR-pool executor, then per-customer
    order metrics, then the dim join — run TWICE through
    plans/executor.DagExecutor. Run 1 sees a partial bronze slice
    (o_orderkey % 4 != 0); run 2 sees the CUMULATIVE source, and the
    incremental model's is_incremental() high-watermark filter must
    cut its work to rows strictly newer than run 1's max(o_orderdate)
    — dbt's re-run semantics.

    The compared output IS the run ledger (dbt run_results.json
    analog): one row per (run, model) with the deterministic fields —
    topological level (the wave the scheduler releases it in), status,
    rows_built, incremental flag. The oracle recomputes every
    rows_built from the same slices in SQL: run 2's ord_enriched count
    is the post-watermark slice ONLY — re-processing run-1 rows would
    inflate it and hash-fail.

    Scale: the scheduler is driver-side metadata; model materialization
    is Spark jobs in a FAIR pool so five concurrent MERGEs share the
    cluster instead of FIFO-starving (the 100 TB reason dbt sets
    threads at all). Wall-clock concurrency is asserted in pytest
    (sleep-pinned builders), not here — timing booleans would be
    nondeterministic under driver hashing."""
    from product_analytics_spark.operators import incremental
    from product_analytics_spark.plans.executor import DagExecutor
    from product_analytics_spark.plans.registry import Model, ModelRegistry
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q415_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q415_WH, retain_versions=2)

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_orderstatus",
        _money_cents("o_totalprice").alias("cents"),
    )

    def build_cust_clean(deps, prev, full):
        return deps["customer_src"].select(
            F.col("c_custkey").alias("customer_id"),
            F.trim(F.col("c_name")).alias("name"),
            F.col("c_mktsegment").alias("segment"),
            _money_cents("c_acctbal").alias("balance_cents"),
        )

    def build_ord_enriched(deps, prev, full):
        batch = deps["orders_src"]
        if not full and prev is not None:
            wm = incremental.high_watermark(prev, "o_orderdate")
            batch = incremental.watermark_filter(batch, "o_orderdate", wm)
        return batch.withColumn("order_year", F.year("o_orderdate"))

    def build_ord_metrics(deps, prev, full):
        return (
            deps["ord_enriched"]
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("spend_cents"),
            )
        )

    def build_cust_dim(deps, prev, full):
        return deps["cust_clean"].join(
            deps["ord_metrics"],
            deps["cust_clean"]["customer_id"] == deps["ord_metrics"]["o_custkey"],
            "left",
        ).select("customer_id", "name", "segment", "n_orders", "spend_cents")

    reg = ModelRegistry()
    reg.register(Model(name="cust_clean", deps=("customer_src",),
                       builder=build_cust_clean))
    reg.register(Model(name="ord_enriched", deps=("orders_src",),
                       builder=build_ord_enriched, unique_key="o_orderkey"))
    reg.register(Model(name="ord_metrics", deps=("ord_enriched",),
                       builder=build_ord_metrics, unique_key="o_custkey"))
    reg.register(Model(name="cust_dim", deps=("cust_clean", "ord_metrics"),
                       builder=build_cust_dim))

    ex = DagExecutor(reg, store, threads=5)
    batch1 = orders.filter(F.col("o_orderkey") % 4 != 0)
    ledgers = []
    for run_no, orders_src in ((1, batch1), (2, orders)):
        _, ledger = ex.run({"customer_src": cust, "orders_src": orders_src})
        for e in ledger:
            e["run"] = run_no
        ledgers.extend(ledger)

    rows = [
        (
            e["run"],
            e["model"],
            e["level"],
            e["status"],
            int(e["rows_built"]),
            bool(e["incremental"]),
        )
        for e in ledgers
    ]
    return local_rows_df(spark, 
        rows,
        "run bigint, model string, level bigint, status string, "
        "rows_built bigint, incremental boolean",
    ).orderBy("run", "model")


Q415_SQL = """
WITH wm AS (
  SELECT max(o_orderdate) AS w FROM orders WHERE o_orderkey % 4 != 0
),
b1 AS (SELECT * FROM orders WHERE o_orderkey % 4 != 0),
post AS (SELECT * FROM orders WHERE o_orderdate > (SELECT w FROM wm)),
merged2 AS (SELECT * FROM b1 UNION ALL SELECT * FROM post)
SELECT * FROM (
  SELECT 1 AS run, 'cust_clean' AS model, 0 AS level, 'success' AS status,
         (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_built,
         FALSE AS incremental
  UNION ALL
  SELECT 1, 'ord_enriched', 0, 'success',
         (SELECT CAST(count(*) AS BIGINT) FROM b1), FALSE
  UNION ALL
  SELECT 1, 'ord_metrics', 1, 'success',
         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM b1), FALSE
  UNION ALL
  SELECT 1, 'cust_dim', 2, 'success',
         (SELECT CAST(count(*) AS BIGINT) FROM customer), FALSE
  UNION ALL
  SELECT 2, 'cust_clean', 0, 'success',
         (SELECT CAST(count(*) AS BIGINT) FROM customer), FALSE
  UNION ALL
  SELECT 2, 'ord_enriched', 0, 'success',
         (SELECT CAST(count(*) AS BIGINT) FROM post), TRUE
  UNION ALL
  SELECT 2, 'ord_metrics', 1, 'success',
         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM merged2), TRUE
  UNION ALL
  SELECT 2, 'cust_dim', 2, 'success',
         (SELECT CAST(count(*) AS BIGINT) FROM customer), FALSE
) ORDER BY run, model
"""


# ------------------------------------------------------------- q416

Q416_WH = os.path.join(_REPO, ".fixtures", ".q416_warehouse")


def q416_zorder_write_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True multi-column Z-ORDER in the write path, executed and
    measured (reference orders_cleaned.sql:15 ``OPTIMIZE … ZORDER BY
    (order_id, customer_id, order_date)``): orders are written twice —
    once composite-sorted on (o_orderkey, o_custkey) (the previous
    cluster_by analog) and once Morton-interleaved on the same keys
    (functions/zorder.py via SnapshotStore ``zorder_by``) — into 16
    range-partitioned files each. For a SECOND-key predicate
    (o_custkey in the bottom 1/16 of its range) the parquet footer
    min/max stats are then read directly: the composite layout's files
    all span ~the full custkey range (nothing prunable), while the
    Z-ordered files are locality hyper-rectangles and most are
    skipped. The cert booleans pin exactly that, with wide margins;
    the compared aggregates prove the Z-ordered table still returns
    bit-identical data for the predicate (oracle recomputes from raw
    orders).

    Scale: the z-value is a pure integer expression (bit extract =
    div/mod) inside whole-stage codegen — no UDF, no extra shuffle
    beyond the range partition the clustered write already does; the
    min/max normalization is one metadata aggregate per write. At
    100 TB the equal-width bucketization swaps for sampled range ids
    (equal-depth) if keys skew — interleave unchanged."""

    import pyarrow.parquet as _pq

    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q416_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q416_WH)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite(
        "comp", o, cluster_by=("o_orderkey", "o_custkey"), n_files=16
    )
    store.overwrite(
        "zo", o, zorder_by=("o_orderkey", "o_custkey"), n_files=16
    )
    cut = o.agg(F.max("o_custkey")).collect()[0][0] // 16  # bottom 1/16

    def skip_fraction(table: str) -> float:
        files = _live_files(store, table)
        skipped = 0
        for f in files:
            md = _pq.ParquetFile(f).metadata
            overlap = False
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == "o_custkey":
                        st = c.statistics
                        if st.min <= cut:  # predicate: o_custkey <= cut
                            overlap = True
            if not overlap:
                skipped += 1
        return skipped / len(files)

    f_comp, f_zo = skip_fraction("comp"), skip_fraction("zo")
    per_status = (
        store.read("zo")
        .filter(F.col("o_custkey") <= cut)
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
        F.lit(f_zo >= 0.5).alias("zorder_prunes_second_key"),
        F.lit(f_comp <= 0.2).alias("composite_cannot_prune"),
        F.lit(f_zo > f_comp + 0.25).alias("zorder_beats_composite"),
    ).orderBy("o_orderstatus")


Q416_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
cut AS (SELECT max(o_custkey) // 16 AS c FROM o)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS total,
       TRUE AS zorder_prunes_second_key,
       TRUE AS composite_cannot_prune,
       TRUE AS zorder_beats_composite
FROM o WHERE o_custkey <= (SELECT c FROM cut)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ------------------------------------------------------------- q417

Q417_WH = os.path.join(_REPO, ".fixtures", ".q417_warehouse")


def q417_optimize_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``OPTIMIZE`` proper — compaction that RESTORES declared
    clustering (Delta's OPTIMIZE ZORDER lifecycle, reference
    orders_cleaned.sql:15 run as the maintenance job it is in
    production): orders are written Z-ordered on (o_orderkey,
    o_custkey) — the layout is recorded in the table's _LAYOUT
    metadata — then degraded by appending a key-shifted batch whose
    files span the full custkey range (footer-stat skipping for a
    custkey predicate decays, measured), then ``store.optimize()``
    rewrites the table re-sorted on the RECOMPUTED Morton z-value:
    skipping returns, file count drops back, and the logical content
    is exactly base ∪ appended (the oracle replays the union).

    Compared values: per-status aggregates of the post-optimize table
    plus the lifecycle booleans (append_degraded / optimize_restored /
    reclustered / rows_preserved) — each measured from parquet footer
    stats with wide margins, not assumed.

    Scale: this is the scheduled lakehouse maintenance job; cost is
    one shuffle of the rewritten bytes on the cluster key. The
    _LAYOUT record is what lets the job run table-blind — exactly why
    Delta keeps clustering columns in table metadata."""

    import pyarrow.parquet as _pq

    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q417_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q417_WH)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite(
        "ord", o, zorder_by=("o_orderkey", "o_custkey"), n_files=16
    )
    max_k, max_c = o.agg(F.max("o_orderkey"), F.max("o_custkey")).collect()[0]
    cut = max_c // 16

    def skip_fraction() -> float:
        files = _live_files(store, "ord")
        skipped = 0
        for f in files:
            md = _pq.ParquetFile(f).metadata
            overlap = False
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == "o_custkey" and c.statistics.min <= cut:
                        overlap = True
            if not overlap:
                skipped += 1
        return skipped / len(files)

    f0 = skip_fraction()
    extra = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(max_k))
    store.append("ord", extra.repartition(16))
    f_degraded = skip_fraction()
    total_bytes = sum(os.path.getsize(f) for f in _live_files(store, "ord"))
    # target ~16 output files: file-level stats need multiple files to
    # have anything to skip (the default 128 MB target would coalesce
    # this gate-SF table to one file, where skipping is undefined)
    stats = store.optimize("ord", target_bytes=max(1, total_bytes // 16))
    f_restored = skip_fraction()

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
        F.lit(f_degraded <= f0 - 0.2).alias("append_degraded"),
        F.lit(
            f_restored >= 0.5 and f_restored > f_degraded + 0.2
        ).alias("optimize_restored"),
        F.lit(bool(stats["reclustered"])).alias("reclustered"),
        F.lit(stats["files_after"] < stats["files_before"]).alias(
            "files_compacted"
        ),
    ).orderBy("o_orderstatus")


Q417_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
both_gen AS (
  SELECT * FROM o
  UNION ALL
  SELECT o_orderkey + (SELECT max(o_orderkey) FROM o), o_orderstatus, cents
  FROM o
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS total,
       TRUE AS append_degraded,
       TRUE AS optimize_restored,
       TRUE AS reclustered,
       TRUE AS files_compacted
FROM both_gen GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ------------------------------------------------------------- q418

Q418_WH = os.path.join(_REPO, ".fixtures", ".q418_warehouse")


def q418_dag_retry_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dbt retry``, executed end-to-end: a 3-model DAG where the
    orders-metrics model fails transiently on its first run — the
    first ledger must show the dbt statuses (sibling SUCCESS, failing
    model ERROR, dependent SKIPPED), and the retry must re-run ONLY
    the failed subset, serving the successful sibling from its stored
    snapshot (its builder is never called again — the compared
    ``good_rebuilds`` count pins that at 1). The final dependent model
    joins the retried metrics with the reused snapshot; its rows_built
    is oracle-recomputed from the raw tables.

    Scale: re-running a green 10-hour model because its sibling flaked
    is the expensive mistake retry removes; the ledger (run_results
    analog) is what makes the failed subset machine-recoverable."""
    from product_analytics_spark.plans.executor import DagExecutor
    from product_analytics_spark.plans.registry import Model, ModelRegistry
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q418_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q418_WH)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    calls = {"cust_clean": 0, "ord_metrics": 0, "dim": 0}
    attempt = {"n": 0}

    def build_cust_clean(deps, prev, full):
        calls["cust_clean"] += 1
        return deps["customer_src"].select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_mktsegment").alias("segment"),
        )

    def build_ord_metrics(deps, prev, full):
        calls["ord_metrics"] += 1
        attempt["n"] += 1
        if attempt["n"] == 1:
            raise RuntimeError("transient upstream hiccup")
        return (
            deps["orders_src"]
            .groupBy(F.col("o_custkey").alias("customer_id"))
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    def build_dim(deps, prev, full):
        calls["dim"] += 1
        return deps["cust_clean"].join(
            deps["ord_metrics"], "customer_id", "left"
        )

    reg = ModelRegistry()
    reg.register(Model(name="cust_clean", deps=("customer_src",),
                       builder=build_cust_clean))
    reg.register(Model(name="ord_metrics", deps=("orders_src",),
                       builder=build_ord_metrics))
    reg.register(Model(name="dim", deps=("cust_clean", "ord_metrics"),
                       builder=build_dim))
    ex = DagExecutor(reg, store, threads=5)
    sources = {"customer_src": cust, "orders_src": orders}
    _, ledger1 = ex.run(sources)
    _, ledger2 = ex.retry(sources, ledger1)

    rows = [
        ("run", e["model"], e["status"], int(e["rows_built"]))
        for e in ledger1
    ] + [
        ("retry", e["model"], e["status"], int(e["rows_built"]))
        for e in ledger2
    ]
    return (
        local_rows_df(spark, 
            rows, "phase string, model string, status string, rows_built bigint"
        )
        .withColumn(
            "good_rebuilds", F.lit(int(calls["cust_clean"])).cast("bigint")
        )
        .orderBy("phase", "model")
    )


Q418_SQL = """
SELECT * FROM (
  SELECT 'run' AS phase, 'cust_clean' AS model, 'success' AS status,
         (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_built,
         CAST(1 AS BIGINT) AS good_rebuilds
  UNION ALL
  SELECT 'run', 'ord_metrics', 'error', CAST(-1 AS BIGINT), 1
  UNION ALL
  SELECT 'run', 'dim', 'skipped', CAST(-1 AS BIGINT), 1
  UNION ALL
  SELECT 'retry', 'ord_metrics', 'success',
         (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders), 1
  UNION ALL
  SELECT 'retry', 'dim', 'success',
         (SELECT CAST(count(*) AS BIGINT) FROM customer), 1
) ORDER BY phase, model
"""


# ------------------------------------------------------------- q419

Q419_WH = os.path.join(_REPO, ".fixtures", ".q419_warehouse")


def q419_advised_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor-driven Z-ORDER — the workload→layout loop closed for
    the MULTI-key case: LAYOUT_ADVICE.json shows orders filtered most
    on o_custkey (52 plans) AND o_orderdate (40 plans) — two
    high-cardinality columns, so hive partitioning fits neither and a
    single-key sort serves only one; that co-occurrence IS the ZORDER
    trigger (reference orders_cleaned.sql:15 zorders order_id,
    customer_id, order_date for the same reason). Orders are written
    z-ordered on the advised pair and parquet footer stats are read
    directly: a bottom-1/16 slice on EACH key independently prunes
    most files — one layout serving both predicates, which no
    lexicographic sort can do.

    In-row certs: advisor_backed (the pair still tops the advisor's
    partition_or_zorder candidates — drift surfaces, not hides),
    custkey_prunes / orderdate_prunes (measured fractions ≥ 0.4).
    Compared values: per-priority aggregates of the custkey-pruned
    read, recomputed by the oracle from raw orders.

    Scale: the advisor's filter-column histogram is exactly the input
    Delta users eyeball before OPTIMIZE ZORDER BY; wiring it to the
    write path makes the layout a derived artifact of the workload."""

    import pyarrow.parquet as _pq

    from product_analytics_spark.driver_queries_ext79 import (
        _layout_advice,
        _top_candidates,
    )
    from product_analytics_spark.sources.sinks import SnapshotStore

    advice = _layout_advice()
    top = _top_candidates(
        advice, "orders", "partition_or_zorder_candidates", k=4
    )
    advisor_backed = {"o_custkey", "o_orderdate"} <= set(top)

    shutil.rmtree(Q419_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q419_WH)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite(
        "ord", o, zorder_by=("o_custkey", "o_orderdate"), n_files=16
    )
    max_c, lo_d, hi_d = o.agg(
        F.max("o_custkey"), F.min("o_orderdate"), F.max("o_orderdate")
    ).collect()[0]
    cut_c = max_c // 16
    cut_d = lo_d + (hi_d - lo_d) / 16

    def skip_fraction(col, overlap_fn) -> float:
        files = _live_files(store, "ord")
        skipped = 0
        for f in files:
            md = _pq.ParquetFile(f).metadata
            overlap = False
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and overlap_fn(c.statistics):
                        overlap = True
            if not overlap:
                skipped += 1
        return skipped / len(files)

    f_cust = skip_fraction("o_custkey", lambda st: st.min <= cut_c)
    f_date = skip_fraction("o_orderdate", lambda st: st.min <= cut_d)

    pruned = (
        store.read("ord")
        .filter(F.col("o_custkey") <= cut_c)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents") / 100.0).cast("double").alias("total"),
        )
    )
    return pruned.select(
        "o_orderpriority",
        "n_orders",
        "total",
        F.lit(bool(advisor_backed)).alias("advisor_backed"),
        F.lit(f_cust >= 0.4).alias("custkey_prunes"),
        F.lit(f_date >= 0.4).alias("orderdate_prunes"),
    ).orderBy("o_orderpriority")


Q419_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
cut AS (SELECT max(o_custkey) // 16 AS c FROM o)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS total,
       TRUE AS advisor_backed,
       TRUE AS custkey_prunes,
       TRUE AS orderdate_prunes
FROM o WHERE o_custkey <= (SELECT c FROM cut)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ------------------------------------------------------------- q420

P_TOTAL = 3000   # bounded feed
P_BATCH = 700    # per-trigger availability (ragged last batch)
P_SHARDS = 3     # InputPartitions per micro-batch (ragged splits)
P_BUCKETS = 10


def q420_parallel_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor-PARALLEL custom Python streaming source (Spark 4
    ``DataSourceStreamReader`` — the partition-planning API): the same
    deterministic CDC feed as q367, but the driver now only does
    offset arithmetic (latestOffset advances availability per trigger;
    partitions() splits each micro-batch's offset range into 3
    InputPartitions) and row GENERATION runs in read() ON EXECUTORS —
    the corpus-scale path q367's Simple-reader docstring fences off,
    now implemented rather than promised. Slice (700) and shard (3)
    sizes are deliberately ragged so batch AND shard boundaries land
    unevenly; the closed-form oracle replays the whole feed with
    generate_series, certifying both boundary kinds answer-invariant.

    Scale: this is the shape a real high-volume source needs —
    per-trigger work spreads across the cluster (one task per
    InputPartition), offsets are plain positions so restart re-plans
    identical partitions (exactly-once by construction), and the
    driver never materializes rows."""
    from product_analytics_spark.sources import pyds

    pyds.register_parallel_stream(spark)
    src = (
        spark.readStream.format("cdc_pstream")
        .option("total_rows", str(P_TOTAL))
        .option("batch_rows", str(P_BATCH))
        .option("shards", str(P_SHARDS))
        .load()
    )
    agg = src.groupBy(
        (F.col("customer_id") % P_BUCKETS).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.count_if(F.col("op") == "INSERT").alias("n_ins"),
        F.count_if(F.col("op") == "UPDATE").alias("n_upd"),
        F.count_if(F.col("op") == "DELETE").alias("n_del"),
        F.sum(
            F.when(F.col("op") == "DELETE", -F.col("amount_cents")).otherwise(
                F.col("amount_cents")
            )
        ).alias("net_cents"),
        F.max("op_id").alias("hwm_op_id"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("q420_sink")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        q.awaitTermination(60)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("q420_sink").orderBy("bucket")


Q420_SQL = f"""
WITH feed AS (
  SELECT i AS op_id,
         i % 1500 AS customer_id,
         CASE WHEN i % 10 <= 6 THEN 'INSERT'
              WHEN i % 10 <= 8 THEN 'UPDATE' ELSE 'DELETE' END AS op,
         (i * 1103515245 + 12345) % 10000000 AS amount_cents
  FROM generate_series(0, {P_TOTAL - 1}) t(i)
)
SELECT customer_id % {P_BUCKETS} AS bucket,
       CAST(count(*) AS BIGINT) AS n_ops,
       CAST(count(*) FILTER (WHERE op = 'INSERT') AS BIGINT) AS n_ins,
       CAST(count(*) FILTER (WHERE op = 'UPDATE') AS BIGINT) AS n_upd,
       CAST(count(*) FILTER (WHERE op = 'DELETE') AS BIGINT) AS n_del,
       CAST(sum(CASE WHEN op = 'DELETE' THEN -amount_cents
                     ELSE amount_cents END) AS BIGINT) AS net_cents,
       max(op_id) AS hwm_op_id
FROM feed GROUP BY 1 ORDER BY bucket
"""


QUERIES_EXT88 = {
    "q413_occ_dml_interleave": q413_occ_dml_interleave,
    "q414_occ_compact_interleave": q414_occ_compact_interleave,
    "q415_dag_executor_ledger": q415_dag_executor_ledger,
    "q416_zorder_write_skipping": q416_zorder_write_skipping,
    "q417_optimize_recluster": q417_optimize_recluster,
    "q418_dag_retry_ledger": q418_dag_retry_ledger,
    "q419_advised_zorder": q419_advised_zorder,
    "q420_parallel_stream_source": q420_parallel_stream_source,
}


def _oracles_ext88() -> dict[str, str]:
    return {
        "q413_occ_dml_interleave": Q413_SQL,
        "q414_occ_compact_interleave": Q414_SQL,
        "q415_dag_executor_ledger": Q415_SQL,
        "q416_zorder_write_skipping": Q416_SQL,
        "q417_optimize_recluster": Q417_SQL,
        "q418_dag_retry_ledger": Q418_SQL,
        "q419_advised_zorder": Q419_SQL,
        "q420_parallel_stream_source": Q420_SQL,
    }
