"""Round-9 driver family, batch 90 (q424-q430): the recovery and
multi-writer legs of the warehouse story, plus the Delta-log
lifecycle operations.

* q424 — exactly-once streaming delivery through ``foreachBatch`` +
  idempotent merge under a REAL injected batch replay (kill after the
  sink applied a batch, before its offsets committed; restart from
  the checkpoint) — the missing recovery leg of the streaming story.
* q425 — TWO DagExecutors racing ONE warehouse: scheduler-level
  writes through the OCC path with a deterministic interleave.
* q426 — skew-aware Z-ORDER lane selection (``zorder_depth="auto"``).
* q427 — CONVERT TO DELTA: retrofit the transaction log onto an
  existing plain-parquet table, metadata-only.
* q428 — Delta log retention (``cleanup_log``) + VACUUM, head
  reconstruction from checkpoint + surviving tail.
* q429 — version-diff audit: per-commit row accounting from log
  stats must cancel exactly through COW churn (CDF accounting).
* q430 — merge-on-read DELETE via deletion vectors: zero files
  rewritten, reader-side broadcast anti-join on _metadata.row_index,
  OPTIMIZE materializes and purges the DV.

Reference mapping: Delta's idempotent ``foreachBatch`` MERGE recipe,
overlapping dbt job runs, ``OPTIMIZE ZORDER BY``, ``CONVERT TO
DELTA``, ``VACUUM`` / ``delta.logRetentionDuration`` (the reference
materializes every model as Delta — dbt_project.yml:39).

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from product_analytics_spark.qcommon import (  # noqa: F401
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
    multiset_diff_counts,
    multiset_equal,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

Q424_WH = os.path.join(_REPO, ".fixtures", ".q424_warehouse")
Q424_TOTAL = 2100
Q424_BATCH = 700  # 3 micro-batches
Q424_SHARDS = 3
Q424_BUCKETS = 6
Q424_CRASH_BATCH = 1  # crash after the sink applied batch 1


def q424_exactly_once_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a checkpoint restart with the failure
    injected at the worst point: ``foreachBatch`` MERGES micro-batch 1
    into the warehouse table AND appends it to a plain parquet table,
    then the driver dies BEFORE the engine commits batch 1's offsets.
    The restart (same checkpoint) replays batch 1 with the same epoch:

    * the APPEND side table receives the batch twice — the compared
      ``appended_rows`` carries exactly one extra batch of rows, the
      measured proof that delivery is at-least-once and the replay
      really happened (not a no-op restart);
    * the MERGE side table (unique key op_id) absorbs the replay —
      ``merged_rows`` equals the closed-form feed exactly, zero
      duplicates, zero losses;
    * the delivery ledger shows batch 1 delivered twice and batches
      0/2 once (``n_batch_deliveries`` = 4 = 3 + 1 replay).

    The restart also exercises the ADVICE-r8 availability reseed: a
    fresh driver's stream reader resumes from the checkpointed offset
    instead of stalling below it.

    Scale: this is THE production streaming-sink recipe — at-least-
    once delivery from the engine, idempotence from a keyed merge; no
    coordination, no two-phase commit, replay cost bounded by one
    micro-batch."""
    from product_analytics_spark.sources import pyds
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q424_WH, ignore_errors=True)
    os.makedirs(Q424_WH)
    pyds.register_parallel_stream(spark)
    store = SnapshotStore(spark, Q424_WH)
    ledger_path = os.path.join(Q424_WH, "deliveries.jsonl")
    append_dir = os.path.join(Q424_WH, "append_sink")
    ckpt = os.path.join(Q424_WH, "ckpt")

    def _make_sink(crash_at: int | None):
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            rows = batch_df.persist()
            n = rows.count()
            # plain append: at-least-once delivery lands here verbatim
            rows.write.mode("append").parquet(append_dir)
            # idempotent merge: unique key op_id absorbs replays
            store.merge("ledger", rows, "op_id")
            rows.unpersist()
            with open(ledger_path, "a", encoding="utf-8") as fh:
                fh.write(json.dumps({"batch_id": batch_id, "n": n}) + "\n")
            if crash_at is not None and batch_id == crash_at:
                # die AFTER the sink applied the batch, BEFORE the
                # engine records the batch as complete
                raise RuntimeError("injected crash before offset commit")

        return _sink

    def _run(crash_at: int | None) -> None:
        src = (
            spark.readStream.format("cdc_pstream")
            .option("total_rows", str(Q424_TOTAL))
            .option("batch_rows", str(Q424_BATCH))
            .option("shards", str(Q424_SHARDS))
            .load()
        )
        q = (
            src.writeStream.foreachBatch(_make_sink(crash_at))
            .option("checkpointLocation", ckpt)
            .start()
        )
        expect_failure = crash_at is not None
        try:
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(60)
        except Exception:  # noqa: BLE001 — the injected crash
            if not expect_failure:
                raise
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass

    # Control-plane-sized feed: 4-partition shuffles keep the merge
    # anti-joins from paying 32-way task overhead (same q420 discipline).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _run(Q424_CRASH_BATCH)  # applies batches 0,1; dies mid-commit of 1
        _run(None)  # replays batch 1, then finishes 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    deliveries: dict[int, int] = {}
    with open(ledger_path, encoding="utf-8") as fh:
        for line in fh:
            b = json.loads(line)["batch_id"]
            deliveries[b] = deliveries.get(b, 0) + 1
    n_deliveries = sum(deliveries.values())
    replayed_once = deliveries.get(Q424_CRASH_BATCH) == 2 and all(
        v == 1 for b, v in deliveries.items() if b != Q424_CRASH_BATCH
    )

    merged = store.read("ledger")
    appended = spark.read.parquet(append_dir)
    # ONE fused probe over the merged AND appended tables (round-12
    # batch 8, guide §1.2 — was a fused merged-table probe plus a
    # separate append-side count).
    mrow = combine_single_rows(
        merged.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("op_id").alias("nd"),
        ),
        appended.agg(F.count(F.lit(1)).alias("__appended_n")),
    ).collect()[0]
    merged_rows = int(mrow["n"])
    merged_distinct = int(mrow["nd"])
    appended_rows = int(mrow["__appended_n"])

    agg = (
        merged.groupBy((F.col("customer_id") % Q424_BUCKETS).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.sum(
                F.when(
                    F.col("op") == "DELETE", -F.col("amount_cents")
                ).otherwise(F.col("amount_cents"))
            ).alias("net_cents"),
            F.max("op_id").alias("hwm_op_id"),
        )
        .select(
            "bucket",
            "n_ops",
            "net_cents",
            "hwm_op_id",
            F.lit(int(merged_rows)).cast("long").alias("merged_rows"),
            F.lit(int(appended_rows)).cast("long").alias("appended_rows"),
            F.lit(int(n_deliveries)).cast("long").alias("n_batch_deliveries"),
            F.lit(bool(replayed_once)).alias("replayed_once"),
            F.lit(bool(merged_rows == merged_distinct)).alias(
                "merge_no_duplicates"
            ),
        )
        .orderBy("bucket")
    )
    return agg


Q424_SQL = f"""
WITH feed AS (
  SELECT i AS op_id,
         i % 1500 AS customer_id,
         CASE WHEN i % 10 <= 6 THEN 'INSERT'
              WHEN i % 10 <= 8 THEN 'UPDATE' ELSE 'DELETE' END AS op,
         (i * 1103515245 + 12345) % 10000000 AS amount_cents
  FROM generate_series(0, {Q424_TOTAL - 1}) t(i)
)
SELECT customer_id % {Q424_BUCKETS} AS bucket,
       CAST(count(*) AS BIGINT) AS n_ops,
       CAST(sum(CASE WHEN op = 'DELETE' THEN -amount_cents
                     ELSE amount_cents END) AS BIGINT) AS net_cents,
       max(op_id) AS hwm_op_id,
       CAST({Q424_TOTAL} AS BIGINT) AS merged_rows,
       CAST({Q424_TOTAL + Q424_BATCH} AS BIGINT) AS appended_rows,
       CAST(4 AS BIGINT) AS n_batch_deliveries,
       TRUE AS replayed_once,
       TRUE AS merge_no_duplicates
FROM feed GROUP BY 1 ORDER BY bucket
"""


# ------------------------------------------------------------- q425

Q425_WH = os.path.join(_REPO, ".fixtures", ".q425_warehouse")


def q425_concurrent_dag_occ(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO DagExecutors racing ONE warehouse — scheduler-level writes
    through the OCC path (q413/q414 certify single-writer DML
    interleaves; dbt users run overlapping JOBS, so the conflict must
    also be survived when both writers are schedulers).

    Deterministic interleaving via the executor's ``merge_hooks``
    (the sinks post_scan fault-injection point): executor A (isolated
    merges) starts its incremental model's merge against the seeded
    snapshot; INSIDE A's scan→commit window the hook launches executor
    B's ENTIRE run to completion — B's scheduler commits the same
    table first. A's commit presents the pre-B version, is refused,
    and the executor-level retry loop re-reads B's commit and merges
    against it: serial history seed → B → A, both schedulers' rows
    preserved. A's independent sibling model (audit) is untouched by
    the conflict and succeeds in the same run.

    Compared: per-segment aggregates of the final table (oracle
    replays seed→B→A in SQL), the count of keys carrying each
    writer's marker (the overlap k%6==0 must carry A's — exactly what
    an unchecked scheduler merge loses), ``conflict_retried`` (the
    hook saw A's second attempt), and both ledgers' success flags.

    Scale: scheduler concurrency costs retry work, never correctness —
    the same log-version compare and putIfAbsent as single-writer OCC;
    retries re-pay one merge plan, not the DAG."""
    from product_analytics_spark.plans.executor import DagExecutor
    from product_analytics_spark.plans.registry import Model, ModelRegistry

    shutil.rmtree(Q425_WH, ignore_errors=True)
    from product_analytics_spark.sources.sinks import SnapshotStore

    store = SnapshotStore(spark, Q425_WH, retain_versions=3)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base)  # the seeded warehouse both jobs share

    batch_a = base.filter(F.col("k") % 2 == 0).withColumn(
        "cents", F.col("cents") + 1000
    )
    batch_b = base.filter(F.col("k") % 3 == 0).withColumn(
        "cents", F.col("cents") + 2000
    )

    reg_b = ModelRegistry()
    reg_b.register(
        Model(
            name="acct",
            builder=lambda deps, prev, full: batch_b,
            unique_key="k",
        )
    )
    exec_b = DagExecutor(reg_b, store, threads=2, isolated=True)
    b_result = {}
    scans = {"n": 0}

    def _launch_b_inside_a_window():
        scans["n"] += 1
        if scans["n"] == 1:
            _outs, ledger_b = exec_b.run({})
            b_result["ledger"] = ledger_b

    reg_a = ModelRegistry()
    reg_a.register(
        Model(
            name="acct",
            builder=lambda deps, prev, full: batch_a,
            unique_key="k",
        )
    )
    reg_a.register(
        Model(
            name="audit",
            builder=lambda deps, prev, full: batch_a.groupBy("seg").agg(
                F.count(F.lit(1)).alias("n")
            ),
        )
    )
    exec_a = DagExecutor(
        reg_a,
        store,
        threads=2,
        isolated=True,
        merge_hooks={"acct": _launch_b_inside_a_window},
    )
    _outs, ledger_a = exec_a.run({})

    conflict_retried = scans["n"] >= 2
    a_status = {e["model"]: e["status"] for e in ledger_a}
    b_status = {e["model"]: e["status"] for e in b_result.get("ledger", [])}
    a_success = a_status.get("acct") == "success" and a_status.get(
        "audit"
    ) == "success"
    b_success = b_status.get("acct") == "success"

    final = store.read("acct")
    return (
        final.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / 100.0).cast("double").alias("balance_sum"),
            F.sum(((F.col("k") % 2) == 0).cast("bigint")).alias("n_a_rows"),
            F.sum(
                (((F.col("k") % 3) == 0) & ((F.col("k") % 2) != 0)).cast(
                    "bigint"
                )
            ).alias("n_b_only_rows"),
            F.sum(((F.col("k") % 6) == 0).cast("bigint")).alias(
                "n_overlap_rows"
            ),
        )
        .select(
            "seg",
            "n",
            "balance_sum",
            "n_a_rows",
            "n_b_only_rows",
            "n_overlap_rows",
            F.lit(bool(conflict_retried)).alias("conflict_retried"),
            F.lit(bool(a_success)).alias("a_success"),
            F.lit(bool(b_success)).alias("b_success"),
        )
        .orderBy("seg")
    )


Q425_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
serial AS (  -- seed -> B commits first -> A retries and wins matched keys
  SELECT k, seg,
         CASE WHEN k % 2 = 0 THEN cents + 1000       -- A's merge last
              WHEN k % 3 = 0 THEN cents + 2000       -- B's surviving rows
              ELSE cents END AS cents
  FROM base
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a_rows,
       CAST(sum(CASE WHEN k % 3 = 0 AND k % 2 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_b_only_rows,
       CAST(sum(CASE WHEN k % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlap_rows,
       TRUE AS conflict_retried, TRUE AS a_success, TRUE AS b_success
FROM serial GROUP BY seg ORDER BY seg
"""





# ------------------------------------------------------------- q426

Q426_WH = os.path.join(_REPO, ".fixtures", ".q426_warehouse")
Q426_FILES = 16
Q426_Y_EXPR = (
    "CASE WHEN k % 100 < 99 THEN k % 1000 ELSE 1000000 + k END"
)  # 99% dense head, 1% far tail — the equal-width killer


def q426_advised_equal_depth_zorder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Advisor-selected equal-DEPTH Z-ORDER under skew (VERDICT r8
    item 7: functions/zorder.py shipped equal-depth lanes but the
    advisor path always picked equal-width). A customer-derived grid
    has one uniform key (x = k%64) and one heavy-tailed key (y: 99% of
    rows in [0,1000), 1% scattered past 10^6). Equal-WIDTH lanes
    collapse the dense y-mass into lane 0 — the Morton curve carries
    no y information there and a dense-range y predicate prunes
    nothing. The skew detector (range/IQR ≥ 8 ⇒ skewed,
    ``choose_equal_depth``) flips the ``zorder_depth="auto"`` write to
    quantile lanes, restoring y-skipping while the uniform key keeps
    parity.

    Both layouts are written delta-enabled and ALL pruning decisions
    come from the transaction log's per-file stats (scan_files — zero
    footer opens); DuckDB recomputes every kept-count from the raw log
    JSON with the same interval-overlap rule. Compared per
    (layout, predicate): total/kept files and the pruned-read row
    count (recomputed from the source table), plus the advisor certs:
    ``auto_chose_depth`` (the resolved layout records equal-depth),
    ``depth_y_wins`` (strictly fewer files kept for the dense-y
    predicate), ``x_parity`` (uniform-key skipping within 2 files of
    each other).

    Scale: the detector is one approxQuantile pass per key at write
    time — the price of not silently shipping a layout whose skipping
    decays to zero exactly on the key users filter hardest."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q426_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q426_WH, delta_log=True)
    grid = (
        _t(spark, sf_dir, "customer")
        .selectExpr("c_custkey AS k")
        .selectExpr("k", "k % 64 AS x", f"{Q426_Y_EXPR} AS y")
    )
    store.overwrite(
        "width", grid, zorder_by=("x", "y"), n_files=Q426_FILES,
        zorder_depth=False,
    )
    store.overwrite(
        "auto", grid, zorder_by=("x", "y"), n_files=Q426_FILES,
        zorder_depth="auto",
    )
    auto_chose_depth = bool(store.layout("auto").get("zorder_depth"))
    width_is_width = not store.layout("width").get("zorder_depth")

    preds = {
        "x_low": ("x", [("x", "between", (0, 3))], "x BETWEEN 0 AND 3"),
        "y_dense": ("y", [("y", "between", (100, 199))],
                    "y BETWEEN 100 AND 199"),
    }
    kept: dict[tuple[str, str], int] = {}
    # ONE fused probe action for all 8 counts (round-12 batch 8,
    # guide §1.2 — the loop ran 2 count() actions per (layout, pred)).
    probes = []
    specs = []
    for layout in ("auto", "width"):
        for pname, (_col, conj, where) in preds.items():
            files, total = store.scan_files(layout, conj)
            kept[(layout, pname)] = len(files)
            a = f"__{layout}_{pname}"
            probes.append(
                store.read_pruned(layout, conj)
                .where(where)
                .agg(F.count(F.lit(1)).alias(a + "_pruned"))
            )
            probes.append(
                store.read(layout)
                .where(where)
                .agg(F.count(F.lit(1)).alias(a + "_full"))
            )
            specs.append((layout, pname, total, len(files), a))
    pr426 = combine_single_rows(*probes).collect()[0]
    rows = [
        (
            layout, pname, total, n_kept,
            int(pr426[a + "_pruned"]),
            bool(int(pr426[a + "_pruned"]) == int(pr426[a + "_full"])),
        )
        for layout, pname, total, n_kept, a in specs
    ]
    depth_y_wins = kept[("auto", "y_dense")] < kept[("width", "y_dense")]
    x_parity = abs(kept[("auto", "x_low")] - kept[("width", "x_low")]) <= 2

    schema = T.StructType(
        [
            T.StructField("layout", T.StringType()),
            T.StructField("pred", T.StringType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("n_kept", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("pruned_equals_full", T.BooleanType()),
        ]
    )
    return (
        local_rows_df(spark, rows, schema)
        .select(
            "*",
            F.lit(bool(auto_chose_depth)).alias("auto_chose_depth"),
            F.lit(bool(width_is_width)).alias("width_recorded_width"),
            F.lit(bool(depth_y_wins)).alias("depth_y_wins"),
            F.lit(bool(x_parity)).alias("x_parity"),
        )
        .orderBy("layout", "pred")
    )


Q426_SQL = f"""
WITH adds AS (
  SELECT CASE WHEN filename LIKE '%/auto/%' THEN 'auto' ELSE 'width' END
           AS layout,
         CAST(json_extract_string(add.stats, '$.minValues.x') AS BIGINT)
           AS min_x,
         CAST(json_extract_string(add.stats, '$.maxValues.x') AS BIGINT)
           AS max_x,
         CAST(json_extract_string(add.stats, '$.minValues.y') AS BIGINT)
           AS min_y,
         CAST(json_extract_string(add.stats, '$.maxValues.y') AS BIGINT)
           AS max_y
  FROM read_json_auto(
         ['{Q426_WH}/auto/_delta_log/*.json',
          '{Q426_WH}/width/_delta_log/*.json'],
         filename=true, union_by_name=true, format='newline_delimited')
  WHERE add IS NOT NULL
),
kept AS (
  SELECT layout, 'x_low' AS pred,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(count(*) FILTER (WHERE min_x <= 3 AND max_x >= 0) AS BIGINT)
           AS n_kept
  FROM adds GROUP BY layout
  UNION ALL
  SELECT layout, 'y_dense',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (WHERE min_y <= 199 AND max_y >= 100)
              AS BIGINT)
  FROM adds GROUP BY layout
),
src AS (
  SELECT c_custkey AS k, c_custkey % 64 AS x,
         CASE WHEN c_custkey % 100 < 99 THEN c_custkey % 1000
              ELSE 1000000 + c_custkey END AS y
  FROM customer
),
nrows AS (
  SELECT 'x_low' AS pred,
         CAST(count(*) FILTER (WHERE x BETWEEN 0 AND 3) AS BIGINT) AS n_rows
  FROM src
  UNION ALL
  SELECT 'y_dense',
         CAST(count(*) FILTER (WHERE y BETWEEN 100 AND 199) AS BIGINT)
  FROM src
),
wins AS (
  SELECT (SELECT n_kept FROM kept WHERE layout='auto' AND pred='y_dense')
       < (SELECT n_kept FROM kept WHERE layout='width' AND pred='y_dense')
         AS depth_y_wins,
       abs((SELECT n_kept FROM kept WHERE layout='auto' AND pred='x_low')
         - (SELECT n_kept FROM kept WHERE layout='width' AND pred='x_low'))
         <= 2 AS x_parity
)
SELECT k.layout, k.pred, k.n_files, k.n_kept, r.n_rows,
       TRUE AS pruned_equals_full,
       TRUE AS auto_chose_depth, TRUE AS width_recorded_width,
       depth_y_wins, x_parity
FROM kept k JOIN nrows r USING (pred), wins
ORDER BY k.layout, k.pred
"""




# ------------------------------------------------------------- q427

Q427_WH = os.path.join(_REPO, ".fixtures", ".q427_warehouse")


def q427_convert_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CONVERT TO DELTA`` — retrofit the transaction log onto an
    EXISTING hive-partitioned plain-parquet table (delta_log.py:
    convert_to_delta): one metadata-only commit (protocol + metaData
    with partitionColumns from the directory layout + one
    stats-bearing add per file), data files untouched. The engine
    then consumes the table THROUGH THE LOG (read_delta) and plans a
    partition-pruned scan from it (scan_files on the partition
    column — partitionValues live in the log, zero footer opens).

    Compared: per-segment aggregates read back via the log (oracle
    recomputes from the source table), the add/file count and
    stats-row total from the raw log JSON (DuckDB parses it
    independently), kept-file counts for the partition predicate, and
    the conversion certs (protocol+metaData present, version 0).

    Scale: conversion is O(files) metadata — the reason Delta converts
    petabyte tables in minutes; the data never moves."""
    from product_analytics_spark.sources.delta_log import (
        DeltaLog,
        convert_to_delta,
        read_delta,
    )

    shutil.rmtree(Q427_WH, ignore_errors=True)
    os.makedirs(Q427_WH)
    table_dir = os.path.join(Q427_WH, "cust")
    src = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    # a plain pre-existing parquet table, hive-partitioned by segment
    src.repartition("seg").write.partitionBy("seg").parquet(table_dir)

    version = convert_to_delta(spark, table_dir)
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    n_files = len(snap.files)
    log_rows = snap.num_records()
    part_cols = snap.metadata.get("partitionColumns") or []

    back = read_delta(spark, table_dir)
    kept = snap.plan_files([("seg", "=", "BUILDING")])
    agg = (
        back.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / 100.0).cast("double").alias("balance_sum"),
        )
        .select(
            "seg",
            "n",
            "balance_sum",
            F.lit(int(n_files)).cast("long").alias("n_files"),
            F.lit(int(log_rows)).cast("long").alias("log_rows"),
            F.lit(int(len(kept))).cast("long").alias("n_kept_building"),
            F.lit(version == 0).alias("converted_at_v0"),
            F.lit(part_cols == ["seg"]).alias("partition_cols_detected"),
        )
        .orderBy("seg")
    )
    return agg


Q427_SQL = f"""
WITH log AS (
  SELECT add.partitionValues AS pv,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec
  FROM read_json_auto('{Q427_WH}/cust/_delta_log/*.json',
                      union_by_name=true, format='newline_delimited')
  WHERE add IS NOT NULL
),
log_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(nrec) AS BIGINT) AS log_rows,
         CAST(count(*) FILTER (
           WHERE json_extract_string(to_json(pv), '$.seg') = 'BUILDING')
           AS BIGINT) AS n_kept_building
  FROM log
)
SELECT c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       n_files, log_rows, n_kept_building,
       TRUE AS converted_at_v0, TRUE AS partition_cols_detected
FROM customer, log_agg
GROUP BY seg, n_files, log_rows, n_kept_building
ORDER BY seg
"""


# ------------------------------------------------------------- q428

Q428_WH = os.path.join(_REPO, ".fixtures", ".q428_warehouse")
Q428_CP = 9


def q428_delta_log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta metadata retention: after the v9 checkpoint, the JSON
    commits below it are dead weight — ``cleanup_log`` deletes them
    (Delta's logRetentionDuration pass) and every retained version
    must still reconstruct from checkpoint + tail. VACUUM then drops
    the data files the current snapshot no longer references
    (tombstoned by remove actions), after which time travel below
    head is gone but the head read is bit-identical — Delta's exact
    contract.

    Compared: head live files/rows BEFORE and AFTER cleanup+vacuum
    (must be identical; DuckDB reconstructs the after-state from the
    checkpoint parquet + surviving JSON tail), the number of commit
    files removed (= checkpoint version), vacuumed-file accounting
    (vacuumed = files ever added minus live, computed by the oracle
    from checkpoint+tail), and the final table row count recomputed
    from the source.

    Scale: log cleanup bounds the metadata a reader lists to
    O(checkpoint + tail) regardless of table age — 10^6-commit tables
    stay plannable."""
    from product_analytics_spark.sources.delta_log import DeltaLog
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q428_WH, ignore_errors=True)
    # retain_versions=2 keeps the superseded version dir on disk, so
    # VACUUM has real tombstoned files to delete — exactly the v9 live
    # set (v10's COW rewrite re-adds every path under its own dir),
    # which the oracle recomputes as the checkpoint's file count.
    store = SnapshotStore(spark, Q428_WH, retain_versions=2, delta_log=True)
    base = (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("k"),
            _money_cents("c_acctbal").alias("cents"),
        )
        .filter(F.col("k") % 3 == 0)
    )
    store.overwrite("t", base, cluster_by=("k",), n_files=2)  # v0
    for i in range(1, 11):  # v1..v10 (checkpoint at v9)
        store.delete_where("t", f"k % 97 = {i}")

    log = DeltaLog(store.path("t"))
    before = log.snapshot()
    removed_commits = log.cleanup_log()
    vacuumed = log.vacuum()
    after = log.snapshot()

    survives = bool(
        after.version == before.version
        and set(after.files) == set(before.files)
        and after.num_records() == before.num_records()
    )
    final_rows = store.read("t").count()
    return spark.range(1).select(
        F.lit(int(after.version)).cast("long").alias("head_version"),
        F.lit(int(len(after.files))).cast("long").alias("live_files"),
        F.lit(int(after.num_records())).cast("long").alias("live_rows"),
        F.lit(int(final_rows)).cast("long").alias("table_rows"),
        F.lit(int(removed_commits)).cast("long").alias("commits_removed"),
        F.lit(int(len(vacuumed))).cast("long").alias("files_vacuumed"),
        F.lit(bool(survives)).alias("head_survives_cleanup"),
        F.lit(bool(final_rows == after.num_records())).alias(
            "log_matches_table"
        ),
    )


Q428_SQL = f"""
WITH cp AS (
  SELECT add.path AS path, TRUE AS is_add,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec, {Q428_CP} AS version
  FROM read_parquet(
    '{Q428_WH}/t/_delta_log/{Q428_CP:020d}.checkpoint.parquet')
  WHERE add IS NOT NULL
),
tail AS (
  SELECT CASE WHEN add IS NOT NULL THEN add.path ELSE remove.path END
           AS path,
         (add IS NOT NULL) AS is_add,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec,
         CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version
  FROM read_json_auto('{Q428_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
  WHERE add IS NOT NULL OR remove IS NOT NULL
),
all_actions AS (SELECT * FROM cp UNION ALL SELECT * FROM tail),
head AS (SELECT max(version) AS hv FROM all_actions),
replay AS (
  SELECT a.path, a.is_add, a.nrec,
         row_number() OVER (PARTITION BY a.path ORDER BY a.version DESC)
           AS rn
  FROM all_actions a
),
live AS (
  SELECT CAST(count(*) FILTER (WHERE rn = 1 AND is_add) AS BIGINT)
           AS live_files,
         CAST(coalesce(sum(nrec) FILTER (WHERE rn = 1 AND is_add), 0)
              AS BIGINT) AS live_rows
  FROM replay
),
src AS (
  SELECT CAST(count(*) AS BIGINT) AS table_rows
  FROM (
    SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0
  )
  WHERE NOT (k % 97 BETWEEN 1 AND 10)
)
SELECT (SELECT CAST(hv AS BIGINT) FROM head) AS head_version,
       live_files, live_rows, table_rows,
       CAST({Q428_CP} AS BIGINT) AS commits_removed,
       (SELECT CAST(count(*) AS BIGINT) FROM cp) AS files_vacuumed,
       TRUE AS head_survives_cleanup,
       TRUE AS log_matches_table
FROM live, src
"""




# ------------------------------------------------------------- q429

Q429_WH = os.path.join(_REPO, ".fixtures", ".q429_warehouse")


def q429_delta_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-diff audit from the transaction log (the accounting
    half of Delta's Change Data Feed): for every commit, the log's
    per-file stats must balance — live_rows(v) − live_rows(v−1) =
    Σ numRecords(adds at v) − Σ numRecords(removes at v, looked up
    from each removed path's prior add) — and that NET must equal the
    actual row-level content diff (exceptAll inserted − deleted)
    across the retained snapshots, even though a COW/merge rewrite
    churns every path (re-adding unchanged rows is add+remove noise
    that cancels EXACTLY iff the stats are right).

    Lifecycle: overwrite (v0) → append (pure insert, v1) → merge
    (update-in-place, v2) → COW delete (v3). Compared per transition:
    log-derived rows added/removed/net, actual inserted/deleted
    (both engines replay the same deterministic lifecycle — the
    oracle in closed-form SQL), and ``net_matches``.

    Scale: this audit is O(log) — it reads no data files; it is the
    invariant a lakehouse monitors to catch stats corruption before
    planners consume them."""
    import json as _json

    from product_analytics_spark.sources.delta_log import DeltaLog
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q429_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q429_WH, retain_versions=8, delta_log=True)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base, cluster_by=("k",), n_files=2)  # v0
    store.append(  # v1: pure insert, disjoint keys
        "t", base.filter(F.col("k") % 5 == 0).withColumn(
            "k", F.col("k") + 10_000_000
        )
    )
    store.merge(  # v2: in-place update of k%10==0 rows
        "t",
        base.filter(F.col("k") % 10 == 0).withColumn(
            "cents", F.col("cents") + 777
        ),
        "k",
    )
    store.delete_where("t", "k % 6 = 0")  # v3

    log = DeltaLog(store.path("t"))
    snaps = {v: log.snapshot(v) for v in range(log.latest_version() + 1)}

    def _nrec(add: dict) -> int:
        return _json.loads(add["stats"])["numRecords"]

    rows = []
    for v in range(1, log.latest_version() + 1):
        commit = os.path.join(log.log_dir, f"{v:020d}.json")
        added = removed = 0
        prev = snaps[v - 1]
        with open(commit, encoding="utf-8") as fh:
            for line in fh:
                a = _json.loads(line)
                if a.get("add"):
                    added += _nrec(a["add"])
                elif a.get("remove"):
                    removed += _nrec(prev.files[a["remove"]["path"]])
        net = added - removed
        live_delta = snaps[v].num_records() - prev.num_records()
        # content diff THROUGH THE LOG: each delta version's live file
        # set (retained on disk), read through the log's snapshots.
        table = store.path("t")

        def _at(version: int) -> DataFrame:
            return spark.read.parquet(
                *[os.path.join(table, p) for p in snaps[version].files]
            )

        cur_df, prev_df = _at(v), _at(v - 1)
        # one fused job per version instead of two exceptAll+count
        # actions (round-12, guide §1.2)
        inserted, deleted = multiset_diff_counts(cur_df, prev_df)
        rows.append(
            (
                v,
                added,
                removed,
                net,
                inserted,
                deleted,
                bool(net == live_delta == inserted - deleted),
            )
        )
    schema = T.StructType(
        [
            T.StructField("version", T.LongType()),
            T.StructField("rows_added", T.LongType()),
            T.StructField("rows_removed", T.LongType()),
            T.StructField("net_change", T.LongType()),
            T.StructField("actual_inserted", T.LongType()),
            T.StructField("actual_deleted", T.LongType()),
            T.StructField("net_matches", T.BooleanType()),
        ]
    )
    return local_rows_df(spark, rows, schema).orderBy("version")


Q429_SQL = f"""
WITH raw AS (
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q429_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
adds AS (
  SELECT version, add.path AS path,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec
  FROM raw WHERE add IS NOT NULL
),
removes AS (
  SELECT r.version, r.remove.path AS path,
         (SELECT a.nrec FROM adds a
          WHERE a.path = r.remove.path AND a.version < r.version
          ORDER BY a.version DESC LIMIT 1) AS nrec
  FROM raw r WHERE r.remove IS NOT NULL
),
log_side AS (
  SELECT v.version,
         CAST(coalesce((SELECT sum(nrec) FROM adds a
                        WHERE a.version = v.version), 0) AS BIGINT)
           AS rows_added,
         CAST(coalesce((SELECT sum(nrec) FROM removes x
                        WHERE x.version = v.version), 0) AS BIGINT)
           AS rows_removed
  FROM (SELECT DISTINCT version FROM raw WHERE version > 0) v
),
base AS (
  SELECT c_custkey AS k FROM customer
),
sizes AS (
  SELECT (SELECT count(*) FROM base) AS n0,
         (SELECT count(*) FROM base WHERE k % 5 = 0) AS n_app,
         (SELECT count(*) FROM base WHERE k % 10 = 0) AS n_upd,
         -- v3 deletes k%6=0 across base ∪ appended (appended keys are
         -- k+10,000,000; 10^7 % 6 = 4, so (k+10^7)%6=0 ⟺ k%6=2 within
         -- the k%5=0 slice)
         (SELECT count(*) FROM base WHERE k % 6 = 0) +
         (SELECT count(*) FROM base WHERE k % 5 = 0 AND k % 6 = 2)
           AS n_del
),
actual AS (
  SELECT 1 AS version, n_app AS actual_inserted,
         CAST(0 AS BIGINT) AS actual_deleted FROM sizes
  UNION ALL
  SELECT 2, n_upd, n_upd FROM sizes
  UNION ALL
  SELECT 3, CAST(0 AS BIGINT), n_del FROM sizes
)
SELECT l.version,
       rows_added, rows_removed,
       CAST(rows_added - rows_removed AS BIGINT) AS net_change,
       CAST(actual_inserted AS BIGINT) AS actual_inserted,
       CAST(actual_deleted AS BIGINT) AS actual_deleted,
       TRUE AS net_matches
FROM log_side l JOIN actual USING (version)
ORDER BY l.version
"""




# ------------------------------------------------------------- q430

Q430_WH = os.path.join(_REPO, ".fixtures", ".q430_warehouse")


def q430_mor_delete_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors, end to end
    (sinks.delete_where_mor) — the q290 MoR-vs-CoW cost model's MoR
    half IMPLEMENTED: two successive deletes rewrite ZERO data files
    (every file hardlinked; tombstoned (file, row_index) positions
    land in the log's deletion vectors and readers apply them as a
    broadcast anti-join on ``_metadata.row_index``), then OPTIMIZE
    materializes the outstanding DV (purges it, rewrites clustered)
    with bit-identical rows.

    Compared: per-segment aggregates after both deletes (oracle
    replays the two predicates in SQL), the DV cardinalities after
    each delete (closed-form counts), ``files_rewritten_total`` (must
    be 0 across both deletes), and the purge certs (DV present before
    OPTIMIZE, absent after, rows unchanged).

    Scale: deleting a few rows from a 128 MB file costs DV bytes, not
    a 128 MB rewrite — write amplification drops from O(file) to
    O(deleted positions); reads pay one broadcast anti-join until the
    next OPTIMIZE materializes, which is exactly the trade q290's
    cost model prices."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q430_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q430_WH, retain_versions=4)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, cluster_by=("k",), n_files=4)

    r1 = store.delete_where_mor("acct", "k % 5 = 0")
    r2 = store.delete_where_mor("acct", "cents < 0")
    rewrites = r1["files_rewritten"] + r2["files_rewritten"]

    # Lazy plan pinned to the pre-optimize version (retained within
    # retain_versions=4); counted in the fused probe below instead of
    # an eager count here (round-12 batch 8, guide §1.2 — was two
    # separate counts around the optimize).
    expect = store.read("acct")
    dv_before = store._has_dv("acct")
    out = store.optimize("acct", target_bytes=1 << 30)
    dv_after = store._has_dv("acct")
    pr = combine_single_rows(
        expect.agg(F.count(F.lit(1)).alias("__rows_before")),
        store.read("acct").agg(F.count(F.lit(1)).alias("__rows_after")),
    ).collect()[0]
    rows_before_purge = int(pr["__rows_before"])
    rows_after_purge = int(pr["__rows_after"])

    return (
        store.read("acct")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / 100.0).cast("double").alias("balance_sum"),
        )
        .select(
            "seg",
            "n",
            "balance_sum",
            F.lit(int(r1["dv_rows"])).cast("long").alias("dv_rows_1"),
            F.lit(int(r2["dv_rows"])).cast("long").alias("dv_rows_2"),
            F.lit(int(rewrites)).cast("long").alias("files_rewritten_total"),
            F.lit(bool(dv_before and not dv_after)).alias("dv_purged"),
            F.lit(bool(rows_before_purge == rows_after_purge)).alias(
                "rows_stable_after_purge"
            ),
            F.lit(bool(out["reclustered"])).alias("reclustered"),
        )
        .orderBy("seg")
    )


Q430_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
dv AS (
  SELECT CAST(count(*) FILTER (WHERE k % 5 = 0) AS BIGINT) AS dv1,
         CAST(count(*) FILTER (WHERE k % 5 = 0
                               OR (cents < 0 AND k % 5 <> 0)) AS BIGINT)
           AS dv2
  FROM base
),
live AS (
  SELECT * FROM base WHERE k % 5 <> 0 AND cents >= 0
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       dv1 AS dv_rows_1, dv2 AS dv_rows_2,
       CAST(0 AS BIGINT) AS files_rewritten_total,
       TRUE AS dv_purged, TRUE AS rows_stable_after_purge,
       TRUE AS reclustered
FROM live, dv GROUP BY seg, dv1, dv2 ORDER BY seg
"""




# ------------------------------------------------------------- q431

Q431_WH = os.path.join(_REPO, ".fixtures", ".q431_warehouse")


def q431_mor_update_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE via deletion vectors
    (sinks.update_where_mor — Delta's DV UPDATE shape): matching live
    rows are tombstoned into the DV and their UPDATED versions written
    as NEW files into the same hive-partitioned version — every
    pre-existing file hardlinked, write amplification O(matched rows)
    instead of O(touched files). A second MoR update composes on the
    first (re-reads through the DV), then a COW delete must
    materialize both layers before rewriting (no resurrection), after
    which the DV is gone.

    Compared: per-segment aggregates after update→update→delete
    (oracle replays the three ops in SQL), DV cardinalities after each
    update (closed-form), ``files_rewritten_total`` = 0 across both
    updates, and ``dv_materialized`` (no DV survives the COW delete).

    Scale: the MoR update is the high-frequency-small-update answer —
    a 10-row correction against a 100 TB table writes 10 rows + DV
    bytes; the read-side anti-join cost is bounded by DV cardinality
    until OPTIMIZE folds it in."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q431_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q431_WH, retain_versions=4)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, partition_by=("seg",), cluster_by=("k",))

    r1 = store.update_where_mor(
        "acct", "k % 7 = 0", {"cents": "cents + 700"}
    )
    r2 = store.update_where_mor(  # composes: sees r1's updated rows
        "acct", "cents < 0", {"cents": "0"}
    )
    rewrites = r1["files_rewritten"] + r2["files_rewritten"]
    store.delete_where("acct", "k % 11 = 0")  # COW ⇒ materializes DVs
    dv_materialized = not store._has_dv("acct")

    return (
        store.read("acct")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / 100.0).cast("double").alias("balance_sum"),
        )
        .select(
            "seg",
            "n",
            "balance_sum",
            F.lit(int(r1["dv_rows"])).cast("long").alias("dv_rows_1"),
            F.lit(int(r2["dv_rows"])).cast("long").alias("dv_rows_2"),
            F.lit(int(rewrites)).cast("long").alias("files_rewritten_total"),
            F.lit(bool(dv_materialized)).alias("dv_materialized"),
        )
        .orderBy("seg")
    )


Q431_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
u1 AS (  -- first MoR update
  SELECT k, seg,
         CASE WHEN k % 7 = 0 THEN cents + 700 ELSE cents END AS cents
  FROM base
),
dv AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM base WHERE k % 7 = 0)
           AS dv1,
         -- second update tombstones LIVE rows with cents < 0 (post-u1)
         (SELECT CAST(count(*) AS BIGINT) FROM base WHERE k % 7 = 0) +
         (SELECT CAST(count(*) AS BIGINT) FROM u1 WHERE cents < 0)
           AS dv2
),
u2 AS (
  SELECT k, seg, CASE WHEN cents < 0 THEN 0 ELSE cents END AS cents
  FROM u1
),
final AS (SELECT * FROM u2 WHERE k % 11 <> 0)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       dv1 AS dv_rows_1, dv2 AS dv_rows_2,
       CAST(0 AS BIGINT) AS files_rewritten_total,
       TRUE AS dv_materialized
FROM final, dv GROUP BY seg, dv1, dv2 ORDER BY seg
"""


QUERIES_EXT90 = {
    "q424_exactly_once_restart": q424_exactly_once_restart,
    "q425_concurrent_dag_occ": q425_concurrent_dag_occ,
    "q426_advised_equal_depth_zorder": q426_advised_equal_depth_zorder,
    "q427_convert_to_delta": q427_convert_to_delta,
    "q428_delta_log_retention": q428_delta_log_retention,
    "q429_delta_version_diff": q429_delta_version_diff,
    "q430_mor_delete_lifecycle": q430_mor_delete_lifecycle,
    "q431_mor_update_lifecycle": q431_mor_update_lifecycle,
}


def _oracles_ext90() -> dict[str, str]:
    return {
        "q424_exactly_once_restart": Q424_SQL,
        "q425_concurrent_dag_occ": Q425_SQL,
        "q426_advised_equal_depth_zorder": Q426_SQL,
        "q427_convert_to_delta": Q427_SQL,
        "q428_delta_log_retention": Q428_SQL,
        "q429_delta_version_diff": Q429_SQL,
        "q430_mor_delete_lifecycle": Q430_SQL,
        "q431_mor_update_lifecycle": Q431_SQL,
    }
