"""Round-9 driver family, batch 91 (q432+): completing the
merge-on-read DML trio and the Delta-protocol deep cuts.

* q432 — merge-on-read MERGE via deletion vectors
  (``sinks.merge_mor``): matched live rows tombstoned into the DV,
  ALL batch rows (replacements + inserts) written as new files, zero
  pre-existing files rewritten; a second merge composes through the
  first's DV; matched rows may MOVE partitions (old position
  tombstoned in its hive dir, replacement lands in the new dir — a
  partition move with no rewrite).

Reference mapping: Delta Lake's low-shuffle MERGE on DV-enabled
tables (the reference materializes every incremental model as Delta
with ``incremental_strategy='merge'`` — dbt_project.yml:39,
customers_latest.sql:3-6); at 100 TB this is the difference between
writing O(batch) rows and rewriting every file a batch key touches.

Same contract as the other driver_queries modules: each query takes
(spark, sf_dir) and returns a DataFrame; ``_oracles_ext91`` maps the
key to an equivalent DuckDB SQL string over the same parquet tables.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _money_cents, _t, combine_single_rows

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q432

Q432_WH = os.path.join(_REPO, ".fixtures", ".q432_warehouse")


def q432_mor_merge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE via deletion vectors (sinks.merge_mor),
    end to end — the third leg of the DV DML trio (q430 DELETE, q431
    UPDATE): two successive merges rewrite ZERO pre-existing files;
    matched live rows' positions land in the deletion vector and
    every batch row (replacement or insert) is written as a NEW file
    in the same hive-partitioned version.

    The lifecycle stresses the two properties a naive implementation
    gets wrong:

    * COMPOSITION — merge 2 matches rows REPLACED by merge 1 (their
      live positions are in merge 1's new files, not the hardlinked
      originals), so the DV must tombstone positions in files the
      previous MoR op itself wrote;
    * PARTITION MOVE — merge 2 re-homes previously-inserted rows into
      a different hive partition: the old position is tombstoned in
      its dir and the replacement lands in the batch row's dir, no
      rewrite anywhere (update_where_mor refuses this; MERGE is how
      Delta moves rows across partitions without COW).

    Compared: per-segment aggregates after merge→merge→OPTIMIZE
    (oracle replays both merges closed-form in SQL), DV cardinalities
    after each merge, ``files_rewritten_total = 0``, and the purge
    certs (DV present before OPTIMIZE, absent after, rows stable).

    Scale: a 100-row upsert against a 100 TB table writes 100 rows +
    DV bytes instead of rewriting every touched file — Delta's
    low-shuffle MERGE; reads pay one broadcast anti-join until
    OPTIMIZE folds the DV in."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q432_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q432_WH, retain_versions=4)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, partition_by=("seg",), cluster_by=("k",))

    cust = _t(spark, sf_dir, "customer")
    # merge 1: update every k%3=0 (+12345 cents), insert a shadow row
    # (k+10M) for every k%97=0
    b1 = cust.where("c_custkey % 3 = 0").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        (_money_cents("c_acctbal") + 12345).alias("cents"),
    ).unionByName(
        cust.where("c_custkey % 97 = 0").select(
            (F.col("c_custkey") + 10_000_000).alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.lit(77700).cast("long").alias("cents"),
        )
    )
    r1 = store.merge_mor("acct", b1, "k")

    # merge 2: zero out k%6=0 (rows merge 1 itself REPLACED —
    # composition through the DV) and MOVE half the inserted shadows
    # into a new partition
    b2 = cust.where("c_custkey % 6 = 0").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("long").alias("cents"),
    ).unionByName(
        cust.where("c_custkey % 97 = 0 AND c_custkey % 2 = 1").select(
            (F.col("c_custkey") + 10_000_000).alias("k"),
            F.lit("AFTERMARKET").alias("seg"),
            F.lit(88800).cast("long").alias("cents"),
        )
    )
    r2 = store.merge_mor("acct", b2, "k")
    rewrites = r1["files_rewritten"] + r2["files_rewritten"]

    dv_before = store._has_dv("acct")
    # Lazy plan pinned to the pre-optimize version (retained within
    # retain_versions=4); counted in the fused probe below instead of
    # an eager count here (round-12 batch 8, guide §1.2 — was two
    # separate counts around the optimize).
    before_df = store.read("acct")
    store.optimize("acct", target_bytes=1 << 30)
    dv_after = store._has_dv("acct")
    pr = combine_single_rows(
        before_df.agg(F.count(F.lit(1)).alias("__rows_before")),
        store.read("acct").agg(F.count(F.lit(1)).alias("__rows_after")),
    ).collect()[0]
    rows_before = int(pr["__rows_before"])
    rows_after = int(pr["__rows_after"])

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
            F.lit(bool(rows_before == rows_after)).alias(
                "rows_stable_after_purge"
            ),
        )
        .orderBy("seg")
    )


Q432_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
b1 AS (
  SELECT k, seg, cents + 12345 AS cents FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT k + 10000000 AS k, seg, CAST(77700 AS BIGINT) AS cents
  FROM base WHERE k % 97 = 0
),
live1 AS (
  SELECT * FROM base WHERE k % 3 <> 0
  UNION ALL SELECT * FROM b1
),
b2 AS (
  SELECT k, seg, CAST(0 AS BIGINT) AS cents FROM base WHERE k % 6 = 0
  UNION ALL
  SELECT k + 10000000 AS k, 'AFTERMARKET' AS seg,
         CAST(88800 AS BIGINT) AS cents
  FROM base WHERE k % 97 = 0 AND k % 2 = 1
),
live2 AS (
  SELECT * FROM live1 WHERE k NOT IN (SELECT k FROM b2)
  UNION ALL SELECT * FROM b2
),
dv AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM base WHERE k % 3 = 0)
           AS dv1,
         (SELECT CAST(count(*) AS BIGINT) FROM base WHERE k % 3 = 0) +
         (SELECT CAST(count(*) AS BIGINT) FROM base WHERE k % 6 = 0) +
         (SELECT CAST(count(*) AS BIGINT) FROM base
           WHERE k % 97 = 0 AND k % 2 = 1)
           AS dv2
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       dv1 AS dv_rows_1, dv2 AS dv_rows_2,
       CAST(0 AS BIGINT) AS files_rewritten_total,
       TRUE AS dv_purged, TRUE AS rows_stable_after_purge
FROM live2, dv GROUP BY seg, dv1, dv2 ORDER BY seg
"""


# ------------------------------------------------------------- q433

Q433_WH = os.path.join(_REPO, ".fixtures", ".q433_warehouse")


def q433_delta_dv_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol-v3 deletion vectors in the transaction log, certified
    cross-engine — the round-8 verdict's one carried ``weak`` gate
    lifted: the MoR DML trio now runs under ``delta_log=True``, each
    commit emitting real ``deletionVector`` descriptors (Z85 uuid,
    roaring-bitmap sidecar ``deletion_vector_<uuid>.bin``, offset/
    sizeInBytes/cardinality — sources/deletion_vectors.py), the
    protocol upgraded in place to readerVersion 3 / writerVersion 7
    with the deletionVectors table feature, DV'd adds' stats marked
    ``tightBounds: false``.

    Lifecycle: overwrite → MoR DELETE → MoR UPDATE → MoR MERGE (the
    merge also RE-INSERTS keys the delete tombstoned — the new copy
    lands in a new file while the DV keeps the old position dead, the
    classic resurrection trap). The result is read THROUGH THE LOG
    (``read_delta``: descriptors decoded from the roaring sidecars,
    tombstones anti-joined out), never through the store's reader.

    The oracle is an independent parser: DuckDB replays the raw
    commit JSON (latest action per path), sums the LIVE adds'
    ``deletionVector.cardinality``, reads the protocol row and the
    tightBounds markers, recomputes the per-segment aggregates
    closed-form from the source table, and checks the accounting
    identity Σ live ``numRecords`` − Σ live cardinality = live rows.

    Scale: the DV sidecar is O(tombstones) bytes per commit and rides
    the log — a 3-row delete against a 100 TB table costs DV bytes +
    one JSON append, and log readers worldwide see exactly the live
    rows with no rewrite anywhere."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q433_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q433_WH, retain_versions=8, delta_log=True)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, partition_by=("seg",), cluster_by=("k",))

    store.delete_where_mor("acct", "k % 5 = 0")
    store.update_where_mor("acct", "cents < 0", {"cents": "0"})
    cust = _t(spark, sf_dir, "customer")
    b3 = cust.where("c_custkey % 7 = 0").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        (
            F.greatest(_money_cents("c_acctbal"), F.lit(0).cast("long"))
            + 700
        ).alias("cents"),
    ).unionByName(
        cust.where("c_custkey % 101 = 0").select(
            (F.col("c_custkey") + 10_000_000).alias("k"),
            F.lit("AFTERMARKET").alias("seg"),
            F.lit(88800).cast("long").alias("cents"),
        )
    )
    store.merge_mor("acct", b3, "k")

    table = store.path("acct")
    snap = dl.DeltaLog(table).snapshot()
    dv_adds = [
        a for a in snap.files.values() if a.get("deletionVector")
    ]
    dv_total = sum(a["deletionVector"]["cardinality"] for a in dv_adds)
    tb_false = sum(
        1
        for a in dv_adds
        if json.loads(a["stats"]).get("tightBounds") is False
    )
    live = dl.read_delta(spark, table)
    accounting_exact = snap.num_records() == live.count()
    # descriptors must round-trip through the roaring decoder too:
    # every live DV'd position re-decoded and re-counted
    decoded = len(snap.dv_positions(table))

    return (
        live.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("cents") / 100.0).cast("double").alias("balance_sum"),
        )
        .select(
            "seg",
            "n",
            "balance_sum",
            F.lit(int(snap.protocol["minReaderVersion"]))
            .cast("long")
            .alias("protocol_reader"),
            F.lit(int(dv_total)).cast("long").alias("dv_total"),
            F.lit(int(decoded)).cast("long").alias("dv_decoded"),
            F.lit(int(tb_false)).cast("long").alias("tight_bounds_false"),
            F.lit(int(len(dv_adds))).cast("long").alias("dv_files"),
            F.lit(bool(accounting_exact)).alias("accounting_exact"),
        )
        .orderBy("seg")
    )


Q433_SQL = f"""
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
live1 AS (SELECT * FROM base WHERE k % 5 <> 0),
live2 AS (
  SELECT k, seg, CASE WHEN cents < 0 THEN 0 ELSE cents END AS cents
  FROM live1
),
b3 AS (
  SELECT k, seg,
         CASE WHEN cents < 0 THEN 0 ELSE cents END + 700 AS cents
  FROM base WHERE k % 7 = 0
  UNION ALL
  SELECT k + 10000000 AS k, 'AFTERMARKET' AS seg,
         CAST(88800 AS BIGINT) AS cents
  FROM base WHERE k % 101 = 0
),
final AS (
  SELECT * FROM live2 WHERE k NOT IN (SELECT k FROM b3)
  UNION ALL SELECT * FROM b3
),
raw AS (
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q433_WH}/acct/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
fa AS (
  SELECT version,
         CASE WHEN add IS NOT NULL THEN add.path
              WHEN remove IS NOT NULL THEN remove.path END AS path,
         (add IS NOT NULL) AS is_add,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec,
         CAST(add.deletionVector.cardinality AS BIGINT) AS card,
         (json_extract_string(add.stats, '$.tightBounds') = 'false')
           AS tbf
  FROM raw
  WHERE add IS NOT NULL OR remove IS NOT NULL
),
live_adds AS (
  SELECT * FROM (
    SELECT fa.*, row_number() OVER (PARTITION BY path
                                    ORDER BY version DESC) AS rn
    FROM fa
  ) WHERE rn = 1 AND is_add
),
logstats AS (
  SELECT CAST(coalesce(sum(card), 0) AS BIGINT) AS dv_total,
         CAST(count(*) FILTER (WHERE card IS NOT NULL) AS BIGINT)
           AS dv_files,
         CAST(count(*) FILTER (WHERE coalesce(tbf, FALSE)) AS BIGINT)
           AS tight_bounds_false,
         CAST(sum(nrec) - coalesce(sum(card), 0) AS BIGINT)
           AS live_rows_from_log
  FROM live_adds
),
proto AS (
  SELECT CAST(max(protocol.minReaderVersion) AS BIGINT)
           AS protocol_reader
  FROM raw WHERE protocol IS NOT NULL
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(cents) AS BIGINT) / 100.0 AS DOUBLE) AS balance_sum,
       protocol_reader,
       dv_total,
       dv_total AS dv_decoded,
       tight_bounds_false,
       dv_files,
       (live_rows_from_log = (SELECT count(*) FROM final))
         AS accounting_exact
FROM final, logstats, proto
GROUP BY seg, protocol_reader, dv_total, tight_bounds_false, dv_files,
         live_rows_from_log
ORDER BY seg
"""


QUERIES_EXT91 = {
    "q432_mor_merge_lifecycle": q432_mor_merge_lifecycle,
    "q433_delta_dv_protocol": q433_delta_dv_protocol,
}


def _oracles_ext91() -> dict[str, str]:
    return {
        "q432_mor_merge_lifecycle": Q432_SQL,
        "q433_delta_dv_protocol": Q433_SQL,
    }
