"""Round-12 driver family, batch 95: the round-11 verdict's ranked
engine-depth gaps, as lifecycle certs.

* q459 — **append-only tables + column invariants** (Delta
  PROTOCOL.md "Append-only Tables" / "Column Invariants"): the
  engine declares both writer features
  (``delta_log.ENGINE_WRITER_FEATURES``) and now ENFORCES them —
  every DML/overwrite/RESTORE path refuses on an append-only table
  with the version unchanged, appends still land, invariant
  violations (null-or-false) are refused at write time with nothing
  committed, and a FOREIGN table declaring the property refuses
  remove commits at the ``DeltaLog.commit`` chokepoint.

Reference mapping: the reference's bronze CDC tables
(models/sources/bronze.yml:8-71) are immutable change streams — the
exact shape ``delta.appendOnly`` exists to protect; its Databricks
engine (profiles.yml:10) enforces both features on every write. At
100 TB: an engine that silently rewrites an append-only audit table
corrupts the lake's compliance story; enforcement is one property
check per DML (O(1)) and one fused predicate per write scan (no extra
pass, no shuffle).

Same contract as the other driver_queries modules: each query takes
(spark, sf_dir) and returns a DataFrame; ``_oracles_ext95`` maps the
key to an equivalent DuckDB SQL string over the same parquet inputs.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import (
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
    multiset_equal,
    multiset_mismatch_flag,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIX = os.path.join(_REPO, ".fixtures")

# ------------------------------------------------------------- q459

Q459_WH = os.path.join(_FIX, "q459_warehouse")
Q459_FOREIGN = os.path.join(_FIX, "q459_foreign")


def q459_append_only_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Append-only tables + column invariants enforced** — the
    round-11 verdict's #1: ``ENGINE_WRITER_FEATURES`` declares
    ``appendOnly`` and ``invariants`` (sources/delta_log.py), so a
    compliant writer must enforce or refuse; previously no DML path
    checked either.

    Lifecycle: overwrite 4 files from ``orders`` → declare the
    invariant ``cents > 0`` (validating scan) → ``delta.appendOnly =
    true`` → prove the gates.

    Pinned properties:

    * ``dml_all_refused`` — DELETE/UPDATE/MERGE (COW and MoR),
      overwrite, and RESTORE all raise ``DeltaProtocolError`` with
      the log version unchanged;
    * ``append_landed`` — a valid append still lands (version +1),
      per the feature's contract;
    * ``invariant_refused`` — an append with ``cents <= 0`` rows is
      refused at write time, nothing committed;
    * ``null_violates`` — a NULL ``cents`` row violates the
      INVARIANT (delta-spark CheckDeltaInvariant: null-or-false
      throws) — stricter than CHECK constraints, where NULL
      satisfies;
    * ``log_declares_both`` — the log metaData carries
      ``delta.appendOnly = true`` in configuration AND the spec's
      persisted-rule JSON under ``delta.invariants`` in the column's
      field metadata (parsed from the raw commit JSON);
    * ``foreign_refused`` — a handcrafted FOREIGN table declaring
      the property refuses a ``remove``-with-``dataChange`` commit
      at the ``DeltaLog.commit`` chokepoint, while a rearrange-only
      (``dataChange: false``) remove passes, per the protocol.

    Scale: the append-only gate is one property lookup per DML; the
    invariant check is one codegen'd predicate fused into the write's
    existing scan — no extra pass at 100 TB.

    Reference: bronze.yml:8-71 (immutable CDC streams — the
    append-only shape); dbt_project.yml:39 (delta file format).
    """
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
        SnapshotStore,
    )

    shutil.rmtree(Q459_WH, ignore_errors=True)
    shutil.rmtree(Q459_FOREIGN, ignore_errors=True)
    store = SnapshotStore(spark, Q459_WH, retain_versions=6,
                          delta_log=True)
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").cast("long").alias("cust"),
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite("audit", base, n_files=4)
    store.set_invariant("audit", "cents", "cents > 0")
    store.set_append_only("audit")

    tdir = store.path("audit")
    ver0 = store.current_version("audit")
    log_ver0 = dl.DeltaLog(tdir).latest_version()
    batch = local_rows_df(spark, 
        [(1, 1, 100)], "k long, cust long, cents long"
    )
    refused = 0
    attempts = (
        lambda: store.delete_where("audit", "k % 2 = 0"),
        lambda: store.update_where("audit", "k % 2 = 0",
                                   {"cents": "cents + 1"}),
        lambda: store.merge("audit", batch, "k"),
        lambda: store.delete_where_mor("audit", "k % 2 = 0"),
        lambda: store.update_where_mor("audit", "k % 2 = 0",
                                       {"cents": "cents + 1"}),
        lambda: store.merge_mor("audit", batch, "k"),
        lambda: store.overwrite("audit", base.limit(5)),
        lambda: store.restore("audit", store.versions("audit")[0]),
    )
    for op in attempts:
        try:
            op()
        except dl.DeltaProtocolError:
            refused += 1
    dml_all_refused = (
        refused == len(attempts)
        and store.current_version("audit") == ver0
        and dl.DeltaLog(tdir).latest_version() == log_ver0
    )

    # a valid append still lands — that's the point of the feature
    appended = base.where("k % 1000 = 32").select(
        (F.col("k") + F.lit(2_000_000_000)).alias("k"),
        "cust",
        "cents",
    )
    store.append("audit", appended)
    append_landed = (
        dl.DeltaLog(tdir).latest_version() == (log_ver0 or 0) + 1
    )

    log_ver1 = dl.DeltaLog(tdir).latest_version()
    invariant_refused = False
    try:
        store.append("audit", local_rows_df(spark, 
            [(3_000_000_001, 1, -5)], "k long, cust long, cents long"
        ))
    except ConstraintViolationError:
        invariant_refused = (
            dl.DeltaLog(tdir).latest_version() == log_ver1
        )
    null_violates = False
    try:
        store.append("audit", local_rows_df(spark, 
            [(3_000_000_002, 1, None)], "k long, cust long, cents long"
        ))
    except ConstraintViolationError:
        null_violates = (
            dl.DeltaLog(tdir).latest_version() == log_ver1
        )

    # the log's raw JSON carries both declarations
    snap = dl.DeltaLog(tdir).snapshot()
    conf = (snap.metadata or {}).get("configuration") or {}
    fields = json.loads(snap.metadata["schemaString"])["fields"]
    raw_inv = next(
        (f.get("metadata") or {}).get(dl.INVARIANTS_META_KEY)
        for f in fields if f["name"] == "cents"
    )
    log_declares_both = (
        conf.get(dl.APPEND_ONLY_PROP) == "true"
        and snap.append_only()
        and json.loads(raw_inv)
        == {"expression": {"expression": "cents > 0"}}
        and snap.invariants() == {"cents": "cents > 0"}
    )

    # FOREIGN table: another writer's log declaring the property —
    # the engine's commit chokepoint must refuse, no store involved
    os.makedirs(os.path.join(Q459_FOREIGN, dl.LOG_DIR))
    fmeta = dl.make_metadata(json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    }))
    fmeta["configuration"] = {dl.APPEND_ONLY_PROP: "true"}
    flog = dl.DeltaLog(Q459_FOREIGN)
    flog.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": fmeta}], version=0)
    fadd = {"path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}
    flog.commit([{"add": fadd}], version=1)
    foreign_refused = False
    try:
        flog.commit([{"remove": dl.make_remove("part-0.parquet")}])
    except dl.DeltaProtocolError:
        foreign_refused = flog.latest_version() == 1
    if foreign_refused:
        # rearrange-only removes (OPTIMIZE) still pass
        rm = dl.make_remove("part-0.parquet")
        rm["dataChange"] = False
        add2 = dict(fadd, path="part-1.parquet", dataChange=False)
        flog.commit([{"remove": rm}, {"add": add2}], version=2)
        foreign_refused = flog.latest_version() == 2

    out = (
        store.read("audit")
        .groupBy((F.col("k") % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "bucket",
        "n",
        "cents_sum",
        F.lit(bool(dml_all_refused)).alias("dml_all_refused"),
        F.lit(bool(append_landed)).alias("append_landed"),
        F.lit(bool(invariant_refused)).alias("invariant_refused"),
        F.lit(bool(null_violates)).alias("null_violates"),
        F.lit(bool(log_declares_both)).alias("log_declares_both"),
        F.lit(bool(foreign_refused)).alias("foreign_refused"),
    ).orderBy("bucket")


Q459_SQL = """
WITH audit AS (
  SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS cust,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT o_orderkey + 2000000000 AS k, CAST(o_custkey AS BIGINT) AS cust,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  WHERE o_orderkey % 1000 = 32
)
SELECT k % 7 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS dml_all_refused,
       TRUE AS append_landed,
       TRUE AS invariant_refused,
       TRUE AS null_violates,
       TRUE AS log_declares_both,
       TRUE AS foreign_refused
FROM audit
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q460

Q460_TABLE = os.path.join(_FIX, "q460_table")
Q460_LOGTBL = os.path.join(_FIX, "q460_logtable")
_DAY_MS = 86_400_000
_Q460_NOW = 100 * _DAY_MS


def q460_time_based_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Time-based retention horizons** (delta.io
    ``delta.deletedFileRetentionDuration`` /
    ``delta.logRetentionDuration``) — round-11 verdict item 2: the
    engine's VACUUM previously deleted everything below the current
    snapshot and ``cleanup_log`` truncated below the newest
    checkpoint; real Delta retains tombstones (and log commits)
    inside a time window so time travel keeps working.

    Lifecycle: 5 one-bucket files of ``supplier`` → tombstone bucket
    0 at now−2d (inside the 7-day window) and bucket 1 at now−30d
    (lapsed) → VACUUM at a pinned clock → prove the horizon both
    ways; separate log-retention arm with controlled in-commit
    timestamps.

    Pinned properties:

    * ``spared_inside_window`` — VACUUM collects ONLY the lapsed
      tombstone; the recent one survives on disk;
    * ``travel_inside_window`` — after that VACUUM, time travel to
      the pre-delete version still reads all rows (the whole point
      of the retention window);
    * ``collected_after_lapse`` — a later VACUUM (clock advanced
      past the window) collects the spared file, and travel to the
      old version dies with it — Delta's contract;
    * ``log_retention_respected`` — ``cleanup_log`` spares commits
      whose in-commit timestamp is inside
      ``delta.logRetentionDuration`` and retreats its cutoff to a
      checkpoint at or below the first retained commit, so every
      retained version stays reconstructible;
    * ``files_on_disk_after_vacuum`` — cross-checked by DuckDB
      recomputing the retained set FROM THE RAW COMMIT JSON:
      |adds| − |removes with deletionTimestamp ≤ horizon|.

    Scale: the tombstone sweep is O(log tail) JSON reads — zero data
    I/O; at 100 TB the alternative (no window) silently breaks every
    reader time-traveling for reproducibility (training-data
    snapshots pinned by version are exactly that).

    Reference: dbt_project.yml:39 (delta file format);
    delta.io VACUUM retention semantics.
    """
    from product_analytics_spark.sources import delta_log as dl

    shutil.rmtree(Q460_TABLE, ignore_errors=True)
    shutil.rmtree(Q460_LOGTBL, ignore_errors=True)
    os.makedirs(os.path.join(Q460_TABLE, dl.LOG_DIR))

    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").alias("cents"),
    )
    # five single-file buckets, file identity = key bucket (so the
    # oracle can recompute survivors from the base table)
    adds = []
    for b in range(5):
        tmp = os.path.join(Q460_TABLE, f"_tmp_b{b}")
        base.where(F.col("k") % 5 == b).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(Q460_TABLE, f"bucket-{b}.parquet")
        os.replace(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        adds.append(dl.make_add(Q460_TABLE, dst))
    meta = dl.make_metadata(
        base.schema.json()
    )
    log = dl.DeltaLog(Q460_TABLE)
    log.commit([{"protocol": dl.PROTOCOL_ACTION}, {"metaData": meta}],
               version=0)
    log.commit([{"add": a} for a in adds], version=1)

    def _remove_at(rel: str, ts: int) -> None:
        rm = dl.make_remove(rel)
        rm["deletionTimestamp"] = ts
        log.commit([{"remove": rm}], operation="DELETE")

    # v2: the LAPSED tombstone lands first, v3: the recent one — so
    # version 2 references only live + inside-window files and is the
    # travel target the retention window must keep readable
    _remove_at("bucket-1.parquet", _Q460_NOW - 30 * _DAY_MS)  # lapsed
    _remove_at("bucket-0.parquet", _Q460_NOW - 2 * _DAY_MS)   # recent

    victims = log.vacuum(now_ms=_Q460_NOW)  # default 7d window
    spared_inside_window = (
        victims == ["bucket-1.parquet"]
        and os.path.isfile(os.path.join(Q460_TABLE, "bucket-0.parquet"))
    )
    files_on_disk = len(
        glob.glob(os.path.join(Q460_TABLE, "bucket-*.parquet"))
    )

    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts of the expected set and the travel read).
    pr = combine_single_rows(
        base.where(F.col("k") % 5 != 1).agg(
            F.count(F.lit(1)).alias("__n_v2")
        ),
        dl.read_delta(spark, Q460_TABLE, version=2).agg(
            F.count(F.lit(1)).alias("__v2_read_n")
        ),
    ).collect()[0]
    travel_inside_window = int(pr["__v2_read_n"]) == int(pr["__n_v2"])

    cur = dl.read_delta(spark, Q460_TABLE).select("k", "nation", "cents")
    # freeze NOW — the upcoming lapse-vacuum deletes the spared file
    # a lazy plan would still reference
    cur = local_rows_df(spark, cur.collect(), cur.schema)

    victims2 = log.vacuum(now_ms=_Q460_NOW + 30 * _DAY_MS)
    travel_dead_after = False
    try:
        dl.read_delta(spark, Q460_TABLE, version=2).count()
    except Exception:  # noqa: BLE001 — the referenced file is gone
        travel_dead_after = True
    collected_after_lapse = (
        victims2 == ["bucket-0.parquet"] and travel_dead_after
    )

    # ---- log-retention arm (separate dir so the main table's log
    # stays complete for the oracle's raw-JSON recompute)
    os.makedirs(os.path.join(Q460_LOGTBL, dl.LOG_DIR))
    meta2 = dl.make_metadata(json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    }))
    log2 = dl.DeltaLog(Q460_LOGTBL)
    log2.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": meta2}], version=0)
    for v in range(1, 12):
        ts = (
            _Q460_NOW - 60 * _DAY_MS if v < 8   # expired (>30d)
            else _Q460_NOW - _DAY_MS + v        # retained (<30d)
        )
        log2.commit([{"metaData": meta2}], version=v, timestamp_ms=ts)
    log2.write_checkpoint(5)
    log2.write_checkpoint(11)
    removed = log2.cleanup_log(now_ms=_Q460_NOW)
    surviving = [v for v, _p in log2._commits()]
    log_retention_respected = (
        removed == 5
        and surviving == list(range(5, 12))
        and log2.snapshot(8).version == 8
    )

    out = (
        cur.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "nation",
        "n",
        "cents_sum",
        F.lit(int(files_on_disk)).cast("long").alias(
            "files_on_disk_after_vacuum"
        ),
        F.lit(bool(spared_inside_window)).alias("spared_inside_window"),
        F.lit(bool(travel_inside_window)).alias("travel_inside_window"),
        F.lit(bool(collected_after_lapse)).alias("collected_after_lapse"),
        F.lit(bool(log_retention_respected)).alias(
            "log_retention_respected"
        ),
    ).orderBy("nation")


Q460_SQL = f"""
WITH log AS (
  SELECT * FROM read_json_auto(
    '{Q460_TABLE}/_delta_log/*.json',
    format='newline_delimited', union_by_name=true)
),
adds AS (
  SELECT DISTINCT "add".path AS path FROM log WHERE "add" IS NOT NULL
),
lapsed AS (
  SELECT remove.path AS path FROM log
  WHERE remove IS NOT NULL
    AND CAST(remove.deletionTimestamp AS BIGINT)
        <= {_Q460_NOW} - 7 * 86400000
),
retained AS (
  SELECT (SELECT count(*) FROM adds)
       - (SELECT count(*) FROM lapsed) AS files_on_disk
),
survivors AS (
  SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM supplier
  WHERE NOT (s_suppkey % 5 IN (0, 1))
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT files_on_disk FROM retained) AS files_on_disk_after_vacuum,
       TRUE AS spared_inside_window,
       TRUE AS travel_inside_window,
       TRUE AS collected_after_lapse,
       TRUE AS log_retention_respected
FROM survivors
GROUP BY nation
ORDER BY nation
"""


# ------------------------------------------------------------- q461

Q461_WH = os.path.join(_FIX, "q461_warehouse")
Q461_MIX = os.path.join(_FIX, "q461_mixed")


def q461_stream_byte_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Byte-based streaming admission** (Delta's
    ``maxBytesPerTrigger``, ``sources/delta_stream.py``) — round-11
    verdict item 4: the ``delta_tail`` source gained
    ``max_files_per_trigger`` last round, but a file-count cap
    under-admits small-file tables and over-admits compacted ones —
    100 files can be 10 MB or 12 GB. The byte budget (from the adds'
    ``size``) is the robust twin; both caps compose (whichever trips
    first binds).

    Two arms:

    * **deterministic paging** over a handcrafted mixed small/large
      tail (2×10 B, 1×100 B, 4×5 B, 1×1000 B, 2×10 B): a 120 B
      budget admits v0+v1 exactly, the 4-small-file commit rides the
      next trigger (a file cap of 2 would stall on it), the 1000 B
      oversized commit flows ALONE (never starves), and the batch
      ranges are strictly monotone — ``position never regresses``;
    * **end-to-end completeness**: a real structured stream over a
      store table with a 1-byte budget pages one commit per trigger
      (``paged_per_commit``) yet the concatenated sink equals the
      unlimited stream's content bit-for-bit.

    Scale: a restarted stream facing 10 TB of pending commits must
    page through them in executor-memory-sized batches; bytes — not
    file counts — are what executor memory is sized in.

    Reference: chained incremental delta models (dbt_project.yml:39)
    run as this streaming read with rate limiting on Databricks.
    """
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.delta_stream import (
        DeltaTailStreamReader,
        register_delta_tail,
    )
    from product_analytics_spark.sources.sinks import SnapshotStore

    # ---- arm 1: deterministic paging over a handcrafted tail
    shutil.rmtree(Q461_MIX, ignore_errors=True)
    os.makedirs(os.path.join(Q461_MIX, dl.LOG_DIR))
    schema = json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    })

    def _add(name: str, size: int) -> dict:
        return {"add": {
            "path": f"{name}.parquet", "partitionValues": {},
            "size": size, "modificationTime": 0, "dataChange": True,
        }}

    mlog = dl.DeltaLog(Q461_MIX)
    mlog.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": dl.make_metadata(schema)},
                 _add("f0a", 10), _add("f0b", 10)], version=0)
    mlog.commit([_add("f1a", 100)], version=1)
    mlog.commit([_add(f"f2{c}", 5) for c in "abcd"], version=2)
    mlog.commit([_add("f3a", 1000)], version=3)
    mlog.commit([_add("f4a", 10), _add("f4b", 10)], version=4)

    def _drain(reader) -> list[tuple[int, int]]:
        batches = []
        start = reader.initialOffset()["version"]
        for _ in range(50):
            end = reader.latestOffset()["version"]
            if end <= start:
                break
            reader.commit({"version": end})
            batches.append((start, end))
            start = end
        return batches

    b120 = _drain(DeltaTailStreamReader(
        {"path": Q461_MIX, "max_bytes_per_trigger": "120"}))
    b_combo = _drain(DeltaTailStreamReader(
        {"path": Q461_MIX, "max_bytes_per_trigger": "120",
         "max_files_per_trigger": "2"}))
    paging_pinned = (
        b120[0] == (0, 2)          # 20 + 100 B fill the budget exactly
        and (2, 3) in b120         # 4 small files ride one trigger
        and (3, 4) in b120         # oversized commit flows ALONE
        and b120[-1][1] == 5
        and b_combo[0] == (0, 1)   # the 2-file cap binds first
        and b_combo[-1][1] == 5
    )
    position_never_regresses = all(
        e > s for s, e in b120 + b_combo
    ) and all(
        b120[i][1] == b120[i + 1][0] for i in range(len(b120) - 1)
    )

    # ---- arm 2: end-to-end completeness under a 1-byte budget
    shutil.rmtree(Q461_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q461_WH, retain_versions=10,
                          delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("feed", base, n_files=3)                    # v0
    app1 = cust.where("c_custkey % 13 = 0").select(
        (F.col("c_custkey") + 30_000_000).alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(100).cast("long").alias("cents"),
    )
    store.append("feed", app1)                                  # v1
    app2 = cust.where("c_custkey % 17 = 0").select(
        (F.col("c_custkey") + 40_000_000).alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(200).cast("long").alias("cents"),
    )
    store.append("feed", app2)                                  # v2

    register_delta_tail(spark)
    tdir = store.path("feed")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (
            spark.readStream.format("delta_tail")
            .option("path", tdir)
            .option("max_bytes_per_trigger", "1")
            .load()
        )
        q = (
            src.writeStream.format("memory")
            .queryName("q461_sink")
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

    streamed = spark.table("q461_sink")
    expected = base.unionByName(app1).unionByName(app2)
    complete_despite_paging = multiset_equal(streamed, expected)
    # a 1-byte budget admits exactly one commit per trigger
    r1 = DeltaTailStreamReader(
        {"path": tdir, "max_bytes_per_trigger": "1"})
    paged_per_commit = _drain(r1) == [(0, 1), (1, 2), (2, 3)]

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
            F.lit(bool(paging_pinned)).alias("paging_pinned"),
            F.lit(bool(position_never_regresses)).alias(
                "position_never_regresses"
            ),
            F.lit(bool(complete_despite_paging)).alias(
                "complete_despite_paging"
            ),
            F.lit(bool(paged_per_commit)).alias("paged_per_commit"),
        )
        .orderBy("seg")
    )


Q461_SQL = """
WITH feed AS (
  SELECT c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
  UNION ALL
  SELECT c_mktsegment AS seg, CAST(100 AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT c_mktsegment AS seg, CAST(200 AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 17 = 0
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS paging_pinned,
       TRUE AS position_never_regresses,
       TRUE AS complete_despite_paging,
       TRUE AS paged_per_commit
FROM feed
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q462

Q462_TABLE = os.path.join(_FIX, "q462_table")
Q462_NOIDS = os.path.join(_FIX, "q462_noids")


def q462_column_mapping_id_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Column mapping mode ``id``** (Delta PROTOCOL.md "Column
    Mapping", the Iceberg-compat half) — round-11 verdict item 3:
    enablement previously wrote only ``mode = name``; id mode
    resolves columns by parquet FIELD ID, making the parquet column
    NAME irrelevant. The read path is Spark-native: the forced read
    schema carries ``parquet.field.id`` metadata and
    ``spark.sql.parquet.fieldId.read.enabled`` does the vectorized
    id-based resolution — no custom reader code.

    Lifecycle: write id-stamped files from ``supplier``
    (``with_field_ids`` → Spark's own footer stamping) → enable
    ``mode=id`` (one footer read per live file VERIFIES the ids —
    real Delta sidesteps this by allowing id only on new tables) →
    RENAME COLUMN → WIDEN int→long → append a file whose parquet
    column names are GARBAGE but whose field ids match.

    Pinned properties:

    * ``enable_refused_without_ids`` — id-mode enablement on a table
      whose files lack field ids is refused (an id-mode reader would
      return nulls or error — refusing is the compliant move);
    * ``id_resolution`` — the garbled-name file's rows read back
      correctly THROUGH the field ids (a name-mode reader could
      never resolve them) — this very query's output contains them;
    * ``rename_zero_rewrite`` — RENAME under id mode is one metaData
      commit, live add set (paths AND inodes) untouched;
    * ``widen_under_id`` — int→long widening composes: old int32
      files, new int64 files, one forced-schema scan resolving by id
      AND conforming to the widened logical type;
    * ``skipping_survives`` — stats skipping on the renamed logical
      name still prunes files.

    Scale: id resolution is the interop story — Iceberg-converted
    tables carry field ids, not Delta physical names; and the whole
    path stays in Spark's vectorized parquet reader (no Python, no
    per-file custom code).

    Reference: dbt_project.yml:39 (delta format);
    customers_latest.sql:5 (schema evolution posture).
    """
    from product_analytics_spark.sources import delta_log as dl

    shutil.rmtree(Q462_TABLE, ignore_errors=True)
    shutil.rmtree(Q462_NOIDS, ignore_errors=True)
    os.makedirs(os.path.join(Q462_TABLE, dl.LOG_DIR))

    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").cast("int").alias("cents"),
    )
    ids = {"k": 1, "nation": 2, "cents": 3}
    # range-partitioned on k so the two files have DISJOINT cents
    # ranges is not guaranteed — but disjoint k ranges are, and the
    # global cents minimum lives in exactly one file either way
    stamped = dl.with_field_ids(base, ids).repartitionByRange(2, "k")
    tmp = os.path.join(Q462_TABLE, "_tmp")
    stamped.write.parquet(tmp)
    adds = []
    for i, src in enumerate(
        sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    ):
        dst = os.path.join(Q462_TABLE, f"data-{i}.parquet")
        os.replace(src, dst)
        adds.append(dl.make_add(Q462_TABLE, dst))
    shutil.rmtree(tmp, ignore_errors=True)
    log = dl.DeltaLog(Q462_TABLE)
    log.commit([{"protocol": dl.PROTOCOL_ACTION},
                {"metaData": dl.make_metadata(base.schema.json())}],
               version=0)
    log.commit([{"add": a} for a in adds], version=1)

    # negative arm: an id-LESS table refuses id-mode enablement
    os.makedirs(os.path.join(Q462_NOIDS, dl.LOG_DIR))
    tmp2 = os.path.join(Q462_NOIDS, "_tmp")
    base.limit(10).coalesce(1).write.parquet(tmp2)
    src2 = glob.glob(os.path.join(tmp2, "part-*.parquet"))[0]
    dst2 = os.path.join(Q462_NOIDS, "data-0.parquet")
    os.replace(src2, dst2)
    shutil.rmtree(tmp2, ignore_errors=True)
    nlog = dl.DeltaLog(Q462_NOIDS)
    nlog.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": dl.make_metadata(base.schema.json())}],
                version=0)
    nlog.commit([{"add": dl.make_add(Q462_NOIDS, dst2)}], version=1)
    enable_refused_without_ids = False
    try:
        dl.enable_column_mapping(Q462_NOIDS, mode="id")
    except dl.DeltaProtocolError:
        enable_refused_without_ids = True

    dl.enable_column_mapping(Q462_TABLE, mode="id")

    def _live_inodes():
        snap = dl.DeltaLog(Q462_TABLE).snapshot()
        return {
            p: os.stat(dl.resolve_path(Q462_TABLE, p)).st_ino
            for p in snap.files
        }

    before = _live_inodes()
    dl.rename_column(Q462_TABLE, "cents", "balance_cents")
    rename_zero_rewrite = _live_inodes() == before

    dl.widen_column_type(Q462_TABLE, "balance_cents", "long")

    # garbled-name file: resolvable ONLY by field id; rows are
    # deterministic constants the oracle re-states
    import pyarrow as pa
    import pyarrow.parquet as pq

    sch = pa.schema([
        pa.field("zz_a", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("zz_b", pa.int64(),
                 metadata={b"PARQUET:field_id": b"2"}),
        pa.field("zz_c", pa.int64(),
                 metadata={b"PARQUET:field_id": b"3"}),
    ])
    gpath = os.path.join(Q462_TABLE, "garbled.parquet")
    pq.write_table(
        pa.table({
            "zz_a": pa.array([-1, -2], pa.int64()),
            "zz_b": pa.array([77, 77], pa.int64()),
            "zz_c": pa.array([4_000_000_001, 4_000_000_002],
                             pa.int64()),
        }).cast(sch),
        gpath,
    )
    log.commit([{"add": dl.make_add(Q462_TABLE, gpath,
                                    with_stats=False)}])

    df = dl.read_delta(spark, Q462_TABLE)
    widen_under_id = dict(df.dtypes).get("balance_cents") == "bigint"
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was a
    # 1-row collect, a count and a min() collect, three actions).
    pr = combine_single_rows(
        df.where("k = -1").agg(
            F.count(F.lit(1)).alias("__neg1_n"),
            F.count_if(
                (F.col("nation") == 77)
                & (F.col("balance_cents") == 4_000_000_001)
            ).alias("__neg1_ok"),
        ),
        df.where("k = -2").agg(F.count(F.lit(1)).alias("__neg2_n")),
        base.agg(F.min("cents").alias("__lo")),
    ).collect()[0]
    id_resolution = (
        int(pr["__neg1_n"]) == 1
        and int(pr["__neg1_ok"]) == 1
        and int(pr["__neg2_n"]) == 1
    )
    snap = dl.DeltaLog(Q462_TABLE).snapshot()
    lo = pr["__lo"]
    kept = snap.plan_files([("balance_cents", "<=", int(lo))])
    skipping_survives = 0 < len(kept) < len(snap.files)

    out = (
        df.groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("balance_cents").alias("balance_sum"),
        )
    )
    return out.select(
        "bucket",
        "n",
        "balance_sum",
        F.lit(bool(enable_refused_without_ids)).alias(
            "enable_refused_without_ids"
        ),
        F.lit(bool(id_resolution)).alias("id_resolution"),
        F.lit(bool(rename_zero_rewrite)).alias("rename_zero_rewrite"),
        F.lit(bool(widen_under_id)).alias("widen_under_id"),
        F.lit(bool(skipping_survives)).alias("skipping_survives"),
    ).orderBy("bucket")


Q462_SQL = """
WITH rows_all AS (
  SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS INTEGER)
              AS BIGINT) AS balance_cents
  FROM supplier
  UNION ALL
  SELECT * FROM (VALUES
    (-1, CAST(77 AS BIGINT), CAST(4000000001 AS BIGINT)),
    (-2, CAST(77 AS BIGINT), CAST(4000000002 AS BIGINT))
  ) AS g(k, nation, balance_cents)
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(balance_cents) AS BIGINT) AS balance_sum,
       TRUE AS enable_refused_without_ids,
       TRUE AS id_resolution,
       TRUE AS rename_zero_rewrite,
       TRUE AS widen_under_id,
       TRUE AS skipping_survives
FROM rows_all
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q463

Q463_TABLE = os.path.join(_FIX, "q463_table")


def q463_staged_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Coordinated commits with Delta 4.x's ``_staged_commits/``
    layout** (Delta PROTOCOL.md "Catalog-Managed Tables") — round-11
    verdict item 5: the q456 CommitOwner seam modeled the DECISION;
    this emits and reads the actual interop layout — commits staged
    as immutable UUID-named files
    (``_staged_commits/<version>.<uuid>.json``), ratified in the
    owner's registry, readable BEFORE backfill, and backfilled to
    canonical ``<version>.json`` names for coordinator-unaware
    readers.

    Lifecycle: 3 writer batches from ``orders`` land as staged
    commits → a deliberate same-version race (loser's staged file
    remains as unratified garbage) → reads WITHOUT backfill →
    ``backfill`` → coordinator-unaware read → threaded fuzz.

    Pinned properties:

    * ``read_before_backfill`` — with ZERO canonical
      ``<version>.json`` files on disk, the reader reconstructs the
      full table by consulting the registry for the unbackfilled
      suffix (the reader half of coordinated commits);
    * ``conflict_refused`` — a second owner racing an already
      ratified version gets ``DeltaConflictError``; the durable
      grant survives even out-of-band loss of the staged file;
    * ``backfill_interop`` — after ``backfill``, every version
      exists at its canonical name with content BYTE-IDENTICAL to
      the ratified staged file, the losers are swept, and a
      coordinator-unaware reader (plain hardlink owner) sees the
      same table;
    * ``fuzz_contiguous`` — 3 threads × 4 commits racing through
      staged owners produce a contiguous 12-version history with the
      registry's ratification covering every version exactly once;
    * ``n_adds_in_staged_json`` — cross-checked by DuckDB parsing
      the raw staged commit JSON itself.

    Scale: object stores have no putIfAbsent — staging (uncontended
    unique names) + catalog ratification is how Delta 4.x serializes
    1000-executor writers; backfill keeps cold readers cheap (no
    coordinator round-trip per read).

    Reference: profiles.yml:10 (Databricks = Unity-catalog-owned
    commits in production); dbt threads: 5 (concurrent writers).
    """
    import threading

    from product_analytics_spark.sources import delta_log as dl

    shutil.rmtree(Q463_TABLE, ignore_errors=True)
    os.makedirs(os.path.join(Q463_TABLE, dl.LOG_DIR))
    ldir = os.path.join(Q463_TABLE, dl.LOG_DIR)

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").cast("long").alias("cust"),
        _money_cents("o_totalprice").alias("cents"),
    )
    owner = dl.StagedCommitOwner()
    log = dl.DeltaLog(Q463_TABLE, owner=owner)
    log.commit([{"protocol": dl.PROTOCOL_ACTION},
                {"metaData": dl.make_metadata(base.schema.json())}],
               version=0)
    for i in range(3):
        tmp = os.path.join(Q463_TABLE, f"_tmp{i}")
        base.where(F.col("k") % 3 == i).coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(Q463_TABLE, f"batch-{i}.parquet")
        os.replace(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        log.commit([{"add": dl.make_add(Q463_TABLE, dst)}],
                   version=i + 1)

    # deliberate same-version race: the version is ratified, so a
    # second owner must lose — and the grant survives staged-file loss
    conflict_refused = False
    try:
        dl.StagedCommitOwner().put_if_absent(ldir, 3, "{}\n")
    except dl.DeltaConflictError:
        conflict_refused = True
    reg = dl._staged_ratified(ldir)
    loser_garbage = [
        f for f in os.listdir(os.path.join(ldir, dl.STAGED_DIR))
        if f.startswith(f"{3:020d}.") and f != reg[3]
    ]
    conflict_refused = conflict_refused and len(loser_garbage) == 1

    no_canonical_yet = not any(
        dl._COMMIT_RE.match(f) for f in os.listdir(ldir)
    )
    df_before = dl.read_delta(spark, Q463_TABLE)
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts; the post-backfill count below must stay its own
    # action, ordered after the backfill it observes).
    pr = combine_single_rows(
        base.agg(F.count(F.lit(1)).alias("__n_expected")),
        df_before.agg(F.count(F.lit(1)).alias("__before_n")),
    ).collect()[0]
    n_expected = int(pr["__n_expected"])
    read_before_backfill = (
        no_canonical_yet and int(pr["__before_n"]) == n_expected
    )
    n_adds = len(dl.DeltaLog(Q463_TABLE).snapshot().files)

    published = dl.StagedCommitOwner.backfill(ldir)
    with open(os.path.join(ldir, dl.STAGED_DIR, reg[3]),
              encoding="utf-8") as fh:
        staged_body = fh.read()
    with open(os.path.join(ldir, f"{3:020d}.json"),
              encoding="utf-8") as fh:
        byte_identical = fh.read() == staged_body
    losers_left = [
        f for f in os.listdir(os.path.join(ldir, dl.STAGED_DIR))
        if f.startswith(f"{3:020d}.") and f != reg[3]
    ]
    unaware = dl.DeltaLog(Q463_TABLE)  # default hardlink owner
    backfill_interop = (
        published == 4
        and byte_identical
        and not losers_left
        and unaware.latest_version() == 3
        and dl.read_delta(spark, Q463_TABLE).count() == n_expected
    )

    # threaded fuzz: 3 writers × 4 domain commits, contiguous history
    errs: list[Exception] = []

    def _writer(tag: int):
        wlog = dl.DeltaLog(Q463_TABLE, owner=dl.StagedCommitOwner())
        for i in range(4):
            dm = {"domainMetadata": {
                "domain": f"q463.w{tag}.c{i}",
                "configuration": "{}", "removed": False,
            }}
            for _ in range(300):
                v = (wlog.latest_version() or 0) + 1
                try:
                    wlog.commit([dm], version=v)
                    break
                except dl.DeltaConflictError:
                    continue
            else:  # pragma: no cover
                errs.append(RuntimeError(f"w{tag} starved"))

    ts = [threading.Thread(target=_writer, args=(t,))
          for t in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    final = dl.DeltaLog(Q463_TABLE)
    snap = final.snapshot()
    reg2 = dl._staged_ratified(ldir)
    fuzz_contiguous = (
        not errs
        and final.latest_version() == 15
        and sum(1 for d in snap.domains if d.startswith("q463.")) == 12
        and sorted(v for v in reg2 if v > 3) == list(range(4, 16))
    )

    out = (
        dl.read_delta(spark, Q463_TABLE)
        .groupBy((F.col("k") % 3).alias("writer"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "writer",
        "n",
        "cents_sum",
        F.lit(int(n_adds)).cast("long").alias("n_adds_in_staged_json"),
        F.lit(bool(read_before_backfill)).alias("read_before_backfill"),
        F.lit(bool(conflict_refused)).alias("conflict_refused"),
        F.lit(bool(backfill_interop)).alias("backfill_interop"),
        F.lit(bool(fuzz_contiguous)).alias("fuzz_contiguous"),
    ).orderBy("writer")


Q463_SQL = f"""
WITH staged AS (
  SELECT * FROM read_json_auto(
    '{Q463_TABLE}/_delta_log/_staged_commits/0*.json',
    format='newline_delimited', union_by_name=true)
),
n_adds AS (
  SELECT count(*) AS n FROM staged WHERE "add" IS NOT NULL
),
rows_all AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders
)
SELECT k % 3 AS writer,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT CAST(n AS BIGINT) FROM n_adds) AS n_adds_in_staged_json,
       TRUE AS read_before_backfill,
       TRUE AS conflict_refused,
       TRUE AS backfill_interop,
       TRUE AS fuzz_contiguous
FROM rows_all
GROUP BY writer
ORDER BY writer
"""


# ------------------------------------------------------------- q464

Q464_WH = os.path.join(_FIX, "q464_warehouse")


def q464_generated_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Generated-column partition pruning** (delta.io "use
    generated columns for partition pruning"): a predicate on a DATA
    column prunes through any PARTITION column generated from it —
    ``WHERE odate BETWEEN ...`` on a table partitioned by
    ``oyear = year(odate)`` skips every other year's directories
    with NO user-written partition filter. The planner derives the
    partition conjunct from the ``delta.generationExpression`` field
    metadata the log already carries; monotone generations (CAST AS
    DATE, year, date_trunc, prefix) derive range conjuncts, wrapping
    ones (month/day) derive equality only, strict ops weaken to
    inclusive so the boundary partition is never over-pruned.

    Pinned properties:

    * ``derived_prunes`` — the data-column predicate alone keeps
      exactly the files an EXPLICIT partition conjunct would, and
      strictly fewer than the live total;
    * ``pruned_read_correct`` — ``read_pruned`` + the row-level
      filter returns exactly the full scan's filtered rows (file
      pruning is a superset guarantee — this query's output IS that
      read);
    * ``boundary_safe`` — a strict ``>`` with a mid-year literal
      still keeps that year's partition (deriving ``oyear > 1996``
      instead of ``>= 1996`` would AND away the boundary directory
      even though the per-file stats keep it).

    Scale: this is the feature that makes "partition by derived
    date, query by raw timestamp" free at 100 TB — without it every
    timestamp-range query scans all partitions unless users remember
    to repeat the filter on the partition column. The derivation is
    O(|conjuncts|) driver-side arithmetic on literals; planning
    stays zero-footer-open.

    Reference: orders_cleaned.sql date derivations +
    dbt_project.yml:46 partition hooks — the reference partitions
    derived date columns exactly like this.
    """
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q464_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q464_WH, retain_versions=3,
                          delta_log=True)
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("odate"),
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite("sales", base)  # create, then declare + rewrite
    store.set_generated("sales", "oyear", "year(odate)")
    store.overwrite("sales", base, partition_by=("oyear",))

    from datetime import datetime as _dt

    lo, hi = _dt(1996, 1, 1), _dt(1996, 12, 31, 23, 59, 59)
    snap = store.delta_snapshot("sales")
    total = len(snap.files)
    kept_derived, _ = store.scan_files(
        "sales", [("odate", "between", (lo, hi))]
    )
    kept_explicit, _ = store.scan_files("sales", [("oyear", "=", 1996)])
    derived_prunes = (
        0 < len(kept_derived) < total
        and sorted(kept_derived) == sorted(kept_explicit)
    )

    pruned = store.read_pruned(
        "sales", [("odate", "between", (lo, hi))]
    ).where(
        (F.col("odate") >= F.lit(lo)) & (F.col("odate") <= F.lit(hi))
    )
    full = store.read("sales").where(
        (F.col("odate") >= F.lit(lo)) & (F.col("odate") <= F.lit(hi))
    )
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts of the pruned and full reads).
    pr464 = combine_single_rows(
        pruned.agg(F.count(F.lit(1)).alias("__pruned_cnt")),
        full.agg(F.count(F.lit(1)).alias("__full_cnt")),
    ).collect()[0]
    pruned_cnt, full_cnt = int(pr464["__pruned_cnt"]), int(pr464["__full_cnt"])
    pruned_read_correct = pruned_cnt == full_cnt and full_cnt > 0

    # strict > with a mid-year literal must keep that year's
    # partition: an unsound derivation (oyear > 1996 instead of
    # >= 1996) would AND away the 1996 directory even though the
    # per-file odate stats keep it.
    kept_boundary, _ = store.scan_files(
        "sales", [("odate", ">", _dt(1996, 6, 15, 12, 0))]
    )
    boundary_safe = any(
        "oyear=1996" in p for p in kept_boundary
    )

    out = (
        pruned.groupBy(F.date_format("odate", "yyyy-MM").alias("om"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "om",
        "n",
        "cents_sum",
        F.lit(bool(derived_prunes)).alias("derived_prunes"),
        F.lit(bool(pruned_read_correct)).alias("pruned_read_correct"),
        F.lit(bool(boundary_safe)).alias("boundary_safe"),
    ).orderBy("om")


Q464_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS om,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS cents_sum,
       TRUE AS derived_prunes,
       TRUE AS pruned_read_correct,
       TRUE AS boundary_safe
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
GROUP BY om
ORDER BY om
"""


# ------------------------------------------------------------- q476

Q476_WH = os.path.join(_FIX, "q476_warehouse")


def q476_round12_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Round-12 composition capstone** (q444's role for this
    round): the new protocol features are only real if they COMPOSE
    on one table without interfering. One ``orders`` table carries,
    simultaneously: a GENERATED partition column (q464), the
    ``appendOnly`` writer gate (q459), a declared checkpoint cadence
    (q473), coordinated commits — declaration (q465) + staged
    layout/backfill (q463) — and log-derived VACUUM LITE (q469).

    Lifecycle: create partitioned-by-``oyear = year(odate)`` →
    declare appendOnly + ``checkpointInterval = 4`` → appends land →
    DELETE refused (version pinned) → declare the coordinator (the
    last filesystem commit) → a filesystem append is REFUSED → the
    same append routed through the named ``StagedCommitOwner`` LANDS
    (ratified-unbackfilled, readable) → ``backfill`` → a
    coordinator-unaware reader sees the same table.

    Pinned properties:

    * ``append_only_enforced`` — DELETE refused, version unchanged,
      while appends keep landing (before AND after coordination);
    * ``coordinator_enforced`` — filesystem writer refused after the
      declaration; the declared owner's append lands and is
      readable BEFORE backfill;
    * ``derived_prunes`` — with all of the above active, a
      data-column ``odate`` range still prunes through the
      generated ``oyear`` partition (planner metadata is
      orthogonal to commit routing);
    * ``checkpoint_cadence`` — auto-checkpoints appear at exactly
      the declared every-4-commits versions, INCLUDING through
      staged commits (the coordinator path runs the same
      auto-checkpoint);
    * ``lite_clean_on_append_only`` — the only tombstones are the
      creation overwrites' (appendOnly admitted none since): VACUUM
      LITE plans exactly full vacuum's tracked victims from the log
      alone, while the planted crashed-writer orphan stays
      invisible to it (q469's contract, under the full stack).

    Found and FIXED while building this capstone: ``store.append``
    wrote parquet into the current data dir BEFORE the log commit,
    so a coordinator-refused append left orphaned files the next
    writer's disk-minus-log reconcile silently ADOPTED — committing
    rows a writer was just told it could not commit. An append now
    stages its files in its own ``v_`` dir and commits them through
    the store's one transaction, whose commit names only those
    files: a coordinator-refused commit removes the staging dir, and
    no later commit adopts a file its writer did not name.

    Scale: this is the production stack — a catalog-owned,
    append-only, generated-partitioned fact table with declared
    maintenance cadence is precisely the 100 TB CDC ingest shape;
    every component's cost argument (one property lookup per
    commit, O(conjuncts) derivation, O(log tail) vacuum planning)
    must survive the others being active.

    Reference: bronze.yml CDC tables (append-only) +
    dbt_project.yml:46 partition hooks + profiles.yml Databricks
    (catalog-owned commits) — the composed shape IS the reference's
    production deployment.
    """
    from datetime import datetime as _dt

    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q476_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q476_WH, retain_versions=10,
                          delta_log=True)
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("odate"),
        _money_cents("o_totalprice").alias("cents"),
    )
    store.overwrite("fact", base.where(F.col("k") % 2 == 0))
    store.set_generated("fact", "oyear", "year(odate)")
    store.overwrite("fact", base.where(F.col("k") % 2 == 0),
                    partition_by=("oyear",))
    store.set_table_property("fact", "delta.checkpointInterval", "4")
    store.set_table_property("fact", dl.APPEND_ONLY_PROP, "true")
    tdir = store.path("fact")
    COORD = "unity-local"

    # appends land under appendOnly; DELETE is refused, version pinned
    store.append("fact", base.where(F.col("k") % 4 == 1),
                 partition_by=("oyear",))
    v_pin = dl.DeltaLog(tdir).latest_version()
    delete_refused = False
    try:
        store.delete_where("fact", "cents < 0")
    except dl.DeltaProtocolError:
        delete_refused = (
            dl.DeltaLog(tdir).latest_version() == v_pin
        )

    v_decl = dl.enable_coordinated_commits(tdir, COORD)
    # filesystem writer refused now — including the ENGINE's own
    # store when it isn't configured with the coordinator
    fs_refused = False
    try:
        store.append("fact", base.where(F.col("k") % 4 == 3),
                     partition_by=("oyear",))
    except dl.DeltaProtocolError:
        fs_refused = dl.DeltaLog(tdir).latest_version() == v_decl
    coord_store = SnapshotStore(
        spark, Q476_WH, retain_versions=10, delta_log=True,
        commit_owner=dl.StagedCommitOwner(coordinator_name=COORD),
    )
    coord_store.append("fact", base.where(F.col("k") % 4 == 3),
                       partition_by=("oyear",))
    # ONE fused probe action for expected-set and pre-backfill counts
    # (round-12 batch 8, guide §1.2 — was two separate counts; the
    # post-backfill count below must stay its own action, ordered
    # after the backfill it observes).
    pr = combine_single_rows(
        base.where(
            (F.col("k") % 2 == 0) | (F.col("k") % 4 == 1)
            | (F.col("k") % 4 == 3)
        ).agg(F.count(F.lit(1)).alias("__n_expected")),
        dl.read_delta(spark, tdir).agg(
            F.count(F.lit(1)).alias("__pre_backfill_n")
        ),
    ).collect()[0]
    n_expected = int(pr["__n_expected"])
    readable_before_backfill = int(pr["__pre_backfill_n"]) == n_expected
    append_only_enforced = delete_refused
    coordinator_enforced = fs_refused and readable_before_backfill

    ldir = os.path.join(tdir, dl.LOG_DIR)
    dl.StagedCommitOwner.backfill(ldir)
    unaware_reads = (
        dl.read_delta(spark, tdir).count() == n_expected
    )
    coordinator_enforced = coordinator_enforced and unaware_reads

    # generated-column pruning through everything above
    lo, hi = _dt(1996, 1, 1), _dt(1996, 12, 31, 23, 59, 59)
    snap = store.delta_snapshot("fact")
    kept, _ = store.scan_files(
        "fact", [("odate", "between", (lo, hi))]
    )
    derived_prunes = (
        0 < len(kept) < len(snap.files)
        and all("oyear=1996" in p for p in kept)
    )

    # declared cadence: every-4-commits checkpoints, staged included
    cp_vers = sorted(
        int(f.split(".")[0])
        for f in os.listdir(ldir) if ".checkpoint." in f
    )
    checkpoint_cadence = bool(cp_vers) and all(
        (v + 1) % 4 == 0 for v in cp_vers
    )

    # vacuum lite composes: the ONLY tombstones are the creation
    # overwrites' (appendOnly added none since); lite plans exactly
    # full-vacuum's tracked victims from the log alone, while the
    # planted crashed-writer orphan stays invisible to it
    with open(os.path.join(tdir, "orphan.parquet"), "wb") as fh:
        fh.write(b"PAR1")
    lite = set(dl.DeltaLog(tdir).vacuum_lite(
        dry_run=True, retention_ms=0, now_ms=10_000 * 86_400_000
    ))
    full = set(dl.DeltaLog(tdir).vacuum(
        dry_run=True, retention_ms=0, now_ms=10_000 * 86_400_000
    ))
    lite_clean_on_append_only = (
        "orphan.parquet" in full
        and lite == full - {"orphan.parquet"}
    )

    out = (
        dl.read_delta(spark, tdir)
        .groupBy("oyear")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        F.col("oyear").cast("long").alias("oyear"),
        "n",
        "cents_sum",
        F.lit(bool(append_only_enforced)).alias(
            "append_only_enforced"),
        F.lit(bool(coordinator_enforced)).alias(
            "coordinator_enforced"),
        F.lit(bool(derived_prunes)).alias("derived_prunes"),
        F.lit(bool(checkpoint_cadence)).alias("checkpoint_cadence"),
        F.lit(bool(lite_clean_on_append_only)).alias(
            "lite_clean_on_append_only"),
    ).orderBy("oyear")


Q476_SQL = """
WITH rows_all AS (
  SELECT year(o_orderdate) AS oyear,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders
  WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1
     OR o_orderkey % 4 = 3
)
SELECT CAST(oyear AS BIGINT) AS oyear,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS append_only_enforced,
       TRUE AS coordinator_enforced,
       TRUE AS derived_prunes,
       TRUE AS checkpoint_cadence,
       TRUE AS lite_clean_on_append_only
FROM rows_all
GROUP BY oyear
ORDER BY oyear
"""


# ------------------------------------------------------------- q475

Q475_TABLE = os.path.join(_FIX, "q475_table")


def q475_txn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**SetTransaction retention**
    (``delta.setTransactionRetentionDuration``, delta.io): q471's
    idempotence gate, bounded — a table written by many transient
    streaming apps would otherwise accumulate txn entries forever in
    every checkpoint. With the property set, entries whose
    ``lastUpdated`` lapsed are dropped AT CHECKPOINT TIME (the
    spec's permitted expiry); the documented cost is pinned too: an
    app restarted after the window has LOST its replay gate.

    Lifecycle on ``orders`` halves: retention ``interval 7 days``;
    app-old writes batch 5 stamped day 1, app-new writes batch 9
    stamped day 53 → checkpoint at ``now = day 55`` → lapsed
    ``cleanup_log`` (checkpoint state is the only source).

    Pinned properties:

    * ``expired_dropped_kept`` — app-old's entry is GONE from the
      reconstructed state while app-new survives with its ORIGINAL
      stamp (not re-stamped at checkpoint);
    * ``expired_gate_gone`` — app-old replaying batch 5 now LANDS
      (the documented double-write risk of restarting past the
      window — why the default is no expiry);
    * ``fresh_gate_holds`` — app-new replaying batch 9 is still a
      no-op;
    * ``n_txn_in_checkpoint`` — DuckDB reads the checkpoint parquet
      and finds EXACTLY the surviving txn row.

    Scale: checkpoints are read at every session start by every
    reader — an unbounded txn column from years of transient
    one-shot writer apps is pure dead weight; the retention dial
    trades that against the replay-gate horizon.

    Reference: profiles.yml:8 threads: 5 + incremental models — a
    fleet of periodic writer apps is exactly the accumulation shape.
    """
    from product_analytics_spark.sources import delta_log as dl

    shutil.rmtree(Q475_TABLE, ignore_errors=True)
    os.makedirs(os.path.join(Q475_TABLE, dl.LOG_DIR))
    day = 86_400_000
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        _money_cents("o_totalprice").alias("cents"),
    )
    log = dl.DeltaLog(Q475_TABLE)
    meta = dl.make_metadata(base.schema.json())
    meta["configuration"] = {
        dl.SET_TXN_RETENTION_PROP: "interval 7 days"
    }
    log.commit([{"protocol": dl.PROTOCOL_ACTION},
                {"metaData": meta}], version=0)

    def _land(idx: str, df) -> dict:
        tmp = os.path.join(Q475_TABLE, f"_tmp{idx}")
        df.coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(Q475_TABLE, f"batch-{idx}.parquet")
        os.replace(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return {"add": dl.make_add(Q475_TABLE, dst)}

    log.commit_txn([_land("old", base.where(F.col("k") % 2 == 0))],
                   "app-old", 5, last_updated_ms=1 * day)
    log.commit_txn([_land("new", base.where(F.col("k") % 2 == 1))],
                   "app-new", 9, last_updated_ms=53 * day)

    cp_path = log.write_checkpoint(log.latest_version(),
                                   now_ms=55 * day)
    log.cleanup_log(now_ms=10_000 * day)
    dl.clear_snapshot_cache()
    fresh = dl.DeltaLog(Q475_TABLE)
    snap = fresh.snapshot()
    expired_dropped_kept = (
        fresh.txn_version("app-old") is None
        and fresh.txn_version("app-new") == 9
        and snap.txn_updated.get("app-new") == 53 * day
    )
    n_before = fresh.latest_version()
    # the expired app replaying its batch LANDS (gate gone) — use a
    # rearrange-free marker commit so the data stays comparable
    expired_gate_gone = (
        fresh.commit_txn(
            [{"domainMetadata": {"domain": "q475.replay",
                                 "configuration": "{}",
                                 "removed": False}}],
            "app-old", 5,
        ) == n_before + 1
    )
    fresh_gate_holds = (
        fresh.commit_txn([_land("dup",
                                base.where(F.col("k") % 2 == 1))],
                         "app-new", 9) is None
        and dl.DeltaLog(Q475_TABLE).latest_version() == n_before + 1
    )

    import pyarrow.parquet as pq
    txn_rows = [
        r["txn"] for r in
        pq.read_table(cp_path, columns=["txn"]).to_pylist()
        if r.get("txn") is not None
    ]
    n_txn = len(txn_rows)

    out = (
        dl.read_delta(spark, Q475_TABLE)
        .groupBy((F.col("k") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "bucket",
        "n",
        "cents_sum",
        F.lit(int(n_txn)).cast("long").alias("n_txn_in_checkpoint"),
        F.lit(bool(expired_dropped_kept)).alias(
            "expired_dropped_kept"),
        F.lit(bool(expired_gate_gone)).alias("expired_gate_gone"),
        F.lit(bool(fresh_gate_holds)).alias("fresh_gate_holds"),
    ).orderBy("bucket")


Q475_SQL = f"""
WITH cp AS (
  SELECT count(*) AS n
  FROM parquet_scan('{Q475_TABLE}/_delta_log/0*.checkpoint.parquet')
  WHERE txn IS NOT NULL
)
SELECT o_orderkey % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS cents_sum,
       (SELECT CAST(n AS BIGINT) FROM cp) AS n_txn_in_checkpoint,
       TRUE AS expired_dropped_kept,
       TRUE AS expired_gate_gone,
       TRUE AS fresh_gate_holds
FROM orders
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q474

Q474_WH = os.path.join(_FIX, "q474_warehouse")


def q474_auto_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Auto optimize** (delta.io ``delta.autoOptimize.
    optimizeWrite`` / ``delta.autoOptimize.autoCompact``): the
    writer-side half of small-file hygiene, declared as TABLE
    properties so every writer behaves — without them a 200-task
    micro-batch mints 200 small files per partition per trigger and
    the scheduled OPTIMIZE job becomes load-bearing.

    Two arms on ``customer`` partitioned by ``seg``:

    * **optimizeWrite** — two tables take the SAME 6-task appends;
      the property-carrying table shuffles each batch so every hive
      partition receives ONE writer task (one file per partition per
      append), the control table mints up to 6. Pinned:
      ``ow_one_file_per_append`` (≤ 1 + 2 appends per partition) and
      strictly fewer files than the control;
    * **autoCompact** — ``minNumFiles = 4``: three 1-file-per-
      partition appends take each partition to 4 files, which
      triggers INLINE partition-scoped compaction (through q472's
      ``optimize(where=...)`` — cold partitions keep their adds)
      with NO explicit maintenance call. Pinned:
      ``auto_compacted`` (counts drop below the threshold),
      ``rearrange_only`` (every compaction add carries
      ``dataChange: false`` — streams and change feeds see
      nothing), and ``n_optimize_commits`` (exactly one OPTIMIZE
      commit per partition, DuckDB-recounted from the log's
      commitInfo).

    Scale: optimizeWrite bounds file count at WRITE time (one
    shuffle of the batch — cheap, it was about to be written
    anyway); autoCompact amortizes maintenance into the write path
    where the small files appear, partition-scoped so its cost
    tracks the hot partition, not the table.

    Reference: dbt_project.yml:40-41 incremental appends — exactly
    the micro-batch append pattern that fragments tables without
    these properties.
    """
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q474_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q474_WH, retain_versions=5,
                          delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )

    def _per_part_counts(name: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for rel in store.delta_snapshot(name).files:
            part = os.path.dirname(rel.split("/", 1)[1]) or "."
            out[part] = out.get(part, 0) + 1
        return out

    # ---- arm 1: optimizeWrite vs control, identical 6-task appends
    for name in ("ow", "ctl"):
        store.overwrite(name, base.coalesce(1),
                        partition_by=("seg",))
    store.set_table_property(
        "ow", "delta.autoOptimize.optimizeWrite", "true"
    )
    for i, off in enumerate((9_000_000, 18_000_000)):
        batch = base.withColumn("k", F.col("k") + off).repartition(6)
        store.append("ow", batch, partition_by=("seg",))
        store.append("ctl", batch, partition_by=("seg",))
    ow_max = max(_per_part_counts("ow").values())
    ctl_max = max(_per_part_counts("ctl").values())
    ow_one_file_per_append = ow_max <= 3 and ctl_max > ow_max

    # ---- arm 2: autoCompact at minNumFiles=4
    store.overwrite("ac", base.coalesce(1), partition_by=("seg",),
                    cluster_by=("k",))
    store.set_table_property(
        "ac", "delta.autoOptimize.autoCompact", "true"
    )
    store.set_table_property(
        "ac", "engine.autoCompact.minNumFiles", "4"
    )
    for off in (10_000_000, 20_000_000, 30_000_000):
        store.append(
            "ac",
            base.withColumn("k", F.col("k") + off).repartition(1),
            partition_by=("seg",),
        )
    counts = _per_part_counts("ac")
    auto_compacted = counts and max(counts.values()) < 4

    ldir = os.path.join(store.path("ac"), dl.LOG_DIR)
    n_opt = 0
    rearrange_only = True
    for fn in sorted(os.listdir(ldir)):
        if not dl._COMMIT_RE.match(fn):
            continue
        with open(os.path.join(ldir, fn), encoding="utf-8") as fh:
            actions = [json.loads(ln) for ln in fh if ln.strip()]
        ci = next((a["commitInfo"] for a in actions
                   if a.get("commitInfo")), {})
        if ci.get("operation") != "OPTIMIZE":
            continue
        n_opt += 1
        for a in actions:
            if a.get("add") and a["add"].get("dataChange", True):
                rearrange_only = False

    out = (
        store.read("ac")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "seg",
        "n",
        "cents_sum",
        F.lit(int(n_opt)).cast("long").alias("n_optimize_commits"),
        F.lit(bool(ow_one_file_per_append)).alias(
            "ow_one_file_per_append"),
        F.lit(bool(auto_compacted)).alias("auto_compacted"),
        F.lit(bool(rearrange_only)).alias("rearrange_only"),
    ).orderBy("seg")


Q474_SQL = f"""
WITH log AS (
  SELECT * FROM read_json_auto(
    '{Q474_WH}/ac/_delta_log/0*.json',
    format='newline_delimited', union_by_name=true)
),
opt AS (
  SELECT count(*) AS n FROM log
  WHERE commitInfo IS NOT NULL
    AND json_extract_string(to_json(commitInfo), '$.operation')
        = 'OPTIMIZE'
),
base AS (
  SELECT c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM customer
),
allr AS (
  SELECT seg, cents FROM base
  UNION ALL SELECT seg, cents FROM base
  UNION ALL SELECT seg, cents FROM base
  UNION ALL SELECT seg, cents FROM base
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT CAST(n AS BIGINT) FROM opt) AS n_optimize_commits,
       TRUE AS ow_one_file_per_append,
       TRUE AS auto_compacted,
       TRUE AS rearrange_only
FROM allr
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q472

Q472_WH = os.path.join(_FIX, "q472_warehouse")


def q472_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**OPTIMIZE ... WHERE** (partition-scoped compaction, Delta's
    ``OPTIMIZE t WHERE part = v``): q417 certified the full-table
    recluster; at 100 TB nobody compacts the table — maintenance
    targets the hot day's partition. ``store.optimize(where=...)``
    rewrites ONLY the matching hive partitions; every other
    partition's files keep their adds — zero bytes moved, nothing
    logged, the same files.

    Lifecycle: ``customer`` partitioned by ``seg``
    (5 partitions), clustered by ``k``, fragmented by 1 overwrite +
    2 appends (≥3 files per partition) →
    ``optimize(where={"seg": "BUILDING"})``.

    Pinned properties:

    * ``target_compacted`` — the BUILDING partition collapses to
      fewer files than before (one, at this target size);
    * ``untouched_zero_copy`` — every OTHER partition's live file set
      after the optimize is exactly the same (path, inode) pairs as
      before: the commit kept their adds and no file was rewritten,
      copied or linked — the filesystem proof that zero bytes moved;
    * ``read_intact`` — the full table reads back with every row
      (the output aggregation IS that read).

    Scale: partition-scoped maintenance is what makes OPTIMIZE
    schedulable at all — cost is one shuffle of the HOT partition's
    bytes; the cold 99.9% of the table costs nothing: its adds stay
    in the log as they are (Delta's skip-untouched-partitions
    rule).

    Reference: dbt_project.yml:46 partition hooks + ZORDER
    post-hooks — the reference's tables are exactly this
    partitioned-and-clustered shape.
    """
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q472_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q472_WH, retain_versions=5,
                          delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base, partition_by=("seg",),
                    cluster_by=("k",))
    for i, off in enumerate((9_000_000, 18_000_000)):
        store.append(
            "t",
            base.where(F.col("k") % 3 == i).withColumn(
                "k", F.col("k") + off),
            partition_by=("seg",),
        )

    def _inodes() -> dict[str, frozenset]:
        """hive partition -> (path, inode) of its live files."""
        from product_analytics_spark.sources import delta_log as dl

        out: dict[str, set] = {}
        tdir = store.path("t")
        for rel in store.delta_snapshot("t").files:
            p = dl.resolve_path(tdir, rel)
            out.setdefault(os.path.basename(os.path.dirname(p)), set()).add(
                (rel, os.stat(p).st_ino)
            )
        return {r: frozenset(s) for r, s in out.items()}

    before = _inodes()
    n_before_target = len(before.get("seg=BUILDING", ()))
    res = store.optimize("t", target_bytes=1 << 30,
                         where={"seg": "BUILDING"})
    after = _inodes()

    target_compacted = (
        res.get("reclustered") is True
        and 0 < len(after.get("seg=BUILDING", ()))
        < n_before_target
    )
    untouched_zero_copy = all(
        after.get(rel) == ino
        for rel, ino in before.items()
        if rel != "seg=BUILDING"
    ) and len(after) == len(before)

    out = (
        store.read("t")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "seg",
        "n",
        "cents_sum",
        F.lit(bool(target_compacted)).alias("target_compacted"),
        F.lit(bool(untouched_zero_copy)).alias("untouched_zero_copy"),
        F.lit(True).alias("read_intact"),
    ).orderBy("seg")


Q472_SQL = """
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM customer
),
allr AS (
  SELECT seg, cents FROM base
  UNION ALL
  SELECT seg, cents FROM base WHERE k % 3 = 0
  UNION ALL
  SELECT seg, cents FROM base WHERE k % 3 = 1
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS target_compacted,
       TRUE AS untouched_zero_copy,
       TRUE AS read_intact
FROM allr
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q473

Q473_TABLE = os.path.join(_FIX, "q473_table")


def q473_checkpoint_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Checkpoint cadence + form as table properties**
    (delta.io ``delta.checkpointInterval``, Delta PROTOCOL.md
    ``delta.checkpointPolicy``): the auto-checkpoint was a
    hard-coded every-10-commits classic parquet file; real tables
    tune the interval per workload (shorter replay tails for
    thousand-reader session starts, longer when checkpoint cost
    dominates tiny commits) and flip the FORM to v2 so checkpoint
    cost is O(changed files) via sidecar reuse — all declared in
    the table's own metadata so every writer maintains the same
    cadence.

    Lifecycle on ``supplier`` batches: table declaring
    ``checkpointInterval = 3`` → 7 data commits → classic
    checkpoints appear at exactly versions 2 and 5; a second table
    declaring ``interval = 2, policy = v2`` → auto-checkpoints are
    v2 MANIFESTS (uuid-named, sidecar-sharded) and after a lapsed
    ``cleanup_log`` the table reconstructs from them alone with
    every row intact.

    Pinned properties: ``interval_respected`` (the exact checkpoint
    version set), ``v2_policy_manifests`` (form + names),
    ``reconstructs_after_truncation`` (rows survive on checkpoint
    state alone — the output aggregation reads the truncated
    table).

    Scale: at commit rates of thousands/day the interval IS the
    reader's session-start latency dial, and v2 sidecar reuse is
    the difference between a multi-GB serial checkpoint write per
    interval and a few small shards.

    Reference: dbt_project.yml:39 Delta models — checkpoint cadence
    is operated via exactly these properties on Databricks.
    """
    import time as _time

    from product_analytics_spark.sources import delta_log as dl

    def _mk_table(suffix: str, conf: dict) -> str:
        tdir = Q473_TABLE + suffix
        shutil.rmtree(tdir, ignore_errors=True)
        os.makedirs(os.path.join(tdir, dl.LOG_DIR))
        base = _t(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").alias("k"),
            F.col("s_nationkey").cast("long").alias("nation"),
            _money_cents("s_acctbal").alias("cents"),
        )
        meta = dl.make_metadata(base.schema.json())
        meta["configuration"] = conf
        log = dl.DeltaLog(tdir)
        log.commit([{"protocol": dl.PROTOCOL_ACTION},
                    {"metaData": meta}], version=0)
        for i in range(7):
            tmp = os.path.join(tdir, f"_tmp{i}")
            base.where(F.col("k") % 7 == i).coalesce(1)\
                .write.parquet(tmp)
            src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(tdir, f"batch-{i}.parquet")
            os.replace(src, dst)
            shutil.rmtree(tmp, ignore_errors=True)
            log.commit([{"add": dl.make_add(tdir, dst)}])
        return tdir

    t_int = _mk_table("_interval",
                      {"delta.checkpointInterval": "3"})
    ldir = os.path.join(t_int, dl.LOG_DIR)
    cp_vers = sorted(
        int(f.split(".")[0]) for f in os.listdir(ldir)
        if ".checkpoint." in f
    )
    interval_respected = cp_vers == [2, 5]

    t_v2 = _mk_table("_v2", {"delta.checkpointInterval": "2",
                             "delta.checkpointPolicy": "v2"})
    l2 = os.path.join(t_v2, dl.LOG_DIR)
    v2_names = [f for f in os.listdir(l2) if ".checkpoint." in f]
    v2_policy_manifests = bool(v2_names) and all(
        f.count(".") >= 3 for f in v2_names  # <v>.checkpoint.<uuid>.<ext>
    ) and os.path.isdir(os.path.join(l2, dl.SIDECAR_DIR))

    dl.DeltaLog(t_v2).cleanup_log(
        now_ms=int(_time.time() * 1000) + 10_000 * 86_400_000
    )
    dl.clear_snapshot_cache()
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts of the base table and the truncated-log read).
    pr = combine_single_rows(
        _t(spark, sf_dir, "supplier").agg(
            F.count(F.lit(1)).alias("__full_n")
        ),
        dl.read_delta(spark, t_v2).agg(
            F.count(F.lit(1)).alias("__trunc_read_n")
        ),
    ).collect()[0]
    reconstructs_after_truncation = (
        int(pr["__trunc_read_n"]) == int(pr["__full_n"])
    )

    out = (
        dl.read_delta(spark, t_v2)
        .groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "bucket",
        "n",
        "cents_sum",
        F.lit(bool(interval_respected)).alias("interval_respected"),
        F.lit(bool(v2_policy_manifests)).alias("v2_policy_manifests"),
        F.lit(bool(reconstructs_after_truncation)).alias(
            "reconstructs_after_truncation"),
    ).orderBy("bucket")


Q473_SQL = """
WITH rows_all AS (
  SELECT CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM supplier
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS interval_respected,
       TRUE AS v2_policy_manifests,
       TRUE AS reconstructs_after_truncation
FROM rows_all
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q471

Q471_TABLE = os.path.join(_FIX, "q471_table")


def q471_set_transaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**SetTransaction / ``txn`` actions** (Delta PROTOCOL.md
    "Transaction Identifiers"): the log-native idempotent-writer
    protocol — every batch commit carries ``{appId, version}``
    ATOMICALLY with its data actions, so a crash between "write
    data" and "record progress" cannot exist, and a retried batch is
    detected from the TABLE ITSELF (no side-channel offsets). This
    is the exactly-once contract ``foreachBatch`` sinks and
    Kafka→Delta connectors are built on.

    Lifecycle on ``events`` micro-batches (4 batches split by
    ``event_id % 4``): batches 0-2 land via ``commit_txn`` → batch 1
    is REPLAYED (crash-retry: same appId+version, different file) →
    no-op, nothing committed → restart recovery reads
    ``txn_version`` from the log and resumes at batch 3 → checkpoint
    + log truncation → the gate still holds from checkpoint state
    alone.

    Pinned properties:

    * ``replay_noop`` — the duplicate batch changes neither the
      version nor the file set; an OLDER version replay is also a
      no-op; an independent appId is unaffected;
    * ``resume_from_log`` — after "restart", ``txn_version(appId)``
      says 2, the writer resumes with batch 3, and the final table
      has each event exactly once (the output aggregation IS the
      no-duplicates check);
    * ``txn_survives_checkpoint`` — after ``write_checkpoint`` +
      lapsed ``cleanup_log`` (tail gone), a fresh reader still
      refuses the replay and accepts the next version;
    * ``n_txn_in_checkpoint`` — DuckDB reads the CHECKPOINT PARQUET
      itself and counts the persisted txn rows (cross-engine check
      of the checkpoint's SetTransaction column).

    Scale: at 1000 concurrent streaming sinks the side-channel
    alternative (offset files per sink) is a consistency liability —
    the log IS the offset store, surviving restarts, checkpoints,
    and log truncation; the gate costs one memoized snapshot lookup
    per batch.

    Reference: customers_latest.sql:3-6 — the reference's
    incremental CDC merge is exactly the retried-micro-batch shape
    this protocol makes exactly-once.
    """
    import time as _time

    from product_analytics_spark.sources import delta_log as dl

    shutil.rmtree(Q471_TABLE, ignore_errors=True)
    os.makedirs(os.path.join(Q471_TABLE, dl.LOG_DIR))
    base = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.col("event_type").alias("etype"),
        F.col("value").cast("double").alias("val"),
    )
    log = dl.DeltaLog(Q471_TABLE)
    log.commit([{"protocol": dl.PROTOCOL_ACTION},
                {"metaData": dl.make_metadata(base.schema.json())}],
               version=0)
    APP = "q471-stream"

    def _land(idx: str, df) -> dict:
        tmp = os.path.join(Q471_TABLE, f"_tmp{idx}")
        df.coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(Q471_TABLE, f"batch-{idx}.parquet")
        os.replace(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return {"add": dl.make_add(Q471_TABLE, dst)}

    batches = {
        i: _land(str(i), base.where(F.col("k") % 4 == i))
        for i in range(4)
    }
    dup = _land("1dup", base.where(F.col("k") % 4 == 1))

    for i in range(3):                                 # batches 0-2
        log.commit_txn([batches[i]], APP, i)
    v_before = log.latest_version()
    files_before = set(dl.DeltaLog(Q471_TABLE).snapshot().files)
    replay_noop = (
        log.commit_txn([dup], APP, 1) is None          # crash retry
        and log.commit_txn([dup], APP, 0) is None      # older too
        and dl.DeltaLog(Q471_TABLE).latest_version() == v_before
        and set(dl.DeltaLog(Q471_TABLE).snapshot().files)
        == files_before
        and log.commit_txn(
            [{"domainMetadata": {"domain": "q471.other",
                                 "configuration": "{}",
                                 "removed": False}}],
            "q471-other-app", 0,
        ) is not None                                  # independent
    )

    # restart recovery: a fresh writer asks the LOG where it was
    fresh = dl.DeltaLog(Q471_TABLE)
    recorded = fresh.txn_version(APP)
    if recorded == 2:
        fresh.commit_txn([batches[3]], APP, recorded + 1)
    resume_from_log = (
        recorded == 2 and fresh.txn_version(APP) == 3
    )

    # checkpoint + truncation: the gate holds from checkpoint alone
    cp_path = fresh.write_checkpoint(fresh.latest_version())
    fresh.cleanup_log(
        now_ms=int(_time.time() * 1000) + 10_000 * 86_400_000
    )
    dl.clear_snapshot_cache()
    after = dl.DeltaLog(Q471_TABLE)
    txn_survives_checkpoint = (
        after.txn_version(APP) == 3
        and after.commit_txn([dup], APP, 3) is None
        and after.txn_version("q471-other-app") == 0
    )
    import pyarrow.parquet as pq
    n_txn = sum(
        1 for r in pq.read_table(cp_path, columns=["txn"]).to_pylist()
        if r.get("txn") is not None
    )

    out = (
        dl.read_delta(spark, Q471_TABLE)
        .groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 2).alias("val_sum"),
        )
    )
    return out.select(
        "etype",
        "n",
        "val_sum",
        F.lit(int(n_txn)).cast("long").alias("n_txn_in_checkpoint"),
        F.lit(bool(replay_noop)).alias("replay_noop"),
        F.lit(bool(resume_from_log)).alias("resume_from_log"),
        F.lit(bool(txn_survives_checkpoint)).alias(
            "txn_survives_checkpoint"),
    ).orderBy("etype")


Q471_SQL = f"""
WITH cp AS (
  SELECT count(*) AS n
  FROM parquet_scan('{Q471_TABLE}/_delta_log/0*.checkpoint.parquet')
  WHERE txn IS NOT NULL
)
SELECT event_type AS etype,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS val_sum,
       (SELECT CAST(n AS BIGINT) FROM cp) AS n_txn_in_checkpoint,
       TRUE AS replay_noop,
       TRUE AS resume_from_log,
       TRUE AS txn_survives_checkpoint
FROM events
GROUP BY etype
ORDER BY etype
"""


# ------------------------------------------------------------- q470

Q470_TABLE = os.path.join(_FIX, "q470_table")
Q470_MIX = os.path.join(_FIX, "q470_mix")


def q470_logical_conflicts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Logical conflict detection + commit rebase** (Delta
    PROTOCOL.md "Concurrency Control" / delta-spark
    ConflictChecker): blanket version-OCC treats EVERY concurrent
    commit as a conflict — at 1000 writers that serializes the
    table behind whole-DML retries. Delta instead classifies the
    winning commit against the loser's declared read/write sets:
    logically-disjoint commits REBASE (same actions re-commit at
    the new head, no recompute), real conflicts raise their spec'd
    class so the caller re-plans.

    Arms:

    * **concurrent blind appenders** (real ``orders`` slices):
      3 threads × 2 commits each, ALL planned against the same
      stale snapshot version — every commit lands exactly once via
      rebase with zero exceptions and zero recomputes, the history
      is contiguous, and the final read returns every slice;
    * **classification matrix** (handcrafted log): concurrent
      metaData ⇒ ``MetadataChangedError``; protocol ⇒
      ``ProtocolChangedError``; winner removed a file we read ⇒
      ``ConcurrentDeleteReadError``; double-delete ⇒
      ``ConcurrentDeleteDeleteError``; append vs full-table read ⇒
      ``ConcurrentAppendError``; append into a DIFFERENT partition
      than the one we read ⇒ REBASES (Delta's partition-level
      conflict pruning) while the same-partition case raises.

    Pinned: ``appends_rebase``, ``matrix_classified``,
    ``partition_pruned_conflict``, ``n_commits`` (DuckDB counts the
    canonical commit files).

    Scale: this is THE multi-writer throughput story — blind
    appends (the dominant write shape: CDC ingest, log shippers)
    never re-plan, and partition-scoped DML only conflicts inside
    its own partition; commit latency, not DML recompute, bounds
    writer concurrency.

    Reference: profiles.yml:8 ``threads: 5`` — the reference's dbt
    DAG already runs 5 concurrent writers against one warehouse.
    """
    import threading

    from product_analytics_spark.sources import delta_log as dl

    # ---- arm 1: concurrent blind appenders on real data
    shutil.rmtree(Q470_TABLE, ignore_errors=True)
    os.makedirs(os.path.join(Q470_TABLE, dl.LOG_DIR))
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        _money_cents("o_totalprice").alias("cents"),
    )
    log0 = dl.DeltaLog(Q470_TABLE)
    log0.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": dl.make_metadata(base.schema.json())}],
                version=0)

    def _land(idx: str, df) -> dict:
        tmp = os.path.join(Q470_TABLE, f"_tmp{idx}")
        df.coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(Q470_TABLE, f"batch-{idx}.parquet")
        os.replace(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return {"add": dl.make_add(Q470_TABLE, dst)}

    log0.commit([_land("base", base.where(F.col("k") % 4 == 0))],
                version=1)
    # pre-materialize the slice files (Spark is not thread-friendly
    # here; the CONTENTION under test is the log commit, not the write)
    slices = {}
    for tag in range(3):
        for i in range(2):
            off = (tag * 10 + i + 1) * 100_000_000
            slices[(tag, i)] = _land(
                f"w{tag}c{i}",
                base.where(F.col("k") % 7 == tag).select(
                    (F.col("k") + off).alias("k"), "cents"
                ),
            )

    errs: list[Exception] = []
    stale = dl.DeltaLog(Q470_TABLE).latest_version()  # == 1, shared

    def _writer(tag: int):
        wlog = dl.DeltaLog(Q470_TABLE)
        for i in range(2):
            try:  # both commits planned against the STALE version
                wlog.commit_with_rebase(
                    [slices[(tag, i)]], expected_version=stale
                )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

    ts = [threading.Thread(target=_writer, args=(t,))
          for t in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    final = dl.DeltaLog(Q470_TABLE)
    appends_rebase = (
        not errs
        and final.latest_version() == 7
        and len(final.snapshot().files) == 7
    )
    n_commits = (final.latest_version() or 0) + 1

    # ---- arm 2: classification matrix on a handcrafted log
    shutil.rmtree(Q470_MIX, ignore_errors=True)
    os.makedirs(os.path.join(Q470_MIX, dl.LOG_DIR))
    mschema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "p", "type": "string", "nullable": True,
             "metadata": {}},
        ],
    })

    def _madd(name: str, pv: dict | None = None) -> dict:
        return {"add": {"path": f"{name}.parquet",
                        "partitionValues": pv or {}, "size": 4,
                        "modificationTime": 0, "dataChange": True}}

    def _mrm(name: str) -> dict:
        return {"remove": {"path": f"{name}.parquet",
                           "dataChange": True,
                           "deletionTimestamp": 0}}

    mlog = dl.DeltaLog(Q470_MIX)
    mlog.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": dl.make_metadata(mschema, ["p"])},
                 _madd("a", {"p": "1"}), _madd("b", {"p": "2"})],
                version=0)

    def _raises(exc_type, **kw) -> bool:
        before = dl.DeltaLog(Q470_MIX).latest_version()
        try:
            dl.DeltaLog(Q470_MIX).commit_with_rebase(
                kw.pop("actions"), **kw
            )
            return False
        except exc_type:
            return (
                dl.DeltaLog(Q470_MIX).latest_version() == before
            )

    mlog.commit([_mrm("a"), _madd("a2", {"p": "1"})], version=1)
    matrix = [
        # winner v1 removed a.parquet: delete-read and delete-delete
        _raises(dl.ConcurrentDeleteReadError,
                actions=[_madd("x", {"p": "2"})], expected_version=0,
                read_files={"a.parquet"}),
        _raises(dl.ConcurrentDeleteDeleteError,
                actions=[_mrm("a")], expected_version=0),
        # winner v1 also ADDED a2 into p=1: full-table read conflicts
        _raises(dl.ConcurrentAppendError,
                actions=[_madd("y", {"p": "2"})], expected_version=0,
                read_whole_table=True),
    ]
    # metaData / protocol winners always conflict
    meta2 = dict(dl.DeltaLog(Q470_MIX).snapshot().metadata)
    mlog.commit([{"metaData": meta2}], version=2)
    matrix.append(_raises(dl.MetadataChangedError,
                          actions=[_madd("z", {"p": "2"})],
                          expected_version=1))
    matrix_classified = all(matrix)

    # partition pruning: a txn that read ONLY p=2 is blind to the
    # p=1 append in v1 (the metaData winner is above it, so plan
    # against v2 with the v1 gap... rebase from v1 sees only v2's
    # metaData — so instead plan from v0 against a FRESH mix commit)
    v_ok = dl.DeltaLog(Q470_MIX).commit_with_rebase(
        [_madd("w", {"p": "2"})],
        expected_version=2,
        read_partitions={"p": "2"},
    )
    mlog.commit([_madd("q", {"p": "1"})], version=v_ok + 1)
    partition_pruned_conflict = (
        dl.DeltaLog(Q470_MIX).commit_with_rebase(
            [_madd("r", {"p": "2"})],
            expected_version=v_ok,
            read_partitions={"p": "2"},
        ) == v_ok + 2
        and _raises(dl.ConcurrentAppendError,
                    actions=[_madd("s", {"p": "1"})],
                    expected_version=v_ok,
                    read_partitions={"p": "1"})
    )

    out = (
        dl.read_delta(spark, Q470_TABLE)
        .groupBy((F.col("k") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "bucket",
        "n",
        "cents_sum",
        F.lit(int(n_commits)).cast("long").alias("n_commits"),
        F.lit(bool(appends_rebase)).alias("appends_rebase"),
        F.lit(bool(matrix_classified)).alias("matrix_classified"),
        F.lit(bool(partition_pruned_conflict)).alias(
            "partition_pruned_conflict"),
    ).orderBy("bucket")


Q470_SQL = f"""
WITH ncommits AS (
  SELECT count(DISTINCT filename) AS n
  FROM read_json_auto(
    '{Q470_TABLE}/_delta_log/0*.json',
    format='newline_delimited', union_by_name=true,
    filename=true)
),
rows_all AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderkey
           + CAST(tag * 10 + i + 1 AS BIGINT) * 100000000 AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders
  CROSS JOIN (SELECT unnest([0, 1, 2]) AS tag) tags
  CROSS JOIN (SELECT unnest([0, 1]) AS i) reps
  WHERE o_orderkey % 7 = tag
)
SELECT k % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT CAST(n AS BIGINT) FROM ncommits) AS n_commits,
       TRUE AS appends_rebase,
       TRUE AS matrix_classified,
       TRUE AS partition_pruned_conflict
FROM rows_all
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q469

Q469_WH = os.path.join(_FIX, "q469_warehouse")
Q469_MIX = os.path.join(_FIX, "q469_mix")


def q469_vacuum_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**VACUUM LITE** (Delta 4.0): derive the vacuum victim set
    from the TRANSACTION LOG alone — zero directory listing. Full
    VACUUM's dominant cost at 100 TB is the recursive LIST of the
    table directory (millions of object-store LIST calls, paid even
    when nothing is collectible); LITE reads the JSON tail the
    engine already has and collects exactly the lapsed tombstones,
    honoring the same ``delta.deletedFileRetentionDuration``
    horizon. The documented tradeoff: files the log never tracked
    (crashed-writer orphans) are invisible to LITE — full vacuum's
    listing finds them.

    Two arms:

    * **real store** (``supplier`` reshaped): overwrite → overwrite
      (tombstones the first generation) → an UNTRACKED orphan
      planted in the table dir. Full vacuum's dry-run sees victims =
      lite's ∪ {orphan}; lite deletes the tracked garbage, leaves
      the orphan, and the table reads back whole;
    * **handcrafted log** (deterministic timestamps): at
      ``now = 55 d`` under the 7-day default, a tombstone stamped
      day 1 (54 d old) is collected, one stamped day 53 (2 d old) is
      spared (time travel inside the window still works), and a
      RE-ADDED path is recognized as live even when an old tombstone
      for it lapsed.

    Pinned properties: ``tracked_sets_match`` (full ∩ tracked ==
    lite), ``lite_skips_untracked``, ``retention_respected``,
    ``readded_is_live``, ``read_ok`` after collection.

    Scale: LITE is the frequent schedule (O(log tail) planning, no
    listing), full vacuum the rare orphan sweep — the exact split
    Delta 4.0 ships.

    Reference: dbt_project.yml:39 Delta models — table maintenance
    at the reference's deployment scale runs VACUUM on a schedule.
    """
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    # ---- arm 1: real store with a planted orphan
    shutil.rmtree(Q469_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q469_WH, retain_versions=10,
                          delta_log=True)
    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").alias("cents"),
    )
    store.overwrite("t", base, n_files=2)
    store.overwrite("t", base, n_files=2)  # tombstones gen-1 files
    tdir = store.path("t")
    with open(os.path.join(tdir, "orphan-crashed-writer.parquet"),
              "wb") as fh:
        fh.write(b"PAR1 not a real file")

    now = 10_000 * 86_400_000  # deterministic, far past epoch-0 ts
    full_dry = set(dl.DeltaLog(tdir).vacuum(
        dry_run=True, retention_ms=0, now_ms=now))
    lite_dry = set(dl.DeltaLog(tdir).vacuum_lite(
        dry_run=True, retention_ms=0, now_ms=now))
    lite_skips_untracked = (
        "orphan-crashed-writer.parquet" in full_dry
        and "orphan-crashed-writer.parquet" not in lite_dry
    )
    tracked_sets_match = (
        lite_dry == full_dry - {"orphan-crashed-writer.parquet"}
        and len(lite_dry) > 0
    )
    removed = dl.DeltaLog(tdir).vacuum_lite(
        retention_ms=0, now_ms=now)
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts of the post-vacuum read and the base).
    pr469 = combine_single_rows(
        dl.read_delta(spark, tdir).agg(
            F.count(F.lit(1)).alias("__read_n")
        ),
        base.agg(F.count(F.lit(1)).alias("__base_n")),
    ).collect()[0]
    read_ok = (
        set(removed) == lite_dry
        and os.path.exists(
            os.path.join(tdir, "orphan-crashed-writer.parquet"))
        and int(pr469["__read_n"]) == int(pr469["__base_n"])
    )

    # ---- arm 2: handcrafted log, deterministic retention horizon
    shutil.rmtree(Q469_MIX, ignore_errors=True)
    os.makedirs(os.path.join(Q469_MIX, dl.LOG_DIR))
    mschema = json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    })
    day = 86_400_000

    def _madd(name: str) -> dict:
        return {"add": {"path": f"{name}.parquet",
                        "partitionValues": {}, "size": 4,
                        "modificationTime": 0, "dataChange": True}}

    def _mrm(name: str, ts: int) -> dict:
        return {"remove": {"path": f"{name}.parquet",
                           "dataChange": True,
                           "deletionTimestamp": ts}}

    mlog = dl.DeltaLog(Q469_MIX)
    mlog.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": dl.make_metadata(mschema)},
                 _madd("f0"), _madd("f1"), _madd("f2")], version=0)
    # at now = 55 d under the 7 d default: a tombstone stamped day 1
    # is 54 d old (lapsed), one stamped day 53 is 2 d old (retained)
    mlog.commit([_mrm("f0", 1 * day)], version=1)
    mlog.commit([_mrm("f1", 53 * day)], version=2)
    mlog.commit([_mrm("f2", 2 * day), _madd("f2")], version=3)
    for f in ("f0", "f1", "f2"):
        with open(os.path.join(Q469_MIX, f + ".parquet"), "wb") as fh:
            fh.write(b"PAR1")
    lv = dl.DeltaLog(Q469_MIX).vacuum_lite(now_ms=55 * day)
    retention_respected = (
        lv == ["f0.parquet"]
        and os.path.exists(os.path.join(Q469_MIX, "f1.parquet"))
    )
    readded_is_live = os.path.exists(
        os.path.join(Q469_MIX, "f2.parquet")
    )

    out = (
        dl.read_delta(spark, tdir)
        .groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "bucket",
        "n",
        "cents_sum",
        F.lit(bool(tracked_sets_match)).alias("tracked_sets_match"),
        F.lit(bool(lite_skips_untracked)).alias("lite_skips_untracked"),
        F.lit(bool(retention_respected)).alias("retention_respected"),
        F.lit(bool(readded_is_live)).alias("readded_is_live"),
        F.lit(bool(read_ok)).alias("read_ok"),
    ).orderBy("bucket")


Q469_SQL = """
WITH rows_all AS (
  SELECT CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM supplier
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS tracked_sets_match,
       TRUE AS lite_skips_untracked,
       TRUE AS retention_respected,
       TRUE AS readded_is_live,
       TRUE AS read_ok
FROM rows_all
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q468

Q468_WH = os.path.join(_FIX, "q468_warehouse")


def q468_drop_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**ALTER TABLE DROP FEATURE** (Delta PROTOCOL.md / delta.io
    "drop Delta table features"): the explicit protocol DOWNGRADE
    procedure — the one commit allowed to shrink the feature lists.
    Without it a table that ever used deletion vectors is FOREVER
    unreadable to legacy readers, even after every DV is purged:
    upgrades are monotone (``merge_protocol``), so un-declaring a
    feature needs its own spec'd procedure with safety gates.

    Lifecycle on ``part`` reshaped to ``(k, brand, cents)``: MoR
    DELETE plants deletion vectors → three ordered refusals → the
    TRUNCATE HISTORY dance (purge → checkpoint → ``cleanup_log``) →
    the drop lands → a legacy reader is whole again.

    Pinned properties:

    * ``refusals_ordered`` — (a) ``delta.enableDeletionVectors``
      still true ⇒ refused; (b) property off but LIVE files still
      carry DVs ⇒ refused (purge first); (c) snapshot clean but the
      available HISTORY still carries DV'd adds ⇒ refused (an old
      reader could time-travel into needing the feature) — each with
      the version unchanged;
    * ``drop_lands_after_truncation`` — checkpoint + lapsed
      ``cleanup_log`` leave a clean available history; the DROP
      FEATURE commit removes the feature from BOTH lists and is
      idempotent afterwards;
    * ``legacy_reader_whole`` — after the drop, a reader supporting
      everything EXCEPT deletionVectors passes the universal
      unknown-reader-feature rule and reads the full table (the
      entire point of the procedure);
    * ``n_clean_proto`` — DuckDB parses the surviving canonical log
      JSON and counts the protocol actions whose readerFeatures
      lack the feature (the drop commit), cross-checked.

    Scale: at 100 TB the fleet is heterogeneous — BI engines and old
    readers coexist with the writer fleet; DROP FEATURE is how a
    table returns to the widest audience after a feature experiment,
    and the checkpointProtection machinery (q455) is what makes its
    history truncation safe to run online.

    Reference: dbt_project.yml:39 (``file_format: delta``) — table
    lifecycle management is part of operating the reference's models.
    """
    import time as _time

    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q468_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q468_WH, retain_versions=10,
                          delta_log=True)
    base = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.col("p_brand").alias("brand"),
        _money_cents("p_retailprice").alias("cents"),
    )
    store.overwrite("t", base, n_files=3)
    store.delete_where_mor("t", "k % 10 = 3")  # plants DVs
    tdir = store.path("t")

    def _refused(expect: str) -> bool:
        before = dl.DeltaLog(tdir).latest_version()
        try:
            dl.drop_table_feature(tdir, "deletionVectors")
            return False
        except dl.DeltaProtocolError as exc:
            return (
                expect in str(exc)
                and dl.DeltaLog(tdir).latest_version() == before
            )

    r_prop = _refused("still true")
    store.set_table_property(
        "t", "delta.enableDeletionVectors", "false"
    )
    r_live = _refused("purge")
    store.purge_dv("t")
    r_hist = _refused("TRUNCATE HISTORY")
    refusals_ordered = r_prop and r_live and r_hist

    log = dl.DeltaLog(tdir)
    log.write_checkpoint(log.latest_version())
    log.cleanup_log(
        now_ms=int(_time.time() * 1000) + 10_000 * 86_400_000
    )
    v_drop = dl.drop_table_feature(tdir, "deletionVectors")
    snap = dl.DeltaLog(tdir).snapshot()
    rf = snap.protocol.get("readerFeatures") or []
    wf = snap.protocol.get("writerFeatures") or []
    drop_lands_after_truncation = (
        "deletionVectors" not in rf
        and "deletionVectors" not in wf
        and dl.drop_table_feature(tdir, "deletionVectors") == v_drop
    )

    # a reader supporting everything EXCEPT deletionVectors applies
    # the universal unknown-reader-feature rule — and passes
    legacy_set = dl.ENGINE_READER_FEATURES - {"deletionVectors"}
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts of the expected set and the post-drop read).
    pr468 = combine_single_rows(
        base.where("k % 10 != 3").agg(
            F.count(F.lit(1)).alias("__n_expected")
        ),
        dl.read_delta(spark, tdir).agg(
            F.count(F.lit(1)).alias("__read_n")
        ),
    ).collect()[0]
    legacy_reader_whole = (
        not (set(rf) - legacy_set)
        and int(pr468["__read_n"]) == int(pr468["__n_expected"])
    )

    ldir = os.path.join(tdir, dl.LOG_DIR)
    n_clean = 0
    for fn in sorted(os.listdir(ldir)):
        if not dl._COMMIT_RE.match(fn):
            continue
        with open(os.path.join(ldir, fn), encoding="utf-8") as fh:
            for ln in fh:
                if not ln.strip():
                    continue
                pr = json.loads(ln).get("protocol")
                if pr is not None and "deletionVectors" not in (
                    pr.get("readerFeatures") or []
                ):
                    n_clean += 1

    out = (
        dl.read_delta(spark, tdir)
        .groupBy(F.col("brand").alias("mfr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "mfr",
        "n",
        "cents_sum",
        F.lit(int(n_clean)).cast("long").alias("n_clean_proto"),
        F.lit(bool(refusals_ordered)).alias("refusals_ordered"),
        F.lit(bool(drop_lands_after_truncation)).alias(
            "drop_lands_after_truncation"),
        F.lit(bool(legacy_reader_whole)).alias("legacy_reader_whole"),
    ).orderBy("mfr")


Q468_SQL = f"""
WITH log AS (
  SELECT * FROM read_json_auto(
    '{Q468_WH}/t/_delta_log/0*.json',
    format='newline_delimited', union_by_name=true)
),
clean AS (
  SELECT count(*) AS n FROM log
  WHERE protocol IS NOT NULL
    AND NOT contains(
      COALESCE(CAST(protocol.readerFeatures AS VARCHAR), '[]'),
      'deletionVectors')
),
live AS (
  SELECT p_brand AS mfr,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM part
  WHERE p_partkey % 10 != 3
)
SELECT mfr,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT CAST(n AS BIGINT) FROM clean) AS n_clean_proto,
       TRUE AS refusals_ordered,
       TRUE AS drop_lands_after_truncation,
       TRUE AS legacy_reader_whole
FROM live
GROUP BY mfr
ORDER BY mfr
"""


# ------------------------------------------------------------- q467

Q467_WH = os.path.join(_FIX, "q467_warehouse")


def q467_nested_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Column invariants on NESTED struct fields** (Delta
    PROTOCOL.md "Column Invariants") — q459 enforced top-level
    invariants; Delta's spec persists the rule in the INNER field's
    metadata for nested columns, and real schemas at 100 TB are
    nested (event envelopes, address structs, model metadata). The
    engine now declares, persists, discovers, and enforces dotted
    paths end-to-end.

    Lifecycle on ``customer`` reshaped to ``(k, addr struct{zip,
    city}, cents)``: overwrite → ``set_invariant("addr.zip",
    "addr.zip >= 0 AND addr.zip < 25")`` (validates existing data
    first) → good append lands → three refusal shapes.

    Pinned properties:

    * ``violations_refused`` — a negative ``addr.zip``, a NULL
      ``addr.zip`` (null-or-false VIOLATES, stricter than CHECK),
      and a write whose struct LACKS the ``zip`` field entirely
      (all-null by definition) are each refused with the table
      count unchanged;
    * ``rule_in_nested_metadata`` — snapshot discovery returns the
      dotted path, the spec's persisted-rule JSON lives in the
      INNER field's metadata (the outer ``addr`` field carries
      none), and a FOREIGN log-level writer can discover + validate
      via ``DeltaSnapshot.invariants`` / ``validate_invariants``;
    * ``n_decl_commits`` — DuckDB independently parses the commit
      JSON's ``metaData.schemaString`` down the nested field path
      and counts the same declaring commits the engine sees.

    Scale: validation is ONE fused null-safe predicate on the
    write's existing scan — no extra pass, no shuffle, regardless of
    nesting depth; discovery is O(schema) driver-side.

    Reference: bronze.yml CDC payload columns — the reference's raw
    events are exactly the nested-envelope shape these rules guard.
    """
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
        SnapshotStore,
    )

    shutil.rmtree(Q467_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q467_WH, retain_versions=5,
                          delta_log=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.struct(
            F.col("c_nationkey").cast("long").alias("zip"),
            F.col("c_mktsegment").alias("city"),
        ).alias("addr"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base)
    store.set_invariant("t", "addr.zip",
                        "addr.zip >= 0 AND addr.zip < 25")
    good = base.withColumn("k", F.col("k") + 9_000_000)
    store.append("t", good)
    # Refused appends commit nothing, so this relation and the
    # post-refusal read below see the same version; both counts fold
    # into one fused probe action (round-12 batch 8, guide §1.2).
    after_good_df = store.read("t")

    def _refused(df) -> bool:
        try:
            store.append("t", df)
            return False
        except ConstraintViolationError:
            return True

    bad_val = base.limit(3).withColumn(
        "addr", F.struct(F.lit(-1).cast("long").alias("zip"),
                         F.lit("y").alias("city")))
    bad_null = base.limit(3).withColumn(
        "addr", F.struct(F.lit(None).cast("long").alias("zip"),
                         F.lit("y").alias("city")))
    bad_missing = cust.limit(3).select(
        F.col("c_custkey").alias("k"),
        F.struct(F.col("c_mktsegment").alias("city")).alias("addr"),
        F.lit(0).cast("long").alias("cents"),
    )
    refused_all = (
        _refused(bad_val) and _refused(bad_null) and _refused(bad_missing)
    )
    pr467 = combine_single_rows(
        after_good_df.agg(F.count(F.lit(1)).alias("__n_good")),
        store.read("t").agg(F.count(F.lit(1)).alias("__n_now")),
    ).collect()[0]
    n_after_good = int(pr467["__n_good"])
    violations_refused = (
        refused_all and int(pr467["__n_now"]) == n_after_good
    )

    snap = store.delta_snapshot("t")
    invs = snap.invariants()
    sch = json.loads(snap.metadata["schemaString"])
    addr_f = next(f for f in sch["fields"] if f["name"] == "addr")
    zip_f = next(f for f in addr_f["type"]["fields"]
                 if f["name"] == "zip")
    try:
        rule = json.loads(
            zip_f["metadata"][dl.INVARIANTS_META_KEY]
        )["expression"]["expression"]
    except (KeyError, ValueError):
        rule = None
    foreign_ok = True
    try:  # foreign validation path accepts good rows...
        dl.validate_invariants(good, invs)
    except dl.DeltaProtocolError:
        foreign_ok = False
    try:  # ...and refuses bad ones
        dl.validate_invariants(bad_null, invs)
        foreign_ok = False
    except dl.DeltaProtocolError:
        pass
    rule_in_nested_metadata = (
        invs == {"addr.zip": "addr.zip >= 0 AND addr.zip < 25"}
        and rule == "addr.zip >= 0 AND addr.zip < 25"
        and dl.INVARIANTS_META_KEY not in (addr_f.get("metadata") or {})
        and foreign_ok
    )

    ldir = os.path.join(store.path("t"), dl.LOG_DIR)
    n_decl = 0
    for fn in sorted(os.listdir(ldir)):
        if not dl._COMMIT_RE.match(fn):
            continue
        with open(os.path.join(ldir, fn), encoding="utf-8") as fh:
            for ln in fh:
                if not ln.strip():
                    continue
                a = json.loads(ln)
                ss = (a.get("metaData") or {}).get("schemaString")
                if ss and dl.INVARIANTS_META_KEY in ss:
                    n_decl += 1

    out = (
        store.read("t")
        .groupBy(F.col("addr.city").alias("city"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "city",
        "n",
        "cents_sum",
        F.lit(int(n_decl)).cast("long").alias("n_decl_commits"),
        F.lit(bool(violations_refused)).alias("violations_refused"),
        F.lit(bool(rule_in_nested_metadata)).alias(
            "rule_in_nested_metadata"),
    ).orderBy("city")


Q467_SQL = f"""
WITH log AS (
  SELECT * FROM read_json_auto(
    '{Q467_WH}/t/_delta_log/0*.json',
    format='newline_delimited', union_by_name=true)
),
decl AS (
  SELECT count(*) AS n FROM log
  WHERE metaData IS NOT NULL
    AND json_extract_string(metaData.schemaString,
      '$.fields[1].type.fields[0].metadata."delta.invariants"')
      IS NOT NULL
),
base AS (
  SELECT c_custkey AS k, c_mktsegment AS city,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM customer
),
allr AS (
  SELECT city, cents FROM base
  UNION ALL
  SELECT city, cents FROM base
)
SELECT city,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT CAST(n AS BIGINT) FROM decl) AS n_decl_commits,
       TRUE AS violations_refused,
       TRUE AS rule_in_nested_metadata
FROM allr
GROUP BY city
ORDER BY city
"""


# ------------------------------------------------------------- q466

Q466_WH = os.path.join(_FIX, "q466_warehouse")


def q466_cdf_stream_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Mode-aware streaming admission** (Delta's
    ``maxBytesPerTrigger`` × ``readChangeFeed``): q461's byte budget
    priced every commit by its dataChange ADD actions — but in
    change-feed mode the read path serves the commit's cdc files and
    IGNORES the add/remove churn of a COW rewrite. Pricing the churn
    makes a tiny logical change (a DELETE touching 9% of rows) look
    like the whole rewritten table, forcing it to page alone and
    splitting batches that fit comfortably. ``_commit_cost`` now
    prices exactly what ``partitions()`` serves per mode.

    Lifecycle on a real CDF table: v0 overwrite (3 files) → v1
    ``DELETE WHERE cents < 0`` (COW: small cdc file, near-full-table
    add churn) → v2 small append. The byte budget is set to
    ``cost(v1 cdc) + cost(v2 adds)`` — strictly below v1's churn.

    Pinned properties:

    * ``cdc_priced_not_churn`` — on a handcrafted log (10 B cdc vs
      1000 B add churn in one commit, deterministic at every SF), a
      30 B budget batches all three commits in ONE trigger; churn
      pricing would page the DML alone;
    * ``dml_batches_with_neighbor`` — offset drain yields exactly
      [(0,1), (1,3)]: the oversized v0 pages alone, then v1+v2 ride
      ONE trigger (the old add-churn pricing would split them);
    * ``skipped_commits_cost_zero`` — in plain append mode with
      ``skip_change_commits``, the dropped DML commit burns no
      budget: v0's files and v2's append page without v1's churn
      splitting them;
    * ``stream_matches_batch`` — the real structured stream under
      the same budget, concatenated across its paged triggers,
      equals the batch ``table_changes`` feed bit-for-bit.

    Scale: a restarted CDF consumer facing 10 TB of pending DML
    commits pages by what it will actually READ — the change files —
    not by the rewrite bytes it will never touch; the wrong pricing
    under-utilizes every trigger by the table/change ratio (often
    10-100×).

    Reference: customers_latest.sql:3-6 (merge on a CDC stream) —
    the rate-limited restart path of the reference's incremental
    models.
    """
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.delta_stream import (
        DeltaTailStreamReader,
        register_delta_tail,
    )
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q466_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q466_WH, retain_versions=10,
                          delta_log=True, cdf=True)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("feed", base, n_files=3)                   # v0
    store.delete_where("feed", "cents < 0")                    # v1
    app = cust.where("c_custkey % 17 = 0").select(
        (F.col("c_custkey") + 50_000_000).alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(300).cast("long").alias("cents"),
    )
    store.append("feed", app)                                  # v2

    tdir = store.path("feed")
    ldir = os.path.join(tdir, dl.LOG_DIR)

    def _acts(v: int) -> list[dict]:
        with open(os.path.join(ldir, f"{v:020d}.json"),
                  encoding="utf-8") as fh:
            return [json.loads(ln) for ln in fh if ln.strip()]

    cdc1 = sum(a["cdc"]["size"] for a in _acts(1) if a.get("cdc"))
    add2 = sum(
        a["add"]["size"] for a in _acts(2)
        if a.get("add") and a["add"].get("dataChange", True)
    )
    budget = cdc1 + add2

    def _drain(reader) -> list[tuple[int, int]]:
        batches = []
        start = reader.initialOffset()["version"]
        for _ in range(50):
            end = reader.latestOffset()["version"]
            if end <= start:
                break
            reader.commit({"version": end})
            batches.append((start, end))
            start = end
        return batches

    b_cdf = _drain(DeltaTailStreamReader({
        "path": tdir, "read_change_feed": "true",
        "max_bytes_per_trigger": str(budget),
    }))
    dml_batches_with_neighbor = b_cdf == [(0, 1), (1, 3)]

    # deterministic arm: handcrafted sizes prove cdc-vs-churn
    # pricing independent of parquet overhead at any SF — a 30 B
    # budget fits v0(10) + v1(cdc 10, churn 1000) + v2(10) in ONE
    # trigger; churn pricing would page v1 alone
    mixdir = os.path.join(_FIX, "q466_mix")
    shutil.rmtree(mixdir, ignore_errors=True)
    os.makedirs(os.path.join(mixdir, dl.LOG_DIR))
    mschema = json.dumps({
        "type": "struct",
        "fields": [{"name": "k", "type": "long",
                    "nullable": True, "metadata": {}}],
    })

    def _madd(name: str, size: int) -> dict:
        return {"add": {
            "path": f"{name}.parquet", "partitionValues": {},
            "size": size, "modificationTime": 0, "dataChange": True,
        }}

    mlog = dl.DeltaLog(mixdir)
    mlog.commit([{"protocol": dl.PROTOCOL_ACTION},
                 {"metaData": dl.make_metadata(mschema)},
                 _madd("f0", 10)], version=0)
    mlog.commit([{"cdc": {"path": "_change_data/c1.parquet",
                          "partitionValues": {}, "size": 10,
                          "dataChange": False}},
                 _madd("f1", 1000),
                 {"remove": {"path": "f0.parquet",
                             "dataChange": True,
                             "deletionTimestamp": 0}}], version=1)
    mlog.commit([_madd("f2", 10)], version=2)
    b_mix = _drain(DeltaTailStreamReader({
        "path": mixdir, "read_change_feed": "true",
        "max_bytes_per_trigger": "30",
    }))
    cdc_priced_not_churn = b_mix == [(0, 3)]

    # append mode + skip_change_commits: the skipped v1 costs zero,
    # so a budget of exactly v2's bytes still lands v0 then v2 in
    # two triggers spanning the skipped commit
    b_skip = _drain(DeltaTailStreamReader({
        "path": tdir, "skip_change_commits": "true",
        "max_bytes_per_trigger": str(add2),
    }))
    skipped_commits_cost_zero = b_skip == [(0, 1), (1, 3)]

    register_delta_tail(spark)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        src = (
            spark.readStream.format("delta_tail")
            .option("path", tdir)
            .option("read_change_feed", "true")
            .option("max_bytes_per_trigger", str(budget))
            .load()
        )
        q = (
            src.writeStream.format("memory")
            .queryName("q466_sink")
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

    streamed = spark.table("q466_sink")
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
            F.lit(bool(cdc_priced_not_churn)).alias(
                "cdc_priced_not_churn"),
            F.lit(bool(dml_batches_with_neighbor)).alias(
                "dml_batches_with_neighbor"),
            F.lit(bool(skipped_commits_cost_zero)).alias(
                "skipped_commits_cost_zero"),
            F.lit(bool(stream_matches_batch)).alias(
                "stream_matches_batch"),
        )
        .orderBy("commit_version", "change_type")
    )


Q466_SQL = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM customer
),
feed AS (
  SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
         cents
  FROM base
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'delete', cents
  FROM base WHERE cents < 0
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'insert', CAST(300 AS BIGINT)
  FROM customer WHERE c_custkey % 17 = 0
)
SELECT commit_version, change_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS cdc_priced_not_churn,
       TRUE AS dml_batches_with_neighbor,
       TRUE AS skipped_commits_cost_zero,
       TRUE AS stream_matches_batch
FROM feed
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
"""


# ------------------------------------------------------------- q465

Q465_TABLE = os.path.join(_FIX, "q465_table")


def q465_coordinator_declaration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Coordinated-commits DECLARATION** (Delta 4.x
    ``coordinatedCommits-preview`` table properties): the table's
    metadata NAMES its commit coordinator
    (``delta.coordinatedCommits.commitCoordinator-preview``), so a
    coordinator-unaware writer discovers it must refuse instead of
    forking history via filesystem putIfAbsent. q456 built the owner
    seam, q463 the staged-file layout — this closes the loop: until
    now every writer had to simply KNOW to use the registry; after
    declaration it's enforced by ``DeltaLog.commit``'s protocol
    check.

    Lifecycle: init + batch A via filesystem →
    ``enable_coordinated_commits`` (the spec's LAST filesystem
    commit) → foreign writers refused → batch B through the declared
    coordinator (staged + ratified) → disable THROUGH the
    coordinator → filesystem commits resume → backfill for the
    coordinator-unaware oracle.

    Pinned properties:

    * ``declaration_last_fs_commit`` — the enable commit lands at a
      canonical ``<v>.json`` (filesystem), while the first
      post-declaration commit exists ONLY as a ratified staged file;
    * ``foreign_refused`` — both a plain hardlink writer and a
      WRONG-named coordinator get ``DeltaProtocolError`` with the
      version unchanged; a foreign writer also cannot unilaterally
      UN-coordinate the table (the disable path enforces ownership);
    * ``coordinator_routes`` — the declared coordinator's append
      lands and the merged read (canonical tail + registry suffix)
      returns both batches completely;
    * ``disable_restores_filesystem`` — the disable goes through
      the coordinator, after which a plain filesystem commit
      succeeds;
    * ``n_decl_in_log`` — DuckDB parses the backfilled canonical
      JSON and finds EXACTLY ONE metaData action declaring the
      coordinator (enable sets it, disable removes it, no other
      metaData carries it).

    Scale: on a 1000-executor lake the coordinator (Unity/Glue-class
    catalog) owns hot tables' commits; the declaration is what makes
    every engine — not just the ones configured with the registry —
    converge on it. The check costs one memoized prev-snapshot
    lookup per commit; zero data-plane cost.

    Reference: profiles.yml:10 (Databricks = Unity-catalog-owned
    commits in production).
    """
    from product_analytics_spark.sources import delta_log as dl

    shutil.rmtree(Q465_TABLE, ignore_errors=True)
    os.makedirs(os.path.join(Q465_TABLE, dl.LOG_DIR))
    ldir = os.path.join(Q465_TABLE, dl.LOG_DIR)
    COORD = "unity-local"

    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").cast("long").alias("nation"),
        _money_cents("c_acctbal").alias("cents"),
    )
    fs = dl.DeltaLog(Q465_TABLE)
    fs.commit([{"protocol": dl.PROTOCOL_ACTION},
               {"metaData": dl.make_metadata(base.schema.json())}],
              version=0)

    def _land_batch(i: int, pred):
        tmp = os.path.join(Q465_TABLE, f"_tmp{i}")
        base.where(pred).coalesce(1).write.parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(Q465_TABLE, f"batch-{i}.parquet")
        os.replace(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        return {"add": dl.make_add(Q465_TABLE, dst)}

    fs.commit([_land_batch(0, F.col("k") % 2 == 0)], version=1)
    v_decl = dl.enable_coordinated_commits(
        Q465_TABLE, COORD, {"endpoint": "local"}
    )

    # foreign writers: plain hardlink, wrong-named coordinator, and
    # a unilateral un-coordinate attempt — all refused, version pinned
    refusals = 0
    for attempt in (
        lambda: dl.DeltaLog(Q465_TABLE).commit(
            [_land_batch(9, F.col("k") % 2 == 1)]
        ),
        lambda: dl.DeltaLog(
            Q465_TABLE,
            owner=dl.StagedCommitOwner(coordinator_name="other"),
        ).commit([{"domainMetadata": {
            "domain": "q465.forged", "configuration": "{}",
            "removed": False}}]),
        lambda: dl.disable_coordinated_commits(
            Q465_TABLE, dl.FileSystemCommitOwner()
        ),
    ):
        try:
            attempt()
        except dl.DeltaProtocolError:
            refusals += 1
    foreign_refused = (
        refusals == 3
        and dl.DeltaLog(Q465_TABLE).latest_version() == v_decl
    )

    coord_log = dl.DeltaLog(
        Q465_TABLE,
        owner=dl.StagedCommitOwner(coordinator_name=COORD),
    )
    v_b = coord_log.commit([_land_batch(1, F.col("k") % 2 == 1)])
    declaration_last_fs_commit = (
        os.path.isfile(os.path.join(ldir, f"{v_decl:020d}.json"))
        and not os.path.isfile(os.path.join(ldir, f"{v_b:020d}.json"))
        and v_b in dl._staged_ratified(ldir)
    )
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts of the base and the coordinator-routed read).
    pr465 = combine_single_rows(
        base.agg(F.count(F.lit(1)).alias("__n_expected")),
        dl.read_delta(spark, Q465_TABLE).agg(
            F.count(F.lit(1)).alias("__read_n")
        ),
    ).collect()[0]
    n_expected = int(pr465["__n_expected"])
    coordinator_routes = int(pr465["__read_n"]) == n_expected

    v_off = dl.disable_coordinated_commits(
        Q465_TABLE, dl.StagedCommitOwner(coordinator_name=COORD)
    )
    v_fs = dl.DeltaLog(Q465_TABLE).commit([{"domainMetadata": {
        "domain": "q465.post", "configuration": "{}",
        "removed": False}}])
    conf_now = (
        dl.DeltaLog(Q465_TABLE).snapshot().metadata["configuration"]
    )
    disable_restores_filesystem = (
        v_fs == v_off + 1
        and dl.COMMIT_COORDINATOR_PROP not in conf_now
    )

    dl.StagedCommitOwner.backfill(ldir)

    out = (
        dl.read_delta(spark, Q465_TABLE)
        .groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return out.select(
        "bucket",
        "n",
        "cents_sum",
        F.lit(1).cast("long").alias("n_decl_in_log"),
        F.lit(bool(declaration_last_fs_commit)).alias(
            "declaration_last_fs_commit"),
        F.lit(bool(foreign_refused)).alias("foreign_refused"),
        F.lit(bool(coordinator_routes)).alias("coordinator_routes"),
        F.lit(bool(disable_restores_filesystem)).alias(
            "disable_restores_filesystem"),
    ).orderBy("bucket")


Q465_SQL = f"""
WITH log AS (
  SELECT * FROM read_json_auto(
    '{Q465_TABLE}/_delta_log/0*.json',
    format='newline_delimited', union_by_name=true)
),
decl AS (
  SELECT count(*) AS n FROM log
  WHERE metaData IS NOT NULL
    AND json_extract_string(to_json(metaData),
      '$.configuration."delta.coordinatedCommits.commitCoordinator-preview"')
      = 'unity-local'
),
rows_all AS (
  SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS nation,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM customer
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT CAST(n AS BIGINT) FROM decl) AS n_decl_in_log,
       TRUE AS declaration_last_fs_commit,
       TRUE AS foreign_refused,
       TRUE AS coordinator_routes,
       TRUE AS disable_restores_filesystem
FROM rows_all
GROUP BY bucket
ORDER BY bucket
"""


QUERIES_EXT95 = {
    "q459_append_only_invariants": q459_append_only_invariants,
    "q460_time_based_retention": q460_time_based_retention,
    "q461_stream_byte_admission": q461_stream_byte_admission,
    "q462_column_mapping_id_mode": q462_column_mapping_id_mode,
    "q463_staged_commits": q463_staged_commits,
    "q464_generated_partition_pruning": q464_generated_partition_pruning,
    "q465_coordinator_declaration": q465_coordinator_declaration,
    "q466_cdf_stream_admission": q466_cdf_stream_admission,
    "q467_nested_invariants": q467_nested_invariants,
    "q468_drop_feature": q468_drop_feature,
    "q469_vacuum_lite": q469_vacuum_lite,
    "q470_logical_conflicts": q470_logical_conflicts,
    "q471_set_transaction": q471_set_transaction,
    "q472_optimize_where": q472_optimize_where,
    "q473_checkpoint_policy": q473_checkpoint_policy,
    "q474_auto_optimize": q474_auto_optimize,
    "q475_txn_retention": q475_txn_retention,
    "q476_round12_capstone": q476_round12_capstone,
}


def _oracles_ext95() -> dict[str, str]:
    return {
        "q459_append_only_invariants": Q459_SQL,
        "q460_time_based_retention": Q460_SQL,
        "q461_stream_byte_admission": Q461_SQL,
        "q462_column_mapping_id_mode": Q462_SQL,
        "q463_staged_commits": Q463_SQL,
        "q464_generated_partition_pruning": Q464_SQL,
        "q465_coordinator_declaration": Q465_SQL,
        "q466_cdf_stream_admission": Q466_SQL,
        "q467_nested_invariants": Q467_SQL,
        "q468_drop_feature": Q468_SQL,
        "q469_vacuum_lite": Q469_SQL,
        "q470_logical_conflicts": Q470_SQL,
        "q471_set_transaction": Q471_SQL,
        "q472_optimize_where": Q472_SQL,
        "q473_checkpoint_policy": Q473_SQL,
        "q474_auto_optimize": Q474_SQL,
        "q475_txn_retention": Q475_SQL,
        "q476_round12_capstone": Q476_SQL,
    }
