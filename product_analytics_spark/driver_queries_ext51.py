"""Round-5 driver query families, batch 51 (q322-q324): the two
adaptable TPC-H remainders (Q4 order-priority checking, Q21
suppliers-who-kept-waiting) on documented column substitutions, and
the compaction plan→EXECUTE round trip (q199's other half).

TPC-H boundary note: the synthetic lineitem has no
l_commitdate/l_receiptdate, so "late" cannot be the spec's
``l_commitdate < l_receiptdate``. Following the Q3≈/Q10≈ substitution
discipline (SURVEY §2), both queries here define a lineitem as LATE
when it ships more than ``LATE_DAYS`` after its order date
(``l_shipdate > o_orderdate + INTERVAL LATE_DAYS DAY``) — the same
"promise vs delivery" shape measured from the one date pair the
schema has. Everything else (the EXISTS / NOT-EXISTS structure, the
grouping, the ordering) is the spec's.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _t, combine_single_rows, local_rows_df

LATE_DAYS = 75

# ------------------------------------------------------------- q322

Q4_START, Q4_END = "1996-07-01", "1996-10-01"


def q322_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4≈ — order-priority checking: how many orders placed in
    one quarter had at least one LATE lineitem (spec: commit date
    missed; here: the LATE_DAYS substitution documented in the module
    docstring), counted per priority. Reference shape: correlated
    EXISTS → here a LEFT SEMI join on the order key with the lateness
    predicate as the join's residual condition — the de-correlation
    every engine applies to Q4.

    Scale: the quarter filter pushes to the orders scan (partition
    pruning on a date-partitioned table); the semi join shuffles on
    the order key and short-circuits per key (semi joins don't
    amplify); the final agg is |priorities|-sized with map-side
    combine. No DISTINCT needed anywhere — semi join emits each
    qualifying order once."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q4_END).cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late_exists = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
    )
    return (
        o.join(li, on=late_exists, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q322_SQL = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '{Q4_START} 00:00:00'
  AND CAST(o_orderdate AS TIMESTAMP) <  TIMESTAMP '{Q4_END} 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS TIMESTAMP)
          > CAST(o.o_orderdate AS TIMESTAMP) + INTERVAL {LATE_DAYS} DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ------------------------------------------------------------- q323

Q21_NATION = "NATION_7"


def q323_tpch_q21_waiting_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21-lite — suppliers who kept everyone waiting: for
    finished ('F') multi-supplier orders where EXACTLY ONE supplier
    shipped late (LATE_DAYS substitution), count that supplier's late
    lines, restricted to one nation. The spec's correlated
    EXISTS (another supplier in the order) + NOT EXISTS (another LATE
    supplier) pair de-correlates into ONE per-order aggregate:
    n_suppliers > 1 ∧ n_late_suppliers = 1 — and the single late
    supplier is then l1's by construction.

    Scale: one order-keyed shuffle builds the per-order supplier
    profile (two distinct-counts over |order| lines — Expand ×2 of
    declarative aggs, no object buffers); late lines re-join it on the
    same key (co-partitioned, no extra shuffle under AQE reuse); the
    nation restriction is a broadcast semi on the supplier dim. Spec
    ordering: numwait DESC, s_name — a deterministic total order, so
    LIMIT 100 is engine-stable."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
        ).alias("late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    waiting = (
        lo.filter(F.col("late"))
        .join(
            per_order.filter(
                (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
            ),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == Q21_NATION)
    named = (
        waiting.join(
            F.broadcast(
                s.join(
                    F.broadcast(n), s.s_nationkey == n.n_nationkey
                ).select("s_suppkey", "s_name")
            ),
            waiting.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
    return named


Q323_SQL = f"""
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CAST(l.l_shipdate AS TIMESTAMP)
           > CAST(o.o_orderdate AS TIMESTAMP) + INTERVAL {LATE_DAYS} DAY
           AS late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
po AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
  FROM lo GROUP BY 1
),
w AS (
  SELECT lo.l_suppkey, count(*) AS numwait
  FROM lo JOIN po ON lo.l_orderkey = po.l_orderkey
  WHERE lo.late AND po.n_supp > 1 AND po.n_late_supp = 1
  GROUP BY 1
)
SELECT s.s_name, CAST(w.numwait AS BIGINT) AS numwait
FROM w
JOIN supplier s ON s.s_suppkey = w.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = '{Q21_NATION}'
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# ------------------------------------------------------------- q324

#: Warehouse dir for the compaction round trip — inside the repo (the
#: harness forbids writing elsewhere); tiny (one month of orders).
Q324_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".fixtures", ".q324_warehouse",
)
Q324_SMALL_FILES = 8
Q324_YEAR = 1996


def q324_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7 lifecycle, the EXECUTE half of q199's compaction planner:
    land one year of orders as deliberately-small files, bin-pack them
    with SnapshotStore.plan_compaction (the q199 kernel over the REAL
    file manifest), rewrite each planned group as one file, commit it
    through the log's putIfAbsent, and emit the invariants a lakehouse
    OPTIMIZE job must
    uphold: row counts identical before/after, executed groups ==
    planned groups, file count strictly dropped, prior layout still
    time-travelable. File sizes aren't portable across writers, so the
    oracle checks the exact row count plus the invariants as booleans
    (the q155 in-plan-verdict pattern).

    Scale: planning is metadata-only (|files| rows); each rewrite
    group is one independent scan→write task — OPTIMIZE parallelism is
    per-group, never a global sort."""
    import shutil as _sh

    from product_analytics_spark.sources.sinks import SnapshotStore

    _sh.rmtree(Q324_WAREHOUSE, ignore_errors=True)
    store = SnapshotStore(spark, Q324_WAREHOUSE, retain_versions=2)
    o = _t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == Q324_YEAR
    )
    store.overwrite("orders_y", o.repartition(Q324_SMALL_FILES))
    # Lazy plan pinned to the pre-compaction version (retained within
    # retain_versions=2); counted in the fused probe below (round-12
    # batch 8, guide §1.2 — was three separate counts).
    before_df = store.read("orders_y")

    total = sum(
        int(a["size"]) for a in store.delta_snapshot("orders_y").files.values()
    )
    target = total // 3 + 1  # aim for ~3 output files
    plan = store.plan_compaction("orders_y", target_bytes=target)
    stats = store.compact("orders_y", target_bytes=target)
    pr = combine_single_rows(
        before_df.agg(F.count(F.lit(1)).alias("__rows_before")),
        store.read("orders_y").agg(
            F.count(F.lit(1)).alias("__rows_after")
        ),
        store.read("orders_y", version=store.versions("orders_y")[0]).agg(
            F.count(F.lit(1)).alias("__prior_rows")
        ),
    ).collect()[0]
    rows_before = int(pr["__rows_before"])
    rows_after = int(pr["__rows_after"])
    prior_rows = int(pr["__prior_rows"])

    return local_rows_df(spark, 
        [
            (
                rows_before,
                rows_after == rows_before,
                stats["files_after"] == stats["groups"] == len(plan),
                stats["files_after"] < stats["files_before"],
                prior_rows == rows_before,
            )
        ],
        "n_rows long, rows_preserved boolean, plan_eq_execution boolean, "
        "files_dropped boolean, time_travel_ok boolean",
    )


Q324_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS rows_preserved,
       TRUE AS plan_eq_execution,
       TRUE AS files_dropped,
       TRUE AS time_travel_ok
FROM orders
WHERE year(CAST(o_orderdate AS TIMESTAMP)) = {Q324_YEAR}
"""


QUERIES_EXT51 = {
    "q322_tpch_q4_order_priority": q322_tpch_q4_order_priority,
    "q323_tpch_q21_waiting_supplier": q323_tpch_q21_waiting_supplier,
    "q324_compaction_execute": q324_compaction_execute,
}


def _oracles_ext51() -> dict[str, str]:
    return {
        "q322_tpch_q4_order_priority": Q322_SQL,
        "q323_tpch_q21_waiting_supplier": Q323_SQL,
        "q324_compaction_execute": Q324_SQL,
    }
