"""Round-4 driver query families, batch 46 (q302-q305): the
write-audit-publish gate, SQL-defined scalar functions, SQL
table-valued functions, and Neyman sampling allocation.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _t, local_rows_df

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q302

Q302_WH = os.path.join(_REPO, ".fixtures", ".q302_warehouse")


def q302_wap_publish_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X263: write-audit-publish (WAP) — the deployment pattern that
    keeps bad data out of production tables: the new snapshot writes
    to an UNPUBLISHED staging version, the audit suite runs against
    the staged data, and only a clean audit commits it (SnapshotStore's
    atomic commit: the log's putIfAbsent) — a dirty batch leaves the
    published version untouched. Exercised FOR REAL: a clean batch
    (orders rollup) publishes; a poisoned batch (a NULL key + a
    duplicated key injected) fails its audit and is withheld — and
    the emitted relation proves the published table still serves the
    CLEAN version after the failed attempt.

    Scale: staging versions are the store's normal immutable dirs;
    the audit reads only the staged snapshot; publish is one log
    putIfAbsent — O(1) regardless of table size."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q302_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q302_WH)

    clean = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )

    def audit(df: DataFrame) -> dict[str, int]:
        row = df.agg(
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
                "nulls"
            ),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("o_custkey").alias("nd"),
        ).collect()[0]
        nulls = int(row["nulls"] or 0)
        # count_distinct skips NULLs — subtract them so a null row
        # counts once (as a null) and not again as a "duplicate".
        return {"nulls": nulls, "dups": int(row["n"]) - int(row["nd"]) - nulls}

    results = []

    def attempt(name: str, df: DataFrame) -> None:
        findings = audit(df)
        ok = findings["nulls"] == 0 and findings["dups"] == 0
        if ok:
            store.overwrite("wap_orders", df)
        results.append(
            (name, findings["nulls"], findings["dups"], ok)
        )

    attempt("clean_batch", clean)
    poisoned = clean.unionByName(
        clean.limit(1).select(
            F.lit(None).cast("long").alias("o_custkey"), "n_orders"
        )
    ).unionByName(clean.limit(1))
    attempt("poisoned_batch", poisoned)

    published = store.read("wap_orders")
    pub_stats = published.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "nulls"
        ),
    ).collect()[0]
    out = [
        (n, int(nu), int(du), bool(ok), int(pub_stats["rows"]),
         int(pub_stats["nulls"] or 0))
        for n, nu, du, ok in results
    ]
    return local_rows_df(spark, 
        out,
        "attempt string, audit_nulls bigint, audit_dups bigint, "
        "published boolean, live_rows bigint, live_nulls bigint",
    )


Q302_SQL = """
WITH clean AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n FROM clean)
SELECT 'clean_batch' AS attempt,
       CAST(0 AS BIGINT) AS audit_nulls,
       CAST(0 AS BIGINT) AS audit_dups,
       TRUE AS published,
       stats.n AS live_rows,
       CAST(0 AS BIGINT) AS live_nulls
FROM stats
UNION ALL
SELECT 'poisoned_batch',
       CAST(1 AS BIGINT), CAST(1 AS BIGINT), FALSE,
       stats.n, CAST(0 AS BIGINT)
FROM stats
"""


# ------------------------------------------------------------- q303


def q303_sql_udf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X264: SQL-defined scalar functions — the governed-logic door
    BOTH engines carry: Spark 4's `CREATE TEMPORARY FUNCTION … RETURN
    expr` (a SQL UDF, inlined by Catalyst — NOT a Python UDF; the
    plan stays in codegen) and DuckDB's `CREATE MACRO`. The same
    discounted-charge logic is defined ONCE per engine in its native
    SQL-function syntax and applied to lineitem — value equality
    certifies the function surfaces agree, and the Spark plan keeps
    whole-stage codegen because SQL UDFs inline (the reason to prefer
    them over Python UDFs for shared business logic).

    Scale: zero runtime cost vs writing the expression inline — the
    function is a naming layer, which is exactly the point."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q303_charge(cents BIGINT, "
        "d BIGINT, t BIGINT) RETURNS BIGINT "
        "RETURN cents * (100 - d) * (100 + t)"
    )
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q303_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(q303_charge(
                 CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
                 CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT),
                 CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)))
                 AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS total_charge
        FROM q303_lineitem
        GROUP BY l_returnflag
        """
    )


Q303_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
                              AS BIGINT))
                * (100 + CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)))
            AS BIGINT) / 1000000.0 AS total_charge
FROM lineitem
GROUP BY l_returnflag
"""


# ------------------------------------------------------------- q304


def q304_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X265: SQL table-valued functions — Spark 4's `CREATE FUNCTION …
    RETURNS TABLE` defines a PARAMETERIZED VIEW in pure SQL: the
    function body is a query, callers invoke it in FROM position with
    arguments, and Catalyst inlines it like any subquery (no UDTF
    process, no Python). Defined here: top-priority orders above a
    revenue floor, parameterized by the floor — called twice with
    different floors and unioned, proving the same definition serves
    every parameterization. The oracle states the two calls as plain
    parameterized subqueries.

    Scale: a governed, versionable query artifact with zero runtime
    tax — the SQL-native cousin of the model registry's builders."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q304_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION q304_big_orders(floor_cents BIGINT)
        RETURNS TABLE (o_orderkey BIGINT, prio STRING, cents BIGINT)
        RETURN SELECT o_orderkey,
                      substring(o_orderpriority, 1, 1) AS prio,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS cents
               FROM q304_orders
               WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                     > floor_cents
                 AND substring(o_orderpriority, 1, 1) = '1'
        """
    )
    return spark.sql(
        """
        SELECT '30m' AS floor_label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue
        FROM q304_big_orders(3000000)
        UNION ALL
        SELECT '40m', CAST(count(*) AS BIGINT),
               CAST(sum(cents) AS BIGINT) / CAST(100.0 AS DOUBLE)
        FROM q304_big_orders(4000000)
        """
    )


Q304_SQL = """
WITH f AS (
  SELECT o_orderkey, substr(o_orderpriority, 1, 1) AS prio,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  WHERE substr(o_orderpriority, 1, 1) = '1'
)
SELECT '30m' AS floor_label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) / 100.0 AS revenue
FROM f WHERE cents > 3000000
UNION ALL
SELECT '40m', CAST(count(*) AS BIGINT),
       CAST(sum(cents) AS BIGINT) / 100.0
FROM f WHERE cents > 4000000
"""


# ------------------------------------------------------------- q305

NEYMAN_BUDGET = 1000


def q305_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X266: Neyman sampling allocation — survey theory's optimal
    stratified design: sample budget n_h ∝ N_h·σ_h (bigger, more
    variable strata get more samples — proportional allocation is
    optimal only when strata variances are equal). σ_h comes from
    exact integer power sums of order cents per nation; the weights
    N_h·σ_h are compared through their SQUARES (N²·(nΣx²−(Σx)²)/n —
    rational cross-multiplication decides the ORDER), and the final
    integer allocation uses the largest-remainder kernel (X138) over
    integer-scaled weights so the budget conserves exactly. The one
    float is the isqrt-free weight scaling: floor(sqrt) of an exact
    integer (portable per the q208 finding).

    Scale: power sums are one agg; the allocation relation is
    |strata|-sized."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    g = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.expr("c div 100 * (c div 100)")).alias("sqq_dollars"),
        )
    )
    # weight_h = N_h * sigma_h; use integer floor(sqrt(variance in
    # dollar^2 units)) — exact for arguments < 2^52 and portable.
    var_dollars = F.expr(
        "CAST((n * sqq_dollars - (s div 100) * (s div 100)) div (n * n)"
        " AS BIGINT)"
    )
    w = (F.col("n") * F.expr("CAST(FLOOR(SQRT(CAST(_var AS DOUBLE))) AS BIGINT)")).alias("w")
    staged = g.select(
        "c_nationkey", "n", var_dollars.alias("_var")
    ).select("c_nationkey", "n", "_var", w)
    wtot = Window.partitionBy()
    wr = Window.orderBy(F.desc("rem"), F.asc("c_nationkey"))
    alloc = (
        staged.select(
            "c_nationkey",
            "n",
            "w",
            F.sum("w").over(wtot).alias("tw"),
        )
        .select(
            "c_nationkey",
            "n",
            "w",
            F.expr(f"CAST({NEYMAN_BUDGET} * w div tw AS BIGINT)").alias("fl"),
            F.expr(f"CAST({NEYMAN_BUDGET} * w % tw AS BIGINT)").alias("rem"),
        )
        .select(
            "c_nationkey",
            "n",
            "w",
            "fl",
            F.row_number().over(wr).alias("rn"),
            (F.lit(NEYMAN_BUDGET) - F.sum("fl").over(wtot)).alias("left"),
        )
    )
    return alloc.select(
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.col("n").cast("bigint").alias("stratum_size"),
        F.col("w").cast("bigint").alias("neyman_weight"),
        (
            F.col("fl") + F.when(F.col("rn") <= F.col("left"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("samples_allocated"),
    )


Q305_SQL = f"""
WITH g AS (
  SELECT c.c_nationkey, count(*) AS n,
         sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS s,
         sum((CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              // 100)
             * (CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                // 100)) AS sqq_dollars
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey
),
staged AS (
  SELECT c_nationkey, n,
         CAST((n * sqq_dollars - (s // 100) * (s // 100)) // (n * n)
              AS BIGINT) AS _var
  FROM g
),
weighted AS (
  SELECT c_nationkey, n,
         n * CAST(FLOOR(SQRT(CAST(_var AS DOUBLE))) AS BIGINT) AS w
  FROM staged
),
alloc AS (
  SELECT c_nationkey, n, w,
         sum(w) OVER () AS tw
  FROM weighted
),
ranked AS (
  SELECT c_nationkey, n, w,
         CAST({NEYMAN_BUDGET} * w // tw AS BIGINT) AS fl,
         row_number() OVER (ORDER BY CAST({NEYMAN_BUDGET} * w % tw AS BIGINT)
                            DESC, c_nationkey ASC) AS rn,
         {NEYMAN_BUDGET} - sum(CAST({NEYMAN_BUDGET} * w // tw AS BIGINT))
           OVER () AS leftover
  FROM alloc
)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(n AS BIGINT) AS stratum_size,
       CAST(w AS BIGINT) AS neyman_weight,
       CAST(fl + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS samples_allocated
FROM ranked
"""


QUERIES_EXT46 = {
    "q302_wap_publish_gate": q302_wap_publish_gate,
    "q303_sql_udf_parity": q303_sql_udf_parity,
    "q304_sql_table_function": q304_sql_table_function,
    "q305_neyman_allocation": q305_neyman_allocation,
}


def _oracles_ext46() -> dict[str, str]:
    return {
        "q302_wap_publish_gate": Q302_SQL,
        "q303_sql_udf_parity": Q303_SQL,
        "q304_sql_table_function": Q304_SQL,
        "q305_neyman_allocation": Q305_SQL,
    }
