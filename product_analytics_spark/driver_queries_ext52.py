"""Round-5 driver query families, batch 52 (q325-q328): bag-semantics
set operations, the GROUP BY ALL / ORDER BY ALL syntax certificate,
temperature-scaled domain mixing (the LLM-corpus sampling allocator),
and a deterministic bootstrap confidence interval.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.operators import text
from product_analytics_spark.qcommon import _hash60_sql, _money_cents, _t, spread_by

# ------------------------------------------------------------- q325


def q325_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-surface INTERSECT ALL / EXCEPT ALL (bag semantics) with
    an in-plan closed-form certificate: the multiset of parts shipped
    by even-keyed suppliers vs odd-keyed suppliers. Bag intersection
    must carry multiplicity min(ca, cb) per value and bag difference
    max(ca - cb, 0) — the certificate recomputes both from one
    two-sided count aggregate and requires the engine's own
    intersectAll/exceptAll to agree value-for-value.

    Scale: bag set ops shuffle once on the row value (hash-partition +
    per-partition counting — Spark plans them as aggregates, never
    sorts); the closed-form side is one conditional count over the
    union, so the certificate costs one extra |distinct values|-sized
    join, not a second pass over the fact table."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    a = li.filter(F.col("l_suppkey") % 2 == 0).select("l_partkey")
    b = li.filter(F.col("l_suppkey") % 2 == 1).select("l_partkey")
    ia = a.intersectAll(b).groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_ia")
    )
    ea = a.exceptAll(b).groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_ea")
    )
    cf = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("l_suppkey") % 2 == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("l_suppkey") % 2 == 1, 1).otherwise(0)).alias("cb"),
        )
        .select(
            "l_partkey",
            F.least("ca", "cb").alias("cf_ia"),
            F.greatest(F.col("ca") - F.col("cb"), F.lit(0)).alias("cf_ea"),
        )
    )
    j = cf.join(ia, "l_partkey", "left").join(ea, "l_partkey", "left").select(
        "l_partkey",
        F.coalesce("n_ia", F.lit(0)).alias("n_ia"),
        F.coalesce("n_ea", F.lit(0)).alias("n_ea"),
        "cf_ia",
        "cf_ea",
    )
    return j.agg(
        F.sum("n_ia").cast("bigint").alias("bag_intersect_rows"),
        F.sum("n_ea").cast("bigint").alias("bag_except_rows"),
        F.min(F.col("n_ia") == F.col("cf_ia")).alias("intersect_all_ok"),
        F.min(F.col("n_ea") == F.col("cf_ea")).alias("except_all_ok"),
    )


Q325_SQL = """
WITH a AS (SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 0),
b AS (SELECT l_partkey FROM lineitem WHERE l_suppkey % 2 = 1),
ia AS (SELECT l_partkey, count(*) AS n_ia
       FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
ea AS (SELECT l_partkey, count(*) AS n_ea
       FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1),
cf AS (
  SELECT l_partkey,
         least(sum(CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE 0 END),
               sum(CASE WHEN l_suppkey % 2 = 1 THEN 1 ELSE 0 END)) AS cf_ia,
         greatest(sum(CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE 0 END)
                  - sum(CASE WHEN l_suppkey % 2 = 1 THEN 1 ELSE 0 END),
                  0) AS cf_ea
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT cf.l_partkey, coalesce(ia.n_ia, 0) AS n_ia,
         coalesce(ea.n_ea, 0) AS n_ea, cf.cf_ia, cf.cf_ea
  FROM cf LEFT JOIN ia ON cf.l_partkey = ia.l_partkey
          LEFT JOIN ea ON cf.l_partkey = ea.l_partkey
)
SELECT CAST(sum(n_ia) AS BIGINT) AS bag_intersect_rows,
       CAST(sum(n_ea) AS BIGINT) AS bag_except_rows,
       bool_and(n_ia = cf_ia) AS intersect_all_ok,
       bool_and(n_ea = cf_ea) AS except_all_ok
FROM j
"""


# ------------------------------------------------------------- q326

# The SAME SQL text runs on both engines — GROUP BY ALL / ORDER BY ALL
# are resolved identically (non-aggregate select items group; output
# columns order). Cents arithmetic keeps it exact.
Q326_SQL = """
SELECT year(CAST(o_orderdate AS TIMESTAMP)) AS order_year,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) / CAST(100.0 AS DOUBLE) AS revenue
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


def q326_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-surface GROUP BY ALL + ORDER BY ALL (the analyst
    shorthand both Spark 4 and DuckDB resolve by the same rule:
    non-aggregate select items become the grouping key; ORDER BY ALL
    orders by every output column left-to-right). The ONE SQL text is
    submitted verbatim to BOTH engines — the strongest conformance
    form this suite has (no per-engine translation at all).

    Scale: resolves to a plain 2-key grouped agg — map-side combine,
    one shuffle; the ORDER BY is |groups|-sized."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(Q326_SQL)


# ------------------------------------------------------------- q327

MIXTURE_BUDGET = 10_000


def q327_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain-mixture allocation — the sampling
    table every multilingual/multi-domain LLM corpus is built from
    (the p_d ∝ n_d^α rule): for α ∈ {0, ½, 1} allocate a fixed sample
    budget across language domains by largest-remainder rounding
    (Hamilton's method), so allocations are INTEGERS that sum exactly
    to the budget. α=1 is proportional sampling, α=0 uniform, α=½ the
    up-weighting of small domains used in practice.

    Everything is integer-exact: the α=½ weight is floor(sqrt(n_d))
    (portable for n < 2^52 — the engine-exactness note in SCALE.md),
    quota = budget·s_d div S, remainders rank by (budget·s_d mod S)
    descending with lang as the deterministic tie-break. No float pow
    anywhere — Math.pow bit-drift is exactly what this formulation
    avoids cross-engine.

    Scale: |domains| rows after one count agg; the allocator is a
    window over that tiny relation."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = None
    for alpha_tag, s_expr in (
        ("a0", F.lit(1).cast("long")),
        ("a05", F.floor(F.sqrt(F.col("n").cast("double"))).cast("long")),
        ("a1", F.col("n").cast("long")),
    ):
        w = Window.partitionBy()
        base = d.select("lang", "n", s_expr.alias("s")).withColumn(
            "S", F.sum("s").over(w)
        )
        quota = base.select(
            "lang",
            "n",
            F.lit(alpha_tag).alias("alpha"),
            F.expr(f"({MIXTURE_BUDGET} * s) div S").alias("base_alloc"),
            F.expr(f"({MIXTURE_BUDGET} * s) % S").alias("rem"),
            (F.lit(MIXTURE_BUDGET) - F.sum(F.expr(f"({MIXTURE_BUDGET} * s) div S")).over(w)).alias("leftover"),
        )
        wr = Window.partitionBy().orderBy(F.desc("rem"), F.asc("lang"))
        alloc = quota.withColumn("rk", F.row_number().over(wr)).select(
            "alpha",
            "lang",
            "n",
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).cast("bigint").alias("alloc"),
        )
        out = alloc if out is None else out.unionAll(alloc)
    return out


def _q327_sql() -> str:
    def leg(tag: str, s: str) -> str:
        return f"""
SELECT '{tag}' AS alpha, lang, n,
       CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM (
  SELECT lang, n,
         ({MIXTURE_BUDGET} * s) // S AS base_alloc,
         {MIXTURE_BUDGET} - sum(({MIXTURE_BUDGET} * s) // S) OVER () AS leftover,
         row_number() OVER (ORDER BY ({MIXTURE_BUDGET} * s) % S DESC, lang ASC)
           AS rk
  FROM (SELECT lang, n, {s} AS s, sum({s}) OVER () AS S FROM d)
)"""

    return f"""
WITH d AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1)
{leg('a0', 'CAST(1 AS BIGINT)')}
UNION ALL
{leg('a05', 'CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)')}
UNION ALL
{leg('a1', 'CAST(n AS BIGINT)')}
"""


# ------------------------------------------------------------- q328

BOOT_B = 201  # replicates (odd, so CI ranks are exact elements)
BOOT_M = 501  # draws per replicate (odd, so each median is exact)
BOOT_LO_RANK, BOOT_HI_RANK = 6, 196  # 2.5% / 97.5% of 201, 1-indexed


def q328_bootstrap_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bootstrap CI for the median of daily revenue —
    the uncertainty band a metrics platform attaches to a point
    estimate. Every draw is reproducible: replicate b's i-th draw is
    daily row 1 + hash60(b':'i) mod n (the suite's portable md5 hash),
    so both engines resample the IDENTICAL multiset. m-out-of-n
    bootstrap with odd m={BOOT_M} and odd B={BOOT_B}: each replicate
    median is an exact array element (no interpolation), and the CI
    bounds are exact order statistics (ranks {BOOT_LO_RANK}/{BOOT_HI_RANK}
    of {BOOT_B}) — integer cents end-to-end, one division to dollars at
    output.

    Scale: the resample grid is B·m ≈ 100k rows joined against the
    |days|-sized AGGREGATE (broadcast) — bootstrap at 100 TB never
    touches raw rows twice; it resamples the small daily rollup."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_money_cents("o_totalprice")).alias("c"))
    )
    from pyspark.sql import Window

    idx = daily.select(
        F.row_number().over(Window.partitionBy().orderBy("day")).alias("idx"),
        "c",
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    # The B*M draw grid EXPLODES out of the one idx row that carries n
    # (no 1-row cross join — that would plan as the banned
    # BroadcastNestedLoopJoin); repartition spreads the generated grid
    # before the hash/median work.
    grid = (
        idx.filter(F.col("idx") == 1)
        .select("n", F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"))
        .select(
            "n", "b", F.explode(F.sequence(F.lit(1), F.lit(BOOT_M))).alias("i")
        )
    )
    draws = (
        spread_by(grid, "b")
        .select(
            "b",
            (
                text.portable_hash60(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                )
                % F.col("n")
                + 1
            ).alias("idx"),
        )
    )
    sampled = draws.join(F.broadcast(idx.select("idx", "c")), "idx")
    med_rank = (BOOT_M + 1) // 2
    wmed = Window.partitionBy("b").orderBy("c", "idx")
    med = (
        sampled.withColumn("rk", F.row_number().over(wmed))
        .filter(F.col("rk") == med_rank)
        .select("b", F.col("c").alias("med"))
    )
    wb = Window.partitionBy().orderBy("med", "b")
    ranked = med.withColumn("rk", F.row_number().over(wb))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        (F.min(F.when(F.col("rk") == BOOT_LO_RANK, F.col("med"))) / 100.0).alias("ci_lo"),
        (F.min(F.when(F.col("rk") == BOOT_HI_RANK, F.col("med"))) / 100.0).alias("ci_hi"),
    )


def _q328_sql() -> str:
    med_rank = (BOOT_M + 1) // 2
    return f"""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS day,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
  FROM orders GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY day) AS idx, c,
         count(*) OVER () AS n
  FROM daily
),
grid AS (
  -- column named "dw", NOT "i": _hash60_sql's hex-parse lambda binds
  -- an "i" of its own, which would shadow (and constant-fold) ours.
  SELECT bb.b, dw.dw FROM
    (SELECT unnest(generate_series(1, {BOOT_B})) AS b) bb,
    (SELECT unnest(generate_series(1, {BOOT_M})) AS dw) dw
),
draws AS (
  SELECT b,
         {_hash60_sql("CAST(b AS VARCHAR) || ':' || CAST(dw AS VARCHAR)")}
           % (SELECT max(n) FROM idx) + 1 AS idx
  FROM grid
),
sampled AS (SELECT d.b, i.idx, i.c FROM draws d JOIN idx i ON d.idx = i.idx),
med AS (
  SELECT b, c AS med FROM (
    SELECT b, c, idx, row_number() OVER (PARTITION BY b ORDER BY c, idx) AS rk
    FROM sampled
  ) WHERE rk = {med_rank}
),
ranked AS (
  SELECT med, row_number() OVER (ORDER BY med, b) AS rk FROM med
)
SELECT CAST(count(*) AS BIGINT) AS n_replicates,
       min(CASE WHEN rk = {BOOT_LO_RANK} THEN med END) / 100.0 AS ci_lo,
       min(CASE WHEN rk = {BOOT_HI_RANK} THEN med END) / 100.0 AS ci_hi
FROM ranked
"""


QUERIES_EXT52 = {
    "q325_bag_set_ops": q325_bag_set_ops,
    "q326_group_by_all": q326_group_by_all,
    "q327_temperature_mixture": q327_temperature_mixture,
    "q328_bootstrap_median_ci": q328_bootstrap_median_ci,
}


def _oracles_ext52() -> dict[str, str]:
    return {
        "q325_bag_set_ops": Q325_SQL,
        "q326_group_by_all": Q326_SQL,
        "q327_temperature_mixture": _q327_sql(),
        "q328_bootstrap_median_ci": _q328_sql(),
    }
