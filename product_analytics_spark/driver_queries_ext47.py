"""Round-4 driver query families, batch 47 (q306-q309): snapshot
churn-rate via time travel, Luhn checksum validation, int8-quantized
k-means inertia, and Laspeyres/Paasche/Fisher price indices.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _t, local_rows_df

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q306

Q306_WH = os.path.join(_REPO, ".fixtures", ".q306_warehouse")
CHURN_MODS = (23, 17)  # keys touched in update cycles 1 and 2


def q306_snapshot_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X267: snapshot churn rate — the table-history metric that
    DECIDES incremental strategy: three successive versions of a keyed
    rollup land in the store (base, then two deterministic update
    cycles touching every {CHURN_MODS[0]}th / {CHURN_MODS[1]}th key),
    and each version step's churn (changed + added rows over total) is
    computed by reading BOTH versions back through the store's time
    travel (q111's mechanism put to analytical work). High churn says
    copy-on-write / full refresh; low churn says merge-on-read /
    incremental — q290's cost model consumes exactly this number.

    Scale: churn diffs are key equi-joins over the two version dirs;
    retention makes them available without any extra bookkeeping."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q306_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q306_WH, retain_versions=3)

    base = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            ).alias("cents")
        )
    )
    store.overwrite("churn_tbl", base)
    v1 = base.withColumn(
        "cents",
        F.when(
            F.col("o_custkey") % CHURN_MODS[0] == 0, F.col("cents") + 100
        ).otherwise(F.col("cents")),
    )
    store.overwrite("churn_tbl", v1)
    v2 = v1.withColumn(
        "cents",
        F.when(
            F.col("o_custkey") % CHURN_MODS[1] == 0, F.col("cents") + 100
        ).otherwise(F.col("cents")),
    )
    store.overwrite("churn_tbl", v2)

    out = []
    vs = store.versions("churn_tbl")
    for step in (1, 2):
        prev = store.read("churn_tbl", version=vs[step - 1])
        cur = store.read("churn_tbl", version=vs[step])
        j = cur.alias("c").join(
            prev.alias("p"),
            F.col("c.o_custkey") == F.col("p.o_custkey"),
            "left",
        )
        row = j.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.when(
                    F.col("p.o_custkey").isNull()
                    | (F.col("c.cents") != F.col("p.cents")),
                    1,
                ).otherwise(0)
            ).alias("churned"),
        ).collect()[0]
        out.append((step, int(row["rows"]), int(row["churned"])))
    return local_rows_df(spark, 
        out, "version_step int, n_rows bigint, churned_rows bigint"
    ).select(
        "version_step",
        "n_rows",
        "churned_rows",
        (F.col("churned_rows") / F.col("n_rows").cast("double")).alias(
            "churn_rate"
        ),
    )


def _q306_sql() -> str:
    m1, m2 = CHURN_MODS
    return f"""
WITH base AS (SELECT DISTINCT o_custkey FROM orders),
n AS (SELECT count(*) AS rows FROM base),
c1 AS (
  SELECT count(*) AS ch FROM base WHERE o_custkey % {m1} = 0
),
c2 AS (
  SELECT count(*) AS ch FROM base WHERE o_custkey % {m2} = 0
)
SELECT 1 AS version_step, CAST(n.rows AS BIGINT) AS n_rows,
       CAST(c1.ch AS BIGINT) AS churned_rows,
       c1.ch / CAST(n.rows AS DOUBLE) AS churn_rate
FROM n, c1
UNION ALL
SELECT 2, CAST(n.rows AS BIGINT), CAST(c2.ch AS BIGINT),
       c2.ch / CAST(n.rows AS DOUBLE)
FROM n, c2
"""


# ------------------------------------------------------------- q307


def q307_luhn_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X268: Luhn checksum validation — the classic account/card
    check-digit algorithm as pure SQL over a synthesized 12-digit
    account number per customer (key zero-padded; deterministic, so
    both engines derive identical inputs): double every second digit
    from the right, subtract 9 above 9, valid iff the total ≡ 0
    (mod 10). The digit walk is a fold over the fixed 12 positions —
    unrolled into a sum of 12 portable expressions (no HOF dialect
    risk), all integer. Emits the per-last-digit validity profile —
    exactly 1 in 10 synthetic accounts passes, the structural
    property the checksum exists to provide.

    Scale: map-side arithmetic at scan speed — validation costs
    nothing; the profile agg is 10 rows."""
    terms = []
    for pos in range(12):  # pos 0 = rightmost digit
        digit = f"CAST(substring(acct, {12 - pos}, 1) AS BIGINT)"
        if pos % 2 == 1:  # doubled positions (2nd from right, ...)
            terms.append(
                f"(CASE WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 "
                f"ELSE {digit} * 2 END)"
            )
        else:
            terms.append(digit)
    total = " + ".join(terms)
    c = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "lpad(CAST(c_custkey AS STRING), 12, '0') AS acct"
    )
    flagged = c.selectExpr(
        "c_custkey",
        "acct",
        f"({total}) % 10 = 0 AS luhn_valid",
        "CAST(substring(acct, 12, 1) AS BIGINT) AS last_digit",
    )
    return flagged.groupBy("last_digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_accounts"),
        F.sum(F.when(F.col("luhn_valid"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_valid"),
    )


def _q307_sql() -> str:
    terms = []
    for pos in range(12):
        digit = f"CAST(substring(acct, {12 - pos}, 1) AS BIGINT)"
        if pos % 2 == 1:
            terms.append(
                f"(CASE WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 "
                f"ELSE {digit} * 2 END)"
            )
        else:
            terms.append(digit)
    total = " + ".join(terms)
    return f"""
WITH c AS (
  SELECT c_custkey, lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS acct
  FROM customer
),
flagged AS (
  SELECT c_custkey, acct,
         ({total}) % 10 = 0 AS luhn_valid,
         CAST(substring(acct, 12, 1) AS BIGINT) AS last_digit
  FROM c
)
SELECT last_digit,
       CAST(count(*) AS BIGINT) AS n_accounts,
       CAST(sum(CASE WHEN luhn_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
FROM flagged GROUP BY last_digit
"""


# ------------------------------------------------------------- q308

INERTIA_CELLS = 4
INERTIA_SCALE = 127


def q308_quantized_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X269: int8-quantized k-means inertia — clustering QUALITY
    measured exactly: embeddings quantize to int8 (X104's grid:
    round(x·{INERTIA_SCALE}) clamped), a fixed {INERTIA_CELLS}-cell
    codebook derives deterministically from the first vectors of each
    label stratum... simplified here to dimension-sliced axis
    centroids (the codebook is data-independent: cell c's centroid is
    +/-64 on alternating dimensions — fixed integers both engines
    regenerate), and each vector's assignment + squared distance are
    EXACT INTEGER arithmetic — so inertia, the float-fragile metric
    (millions of float squares summed), becomes an order-free BIGINT
    sum. Emits per-cell counts and inertia, the elbow-curve point.

    Scale: assignment is a map-side argmin over {INERTIA_CELLS}
    expressions; inertia is one agg — and exact integers make the
    metric reproducible across any partitioning, which float inertia
    is not."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(greatest(least(round(x * "
            f"{INERTIA_SCALE}), {INERTIA_SCALE}), -{INERTIA_SCALE}) AS BIGINT))"
        ).alias("q"),
    )
    # Fixed codebook: cell c has +64 on dims where (dim+c) % INERTIA_CELLS
    # == 0, else -16 — deterministic integers, regenerated identically
    # in the oracle.
    dists = []
    for cell in range(INERTIA_CELLS):
        cent = (
            f"transform(sequence(0, size(q) - 1), "
            f"i -> CASE WHEN (i + {cell}) % {INERTIA_CELLS} = 0 "
            f"THEN CAST(64 AS BIGINT) ELSE CAST(-16 AS BIGINT) END)"
        )
        dists.append(
            f"aggregate(zip_with(q, {cent}, (a, b) -> (a - b) * (a - b)), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
    darr = ", ".join(dists)
    staged = e.selectExpr(
        "vec_id", f"array({darr}) AS dists"
    ).selectExpr(
        "vec_id",
        "array_position(dists, array_min(dists)) - 1 AS cell",
        "array_min(dists) AS d2",
    )
    return staged.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("d2").cast("bigint").alias("inertia"),
    ).select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_vectors",
        "inertia",
    )


def _q308_sql() -> str:
    dists = []
    for cell in range(INERTIA_CELLS):
        dists.append(
            f"list_sum(list_transform(generate_series(1, len(q)), "
            f"i -> (q[CAST(i AS INT)] - (CASE WHEN (i - 1 + {cell}) % "
            f"{INERTIA_CELLS} = 0 THEN 64 ELSE -16 END)) "
            f"* (q[CAST(i AS INT)] - (CASE WHEN (i - 1 + {cell}) % "
            f"{INERTIA_CELLS} = 0 THEN 64 ELSE -16 END))))"
        )
    darr = ", ".join(dists)
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(greatest(least(round(x *
           {INERTIA_SCALE}), {INERTIA_SCALE}), -{INERTIA_SCALE}) AS BIGINT))
           AS q
  FROM embeddings
),
staged AS (
  SELECT vec_id, [{darr}] AS dists FROM e
),
assigned AS (
  SELECT vec_id,
         list_position(dists, list_min(dists)) - 1 AS cell,
         list_min(dists) AS d2
  FROM staged
)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(d2) AS BIGINT) AS inertia
FROM assigned GROUP BY cell
"""


# ------------------------------------------------------------- q309

IDX_Y0, IDX_Y1 = 1996, 1997


def q309_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X270: Laspeyres / Paasche / Fisher price indices — the
    economics-canon aggregation q233's PVM bridge is built on:
    per-part average prices and quantities for two years (prices in
    fixed-point integers, q233's discipline), then
      Laspeyres = Σp₁q₀ / Σp₀q₀   (base-period basket)
      Paasche   = Σp₁q₁ / Σp₀q₁   (current basket)
      Fisher    = √(L·P)          (the geometric compromise)
    over the parts present in BOTH years. Every Σ is an exact BIGINT
    of price-units × quantity; L and P are one double division each,
    Fisher one exactly-rounded sqrt — the whole index is engine- and
    partitioning-exact.

    Scale: one (part, year) agg + one two-year join over |parts|
    rows; the index is a 1-row fold."""
    from product_analytics_spark.driver_queries_ext33 import _CENTS, _QTY

    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "year(l_shipdate) AS yr",
        f"{_CENTS} AS cents",
        f"{_QTY} AS qty",
    ).filter(F.col("yr").isin(IDX_Y0, IDX_Y1))
    g = li.groupBy("l_partkey", "yr").agg(
        F.sum("cents").alias("r"), F.sum("qty").alias("q")
    ).withColumn("p_fp", F.expr("CAST(r * 1000 div q AS BIGINT)"))
    a = g.filter(F.col("yr") == IDX_Y0).select(
        "l_partkey", F.col("p_fp").alias("p0"), F.col("q").alias("q0")
    )
    b = g.filter(F.col("yr") == IDX_Y1).select(
        "l_partkey", F.col("p_fp").alias("p1"), F.col("q").alias("q1")
    )
    j = a.join(b, "l_partkey")
    folded = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(F.expr("p1 * q0")).alias("l_num"),
        F.sum(F.expr("p0 * q0")).alias("l_den"),
        F.sum(F.expr("p1 * q1")).alias("p_num"),
        F.sum(F.expr("p0 * q1")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den").cast("double")
    paas = F.col("p_num") / F.col("p_den").cast("double")
    return folded.select(
        "n_parts",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
        F.sqrt(lasp * paas).alias("fisher"),
    )


def _q309_sql() -> str:
    from product_analytics_spark.driver_queries_ext33 import _CENTS, _QTY

    return f"""
WITH li AS (
  SELECT l_partkey, year(CAST(l_shipdate AS TIMESTAMP)) AS yr,
         {_CENTS} AS cents, {_QTY} AS qty
  FROM lineitem
  WHERE year(CAST(l_shipdate AS TIMESTAMP)) IN ({IDX_Y0}, {IDX_Y1})
),
g AS (
  SELECT l_partkey, yr, sum(cents) AS r, sum(qty) AS q,
         CAST(sum(cents) * 1000 // sum(qty) AS BIGINT) AS p_fp
  FROM li GROUP BY 1, 2
),
j AS (
  SELECT a.l_partkey, a.p_fp AS p0, a.q AS q0, b.p_fp AS p1, b.q AS q1
  FROM (SELECT * FROM g WHERE yr = {IDX_Y0}) a
  JOIN (SELECT * FROM g WHERE yr = {IDX_Y1}) b
    ON b.l_partkey = a.l_partkey
),
folded AS (
  SELECT count(*) AS n_parts,
         sum(p1 * q0) AS l_num, sum(p0 * q0) AS l_den,
         sum(p1 * q1) AS p_num, sum(p0 * q1) AS p_den
  FROM j
)
SELECT CAST(n_parts AS BIGINT) AS n_parts,
       l_num / CAST(l_den AS DOUBLE) AS laspeyres,
       p_num / CAST(p_den AS DOUBLE) AS paasche,
       sqrt((l_num / CAST(l_den AS DOUBLE))
            * (p_num / CAST(p_den AS DOUBLE))) AS fisher
FROM folded
"""


QUERIES_EXT47 = {
    "q306_snapshot_churn": q306_snapshot_churn,
    "q307_luhn_validation": q307_luhn_validation,
    "q308_quantized_inertia": q308_quantized_inertia,
    "q309_price_indices": q309_price_indices,
}


def _oracles_ext47() -> dict[str, str]:
    return {
        "q306_snapshot_churn": _q306_sql(),
        "q307_luhn_validation": _q307_sql(),
        "q308_quantized_inertia": _q308_sql(),
        "q309_price_indices": _q309_sql(),
    }
