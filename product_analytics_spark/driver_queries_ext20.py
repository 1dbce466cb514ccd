"""Round-3 driver query families, batch 20 (q206): dedup-method
evaluation — MinHash signature ESTIMATE vs exact-Jaccard VERIFY on
the same shingle universe.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _t, spread_by

# ------------------------------------------------------------- q206

EVAL_THRESHOLD = 0.5


def q206_dedup_method_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method evaluation — closes the loop between X2 (MinHash
    signature estimate, 8-band candidates) and the exact side (X2's
    exact-Jaccard verify, 16-band candidates): both pipelines share
    the SAME 3-gram shingle-hash universe, so their disagreement at
    the 0.5 threshold is exactly (estimator noise + banding recall),
    the two quantities a production dedup pipeline must budget. The
    readout is the confusion summary: true/predicted pair counts,
    TP/FP/FN, precision/recall (exact-count double divisions). This
    is the promote-to-production gate for any cheaper dedup method —
    the q134/q155 evaluation pattern applied to X2.

    Scale: both sides inherit their operators' banded economics; the
    comparison itself is a full outer join on 16-byte pair keys over
    relations sized by |near-dup pairs|, not corpus size."""
    from product_analytics_spark.operators import text as tx

    d = spread_by(_t(spark, sf_dir, "documents"), "doc_id")
    pred = tx.minhash_near_dup_pairs(d, threshold=EVAL_THRESHOLD).select(
        "id_a", "id_b", F.lit(True).alias("in_pred")
    )
    truth = (
        tx.jaccard_near_dup_pairs(d, threshold=0.4)
        .filter(F.col("jaccard") >= EVAL_THRESHOLD)
        .select("id_a", "id_b", F.lit(True).alias("in_truth"))
    )
    j = pred.join(truth, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_pred", F.lit(False)).alias("p"),
        F.coalesce("in_truth", F.lit(False)).alias("t"),
    )
    out = j.agg(
        F.sum(F.when(F.col("t"), 1).otherwise(0)).cast("bigint").alias("n_truth"),
        F.sum(F.when(F.col("p"), 1).otherwise(0)).cast("bigint").alias("n_pred"),
        F.sum(F.when(F.col("p") & F.col("t"), 1).otherwise(0)).cast("bigint").alias("n_tp"),
        F.sum(F.when(F.col("p") & ~F.col("t"), 1).otherwise(0)).cast("bigint").alias("n_fp"),
        F.sum(F.when(~F.col("p") & F.col("t"), 1).otherwise(0)).cast("bigint").alias("n_fn"),
    )
    return out.select(
        "n_truth",
        "n_pred",
        "n_tp",
        "n_fp",
        "n_fn",
        (F.col("n_tp").cast("double") / F.col("n_pred")).alias("precision"),
        (F.col("n_tp").cast("double") / F.col("n_truth")).alias("recall"),
    )


def _q206_sql() -> str:
    # late import (same note as ext14's _q192_sql)
    from product_analytics_spark.driver_queries import _q20_sql, _q26_sql

    return f"""
WITH pred AS ({_q20_sql(threshold=EVAL_THRESHOLD)}),
truth AS (
  SELECT id_a, id_b FROM ({_q26_sql()}) WHERE jaccard >= {EVAL_THRESHOLD}
),
j AS (
  SELECT coalesce(p.id_a, t.id_a) AS id_a,
         coalesce(p.id_b, t.id_b) AS id_b,
         p.id_a IS NOT NULL AS in_pred,
         t.id_a IS NOT NULL AS in_truth
  FROM pred p FULL OUTER JOIN truth t ON p.id_a = t.id_a AND p.id_b = t.id_b
),
c AS (
  SELECT CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
         CAST(sum(CASE WHEN in_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
         CAST(sum(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
         CAST(sum(CASE WHEN in_pred AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
         CAST(sum(CASE WHEN NOT in_pred AND in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_fn
  FROM j
)
SELECT n_truth, n_pred, n_tp, n_fp, n_fn,
       CAST(n_tp AS DOUBLE) / n_pred AS precision,
       CAST(n_tp AS DOUBLE) / n_truth AS recall
FROM c
"""


QUERIES_EXT20 = {
    "q206_dedup_method_eval": q206_dedup_method_eval,
}


def _oracles_ext20() -> dict[str, str]:
    return {"q206_dedup_method_eval": _q206_sql()}
