"""Round-5 driver query families, batch 56 (q341-q342): the
df.observe metrics door (in-flight pipeline metrics with no second
pass) and the decontamination EXECUTE round trip (q54's screen
materialized through the snapshot store).

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.operators import corpus
from product_analytics_spark.qcommon import (
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
    spread_by,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q341

OBS_STATUS = "F"


def q341_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine door: ``df.observe`` + ``Observation`` — named metrics
    collected ON the rows flowing through a plan node, with NO second
    pass over the data (the production pattern for row-count/sum
    reconciliation between pipeline stages; a separate count() would
    re-scan). The observed (count, cents-sum) on the filtered relation
    must equal the downstream aggregate's own results — emitted as the
    q155-style in-plan verdicts.

    The one-row collect here is the Observation consumer by
    definition (observe metrics surface driver-side after an action);
    the observed relation itself is never re-scanned.

    Scale: observe compiles to a CollectMetrics node — per-task
    accumulator updates riding the existing scan, aggregated on the
    driver; zero extra jobs, zero extra shuffles at any data size."""
    from pyspark.sql import Observation

    obs = Observation("q341")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == OBS_STATUS)
        .select("o_orderkey", _money_cents("o_totalprice").alias("c"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("c").alias("c_obs"),
        )
    )
    row = o.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("c")
    ).collect()[0]
    m = obs.get
    return local_rows_df(spark, 
        [
            (
                int(row["n"]),
                float(row["c"]) / 100.0,
                int(m["n_obs"]) == int(row["n"]),
                int(m["c_obs"]) == int(row["c"]),
            )
        ],
        "n_orders long, total_value double, count_reconciled boolean, "
        "sum_reconciled boolean",
    )


Q341_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value,
       TRUE AS count_reconciled,
       TRUE AS sum_reconciled
FROM orders WHERE o_orderstatus = '{OBS_STATUS}'
"""


# ------------------------------------------------------------- q342

#: Warehouse dir — inside the repo (harness forbids writing elsewhere).
Q342_WAREHOUSE = os.path.join(_REPO, ".fixtures", ".q342_warehouse")
Q342_NGRAM = 8
Q342_BENCH_SOURCE = "src1"  # q54's stand-in eval set


def q342_decontaminate_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTE half of q54's benchmark-decontamination screen —
    the step a training-data pipeline actually ships: flag every
    training doc sharing an {Q342_NGRAM}-token shingle with the eval
    set, MATERIALIZE the clean corpus through the snapshot store's
    atomic commit (the log's putIfAbsent), and verify the invariants on
    the
    read-back: clean + contaminated partitions the training set, the
    committed corpus row-matches the clean set, and re-screening the
    committed corpus finds ZERO residual contamination (the
    idempotence test a decontamination job must pass).

    Scale: the screen is q54's broadcast semi-join on 8-byte shingle
    hashes (scan-speed); the write is one partitioned overwrite; the
    re-screen reads the committed parquet — three scan-bound passes,
    no pairwise anything."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q342_WAREHOUSE, ignore_errors=True)
    store = SnapshotStore(spark, Q342_WAREHOUSE)
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == Q342_BENCH_SOURCE)
    train = spread_by(d.filter(F.col("source") != Q342_BENCH_SOURCE), "doc_id")
    flagged = corpus.contamination_screen(train, bench, ngram=Q342_NGRAM)
    clean = train.join(flagged.select("doc_id"), "doc_id", "left_anti")
    store.overwrite("clean_corpus", clean.select("doc_id", "lang", "text"))

    committed = store.read("clean_corpus")
    rescreen = corpus.contamination_screen(
        spread_by(committed, "doc_id"),
        bench,
        ngram=Q342_NGRAM,
    )
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was four
    # separate counts; .distinct().agg(count) keeps the exact
    # NULL-inclusive semantics of .distinct().count()).
    pr = combine_single_rows(
        train.agg(F.count(F.lit(1)).alias("__n_train")),
        flagged.select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("__n_flagged")),
        committed.agg(F.count(F.lit(1)).alias("__n_clean")),
        rescreen.select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("__n_residual")),
    ).collect()[0]
    n_train = int(pr["__n_train"])
    n_flagged = int(pr["__n_flagged"])
    n_clean = int(pr["__n_clean"])
    n_residual = int(pr["__n_residual"])
    return local_rows_df(spark, 
        [
            (
                n_train,
                n_flagged,
                n_clean,
                n_clean + n_flagged == n_train,
                n_residual == 0,
            )
        ],
        "n_train long, n_contaminated long, n_clean long, "
        "partition_ok boolean, decontaminated boolean",
    )


def _q342_sql() -> str:
    from product_analytics_spark.driver_queries import _shingle_fold_cte

    return f"""
WITH {_shingle_fold_cte(Q342_NGRAM, extra_cols="source")},
bench AS (SELECT DISTINCT hv FROM shl WHERE source = '{Q342_BENCH_SOURCE}'),
flagged AS (
  SELECT DISTINCT doc_id FROM shl
  WHERE source <> '{Q342_BENCH_SOURCE}' AND hv IN (SELECT hv FROM bench)
),
t AS (SELECT count(*) AS n_train FROM documents
      WHERE source <> '{Q342_BENCH_SOURCE}'),
f AS (SELECT count(*) AS n_flagged FROM flagged)
SELECT CAST(t.n_train AS BIGINT) AS n_train,
       CAST(f.n_flagged AS BIGINT) AS n_contaminated,
       CAST(t.n_train - f.n_flagged AS BIGINT) AS n_clean,
       TRUE AS partition_ok,
       TRUE AS decontaminated
FROM t, f
"""


QUERIES_EXT56 = {
    "q341_observed_metrics": q341_observed_metrics,
    "q342_decontaminate_execute": q342_decontaminate_execute,
}


def _oracles_ext56() -> dict[str, str]:
    return {
        "q341_observed_metrics": Q341_SQL,
        "q342_decontaminate_execute": _q342_sql(),
    }
