"""Round-4 driver query families, batch 39 (q274-q277): closed-form
business-day arithmetic, dedup threshold sensitivity, storage-tier
lifecycle simulation, and dup-cluster size distribution.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.operators import text
from product_analytics_spark.qcommon import _t, spread_by

# ------------------------------------------------------------- q274

# Monday of the epoch week used as the weekday anchor: 1992-01-06.
BD_ANCHOR = "1992-01-06"


def q274_business_day_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X235: business-day arithmetic in CLOSED FORM — no calendar
    table, no explode: business days between two dates =
    5·(full weeks) + weekday-remainder adjustment, all from integer
    day-numbers relative to a Monday anchor. The classic implementation
    generates a calendar spine and joins (an O(span) blowup per row);
    the closed form is O(1) per row and engine-exact. Applied to
    order → last-ship lead times: per priority, average business-day
    lead and the histogram of calendar-vs-business-day inflation.

    Formula (m = monday-anchored day number, a ≤ b):
      f(m) = 5·(m div 7) + min(m mod 7, 5)   (business days in [anchor, m))
      bd(a,b) = f(mb) − f(ma)
    — the min() caps each partial week at its 5 weekdays.

    Scale: pure map-side expressions over one joined relation; the
    rollup is |priorities|-sized."""
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("ship")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("odate"),
        F.substring("o_orderpriority", 1, 1).alias("prio"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "prio",
        F.datediff("odate", F.lit(BD_ANCHOR).cast("date")).alias("ma"),
        F.greatest(
            F.datediff("ship", F.lit(BD_ANCHOR).cast("date")),
            F.datediff("odate", F.lit(BD_ANCHOR).cast("date")),
        ).alias("mb"),
    )
    bd = F.expr(
        "5 * (CAST(mb div 7 AS BIGINT) - CAST(ma div 7 AS BIGINT))"
        " + least(CAST(mb % 7 AS BIGINT), 5)"
        " - least(CAST(ma % 7 AS BIGINT), 5)"
    )
    staged = j.select(
        "prio",
        (F.col("mb") - F.col("ma")).cast("bigint").alias("cal_days"),
        bd.cast("bigint").alias("bus_days"),
    )
    return staged.groupBy("prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cal_days").cast("bigint").alias("sum_cal_days"),
        F.sum("bus_days").cast("bigint").alias("sum_bus_days"),
        (F.sum("bus_days") / F.count(F.lit(1)).cast("double")).alias(
            "avg_bus_days"
        ),
        (
            F.sum("cal_days") / F.sum("bus_days").cast("double")
        ).alias("calendar_inflation"),
    )


Q274_SQL = f"""
WITH li AS (
  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS ship
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT substr(o.o_orderpriority, 1, 1) AS prio,
         CAST(CAST(o.o_orderdate AS DATE) - DATE '{BD_ANCHOR}' AS BIGINT)
           AS ma,
         greatest(CAST(li.ship - DATE '{BD_ANCHOR}' AS BIGINT),
                  CAST(CAST(o.o_orderdate AS DATE) - DATE '{BD_ANCHOR}'
                       AS BIGINT)) AS mb
  FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
),
staged AS (
  SELECT prio,
         CAST(mb - ma AS BIGINT) AS cal_days,
         CAST(5 * (mb // 7 - ma // 7)
              + least(mb % 7, 5) - least(ma % 7, 5) AS BIGINT) AS bus_days
  FROM j
)
SELECT prio,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cal_days) AS BIGINT) AS sum_cal_days,
       CAST(sum(bus_days) AS BIGINT) AS sum_bus_days,
       CAST(sum(bus_days) AS BIGINT) / CAST(count(*) AS DOUBLE)
         AS avg_bus_days,
       CAST(sum(cal_days) AS BIGINT) / CAST(sum(bus_days) AS DOUBLE)
         AS calendar_inflation
FROM staged GROUP BY prio
"""


# ------------------------------------------------------------- q275

DEDUP_THRESHOLDS = (30, 50, 70)  # Jaccard % cut points


def q275_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X236: dedup threshold sensitivity sweep — the tuning run a
    production dedup owns BEFORE fixing its threshold: exact shingle
    Jaccard evaluated at {DEDUP_THRESHOLDS}% cut points in ONE pass
    (conditional counts per threshold — no re-join per setting) over
    the MinHash-BAND candidate pairs of the production q26 kernel
    (operators/text.py:jaccard_band_candidates_iu). Emits, per
    threshold: surviving pairs and the chars pair-level dedup would
    reclaim (smaller endpoint per pair) — the yield-vs-aggressiveness
    curve that decides the setting.

    Why band candidates (round-5 re-key): the previous candidate
    generator explode-joined on hashed (lang, tok1, trigram) — a
    content-derived key whose biggest posting list ("the"-type grams)
    grows LINEARLY with the corpus, making the within-block self-join
    quadratic at scale (the exact skew q26's round-2 fix documents).
    Band buckets only collect docs whose MinHash rows agree, so bucket
    population tracks duplicate-cluster size, not corpus size. The
    sweep now prices thresholds over the pairs the production blocking
    actually emits — which is the operationally honest question (band
    recall at jaccard j is 1-(1-j^2)^16: ~0.79 at j=0.30, ~0.99 at
    j=0.50, ~1.0 at j=0.70; the DuckDB oracle reproduces the identical
    banding so both engines see the same candidate set).

    Threshold verdicts compare by integer cross-multiplication
    (|∩|·100 ≥ t·|∪|) — engine-exact, no float thresholds.

    Scale: candidate generation is the band kernel (never all-pairs,
    no corpus-linear block); the sweep adds only conditional
    aggregates over one candidate relation; doc metadata joins in by
    broadcast."""
    d = spread_by(_t(spark, sf_dir, "documents"), "doc_id")
    iu = text.jaccard_band_candidates_iu(d)
    meta_a = d.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("ca"))
    meta_b = d.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("cb"))
    pairs = (
        iu.join(F.broadcast(meta_a), "id_a")
        .join(F.broadcast(meta_b), "id_b")
        .select("id_a", "id_b", F.least("ca", "cb").alias("min_chars"), "i", "u")
    )
    aggs = []
    for t in DEDUP_THRESHOLDS:
        hit = F.col("i") * 100 >= F.lit(t) * F.col("u")
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias(f"pairs_t{t}"),
            F.sum(F.when(hit, F.col("min_chars")).otherwise(0))
            .cast("bigint")
            .alias(f"reclaim_chars_t{t}"),
        ]
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("candidate_pairs"), *aggs
    )


def _q275_sql(num_hashes: int = 32, bands: int = 16) -> str:
    """Oracle for q275: the identical MinHash banding as _q26_sql
    (portable md5-based hashing), then the threshold sweep by integer
    cross-multiplication over exact set intersections/unions."""
    from product_analytics_spark.driver_queries import _shingle_fold_cte

    p = text.P31
    a_s, b_s = text.minhash_salts(num_hashes)
    rpb = num_hashes // bands
    sig_cols = ", ".join(
        f"min(({a_s[i]} * hv + {b_s[i]}) % {p}) AS s{i}" for i in range(num_hashes)
    )

    def band_expr(b: int) -> str:
        acc = f"CAST({b} AS BIGINT)"
        for r in range(rpb):
            acc = f"(({acc}) * {text.BAND_FOLD_A} + s{b * rpb + r}) % {p}"
        return acc

    bands_sql = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, {band_expr(b)} AS bh FROM sig"
        for b in range(bands)
    )
    cols = []
    for t in DEDUP_THRESHOLDS:
        cols.append(
            f"CAST(sum(CASE WHEN i * 100 >= {t} * u THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS pairs_t{t}"
        )
        cols.append(
            f"CAST(sum(CASE WHEN i * 100 >= {t} * u THEN min_chars ELSE 0 END)"
            f" AS BIGINT) AS reclaim_chars_t{t}"
        )
    return f"""
WITH {_shingle_fold_cte(3)},
sets AS (SELECT doc_id, list(DISTINCT hv) AS hs FROM shl GROUP BY doc_id),
sig AS (SELECT doc_id, {sig_cols} FROM shl GROUP BY doc_id),
bands AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT cand.id_a, cand.id_b,
         least(da.n_chars, db.n_chars) AS min_chars,
         len(list_intersect(sa.hs, sb.hs)) AS i,
         len(list_distinct(list_concat(sa.hs, sb.hs))) AS u
  FROM cand
  JOIN sets sa ON cand.id_a = sa.doc_id
  JOIN sets sb ON cand.id_b = sb.doc_id
  JOIN documents da ON cand.id_a = da.doc_id
  JOIN documents db ON cand.id_b = db.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS candidate_pairs, {', '.join(cols)}
FROM pairs
"""


# ------------------------------------------------------------- q276

TIER_HOT_DAYS, TIER_WARM_DAYS = 365, 1095
TIER_ASOF = "2001-12-31"
ROW_BYTES = 64  # modeled bytes per lineitem row


def q276_storage_tiering_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X237: storage-tier lifecycle (ILM) simulation — the
    hot/warm/cold placement run an object-store lifecycle policy
    executes: each part's data ages by its LAST activity (max ship
    date); rows land in HOT (< {TIER_HOT_DAYS} days before the as-of),
    WARM (< {TIER_WARM_DAYS}) or COLD. Emits per tier: parts, rows,
    modeled bytes, and the monthly storage-cost index under a
    3/2/1-weight price model (integer arithmetic; the decision
    numbers a tiering policy is priced by).

    Scale: one part-keyed agg for recency + one broadcast-back over
    the fact count; at 100 TB the mover consumes this plan per
    partition, and the tier column becomes the partition prefix."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.to_date("l_shipdate").alias("sd")
    )
    per_part = li.groupBy("l_partkey").agg(
        F.max("sd").alias("last_active"), F.count(F.lit(1)).alias("n_rows")
    )
    age = F.datediff(F.lit(TIER_ASOF).cast("date"), F.col("last_active"))
    tiered = per_part.select(
        "n_rows",
        F.when(age < TIER_HOT_DAYS, F.lit("hot"))
        .when(age < TIER_WARM_DAYS, F.lit("warm"))
        .otherwise(F.lit("cold"))
        .alias("tier"),
    )
    price = F.when(F.col("tier") == "hot", 3).when(
        F.col("tier") == "warm", 2
    ).otherwise(1)
    return tiered.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        (F.sum("n_rows") * ROW_BYTES).cast("bigint").alias("bytes_modeled"),
    ).select(
        "tier",
        "n_parts",
        "n_rows",
        "bytes_modeled",
        (F.col("bytes_modeled") * price).cast("bigint").alias("cost_index"),
    )


Q276_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, max(CAST(l_shipdate AS DATE)) AS last_active,
         count(*) AS n_rows
  FROM lineitem GROUP BY l_partkey
),
tiered AS (
  SELECT n_rows,
         CASE WHEN DATE '{TIER_ASOF}' - last_active < {TIER_HOT_DAYS}
              THEN 'hot'
              WHEN DATE '{TIER_ASOF}' - last_active < {TIER_WARM_DAYS}
              THEN 'warm' ELSE 'cold' END AS tier
  FROM per_part
)
SELECT tier,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(n_rows) * {ROW_BYTES} AS BIGINT) AS bytes_modeled,
       CAST(sum(n_rows) * {ROW_BYTES}
            * CASE tier WHEN 'hot' THEN 3 WHEN 'warm' THEN 2 ELSE 1 END
            AS BIGINT) AS cost_index
FROM tiered GROUP BY tier
"""


# ------------------------------------------------------------- q277


def q277_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X238: dup-cluster size distribution — the corpus-health
    histogram behind every dedup report: q56's connected components
    over the near-dup graph, then counts-of-counts on cluster sizes
    (singletons = unique docs; the tail = boilerplate families).
    Emits per cluster size: clusters, documents, and the docs dedup
    would drop (size − 1 per cluster) — the yield statement the
    curation pipeline publishes.

    Scale: inherits X2/X29 economics (banded join + iterative
    halving); the histogram is a ≤|max cluster size|-row relation."""
    from product_analytics_spark.driver_queries import _dup_clusters_shared

    clusters = _dup_clusters_shared(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return sizes.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.sum("sz")).cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("docs_dropped_by_dedup"),
    ).select(
        F.col("sz").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "docs_dropped_by_dedup",
    )


def _q277_sql() -> str:
    from product_analytics_spark.driver_queries import _q20_sql

    return f"""
WITH RECURSIVE pairs AS ({_q20_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
clusters AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
sizes AS (SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(sz - 1) AS BIGINT) AS docs_dropped_by_dedup
FROM sizes GROUP BY sz
"""


QUERIES_EXT39 = {
    "q274_business_day_lead": q274_business_day_lead,
    "q275_dedup_threshold_sweep": q275_dedup_threshold_sweep,
    "q276_storage_tiering_plan": q276_storage_tiering_plan,
    "q277_dup_cluster_histogram": q277_dup_cluster_histogram,
}


def _oracles_ext39() -> dict[str, str]:
    return {
        "q274_business_day_lead": Q274_SQL,
        "q275_dedup_threshold_sweep": _q275_sql(),
        "q276_storage_tiering_plan": Q276_SQL,
        "q277_dup_cluster_histogram": _q277_sql(),
    }
