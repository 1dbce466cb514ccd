"""Round-3 driver query families, batch 4 (q136+): the sparse
matrix-multiply join kernel, product growth curves, dimensional-
modeling shapes (accumulating snapshot, SCD Type-3), and the bucketed
co-located join exercised through the on-disk table path.

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_analytics_spark.operators import text
from product_analytics_spark.qcommon import (
    _cents_out,
    _hash60_sql,
    _money_cents,
    _t,
    spread_by,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q136

MATMUL_FEATURES = 4


def q136_sparse_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sparse matrix multiply — the join-aggregate kernel
    under embedding projection, graph message passing, and topic
    scoring alike: C(i,j) = Σ_k A(i,k)·B(k,j) as (A ⋈ B on k) →
    hash-agg on (i,j). A = doc-term counts (tokens stay map-side
    until the one (doc,term) hash-agg); B = a derived term-feature
    map (2 features per term from the portable hash + token length —
    deterministic, so the oracle rebuilds it bit-for-bit). Shuffles
    move (i,k,v)/(k,j,w) triples, never dense rows; skewed hub terms
    are AQE-split like any hot join key; at 100 TB B is dim-sized and
    broadcasts."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("t")
    ).filter(F.col("t") != "")
    from product_analytics_spark import cache

    # A feeds both the multiply join and the terms relation B derives
    # from — persist so the tokenize+agg subtree runs once, not twice.
    a = cache.persist(tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("v")))
    terms = a.select("t").distinct()
    h = text.portable_hash60(F.col("t"))
    h_div = F.expr(
        f"CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) "
        f"div {MATMUL_FEATURES} % {MATMUL_FEATURES}"
    )
    # Both features in ONE pass over the distinct-terms relation (a
    # union of two selects would re-derive the token aggregate twice).
    b = terms.select(
        "t",
        F.explode(
            F.array(
                F.struct(
                    (h % MATMUL_FEATURES).alias("j"),
                    F.length("t").cast("long").alias("w"),
                ),
                F.struct(h_div.alias("j"), F.lit(1).cast("long").alias("w")),
            )
        ).alias("f"),
    ).select("t", F.col("f.j").alias("j"), F.col("f.w").alias("w"))
    c = (
        a.join(b, "t")
        .groupBy("doc_id", "j")
        .agg(F.sum(F.col("v") * F.col("w")).alias("value"))
    )
    return c.select("doc_id", F.col("j").alias("feature_id"), "value")


def _q136_sql() -> str:
    h = _hash60_sql("t")
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
  FROM documents
),
a AS (
  SELECT doc_id, t, count(*) AS v FROM tok WHERE t != '' GROUP BY 1, 2
),
terms AS (SELECT DISTINCT t FROM a),
b AS (
  SELECT t, {h} % {MATMUL_FEATURES} AS j, CAST(length(t) AS BIGINT) AS w FROM terms
  UNION ALL
  SELECT t, ({h} // {MATMUL_FEATURES}) % {MATMUL_FEATURES} AS j, CAST(1 AS BIGINT) AS w
  FROM terms
)
SELECT a.doc_id, b.j AS feature_id, CAST(sum(a.v * b.w) AS BIGINT) AS value
FROM a JOIN b ON b.t = a.t
GROUP BY 1, 2
"""


# ------------------------------------------------------------- q137

def q137_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product growth curve: per day, newly-acquired users (first-ever
    activity) and the cumulative user base. Full-data work is ONE
    user-keyed min; the cumulative window runs over the post-aggregate
    |days| relation where a single-reducer sort is trivial."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    per_day = first.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(wcum).alias("cum_users"),
    )


Q137_SQL = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS day
  FROM events GROUP BY 1
),
per_day AS (SELECT day, count(*) AS new_users FROM first GROUP BY 1)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM per_day
"""


# ------------------------------------------------------------- q138

ACC_STAGES = ("signup", "view", "click", "purchase")


def q138_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact table (Kimball's order-lifecycle
    shape): one row per user with the FIRST completion timestamp of
    each milestone and µs-exact stage durations (NULL until the later
    milestone exists and follows the earlier one). All milestones come
    from ONE user-keyed hash-agg of conditional mins — no per-stage
    self-joins. The strict in-order funnel walk is q57; this is the
    wide dimensional-modeling readout."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    aggs = [
        F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
        for s in ACC_STAGES
    ]
    g = e.groupBy("user_id").agg(*aggs)

    def dur(a: str, b: str) -> F.Column:
        ta, tb = F.col(f"t_{a}"), F.col(f"t_{b}")
        return F.when(
            ta.isNotNull() & tb.isNotNull() & (tb >= ta),
            F.unix_micros(tb) - F.unix_micros(ta),
        )

    return g.select(
        "user_id",
        *[F.col(f"t_{s}") for s in ACC_STAGES],
        dur("signup", "view").alias("signup_to_view_us"),
        dur("view", "click").alias("view_to_click_us"),
        dur("click", "purchase").alias("click_to_purchase_us"),
    )


def _q138_sql() -> str:
    mins = ",\n         ".join(
        f"min(CASE WHEN event_type = '{s}' THEN ts END) AS t_{s}" for s in ACC_STAGES
    )
    durs = ",\n       ".join(
        f"CASE WHEN t_{a} IS NOT NULL AND t_{b} IS NOT NULL AND t_{b} >= t_{a} "
        f"THEN epoch_us(t_{b}) - epoch_us(t_{a}) END AS {a}_to_{b}_us"
        for a, b in zip(ACC_STAGES, ACC_STAGES[1:])
    )
    cols = ", ".join(f"t_{s}" for s in ACC_STAGES)
    return f"""
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
g AS (
  SELECT user_id,
         {mins}
  FROM e GROUP BY 1
)
SELECT user_id, {cols},
       {durs}
FROM g
"""


# ------------------------------------------------------------- q139

def q139_scd3_prev_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-3 readout (current + previous attribute value as
    columns — the 'previous segment' pattern): per customer, the
    latest and second-latest order status by (order date, order key).
    One customer-keyed window ranks the history; rank<=2 rows pivot to
    wide with conditional max — no self-join. SCD2 keeps full history
    (X22/q48); Type 3 keeps exactly one generation back."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    r = o.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= 2)
    return r.groupBy("o_custkey").agg(
        F.max(F.when(F.col("_rn") == 1, F.col("o_orderstatus"))).alias(
            "current_status"
        ),
        F.max(F.when(F.col("_rn") == 2, F.col("o_orderstatus"))).alias(
            "prev_status"
        ),
        F.max(F.when(F.col("_rn") == 1, F.col("o_orderdate"))).alias(
            "current_order_date"
        ),
    )


Q139_SQL = """
WITH r AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT o_custkey,
       max(CASE WHEN rn = 1 THEN o_orderstatus END) AS current_status,
       max(CASE WHEN rn = 2 THEN o_orderstatus END) AS prev_status,
       max(CASE WHEN rn = 1 THEN o_orderdate END) AS current_order_date
FROM r WHERE rn <= 2
GROUP BY o_custkey
"""


# ------------------------------------------------------------- q140

Q140_BUCKETS = 8


def q140_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-layer driver evidence for bucketed co-located joins: orders
    and lineitem are written as bucketed+sorted tables on the order
    key (same bucket count), read back, and joined — the executed plan
    has NO Exchange on either join side (pinned by
    tests/test_sinks.py::TestBucketedJoin). Pay the partitioning once
    at write, join shuffle-free every run after — the 100 TB recipe
    for repeated fact-to-fact joins. The oracle recomputes from the
    raw tables, so the whole write→read→join path must be value-exact.
    """
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
        "file:"
    )
    for t in ("q140_orders_bkt", "q140_lineitem_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    # The two bucketed writes are independent (separate tables); run
    # them as overlapping Spark jobs so the smaller orders write
    # back-fills executors idled by the lineitem write's task tail
    # (guide §2.6 — same discipline as compact/optimize maintenance).
    def _write_orders() -> None:
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .write.bucketBy(Q140_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable("q140_orders_bkt")
        )

    def _write_lineitem() -> None:
        (
            _t(spark, sf_dir, "lineitem")
            .select("l_orderkey", _money_cents("l_extendedprice").alias("price_c"))
            .write.bucketBy(Q140_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable("q140_lineitem_bkt")
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_write_orders), pool.submit(_write_lineitem)]
        for f in futs:
            f.result()
    j = spark.table("q140_orders_bkt").join(
        spark.table("q140_lineitem_bkt"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        _cents_out(F.sum("price_c")).alias("total_price"),
    )


Q140_SQL = """
SELECT o_orderstatus, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_price
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


# ------------------------------------------------------------- q141

TRENDING_TOPK = 20


def q141_trending_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month trending report: parts ranked by shipped line
    items per month, with the previous month's rank and the delta
    (NULL = new entrant). Full-data work is ONE (month, part)
    hash-agg; ranks are per-month windows over the post-aggregate
    relation, and the self-join to the prior month is keyed on
    (part, month) — both scale with |parts|, not |lineitem|."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", "l_shipdate").alias("month"), "l_partkey"
    )
    per = li.groupBy("month", "l_partkey").agg(F.count(F.lit(1)).alias("n_items"))
    w = Window.partitionBy("month").orderBy(F.desc("n_items"), F.asc("l_partkey"))
    ranked = per.withColumn("rnk", F.row_number().over(w))
    cur = ranked.filter(F.col("rnk") <= TRENDING_TOPK)
    prev = ranked.select(
        F.col("l_partkey").alias("p_part"),
        (F.col("month") + F.expr("INTERVAL 1 MONTH")).alias("p_next"),
        F.col("rnk").alias("prev_rnk"),
    )
    j = cur.join(
        prev,
        (cur.l_partkey == prev.p_part) & (cur.month == prev.p_next),
        "left",
    )
    return j.select(
        "month",
        "l_partkey",
        "n_items",
        "rnk",
        "prev_rnk",
        (F.col("prev_rnk") - F.col("rnk")).alias("rank_gain"),
    )


Q141_SQL = f"""
WITH per AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
         l_partkey, count(*) AS n_items
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY month
            ORDER BY n_items DESC, l_partkey) AS INT) AS rnk
  FROM per
)
SELECT c.month, c.l_partkey, c.n_items, c.rnk, p.rnk AS prev_rnk,
       p.rnk - c.rnk AS rank_gain
FROM ranked c
LEFT JOIN ranked p
  ON p.l_partkey = c.l_partkey AND c.month = p.month + INTERVAL 1 MONTH
WHERE c.rnk <= {TRENDING_TOPK}
"""


# ------------------------------------------------------------- q142

def q142_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match NULL keys instead of silently dropping — the semantics a
    dimension join needs when 'unknown' is a legitimate key value.
    Catalyst plans eqNullSafe as a hash join (null hashes like any
    value); the dim side broadcasts."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("s")
    )
    dim = (
        o.select("s")
        .distinct()
        .select("s", F.coalesce(F.col("s"), F.lit("IN_FLIGHT")).alias("status_label"))
    )
    j = o.join(F.broadcast(dim), o.s.eqNullSafe(dim.s), "inner")
    return j.groupBy("status_label").agg(F.count(F.lit(1)).alias("n_orders"))


Q142_SQL = """
WITH o AS (
  SELECT o_orderkey, nullif(o_orderstatus, 'P') AS s FROM orders
),
dim AS (
  SELECT s, coalesce(s, 'IN_FLIGHT') AS status_label FROM (SELECT DISTINCT s FROM o)
)
SELECT dim.status_label, count(*) AS n_orders
FROM o JOIN dim ON o.s IS NOT DISTINCT FROM dim.s
GROUP BY 1
"""


# ------------------------------------------------------------- q143

def q143_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase (reorder) rate: for each order, the fraction of
    its parts that also appeared in the SAME customer's immediately
    previous order. One customer-keyed window finds the predecessor;
    the item-overlap is an equi-join on (prev order, part) — never a
    set comparison materializing per-order arrays. Keys are order ids
    throughout: basket skew is bounded by basket size."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.withColumn("prev_ok", F.lag("o_orderkey").over(w)).filter(
        F.col("prev_ok").isNotNull()
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    cur = li.select(F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey"))
    prv = li.select(
        F.col("l_orderkey").alias("prev_ok"), F.col("l_partkey").alias("p_part")
    )
    items = seq.join(cur, "o_orderkey")
    flagged = items.join(
        prv,
        (items.prev_ok == prv.prev_ok) & (items.l_partkey == prv.p_part),
        "left_semi",
    ).groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_reordered"))
    per = items.groupBy("o_orderkey", "prev_ok").agg(
        F.count(F.lit(1)).alias("n_items")
    )
    out = per.join(flagged, "o_orderkey", "left").select(
        "o_orderkey",
        F.col("prev_ok").alias("prev_orderkey"),
        "n_items",
        F.coalesce(F.col("n_reordered"), F.lit(0)).cast("bigint").alias("n_reordered"),
        (
            F.coalesce(F.col("n_reordered"), F.lit(0)).cast("double")
            / F.col("n_items").cast("double")
        ).alias("reorder_rate"),
    )
    return out


Q143_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         lag(o_orderkey) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev_ok
  FROM orders
),
seq AS (SELECT * FROM o WHERE prev_ok IS NOT NULL),
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
items AS (
  SELECT seq.o_orderkey, seq.prev_ok, li.l_partkey
  FROM seq JOIN li ON li.l_orderkey = seq.o_orderkey
),
per AS (
  SELECT o_orderkey, prev_ok, count(*) AS n_items FROM items GROUP BY 1, 2
),
flagged AS (
  SELECT i.o_orderkey, count(*) AS n_reordered
  FROM items i
  WHERE EXISTS (
    SELECT 1 FROM li p WHERE p.l_orderkey = i.prev_ok AND p.l_partkey = i.l_partkey
  )
  GROUP BY 1
)
SELECT per.o_orderkey, per.prev_ok AS prev_orderkey, per.n_items,
       CAST(coalesce(f.n_reordered, 0) AS BIGINT) AS n_reordered,
       CAST(coalesce(f.n_reordered, 0) AS DOUBLE) / CAST(per.n_items AS DOUBLE)
         AS reorder_rate
FROM per LEFT JOIN flagged f ON f.o_orderkey = per.o_orderkey
"""


# ------------------------------------------------------------- q144

def q144_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival audit for streaming ingestion: per user, events
    whose event time precedes the running event-time maximum of
    earlier ARRIVALS (arrival order = event_id) are out-of-order; the
    report gives their count and the worst lateness — exactly the
    statistic that sizes a watermark delay. One user-keyed window
    (running max over the arrival order) + one hash-agg."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = e.withColumn("_runmax", F.max("us").over(w))
    late = F.col("_runmax").isNotNull() & (F.col("us") < F.col("_runmax"))
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_out_of_order"),
        F.max(F.when(late, F.col("_runmax") - F.col("us"))).alias("max_lateness_us"),
    )


Q144_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
m AS (
  SELECT user_id, us,
         max(us) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
  FROM e
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN runmax IS NOT NULL AND us < runmax THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out_of_order,
       max(CASE WHEN runmax IS NOT NULL AND us < runmax THEN runmax - us END)
         AS max_lateness_us
FROM m GROUP BY user_id
"""


# ------------------------------------------------------------- q145

FRESHNESS_AS_OF = "2024-02-01 00:00:00"
FRESHNESS_WARN_H = 48


def q145_source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style source freshness check (`dbt source freshness`): per
    source table, the loaded-until high watermark, its age against the
    injected as_of, and a fresh/stale verdict at the 48 h threshold.
    Each source costs ONE max() aggregate — at scale the max pushes to
    parquet footer stats (aggregatePushdown is on in session.py)."""
    as_of = F.to_timestamp(F.lit(FRESHNESS_AS_OF))
    warn_us = FRESHNESS_WARN_H * 3600 * 1_000_000

    def one(name: str, ts_col: str) -> DataFrame:
        t = _t(spark, sf_dir, name)
        agg = t.agg(F.max(F.col(ts_col).cast("timestamp")).alias("loaded_until"))
        age = F.unix_micros(as_of) - F.unix_micros(F.col("loaded_until"))
        return agg.select(
            F.lit(name).alias("source_name"),
            "loaded_until",
            age.alias("age_us"),
            F.when(age <= F.lit(warn_us), F.lit("fresh"))
            .otherwise(F.lit("stale"))
            .alias("status"),
        )

    return one("events", "ts").unionByName(one("orders", "o_orderdate"))


Q145_SQL = f"""
WITH s AS (
  SELECT 'events' AS source_name,
         max(CAST(ts AS TIMESTAMP)) AS loaded_until FROM events
  UNION ALL
  SELECT 'orders', max(CAST(o_orderdate AS TIMESTAMP)) FROM orders
)
SELECT source_name, loaded_until,
       epoch_us(TIMESTAMP '{FRESHNESS_AS_OF}') - epoch_us(loaded_until) AS age_us,
       CASE WHEN epoch_us(TIMESTAMP '{FRESHNESS_AS_OF}') - epoch_us(loaded_until)
                 <= {FRESHNESS_WARN_H * 3600 * 1_000_000}
            THEN 'fresh' ELSE 'stale' END AS status
FROM s
"""


# ------------------------------------------------------------- q146

CONTAINMENT_THRESHOLD = 0.8


def q146_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 widened to near-SUBSET detection (quotes/excerpts):
    directed containment |A∩B|/min(|A|,|B|) over shingle-hash sets
    with MinHash-band candidate blocking
    (operators/text.py:containment_pairs). Jaccard misses a paragraph
    quoted inside a long document; containment is the measure
    decontamination and quote-dedup actually need. Oracle replays the
    banding and the exact set arithmetic bit-for-bit."""
    d = spread_by(_t(spark, sf_dir, "documents"), "doc_id")
    return text.containment_pairs(d, threshold=CONTAINMENT_THRESHOLD)


def _q146_sql(num_hashes: int = 32, bands: int = 16) -> str:
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
v AS (
  SELECT id_a, id_b,
         len(sa.hs) AS la, len(sb.hs) AS lb,
         round(len(list_intersect(sa.hs, sb.hs))
               / CAST(least(len(sa.hs), len(sb.hs)) AS DOUBLE), 4) AS containment
  FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
            JOIN sets sb ON cand.id_b = sb.doc_id
)
SELECT CASE WHEN la < lb OR (la = lb AND id_a < id_b) THEN id_a ELSE id_b END
         AS id_contained,
       CASE WHEN la < lb OR (la = lb AND id_a < id_b) THEN id_b ELSE id_a END
         AS id_container,
       containment
FROM v WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


# ------------------------------------------------------------- q147

def q147_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (ratio_to_report): revenue per
    (nation, year) with its share of the nation's total and of the
    grand total. Dims broadcast into the fact scan; the share windows
    run over the post-aggregate |nations × years| relation; each
    share is ONE division of exact cents."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("year"))
        .agg(F.sum(_money_cents("o_totalprice")).alias("_c"))
    )
    wn = Window.partitionBy("n_name")
    wt = Window.partitionBy()
    return rev.select(
        F.col("n_name").alias("nation"),
        "year",
        _cents_out(F.col("_c")).alias("revenue"),
        (F.col("_c").cast("double") / F.sum("_c").over(wn).cast("double")).alias(
            "share_of_nation"
        ),
        (F.col("_c").cast("double") / F.sum("_c").over(wt).cast("double")).alias(
            "share_of_total"
        ),
    )


Q147_SQL = """
WITH rev AS (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS year,
         sum(CAST(o.o_totalprice * 100 AS BIGINT)) AS c
  FROM orders o
  JOIN customer cu ON cu.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = cu.c_nationkey
  GROUP BY 1, 2
)
SELECT nation, year,
       CAST(c AS DOUBLE) / 100.0 AS revenue,
       CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY nation) AS DOUBLE)
         AS share_of_nation,
       CAST(c AS DOUBLE) / CAST(sum(c) OVER () AS DOUBLE) AS share_of_total
FROM rev
"""


# ------------------------------------------------------------- q148

EPOCH_SHUFFLE_TOPK = 8


def q148_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: each document's
    position key is the portable hash of (epoch, doc_id) — a
    different, reproducible permutation every epoch, identical on any
    cluster, no RNG state. Here the first 8 positions of epochs 1-2
    are materialized; at scale the hash IS the distributed sort/
    bucketing key (repartitionByRange or bucketed write on pos_hash)
    so no global sort is ever executed."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    ep = d.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2))).alias("epoch")
    )
    h = text.portable_hash60(
        F.concat_ws(":", F.col("epoch"), F.col("doc_id"))
    )
    keyed = ep.select("epoch", "doc_id", h.alias("pos_hash"))
    w = Window.partitionBy("epoch").orderBy("pos_hash", "doc_id")
    return (
        keyed.withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= EPOCH_SHUFFLE_TOPK)
        .select("epoch", "position", "doc_id", "pos_hash")
    )


def _q148_sql() -> str:
    h = _hash60_sql("concat_ws(':', CAST(epoch AS VARCHAR), CAST(doc_id AS VARCHAR))")
    return f"""
WITH ep AS (
  SELECT doc_id, epoch FROM documents, (VALUES (1), (2)) e(epoch)
),
keyed AS (SELECT epoch, doc_id, {h} AS pos_hash FROM ep)
SELECT epoch,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY pos_hash, doc_id) AS INT)
         AS position,
       doc_id, pos_hash
FROM keyed
QUALIFY position <= {EPOCH_SHUFFLE_TOPK}
"""


# ------------------------------------------------------------- q149

Q149_LAND = os.path.join(_REPO, ".fixtures", ".q149_stream_land")


def q149_streaming_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence #4: exactly-once ingestion via streaming
    dedup — the landing zone is written TWICE (the at-least-once
    delivery double), streamed one file per micro-batch, and
    ``dropDuplicatesWithinWatermark`` on the event id collapses the
    copies ACROSS micro-batches (state outlives the batch boundary,
    evicted past the watermark). The deduped stream lands append-mode
    in the memory sink; the readout aggregates it and must equal the
    plain batch aggregate over the ORIGINAL table."""
    from product_analytics_spark.qcommon import land_once
    from product_analytics_spark.streaming import ops as st

    def _land() -> None:
        ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
        ev.repartition(1).write.mode("overwrite").parquet(Q149_LAND)
        ev.repartition(1).write.mode("append").parquet(Q149_LAND)

    land_once(Q149_LAND, sf_dir, _land)
    schema = spark.read.parquet(Q149_LAND).schema
    stream = (
        st.stream_table(spark, Q149_LAND, schema, max_files_per_trigger=1)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        st.run_available_now(stream, "q149_sink", output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        spark.table("q149_sink")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_ids"),
        )
    )


Q149_SQL = """
SELECT event_type, count(*) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
FROM events GROUP BY 1
"""


# ------------------------------------------------------------- q150

IDEMPOTENT_SPLIT_DATE = "1997-01-01"


def q150_idempotent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-aware MERGE (operators/incremental.py:
    merge_upsert_versioned — Delta's ``whenMatchedUpdateAll(source.ts
    > target.ts)``): a deliberately STALE batch (each customer's
    latest pre-1997 order) is merged into the current snapshot (their
    latest post-1997 order). Plain merge_upsert would let the replay
    clobber fresh state; the versioned merge keeps newest-per-key, so
    retried/out-of-order batches are idempotent. The oracle computes
    the same newest-per-key over the union of both per-customer
    argmax sets."""
    from product_analytics_spark.operators import incremental
    from product_analytics_spark.operators.dedup import latest_by_key

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    cut = F.lit(IDEMPOTENT_SPLIT_DATE).cast("timestamp")
    order = ("o_orderdate", "o_orderkey")
    snap = latest_by_key(
        o.filter(F.col("o_orderdate") >= cut), key="o_custkey", order_by=order
    )
    stale = latest_by_key(
        o.filter(F.col("o_orderdate") < cut), key="o_custkey", order_by=order
    )
    merged = incremental.merge_upsert_versioned(
        snap, stale, key="o_custkey", ts_col="o_orderdate", tiebreak_col="o_orderkey"
    )
    return merged.select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")


Q150_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
  FROM orders
),
snap AS (
  SELECT * EXCLUDE rn FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM o WHERE o_orderdate >= TIMESTAMP '{IDEMPOTENT_SPLIT_DATE}'
  ) WHERE rn = 1
),
stale AS (
  SELECT * EXCLUDE rn FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM o WHERE o_orderdate < TIMESTAMP '{IDEMPOTENT_SPLIT_DATE}'
  ) WHERE rn = 1
),
u AS (SELECT * FROM snap UNION ALL SELECT * FROM stale)
SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM u
) WHERE rn = 1
"""


# ------------------------------------------------------------- q151

FD_CANDIDATES = (
    ("o_custkey", "o_orderstatus"),
    ("o_orderkey", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus"),
)


def q151_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (does A determine B?): per
    candidate pair, the number of distinct LHS values and how many of
    them map to MORE than one RHS value — zero violators means A→B
    holds, the signal schema-normalization and data-quality rules are
    built from. Each candidate is a two-level hash-agg: the shuffle
    moves |distinct (A,B)| partials, the violation count aggregates
    the |distinct A| relation. Key-determined columns (o_orderkey→
    status) profile clean; many-to-many pairs surface their fan-out."""
    o = _t(spark, sf_dir, "orders")
    # All candidates profile in ONE scan: stack() expands each row to
    # (candidate, lhs, rhs) map-side, then the candidate rides the
    # group keys — 2 shuffles total regardless of candidate count,
    # instead of (scan + 2 shuffles) per candidate.
    stack_args = ", ".join(
        f"'{lhs}->{rhs}', CAST({lhs} AS STRING), CAST({rhs} AS STRING)"
        for lhs, rhs in FD_CANDIDATES
    )
    cand = o.select(
        F.expr(
            f"stack({len(FD_CANDIDATES)}, {stack_args}) AS (fd_candidate, lhs, rhs)"
        )
    )
    per_lhs = (
        cand.distinct()
        .groupBy("fd_candidate", "lhs")
        .agg(F.count(F.lit(1)).alias("_n_rhs"))
    )
    return per_lhs.groupBy("fd_candidate").agg(
        F.count(F.lit(1)).alias("n_lhs_values"),
        F.sum(F.when(F.col("_n_rhs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_lhs"),
        F.max("_n_rhs").alias("max_fanout"),
    )


def _q151_sql() -> str:
    parts = []
    for lhs, rhs in FD_CANDIDATES:
        parts.append(
            f"""SELECT '{lhs}->{rhs}' AS fd_candidate,
       count(*) AS n_lhs_values,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
       CAST(max(n_rhs) AS BIGINT) AS max_fanout
FROM (
  SELECT {lhs}, count(*) AS n_rhs
  FROM (SELECT DISTINCT {lhs}, {rhs} FROM orders) GROUP BY 1
)"""
        )
    return "\nUNION ALL\n".join(parts)


# ------------------------------------------------------------- q152

SAMPLE_PCT_NUM = 10  # keep orders with hash % 100 < 10  (~10%)


def q152_entity_consistent_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-consistent (cluster) sampling: ~10% of ORDERS selected by
    a portable hash threshold on the order key, and their lineitems
    selected by the SAME predicate on l_orderkey — the two scans agree
    with ZERO coordination (no semi-join, no broadcast, nothing
    driver-side), because the hash is a pure function of the key.
    Row sampling would break the order↔items relationship; entity
    sampling preserves every sampled order intact — the property
    joins, funnels, and per-entity models need. Output: sample-level
    rollup proving the two sides stayed consistent."""
    keep_o = text.portable_hash60(F.concat(F.lit("smp:"), F.col("o_orderkey"))) % 100 < F.lit(
        SAMPLE_PCT_NUM
    )
    keep_l = text.portable_hash60(F.concat(F.lit("smp:"), F.col("l_orderkey"))) % 100 < F.lit(
        SAMPLE_PCT_NUM
    )
    o = _t(spark, sf_dir, "orders").filter(keep_o)
    li = _t(spark, sf_dir, "lineitem").filter(keep_l)
    # Both sides tagged into ONE relation, all five aggregates in one
    # conditional-agg pass — no 1-row-to-1-row join in the plan at all
    # (Catalyst folds a constant-key join back to a nested loop).
    is_o = F.col("_side") == "o"
    u = o.select(
        F.lit("o").alias("_side"),
        F.col("o_custkey").alias("_ck"),
        F.col("o_orderkey").alias("_ok"),
        F.lit(None).cast("long").alias("_cents"),
    ).unionByName(
        li.select(
            F.lit("l").alias("_side"),
            F.lit(None).cast("long").alias("_ck"),
            F.col("l_orderkey").alias("_ok"),
            _money_cents("l_extendedprice").alias("_cents"),
        )
    )
    return u.agg(
        F.count(F.when(is_o, 1)).alias("n_orders"),
        F.countDistinct(F.when(is_o, F.col("_ck"))).alias("n_customers"),
        F.count(F.when(~is_o, 1)).alias("n_items"),
        F.countDistinct(F.when(~is_o, F.col("_ok"))).alias("n_item_orders"),
        _cents_out(F.sum(F.when(~is_o, F.col("_cents")))).alias("sample_revenue"),
    )


def _q152_sql() -> str:
    ho = _hash60_sql("concat('smp:', CAST(o_orderkey AS VARCHAR))")
    hl = _hash60_sql("concat('smp:', CAST(l_orderkey AS VARCHAR))")
    return f"""
SELECT o.n_orders, o.n_customers, l.n_items, l.n_item_orders, l.sample_revenue
FROM (
  SELECT count(*) AS n_orders,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders WHERE {ho} % 100 < {SAMPLE_PCT_NUM}
) o, (
  SELECT count(*) AS n_items,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_item_orders,
         CAST(sum(CAST(l_extendedprice * 100 AS BIGINT)) AS BIGINT) / 100.0
           AS sample_revenue
  FROM lineitem WHERE {hl} % 100 < {SAMPLE_PCT_NUM}
) l
"""


# ------------------------------------------------------------- q153

DIVERSIFIED_K = 10
DIVERSIFIED_PER_GROUP = 2


def q153_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified (quota-constrained) top-k — search-results style:
    the 10 longest documents overall but at most 2 per language. A
    per-group rank window enforces the quota BEFORE the global cut,
    so the final TakeOrdered runs on ≤ |groups|·quota rows — the
    pattern that keeps one dominant group from filling the page.
    Deterministic (score desc, id) ordering at both levels."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    wg = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    quota = d.withColumn("lang_rank", F.row_number().over(wg)).filter(
        F.col("lang_rank") <= DIVERSIFIED_PER_GROUP
    )
    return (
        quota.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(DIVERSIFIED_K)
        .select("doc_id", "lang", "n_chars", "lang_rank")
    )


Q153_SQL = f"""
WITH quota AS (
  SELECT doc_id, lang, n_chars,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY n_chars DESC, doc_id) AS INT) AS lang_rank
  FROM documents
)
SELECT doc_id, lang, n_chars, lang_rank
FROM quota
WHERE lang_rank <= {DIVERSIFIED_PER_GROUP}
ORDER BY n_chars DESC, doc_id
LIMIT {DIVERSIFIED_K}
"""


QUERIES_EXT5 = {
    "q136_sparse_matmul": q136_sparse_matmul,
    "q137_user_growth_curve": q137_user_growth_curve,
    "q138_accumulating_snapshot": q138_accumulating_snapshot,
    "q139_scd3_prev_value": q139_scd3_prev_value,
    "q140_bucketed_join_agg": q140_bucketed_join_agg,
    "q141_trending_rank_delta": q141_trending_rank_delta,
    "q142_null_safe_join": q142_null_safe_join,
    "q143_reorder_rate": q143_reorder_rate,
    "q144_out_of_order_audit": q144_out_of_order_audit,
    "q145_source_freshness": q145_source_freshness,
    "q146_containment_pairs": q146_containment_pairs,
    "q147_revenue_share": q147_revenue_share,
    "q148_epoch_shuffle": q148_epoch_shuffle,
    "q149_streaming_dedup_parity": q149_streaming_dedup_parity,
    "q150_idempotent_merge": q150_idempotent_merge,
    "q151_functional_dependency": q151_functional_dependency,
    "q152_entity_consistent_sample": q152_entity_consistent_sample,
    "q153_diversified_topk": q153_diversified_topk,
}

ORACLES_EXT5 = {
    "q136_sparse_matmul": _q136_sql(),
    "q137_user_growth_curve": Q137_SQL,
    "q138_accumulating_snapshot": _q138_sql(),
    "q139_scd3_prev_value": Q139_SQL,
    "q140_bucketed_join_agg": Q140_SQL,
    "q141_trending_rank_delta": Q141_SQL,
    "q142_null_safe_join": Q142_SQL,
    "q143_reorder_rate": Q143_SQL,
    "q144_out_of_order_audit": Q144_SQL,
    "q145_source_freshness": Q145_SQL,
    "q146_containment_pairs": _q146_sql(),
    "q147_revenue_share": Q147_SQL,
    "q148_epoch_shuffle": _q148_sql(),
    "q149_streaming_dedup_parity": Q149_SQL,
    "q150_idempotent_merge": Q150_SQL,
    "q151_functional_dependency": _q151_sql(),
    "q152_entity_consistent_sample": _q152_sql(),
    "q153_diversified_topk": Q153_SQL,
}
