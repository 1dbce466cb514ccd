"""Round-3 driver query families (q100+): engagement analytics
(streaks, debounce, co-occurrence, A/B), iterative graph (PageRank),
training-data ops (negative sampling, BPE merges, inverted index),
layout/scale machinery (Morton z-values, salted skew join, partition-
pruned reads, snapshot time travel), and Structured Streaming parity
queries checked against full SQL oracles.

Same contract as driver_queries.py: every computed column aliased
identically on both sides; exact integer/decimal arithmetic inside,
double outputs; fixed-order float formulas both engines mirror.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_analytics_spark.operators import (
    corpus,
    graph,
    product_metrics,
    similarity,
    skew,
)
from product_analytics_spark.qcommon import (
    _cents_out,
    _hash60_sql,
    _money_cents,
    _t,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -------------------------------------------------------------- q100

def q100_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73: gaps-and-islands daily activity streaks
    (operators/product_metrics.py:daily_streaks). Integer day
    arithmetic from a fixed epoch — portable island keys."""
    return product_metrics.daily_streaks(_t(spark, sf_dir, "events"))


Q100_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
isl AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(d AS DATE))
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS anchor
  FROM days
),
runs AS (
  SELECT user_id, anchor, count(*) AS run_len FROM isl GROUP BY 1, 2
)
SELECT user_id, CAST(max(run_len) AS BIGINT) AS best_streak,
       CAST(sum(run_len) AS BIGINT) AS n_active_days
FROM runs GROUP BY user_id
"""


# -------------------------------------------------------------- q101

def q101_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78: period-over-period reporting — weekly revenue with the
    previous period and %-change via lag(). The window is a global
    total order, but over the POST-AGGREGATE relation (|weeks| rows —
    hundreds), so the single-reducer sort is trivial at any data
    scale; the full-data work is the one week-keyed cents hash-agg.
    WoW%% is one fixed-order double expression over exact cents."""
    o = _t(spark, sf_dir, "orders")
    wk = o.groupBy(F.date_trunc("week", "o_orderdate").alias("week")).agg(
        F.sum(_money_cents("o_totalprice")).alias("_c")
    )
    w = Window.orderBy("week")
    prev = F.lag("_c").over(w)
    return wk.select(
        "week",
        _cents_out(F.col("_c")).alias("revenue"),
        _cents_out(prev).alias("prev_revenue"),
        (((F.col("_c") - prev) * F.lit(100.0)) / prev).alias("wow_pct"),
    )


Q101_SQL = """
WITH wk AS (
  SELECT date_trunc('week', o_orderdate) AS week,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1
)
SELECT CAST(week AS TIMESTAMP) AS week,
       c / 100.0 AS revenue,
       lag(c) OVER (ORDER BY week) / 100.0 AS prev_revenue,
       ((c - lag(c) OVER (ORDER BY week)) * 100.0) / lag(c) OVER (ORDER BY week) AS wow_pct
FROM wk
"""


# -------------------------------------------------------------- q102

LONGTAIL_TOP_N = 20


def q102_longtail_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: long-tail folding — top-N entities keep their identity,
    the tail collapses into one 'other' row (the dashboard cardinality
    guard). Rank runs on the POST-AGGREGATE per-user relation (|users|
    rows), so the global window is cheap; the re-agg shuffles |N|+1
    partials. Deterministic tie-break (count DESC, user ASC)."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(Window.orderBy(F.desc("n"), F.asc("user_id")))
    folded = per_user.select(
        F.when(rk <= LONGTAIL_TOP_N, F.col("user_id").cast("string"))
        .otherwise(F.lit("other"))
        .alias("entity"),
        "n",
    )
    return folded.groupBy("entity").agg(
        F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_users")
    )


Q102_SQL = f"""
WITH per_user AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, n,
         row_number() OVER (ORDER BY n DESC, user_id ASC) AS rk
  FROM per_user
)
SELECT CASE WHEN rk <= {LONGTAIL_TOP_N} THEN CAST(user_id AS VARCHAR) ELSE 'other' END AS entity,
       CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_users
FROM ranked GROUP BY 1
"""


# -------------------------------------------------------------- q103

DEBOUNCE_GAP_S = 5


def q103_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74: temporal debounce (operators/product_metrics.py:debounce)
    — per event type, how many events survive a 5-second same-key
    debounce vs get dropped as double-fires. Microsecond-exact gap
    compare; one (user,type)-keyed window shuffle, then a tiny agg."""
    e = _t(spark, sf_dir, "events")
    d = product_metrics.debounce(e, min_gap_seconds=DEBOUNCE_GAP_S)
    return d.groupBy("event_type").agg(
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
    )


Q103_SQL = f"""
WITH lagged AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP))
           - lag(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= {DEBOUNCE_GAP_S * 1_000_000}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN gap_us IS NOT NULL AND gap_us < {DEBOUNCE_GAP_S * 1_000_000}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM lagged GROUP BY event_type
"""


# -------------------------------------------------------------- q104

def q104_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80: A/B experiment readout — users hash-assigned to variants
    (portable md5 hash, so assignment is reproducible in ANY engine —
    never rand()), conversion = did a 'purchase'. Rates, absolute
    lift, and the two-proportion z-statistic are one fixed-order
    double formula over exact integer counts; sqrt is IEEE correctly-
    rounded in both engines, so the z-stat matches bit-for-bit.
    Plan: one user-keyed agg (|users| partials) then a single-row
    reduction — nothing driver-side."""
    from product_analytics_spark.operators.text import portable_hash60

    e = _t(spark, sf_dir, "events")
    # Conversion = the user's purchase share exceeds the uniform 1/5
    # baseline — scale-invariant (p stays strictly inside (0,1) at any
    # SF, so the pooled s.e. never degenerates to 0).
    per_user = e.groupBy("user_id").agg(
        (
            F.lit(5) * F.sum((F.col("event_type") == "purchase").cast("long"))
            > F.count(F.lit(1))
        )
        .cast("int")
        .alias("conv")
    )
    variant = (
        portable_hash60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2
    )
    tagged = per_user.select(variant.alias("v"), "conv")
    stats = tagged.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("v") == 0, F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("v") == 1, F.col("conv")).otherwise(0)).alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    p = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p * (F.lit(1.0) - p) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return stats.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        (rate_b - rate_a).alias("abs_lift"),
        ((rate_b - rate_a) / se).alias("z_stat"),
    )


def _q104_sql() -> str:
    h = _hash60_sql("'ab:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   > count(*) THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
tagged AS (
  SELECT ({h}) % 2 AS v, conv FROM per_user
),
s AS (
  SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM tagged
)
SELECT n_a, n_b, conv_a, conv_b,
       CAST(conv_a AS DOUBLE) / n_a AS rate_a,
       CAST(conv_b AS DOUBLE) / n_b AS rate_b,
       (CAST(conv_b AS DOUBLE) / n_b) - (CAST(conv_a AS DOUBLE) / n_a) AS abs_lift,
       ((CAST(conv_b AS DOUBLE) / n_b) - (CAST(conv_a AS DOUBLE) / n_a))
         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)) AS z_stat
FROM s
"""


# -------------------------------------------------------------- q105

PAGERANK_ITERS = 3
PAGERANK_SCALE = 10**9


def q105_pagerank_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81: iterative graph — 3 PageRank power iterations over the
    event-type transition graph (operators/graph.py:pagerank).
    Integer-scaled fixed-point arithmetic: bit-identical across
    cluster sizes AND engines (the oracle unrolls the same three
    iterations as CTEs). Each iteration = one rank→edge join + one
    dst-keyed hash-agg."""
    edges = product_metrics.event_transitions(_t(spark, sf_dir, "events")).select(
        F.col("event_type").alias("src"),
        F.col("next_event_type").alias("dst"),
        F.col("n_transitions").alias("w"),
    )
    pr = graph.pagerank(
        edges,
        weight_col="w",
        iterations=PAGERANK_ITERS,
        scale=PAGERANK_SCALE,
    )
    return pr.select(F.col("node").alias("event_type"), "rank_scaled", "rank")


def _q105_sql() -> str:
    # Unroll the identical integer fixed-point iterations as CTEs.
    base = f"(15 * CAST({PAGERANK_SCALE} AS BIGINT)) // (100 * (SELECT count(*) FROM nodes))"
    init = f"CAST({PAGERANK_SCALE} AS BIGINT) // (SELECT count(*) FROM nodes)"
    its = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST({base} + (85 * coalesce(c.inc, 0)) // 100 AS BIGINT) AS rank_scaled
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum((r.rank_scaled * e.w) // e.wsum) AS inc
    FROM edges e JOIN {prev} r ON r.node = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
)"""
        )
        prev = f"r{i}"
    its_sql = ",\n".join(its)
    return f"""
WITH trans AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
edges0 AS (
  SELECT src, dst, count(*) AS w FROM trans WHERE dst IS NOT NULL GROUP BY 1, 2
),
edges AS (
  SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS wsum FROM edges0
),
nodes AS (
  SELECT src AS node FROM edges0 UNION SELECT dst FROM edges0
),
r0 AS (
  SELECT node, CAST({init} AS BIGINT) AS rank_scaled FROM nodes
),
{its_sql}
SELECT node AS event_type, rank_scaled,
       rank_scaled / {float(PAGERANK_SCALE)} AS rank
FROM {prev}
"""


# -------------------------------------------------------------- q106

NEG_PER_ANCHOR = 5
NEG_ANCHOR_MAX = 50


def q106_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82: deterministic negative sampling for contrastive training —
    each anchor draws k pseudo-random negatives via the PORTABLE md5
    hash (never rand(): retries and other engines re-derive identical
    draws), then scores anchor·negative cosine. Plan: anchors explode
    k draw indices map-side, negatives arrive by one equi-join on the
    drawn id (broadcast: anchors·k is dim-sized), array math stays in
    codegen. At 100 TB the join key is the drawn id — hash join,
    no shuffle of the big corpus beyond the id lookup."""
    from product_analytics_spark.operators.text import portable_hash60

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()  # driver scalar: corpus size for the modulus
    anchors = emb.filter(F.col("vec_id") < NEG_ANCHOR_MAX).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_emb")
    )
    drawn = anchors.select(
        "anchor_id",
        "a_emb",
        F.explode(F.array(*[F.lit(j) for j in range(NEG_PER_ANCHOR)])).alias("j"),
    ).withColumn(
        "neg_id",
        portable_hash60(
            F.concat(
                F.lit("neg:"),
                F.col("anchor_id").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        )
        % F.lit(n),
    )
    negs = emb.select(F.col("vec_id").alias("neg_id"), F.col("embedding").alias("n_emb"))
    out = (
        drawn.join(negs, "neg_id")
        .where(F.col("neg_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "j",
            "neg_id",
            F.round(
                similarity.dot(F.col("a_emb"), F.col("n_emb"))
                / (similarity.l2_norm(F.col("a_emb")) * similarity.l2_norm(F.col("n_emb"))),
                4,
            ).alias("cos_sim"),
        )
    )
    return out


def _q106_sql() -> str:
    h = _hash60_sql("'neg:' || CAST(anchor_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
    return f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS a_emb
  FROM embeddings WHERE vec_id < {NEG_ANCHOR_MAX}
),
drawn AS (
  SELECT anchor_id, a_emb, j,
         ({h}) % (SELECT count(*) FROM embeddings) AS neg_id
  FROM anchors, (SELECT unnest(generate_series(0, {NEG_PER_ANCHOR - 1})) AS j)
)
SELECT d.anchor_id, CAST(d.j AS INTEGER) AS j, d.neg_id,
       round(list_dot_product(d.a_emb, CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(d.a_emb, d.a_emb))
                * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))), 4) AS cos_sim
FROM drawn d JOIN embeddings e ON e.vec_id = d.neg_id
WHERE d.neg_id != d.anchor_id
"""


# -------------------------------------------------------------- q107

def q107_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76: BPE merge-candidate recount
    (operators/corpus.py:bpe_merge_candidates)."""
    return corpus.bpe_merge_candidates(_t(spark, sf_dir, "documents"), top_k=20)


Q107_SQL = """
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents
),
wc AS (
  SELECT w, count(*) AS c FROM words GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> w[i:i+1])) AS pair,
         c
  FROM wc WHERE length(w) >= 2
)
SELECT pair, CAST(sum(c) AS BIGINT) AS merge_count
FROM pairs GROUP BY pair
ORDER BY merge_count DESC, pair LIMIT 20
"""


# -------------------------------------------------------------- q108

def _morton_terms(x: str, y: str, intdiv: str, bits: int = 8) -> str:
    """Bit-interleave (Morton/Z-order) as pure integer arithmetic —
    identical term structure in both dialects (only the integer-
    division token differs: Spark ``div``, DuckDB ``//``); shifts are
    *2^k multiplies and ``(v intdiv 2^b) % 2`` extracts bit b."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x}) {intdiv} {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((({y}) {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def q108_morton_zvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83: Z-order (Morton) curve values — the clustering math behind
    OPTIMIZE ZORDER (SURVEY §2.1 S7): interleaving the bits of two
    columns gives a 1-D sort key whose ranges are 2-D locality
    buckets, so range-partitioned parquet files carry tight min/max
    stats on BOTH source columns. Pure integer arithmetic (shared SQL
    text with the oracle), computed at scan speed; the write path
    (sinks.cluster_by) consumes exactly this kind of key. Output:
    per-row z-value + the file-range bucket it would cluster into."""
    c = _t(spark, sf_dir, "customer")
    x = "(c_custkey % 256)"
    y = "(c_nationkey % 256)"
    z = _morton_terms(x, y, "div")
    return c.selectExpr(
        "c_custkey",
        f"CAST({x} AS BIGINT) AS x",
        f"CAST({y} AS BIGINT) AS y",
        f"CAST({z} AS BIGINT) AS zval",
        f"CAST(({z}) div 4096 AS BIGINT) AS zbucket",
    )


def _q108_sql() -> str:
    x = "(c_custkey % 256)"
    y = "(c_nationkey % 256)"
    z = _morton_terms(x, y, "//")
    return f"""
SELECT c_custkey,
       CAST({x} AS BIGINT) AS x,
       CAST({y} AS BIGINT) AS y,
       CAST({z} AS BIGINT) AS zval,
       CAST(({z}) // 4096 AS BIGINT) AS zbucket
FROM customer
"""


# -------------------------------------------------------------- q109

SKEW_SALTS = 8


def q109_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84: skew-resilient salted JOIN (operators/skew.py:salted_join)
    — lineitem⋈part on (partkey, salt) with the part side replicated
    8×, then per-brand revenue. The oracle is the PLAIN join: salting
    must be row-identical. Salt = l_orderkey % 8 — deterministic under
    task retry (rand() would drop/duplicate rows on speculative
    re-execution)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_orderkey"),
        _money_cents("l_extendedprice").alias("_c"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = skew.salted_join(
        li, p, on="p_partkey", fact_salt=F.pmod(F.col("l_orderkey"), F.lit(SKEW_SALTS))
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        _cents_out(F.sum("_c")).alias("revenue"),
    )


Q109_SQL = """
SELECT p_brand, count(*) AS n_items,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# -------------------------------------------------------------- q110

Q110_LAND = os.path.join(_REPO, ".fixtures", ".q110_part_land")
Q110_DAY = "2024-01-15"


def q110_partition_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 on the READ side: events written hive-partitioned by day,
    read back with a partition-key filter — the scan must prune to ONE
    directory (tests/test_sinks.py asserts PartitionFilters in the
    physical plan; at 100 TB this is the difference between scanning
    one day and scanning three years). The write repartitions on the
    partition column first (one well-sized file per directory, no
    small-file explosion). Oracle recomputes from the raw table, so
    the round-trip must preserve values exactly."""
    e = _t(spark, sf_dir, "events")
    shutil.rmtree(Q110_LAND, ignore_errors=True)
    (
        e.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("event_day")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .partitionBy("event_day")
        .parquet(Q110_LAND)
    )
    back = spark.read.parquet(Q110_LAND).filter(F.col("event_day") == Q110_DAY)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _cents_out(F.sum(_money_cents("value"))).alias("total_value"),
    )


Q110_SQL = f"""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM events
WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '{Q110_DAY}'
GROUP BY event_type
"""


# -------------------------------------------------------------- q111

Q111_WH = os.path.join(_REPO, ".fixtures", ".q111_warehouse")


def q111_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85: snapshot time travel (sources/sinks.py:SnapshotStore with
    retain_versions>1) — commit v1, MERGE a correction batch into v2,
    then read BOTH versions back by log version (Delta
    `VERSION AS OF`). Output: per-version rowcount +
    balance total; the oracle reconstructs both states relationally,
    so the on-disk versioning must preserve every value exactly."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q111_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q111_WH, retain_versions=4)
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    store.overwrite("cust", c)
    batch = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    store.merge("cust", batch, key="c_custkey")

    v1 = store.read("cust", version=0)
    v2 = store.read("cust", version=-1)
    assert v1 is not None and v2 is not None
    tagged = v1.withColumn("version", F.lit("v1")).unionByName(
        v2.withColumn("version", F.lit("v2"))
    )
    return tagged.groupBy("version").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _cents_out(F.sum(_money_cents("c_acctbal"))).alias("total_balance"),
    )


Q111_SQL = """
WITH v1 AS (
  SELECT c_custkey, c_acctbal FROM customer
),
v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN round(CAST(c_acctbal + 100.0 AS DECIMAL(18,6)), 2)
              ELSE c_acctbal END AS c_acctbal
  FROM customer
),
tagged AS (
  SELECT 'v1' AS version, c_acctbal FROM v1
  UNION ALL
  SELECT 'v2' AS version, c_acctbal FROM v2
)
SELECT version, count(*) AS n_rows,
       CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_balance
FROM tagged GROUP BY version
"""


# -------------------------------------------------------------- q112

def q112_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75: event-type association
    (operators/product_metrics.py:cooccurrence_lift)."""
    out = product_metrics.cooccurrence_lift(_t(spark, sf_dir, "events"))
    return out.select("type_a", "type_b", "n_both", F.round("lift", 6).alias("lift"))


Q112_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id AS u, event_type AS t FROM events
),
totals AS (
  SELECT t, count(*) AS n_t FROM ut GROUP BY t
),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, CAST(p.n_both AS BIGINT) AS n_both,
       round((CAST(p.n_both AS DOUBLE) * (SELECT count(DISTINCT u) FROM ut))
             / (CAST(ta.n_t AS DOUBLE) * tb.n_t), 6) AS lift
FROM pairs p
JOIN totals ta ON ta.t = p.type_a
JOIN totals tb ON tb.t = p.type_b
"""


# -------------------------------------------------------------- q113

Q113_LAND = os.path.join(_REPO, ".fixtures", ".q113_stream_land")


def _events_stream(spark: SparkSession, sf_dir: str, land: str):
    """Land events as micros-timestamp parquet (the landing-zone
    layout a file-source stream ingests) and open a file stream over
    it. Timestamps are micros-exact vs the oracle's nanos read: the
    test data carries no sub-microsecond components. Landed once per
    process (qcommon.land_once): q113/q114/q169 all stream this one
    dir, and bench best-of-2 reps reuse it too."""
    from product_analytics_spark.qcommon import land_once
    from product_analytics_spark.streaming import ops as st

    land_once(
        land,
        sf_dir,
        lambda: _t(spark, sf_dir, "events")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(land),
    )
    schema = spark.read.parquet(land).schema
    stream = st.stream_table(spark, land, schema)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ→LTZ id (UTC)


def q113_streaming_tumbling_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence: a REAL Structured Streaming run — file
    source → watermarked 1-day tumbling window agg → availableNow →
    memory sink — returned as the batch result and checked against
    the full SQL oracle. Batch-equivalence of the streaming plan is
    the core Structured Streaming correctness property; exact cents
    make it value-exact, not approximately-equal. At scale the same
    plan runs continuously: watermark bounds state, the window key
    partitions the state store."""
    stream = _events_stream(spark, sf_dir, Q113_LAND)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_money_cents("value")).alias("_c"),
        )
    )
    from product_analytics_spark.streaming import ops as st

    # Scope shuffle partitions down for the stream only (the ext25
    # discipline): each micro-batch commits one state-store file per
    # shuffle partition — 4 carry the |windows x types| state with 8x
    # less checkpoint IO than the batch default of 32.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        st.run_available_now(agg, "q113_sink", output_mode="complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("q113_sink").select(
        F.col("w.start").cast("timestamp_ntz").alias("day"),
        "event_type",
        "n_events",
        _cents_out(F.col("_c")).alias("total_value"),
    )


Q113_SQL = """
SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM events GROUP BY 1, 2
"""


# -------------------------------------------------------------- q114

#: q114 shares q113's landed events (identical layout; see
#: _EVENTS_LANDED) instead of rewriting its own copy.
Q114_LAND = Q113_LAND


def q114_streaming_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver evidence #2: native ``session_window`` streaming
    aggregation (gap-merged sessions, 30-min gap) run availableNow and
    checked against the gaps-and-islands SQL oracle. Boundary
    semantics encoded in the oracle: session_window's half-open
    [start, last+gap) means a gap of EXACTLY 30:00 starts a new
    session (``>=``, where batch islands sessionization uses ``>``).
    State is per (user, open session) — watermark-evicted in real
    deployments; the window key partitions the state store."""
    stream = _events_stream(spark, sf_dir, Q114_LAND)  # cached after q113
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.col("user_id"), F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_money_cents("value")).alias("_c"),
        )
    )
    from product_analytics_spark.streaming import ops as st

    # Stream-scoped shuffle-partition dial — see q113's note.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        st.run_available_now(agg, "q114_sink", output_mode="complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("q114_sink").select(
        "user_id",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        F.col("w.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        _cents_out(F.col("_c")).alias("total_value"),
    )


Q114_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM sess GROUP BY user_id, sid
"""


# -------------------------------------------------------------- q115

def q115_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: inverted-index build (operators/corpus.py:inverted_index)
    — token → document frequency + sorted, capped posting list."""
    return corpus.inverted_index(_t(spark, sf_dir, "documents"))


Q115_SQL = """
WITH td AS (
  SELECT DISTINCT tok AS token, doc_id AS d
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
)
SELECT token, count(*) AS df_count,
       (list_sort(list(d)))[1:8] AS postings
FROM td GROUP BY token
ORDER BY df_count DESC, token LIMIT 30
"""


# ------------------------------------------------------------- dicts

QUERIES_EXT = {
    "q100_streak_islands": q100_streak_islands,
    "q101_period_over_period": q101_period_over_period,
    "q102_longtail_rollup": q102_longtail_rollup,
    "q103_debounce_dedup": q103_debounce_dedup,
    "q104_ab_test_lift": q104_ab_test_lift,
    "q105_pagerank_iterations": q105_pagerank_iterations,
    "q106_negative_sampling": q106_negative_sampling,
    "q107_bpe_merge_pairs": q107_bpe_merge_pairs,
    "q108_morton_zvalue": q108_morton_zvalue,
    "q109_salted_skew_join": q109_salted_skew_join,
    "q110_partition_pruned_agg": q110_partition_pruned_agg,
    "q111_snapshot_time_travel": q111_snapshot_time_travel,
    "q112_cooccurrence_lift": q112_cooccurrence_lift,
    "q113_streaming_tumbling_parity": q113_streaming_tumbling_parity,
    "q114_streaming_session_parity": q114_streaming_session_parity,
    "q115_inverted_index": q115_inverted_index,
}

ORACLES_EXT = {
    "q100_streak_islands": Q100_SQL,
    "q101_period_over_period": Q101_SQL,
    "q102_longtail_rollup": Q102_SQL,
    "q103_debounce_dedup": Q103_SQL,
    "q104_ab_test_lift": _q104_sql(),
    "q105_pagerank_iterations": _q105_sql(),
    "q106_negative_sampling": _q106_sql(),
    "q107_bpe_merge_pairs": Q107_SQL,
    "q108_morton_zvalue": _q108_sql(),
    "q109_salted_skew_join": Q109_SQL,
    "q110_partition_pruned_agg": Q110_SQL,
    "q111_snapshot_time_travel": Q111_SQL,
    "q112_cooccurrence_lift": Q112_SQL,
    "q113_streaming_tumbling_parity": Q113_SQL,
    "q114_streaming_session_parity": Q114_SQL,
    "q115_inverted_index": Q115_SQL,
}
