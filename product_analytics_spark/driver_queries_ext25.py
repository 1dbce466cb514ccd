"""Round-4 driver query families, batch 25 (q218-q221): stream-stream
LEFT OUTER join finalization, integer-exact decayed popularity,
clamped running balance (reflection trick), and weighted bounded
shortest path.

Same contract as the other driver_queries modules: identical aliases
both sides, exact integer arithmetic inside, doubles only in final
per-row expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _t, local_rows_df

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- q218

Q218_LAND = os.path.join(_REPO, ".fixtures", ".q218_stream_land")
Q218_LOOKBACK_MIN = 60
Q218_DELAY = "2 hours"


def q218_streaming_outer_join_finalization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 driver evidence: stream-stream LEFT OUTER interval join —
    q126's inner join upgraded to the semantics that are actually hard
    in streaming: an unmatched left row can only be emitted (NULL-
    padded) once the watermark proves no matching right row can still
    arrive, so outer results materialize LATE, in a later micro-batch
    than their inputs. Clicks join purchases by the same user within
    the preceding 60 minutes; both sides watermarked; a far-future
    sentinel pair (one click + one purchase, user_id -1, passing both
    side filters so BOTH watermark operators see it) pushes the final
    watermark past every real click, forcing the tail unmatched rows
    out before availableNow terminates — the q201 flush discipline
    applied to join state. Each sentinel click emits exactly once as a
    self-match with its paired purchase and is dropped from the sink
    table afterwards — NOT filtered inside the streaming plan, where
    predicate pushdown would prune the sentinel files at the scan and
    defeat the flush (see the inline comment).

    Parity: the file sink must equal the static LEFT JOIN with the
    identical interval condition — matched rows with their gap,
    unmatched clicks with NULLs. That equality IS the evidence that
    state eviction and outer-emission timing lose nothing.

    Scale: join state is bounded by watermark + lookback per key;
    shuffle keyed on user_id both sides; the 4-per-partition state
    stores argue for sizing shuffle partitions to the cluster, scoped
    down here for the harness."""
    from product_analytics_spark.qcommon import land_once
    from product_analytics_spark.streaming import ops as st

    def _land() -> None:
        ev = _t(spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
        # ALL real data lands in one write → one micro-batch: the batch
        # runs at watermark -inf, so nothing can be late-dropped and every
        # inner match emits. (If data spanned multiple batches they would
        # have to arrive time-ordered, or the advancing watermark would
        # discard older files' rows — the landing-zone ordering contract.)
        ev.repartition(4).write.mode("overwrite").parquet(Q218_LAND)
        landed_schema = spark.read.parquet(Q218_LAND).schema
        # TWO flush files, landed as separate micro-batches: the first
        # sentinel pair advances both sides' watermarks past every real
        # event AT THE END of its batch; the second batch is what actually
        # EMITS the tail unmatched clicks that advance freed (outer rows
        # materialize one batch after the watermark move — availableNow
        # schedules no empty finalization batch, so the batch must carry
        # real input). Each sentinel passes both side filters so both
        # watermark operators see it; neither ever emits (the watermark
        # never passes its own ts).
        known = {"event_id", "ts", "user_id", "event_type"}
        for sid, when in ((-1, "2024-03-01 00:00:00"), (-3, "2024-04-01 00:00:00")):
            base = local_rows_df(spark, 
                [(sid, when, -1, "click"), (sid - 1, when, -1, "purchase")],
                "event_id long, ts string, user_id long, event_type string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            sentinels = base.select(
                *[
                    (
                        F.col(fld.name).cast(fld.dataType)
                        if fld.name in known
                        else F.lit(None).cast(fld.dataType)
                    ).alias(fld.name)
                    for fld in landed_schema.fields
                ]
            )
            sentinels.repartition(1).write.mode("append").parquet(Q218_LAND)

    land_once(Q218_LAND, sf_dir, _land)
    schema = spark.read.parquet(Q218_LAND).schema

    def stream():
        # 4 = the data write's file count: batch 1 takes all real data
        # (files list in modification order), batches 2 and 3 are the
        # two sentinel files — 3 micro-batches total.
        return st.stream_table(
            spark, Q218_LAND, schema, max_files_per_trigger=4
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    left = stream().filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    right = stream().filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("r_ts"),
    )
    lb = F.expr(f"INTERVAL {Q218_LOOKBACK_MIN} MINUTES")
    l = left.withWatermark("ts", Q218_DELAY).alias("l_side")
    r = right.withWatermark("r_ts", Q218_DELAY).alias("r_side")
    cond = (
        (F.col("l_side.user_id") == F.col("r_side.r_user_id"))
        & (F.col("r_side.r_ts") <= F.col("l_side.ts"))
        & (F.col("r_side.r_ts") >= F.col("l_side.ts") - lb)
    )
    # NO sentinel filter inside the streaming plan: a left-side
    # predicate would be PUSHED DOWN through the outer join to the
    # parquet scan, row-group-pruning the sentinel files before the
    # watermark operator ever sees them (measured: the watermark then
    # never advances past the real data and the tail outer rows never
    # emit). Sentinels are excluded on the sink table instead.
    joined = (
        l.join(r, cond, "left_outer")
        .select(
            F.col("l_side.event_id").alias("click_id"),
            "purchase_id",
            (
                F.unix_micros(F.col("l_side.ts"))
                - F.unix_micros(F.col("r_side.r_ts"))
            ).alias("gap_us"),
        )
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # No processing-time timeouts anywhere in this plan, so the
        # availableNow query terminates BY ITSELF after the last file
        # batch — await it directly. run_available_now's early-stop
        # poll is for stateful-timeout plans and can fire in the gap
        # BETWEEN triggers, which would abandon join state before the
        # sentinel batches flush it (measured: the tail unmatched
        # clicks vanish).
        q = (
            joined.writeStream.format("memory")
            .queryName("q218_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q218 stream did not drain in 300s")
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # Each sentinel click self-matches its paired purchase (gap 0) and
    # emits inline — drop them here, OUTSIDE the streaming plan.
    return spark.table("q218_sink").filter(F.col("click_id") >= 0)


Q218_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
),
l AS (SELECT * FROM ev WHERE event_type = 'click'),
r AS (SELECT * FROM ev WHERE event_type = 'purchase')
SELECT l.event_id AS click_id,
       r.event_id AS purchase_id,
       epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
FROM l LEFT JOIN r
  ON r.user_id = l.user_id
 AND r.ts <= l.ts
 AND r.ts >= l.ts - INTERVAL {Q218_LOOKBACK_MIN} MINUTE
"""


# ------------------------------------------------------------- q219

DECAY_AS_OF = "2024-01-31"
DECAY_HALFLIFE_DAYS = 5
DECAY_MAX_UNITS = 6  # 30-day event span / 5-day half-life


def q219_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182: half-life-decayed popularity ranking — the freshness-
    weighted score behind every trending list: each event contributes
    2^(-age) where age is measured in HALF-LIFE units (5 days here),
    so yesterday's burst outranks last month's steady drip. The
    integer-exactness trick: instead of summing floats 2^(-age), sum
    the mirrored integers 2^(MAX-age) (a left shift — exact BIGINT)
    and divide by 2^MAX once at the end. Powers of two are exactly
    representable, the integer sum is order-free, and the single final
    division is one IEEE rounding — so the ranking is bit-identical on
    any engine and any partitioning, where a float accumulation would
    tie-break nondeterministically (the X32/q208 discipline applied to
    exponential decay).

    Scale: one scan, map-side shift arithmetic, one user-keyed agg;
    the rank window is over |users| rows. Decay never needs a
    recompute job: yesterday's scores halve by a constant, so the
    incremental refresh is (old_score div 2 per half-life) + new
    events — noted for the X126 mergeable-state path."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            f"CAST(datediff(DATE '{DECAY_AS_OF}', CAST(ts AS DATE)) "
            f"div {DECAY_HALFLIFE_DAYS} AS BIGINT)"
        ).alias("units"),
    )
    scored = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), "
                f"CAST({DECAY_MAX_UNITS} - units AS INT))"
            )
        )
        .cast("bigint")
        .alias("score_scaled"),
    )
    wr = Window.partitionBy().orderBy(F.desc("score_scaled"), F.asc("user_id"))
    return scored.select(
        "user_id",
        "n_events",
        "score_scaled",
        (F.col("score_scaled") / F.lit(float(1 << DECAY_MAX_UNITS))).alias(
            "score"
        ),
        F.row_number().over(wr).cast("int").alias("trend_rank"),
    )


Q219_SQL = f"""
WITH ev AS (
  SELECT user_id,
         CAST((DATE '{DECAY_AS_OF}' - CAST(ts AS DATE))
              // {DECAY_HALFLIFE_DAYS} AS BIGINT) AS units
  FROM events
),
scored AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(1 AS BIGINT) << CAST({DECAY_MAX_UNITS} - units AS INT))
              AS BIGINT) AS score_scaled
  FROM ev GROUP BY user_id
)
SELECT user_id, n_events, score_scaled,
       score_scaled / {float(1 << DECAY_MAX_UNITS)!r} AS score,
       CAST(row_number() OVER (ORDER BY score_scaled DESC, user_id ASC)
            AS INT) AS trend_rank
FROM scored
"""


# ------------------------------------------------------------- q220


def q220_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X183: non-negative running balance with shortfall accounting —
    the inventory/wallet kernel: purchases credit a user's balance,
    every other event debits half its value, and the balance CANNOT go
    below zero (a stockout absorbs the excess). The naive recurrence
    level_t = max(0, level_{t-1} + delta_t) looks inherently
    sequential, but the reflection identity
        level_t = cumsum_t - min(0, running_min(cumsum)_t)
    turns it into TWO stacked window passes over the same user-keyed
    sort — no recursion, no UDF, no iteration (the Skorokhod-
    reflection trick; only valid for a one-sided clamp, which is
    exactly this shape). total_shortfall = -min(0, min cumsum) is the
    amount the clamp injected — the stockout cost.

    All deltas are exact integer cents, so both windows are order-free
    and the result is engine- and partitioning-identical.

    Scale: one shuffle by user_id serves both window passes and the
    final agg; per-user state is the sort, which Spark spills
    gracefully — contrast with a per-row recursive UDF that could
    not distribute at all."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("bigint"),
        )
        .otherwise(
            -F.expr(
                "CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) "
                "div 2 AS BIGINT)"
            )
        )
        .alias("delta_cents"),
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # Two stacked passes over ONE user-keyed sort: cum first, then the
    # running min of min(cum, 0) in the same order (window-of-window,
    # legal because the first select materializes cum as a column).
    staged = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.sum("delta_cents").over(wc).alias("cum"),
        )
        .select(
            "user_id",
            "cum",
            F.min(F.least(F.col("cum"), F.lit(0))).over(wc).alias("runmin0"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            )
            .alias("rev_rn"),
        )
    )
    return (
        staged.filter(F.col("rev_rn") == 1)
        .select(
            "user_id",
            ((F.col("cum") - F.col("runmin0")) / F.lit(100.0)).alias(
                "final_balance"
            ),
            (-F.col("runmin0") / F.lit(100.0)).alias("total_shortfall"),
        )
    )


Q220_SQL = """
WITH ev AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
              ELSE -CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         // 2 AS BIGINT)
         END AS delta_cents
  FROM events
),
cums AS (
  SELECT user_id, ts, event_id,
         CAST(sum(delta_cents) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM ev
),
staged AS (
  SELECT user_id, cum,
         CAST(min(least(cum, 0)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS runmin0,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rev_rn
  FROM cums
)
SELECT user_id,
       (cum - runmin0) / 100.0 AS final_balance,
       -runmin0 / 100.0 AS total_shortfall
FROM staged WHERE rev_rn = 1
"""


# ------------------------------------------------------------- q221

BF_ROUNDS = 6


def q221_weighted_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184: bounded weighted single-source shortest path — Bellman-
    Ford as {BF_ROUNDS} relaxation rounds (operators/graph.py:
    bellman_ford), generalizing q123's BFS to the min-plus semiring:
    after k rounds every vertex holds the exact cheapest cost over
    paths of at most k edges. The graph is derived deterministically
    from the customer key space (each customer c links to (2c+1) mod N
    and (3c+2) mod N with small integer weights), so the oracle can
    rebuild the identical graph and resolve the same horizon with a
    bounded recursive CTE. Integer weights keep every min() order-free.

    Scale: each round is one left join of the distance relation onto
    the edges and one vertex-keyed min() agg of 16-byte rows, reading
    the previous round once; the rounds between checkpoints run as one
    query (no convergence probe); the horizon bound is what makes the
    cost predictable — the unbounded variant
    is X29/X81 territory (iterate-with-probe)."""
    from product_analytics_spark.operators import graph

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    n = (
        c.agg(F.max("c_custkey").alias("mx"))
        .select((F.col("mx") + 1).alias("n"))
        .withColumn("_k", F.lit(1))
    )
    # Constant-key broadcast equi-join for the 1-row scalar (hash
    # join, not BroadcastNestedLoopJoin).
    base = c.withColumn("_k", F.lit(1)).join(F.broadcast(n), "_k")
    edges = base.selectExpr(
        "c_custkey AS src",
        "CAST((2 * c_custkey + 1) % n AS BIGINT) AS dst",
        "CAST(c_custkey % 7 + 1 AS BIGINT) AS w",
    ).union(
        base.selectExpr(
            "c_custkey AS src",
            "CAST((3 * c_custkey + 2) % n AS BIGINT) AS dst",
            "CAST(c_custkey % 5 + 3 AS BIGINT) AS w",
        )
    )
    src = c.agg(F.min("c_custkey").alias("id"))
    # The reached relation is ≤ 2^rounds vertices — scope the
    # per-round shuffle down so 6 rounds don't pay 6×32 near-empty
    # tasks (a cluster run sizes this to the frontier instead).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = graph.bellman_ford(edges, src, rounds=BF_ROUNDS)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.select(
        F.col("id").cast("bigint").alias("c_custkey"),
        F.col("dist").cast("bigint").alias("dist"),
    )


Q221_SQL = f"""
WITH RECURSIVE n AS (SELECT max(c_custkey) + 1 AS n FROM customer),
edges AS (
  SELECT c_custkey AS src,
         CAST((2 * c_custkey + 1) % n.n AS BIGINT) AS dst,
         CAST(c_custkey % 7 + 1 AS BIGINT) AS w
  FROM customer, n
  UNION ALL
  SELECT c_custkey,
         CAST((3 * c_custkey + 2) % n.n AS BIGINT),
         CAST(c_custkey % 5 + 3 AS BIGINT)
  FROM customer, n
),
src AS (SELECT min(c_custkey) AS id FROM customer),
reach(id, dist, hops) AS (
  SELECT id, CAST(0 AS BIGINT), 0 FROM src
  UNION
  SELECT e.dst, r.dist + e.w, r.hops + 1
  FROM reach r JOIN edges e ON e.src = r.id
  WHERE r.hops < {BF_ROUNDS}
)
SELECT CAST(id AS BIGINT) AS c_custkey,
       CAST(min(dist) AS BIGINT) AS dist
FROM reach GROUP BY id
"""


QUERIES_EXT25 = {
    "q218_streaming_outer_join_finalization": q218_streaming_outer_join_finalization,
    "q219_decayed_popularity": q219_decayed_popularity,
    "q220_clamped_running_balance": q220_clamped_running_balance,
    "q221_weighted_shortest_path": q221_weighted_shortest_path,
}

ORACLES_EXT25 = {
    "q218_streaming_outer_join_finalization": Q218_SQL,
    "q219_decayed_popularity": Q219_SQL,
    "q220_clamped_running_balance": Q220_SQL,
    "q221_weighted_shortest_path": Q221_SQL,
}
