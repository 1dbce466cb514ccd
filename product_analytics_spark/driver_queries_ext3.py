"""Round-3 driver query families, batch 2 (q116+): data-integrity
auditing (block checksums), distributed statistics (grouped OLS
regression, contingency/chi-square, MAD robust outliers, decile lift),
graph analytics (degree-oriented triangle counting, bounded BFS),
event analytics (nearest-event join, session depth/bounce), and
ranking fusion (reciprocal rank fusion).

Same contract as driver_queries.py: every computed column aliased
identically on both sides; exact integer/decimal arithmetic inside;
double outputs produced by ONE fixed-order IEEE formula both engines
mirror expression-for-expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.operators import graph, similarity, stats, text, windows
from product_analytics_spark.qcommon import (
    _cents_out,
    _dec2dbl_sql,
    _hash60_sql,
    _money_cents,
    _t,
    SESSION_GAP_MIN,
)

# ------------------------------------------------------------- q116

N_CHECKSUM_BLOCKS = 16


def q116_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level anti-entropy table checksum (Merkle-leaf analog):
    every row hashes its canonical field string with the engine-
    portable 60-bit md5 hash; rows fold into ``o_orderkey % 16``
    blocks with ORDER-INDEPENDENT aggregates (count, bit_xor, sum,
    min, max). Two replicas of a 100 TB table compare 16 block rows
    and re-sync only differing blocks — the shuffle moves |blocks|
    partials, never data. All aggregates are commutative/associative,
    so partition order cannot perturb a bit, and every output is an
    EXACT integer: the 60-bit hash sum leaves as two BIGINT halves
    (h split at 2^30, each half's sum < 2^63 up to ~2^33 rows/block)
    because a single >2^63 sum would need a DECIMAL→DOUBLE cast, and
    DuckDB's int128→double conversion is not correctly rounded
    (two-piece conversion, 1 ulp off Spark/IEEE on ~half of inputs —
    measured at sf0.001). A checksum must not depend on float
    rounding at all."""
    o = _t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        _money_cents("o_totalprice"),
        F.col("o_orderdate").cast("date"),
    )
    return (
        o.select(
            (F.col("o_orderkey") % N_CHECKSUM_BLOCKS).alias("block_id"),
            text.portable_hash60(canon).alias("_h"),
        )
        .groupBy("block_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_h)").alias("xor60"),
            F.sum(F.expr(f"_h div {1 << 30}")).alias("sum_h_hi"),
            F.sum(F.col("_h") % F.lit(1 << 30)).alias("sum_h_lo"),
            F.min("_h").alias("min_h"),
            F.max("_h").alias("max_h"),
        )
    )


def _q116_sql() -> str:
    canon = (
        "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
        "o_orderstatus, o_orderpriority, "
        "CAST(CAST(o_totalprice * 100 AS BIGINT) AS VARCHAR), "
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR))"
    )
    return f"""
WITH h AS (
  SELECT o_orderkey % {N_CHECKSUM_BLOCKS} AS block_id,
         {_hash60_sql(canon)} AS _h
  FROM orders
)
SELECT block_id,
       count(*) AS n_rows,
       bit_xor(_h) AS xor60,
       CAST(sum(_h // {1 << 30}) AS BIGINT) AS sum_h_hi,
       CAST(sum(_h % {1 << 30}) AS BIGINT) AS sum_h_lo,
       min(_h) AS min_h,
       max(_h) AS max_h
FROM h GROUP BY block_id
"""


# ------------------------------------------------------------- q117

def q117_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (price ~ quantity) from exact integer
    power sums (operators/stats.py:grouped_linreg — the q91 pattern
    extended to slope/intercept/R²). One hash-agg shuffle of |groups|
    x 9 long partials; builtin regr_slope is a merge-order-dependent
    float aggregate, this is bit-stable at any cluster size."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _money_cents("l_quantity").alias("x"),
        _money_cents("l_extendedprice").alias("y"),
    )
    r = stats.grouped_linreg(li, ["l_returnflag"], "x", "y")
    return r.select(
        "l_returnflag",
        F.col("n").alias("n_items"),
        "slope",
        (F.col("intercept") / F.lit(100.0)).alias("intercept_money"),
        "r2",
    )


Q117_SQL = f"""
WITH c AS (
  SELECT l_returnflag,
         CAST(l_quantity * 100 AS BIGINT) AS x,
         CAST(l_extendedprice * 100 AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag,
         count(*) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(y AS DECIMAL(38,0))) AS sy,
         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         sum(CAST(y * y AS DECIMAL(38,0))) AS syy
  FROM c GROUP BY 1
),
d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, {_dec2dbl_sql('sxy')} AS sxyd,
         {_dec2dbl_sql('sxx')} AS sxxd, {_dec2dbl_sql('syy')} AS syyd
  FROM s
),
f AS (
  SELECT l_returnflag, n, nd, sxd, syd, syyd,
         (nd * sxyd) - (sxd * syd) AS num,
         (nd * sxxd) - (sxd * sxd) AS den
  FROM d
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_items,
       num / den AS slope,
       ((syd - ((num / den) * sxd)) / nd) / 100.0 AS intercept_money,
       (num * num) / (den * ((nd * syyd) - (syd * syd))) AS r2
FROM f
"""


# ------------------------------------------------------------- q118

COPURCHASE_MIN_SUPPORT = 2


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase graph: an undirected edge (pa < pb) between two
    parts appearing in >= COPURCHASE_MIN_SUPPORT common orders.

    Basket-explode formulation, NOT a self-join: one order-keyed
    shuffle builds each order's sorted distinct part set, pairs
    generate MAP-SIDE from the array (C(basket,2) per order — a
    basket-size property, not a data-size property), and one pair
    hash-agg applies the support filter. The self-join alternative
    either broadcasts the whole distinct fact relation (what AQE
    picks locally — impossible at 100 TB) or shuffles it twice;
    this plan has no join at all."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("pr")
    )
    return (
        pairs.select(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= COPURCHASE_MIN_SUPPORT)
    )


def _copurchase_edges_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-once edge list shared by q118 (triangles) and q123
    (BFS) — the in-session analog of a materialized co-purchase edge
    TABLE built once per ingest and read by every graph consumer
    (cache.persist_shared survives the sweep's per-query clear_all)."""
    from product_analytics_spark import cache

    key = f"copurchase_edges:{sf_dir}"
    return cache.persist_shared(key, lambda: _copurchase_edges(spark, sf_dir))


def q118_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the co-purchase graph via
    degree-ordered orientation (operators/graph.py:triangle_counts —
    Suri & Vassilvitskii WWW'11): out-degrees bounded by O(sqrt(m)),
    wedge work O(m^1.5) total, each triangle enumerated exactly once.
    The oracle replays the identical orientation in SQL."""
    e = _copurchase_edges_shared(spark, sf_dir)
    return graph.triangle_counts(e, "pa", "pb").select(
        F.col("id").alias("l_partkey"), "n_triangles"
    )


_COPURCHASE_SQL = f"""
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {COPURCHASE_MIN_SUPPORT}
),
und AS (SELECT pa AS a, pb AS b FROM e0 UNION SELECT pb, pa FROM e0)
"""

Q118_SQL = f"""
WITH {_COPURCHASE_SQL},
deg AS (SELECT a, count(*) AS deg FROM und GROUP BY 1),
oriented AS (
  SELECT u.a AS src, u.b AS dst,
         (db.deg * 4294967296 + u.b) AS kdst
  FROM und u
  JOIN deg da ON da.a = u.a
  JOIN deg db ON db.a = u.b
  WHERE (da.deg * 4294967296 + u.a) < (db.deg * 4294967296 + u.b)
),
wedges AS (
  SELECT e1.src, e1.dst AS v, e2.dst AS w
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src AND e1.kdst < e2.kdst
),
tri AS (
  SELECT wg.src, wg.v, wg.w
  FROM wedges wg JOIN oriented e3 ON e3.src = wg.v AND e3.dst = wg.w
),
ids AS (
  SELECT src AS id FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT id AS l_partkey, count(*) AS n_triangles FROM ids GROUP BY 1
"""


# ------------------------------------------------------------- q119

def q119_contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table independence analysis (priority x status):
    per-cell observed count, expected count under independence, and
    the chi-square contribution — all from EXACT counts, with the two
    double formulas in one fixed order (the rational rewrite
    (n*obs - rt*ct)^2 / (n*rt*ct) keeps everything a function of exact
    integers). Margins come from window sums over the |cells| relation
    (~15 rows), so the only full-data work is ONE hash-agg."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wn = Window.partitionBy()
    c = (
        cells.withColumn("_rt", F.sum("n_obs").over(wr))
        .withColumn("_ct", F.sum("n_obs").over(wc))
        .withColumn("_n", F.sum("n_obs").over(wn))
    )
    nd = F.col("_n").cast("double")
    rtd = F.col("_rt").cast("double")
    ctd = F.col("_ct").cast("double")
    obsd = F.col("n_obs").cast("double")
    num = (nd * obsd) - (rtd * ctd)
    return c.select(
        "o_orderpriority",
        "o_orderstatus",
        "n_obs",
        ((rtd * ctd) / nd).alias("expected"),
        ((num * num) / ((nd * rtd) * ctd)).alias("chi2_contrib"),
    )


Q119_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS n_obs
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT o_orderpriority, o_orderstatus, n_obs,
         CAST(sum(n_obs) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS rtd,
         CAST(sum(n_obs) OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS ctd,
         CAST(sum(n_obs) OVER () AS DOUBLE) AS nd
  FROM cells
)
SELECT o_orderpriority, o_orderstatus, n_obs,
       (rtd * ctd) / nd AS expected,
       (((nd * CAST(n_obs AS DOUBLE)) - (rtd * ctd))
        * ((nd * CAST(n_obs AS DOUBLE)) - (rtd * ctd)))
       / ((nd * rtd) * ctd) AS chi2_contrib
FROM m
"""


# ------------------------------------------------------------- q120

def q120_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nearest-event join: each click matches the SAME
    user's nearest purchase by absolute time distance (tie -> the
    earlier purchase). Both directions ride ONE user-keyed shuffle:
    the interleaved click/purchase stream gets last-purchase-before
    and first-purchase-after via two frames over the same window sort
    — no self-join, no range explosion (the as-of union+window plan,
    both directions at once). Microsecond-exact integer gaps."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    us = F.unix_micros(F.col("ts"))
    is_p = F.col("event_type") == "purchase"
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    after = w.rowsBetween(1, Window.unboundedFollowing)
    m = ev.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("_us"),
        F.last(F.when(is_p, us), ignorenulls=True).over(before).alias("_pus"),
        F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(before).alias("_pid"),
        F.first(F.when(is_p, us), ignorenulls=True).over(after).alias("_nus"),
        F.first(F.when(is_p, F.col("event_id")), ignorenulls=True).over(after).alias("_nid"),
    ).filter(F.col("event_type") == "click")
    use_prev = F.col("_nus").isNull() | (
        F.col("_pus").isNotNull()
        & ((F.col("_us") - F.col("_pus")) <= (F.col("_nus") - F.col("_us")))
    )
    return (
        m.select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.when(use_prev, F.col("_pid")).otherwise(F.col("_nid")).alias("purchase_id"),
            F.when(use_prev, F.col("_us") - F.col("_pus"))
            .otherwise(F.col("_nus") - F.col("_us"))
            .alias("gap_us"),
            F.when(use_prev, F.lit("before")).otherwise(F.lit("after")).alias("direction"),
        )
        .filter(F.col("purchase_id").isNotNull())
    )


Q120_SQL = """
WITH ev AS (
  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type IN ('click', 'purchase')
),
m AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
           OVER wb AS pus,
         last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
           OVER wb AS pid,
         first_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
           OVER wa AS nus,
         first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
           OVER wa AS nid
  FROM ev
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    wa AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
c AS (
  SELECT *,
         (nus IS NULL OR (pus IS NOT NULL AND (us - pus) <= (nus - us))) AS use_prev
  FROM m WHERE event_type = 'click'
)
SELECT event_id AS click_id, user_id,
       CASE WHEN use_prev THEN pid ELSE nid END AS purchase_id,
       CASE WHEN use_prev THEN us - pus ELSE nus - us END AS gap_us,
       CASE WHEN use_prev THEN 'before' ELSE 'after' END AS direction
FROM c
WHERE CASE WHEN use_prev THEN pid ELSE nid END IS NOT NULL
"""


# ------------------------------------------------------------- q121

MAD_K = 3.0


def q121_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per group: median + MAD (median absolute
    deviation) + |x - med| > 3*MAD count. Exact percentiles
    (F.percentile ≡ DuckDB quantile_cont, both linear interpolation)
    over integer cents; the med/MAD relations are |groups| rows and
    broadcast back, so each pass is one group-keyed shuffle. Exact MAD
    is inherently two-pass; approx_percentile collapses it to one at
    100 TB (documented swap-in, same shape as X14/X45). The projected
    cents relation and the deviation relation are persisted (cache.py
    lifecycle) so the three passes share one scan instead of
    re-reading parquet per pass — at scale these are the temp tables
    a multi-pass statistic would stage anyway."""
    o = cache.persist(
        _t(spark, sf_dir, "orders").select(
            F.col("o_orderpriority").alias("prio"),
            _money_cents("o_totalprice").alias("c"),
        )
    )
    med = o.groupBy("prio").agg(F.percentile("c", F.lit(0.5)).alias("med"))
    dev = cache.persist(
        o.join(F.broadcast(med), "prio").select(
            "prio",
            "med",
            F.abs(F.col("c").cast("double") - F.col("med")).alias("dev"),
        )
    )
    mad = dev.groupBy("prio").agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "prio")
        .groupBy("prio", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("dev") > F.lit(MAD_K) * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            F.col("prio").alias("o_orderpriority"),
            "n_orders",
            (F.col("med") / F.lit(100.0)).alias("median_total"),
            (F.col("mad") / F.lit(100.0)).alias("mad_total"),
            "n_outliers",
        )
    )


Q121_SQL = f"""
WITH c AS (
  SELECT o_orderpriority AS prio, CAST(o_totalprice * 100 AS BIGINT) AS c
  FROM orders
),
med AS (SELECT prio, quantile_cont(c, 0.5) AS med FROM c GROUP BY 1),
dev AS (
  SELECT c.prio, med.med, abs(CAST(c.c AS DOUBLE) - med.med) AS dev
  FROM c JOIN med ON med.prio = c.prio
),
mad AS (SELECT prio, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1)
SELECT dev.prio AS o_orderpriority,
       count(*) AS n_orders,
       dev.med / 100.0 AS median_total,
       mad.mad / 100.0 AS mad_total,
       CAST(sum(CASE WHEN dev.dev > {MAD_K} * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev JOIN mad ON mad.prio = dev.prio
GROUP BY dev.prio, dev.med, mad.mad
"""


# ------------------------------------------------------------- q122

def q122_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table for customer LTV: full-data work is ONE
    customer-keyed cents hash-agg; the ntile + cumulative windows run
    over the post-aggregate |customers| relation. Cumulative share and
    lift are single divisions of exact cents — no running float
    state. (At 100 TB the |customers| total-order window swaps to
    X45's percentile-boundary binning, same as q92's documented
    swap-in.)"""
    cl = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(_money_cents("o_totalprice")).alias("ltv"))
    )
    w = Window.orderBy(F.desc("ltv"), F.asc("o_custkey"))
    d = cl.withColumn("decile", F.ntile(10).over(w))
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("ltv").alias("_dc"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.partitionBy()
    c = per.withColumn("_cum", F.sum("_dc").over(wcum)).withColumn(
        "_tot", F.sum("_dc").over(wtot)
    )
    return c.select(
        "decile",
        "n_customers",
        _cents_out(F.col("_dc")).alias("decile_revenue"),
        (F.col("_cum").cast("double") / F.col("_tot").cast("double")).alias(
            "cum_revenue_share"
        ),
        ((F.col("_dc").cast("double") * F.lit(10.0)) / F.col("_tot").cast("double")).alias(
            "lift"
        ),
    )


Q122_SQL = """
WITH cl AS (
  SELECT o_custkey, sum(CAST(o_totalprice * 100 AS BIGINT)) AS ltv
  FROM orders GROUP BY 1
),
d AS (
  SELECT o_custkey, ltv, ntile(10) OVER (ORDER BY ltv DESC, o_custkey) AS decile
  FROM cl
),
per AS (
  SELECT decile, count(*) AS n_customers, sum(ltv) AS dc FROM d GROUP BY 1
),
c AS (
  SELECT decile, n_customers, dc,
         sum(dc) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(dc) OVER () AS tot
  FROM per
)
SELECT decile, n_customers,
       CAST(dc AS DOUBLE) / 100.0 AS decile_revenue,
       CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_revenue_share,
       (CAST(dc AS DOUBLE) * 10.0) / CAST(tot AS DOUBLE) AS lift
FROM c
"""


# ------------------------------------------------------------- q123

BFS_MAX_HOPS = 3


def q123_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the co-purchase graph from the minimum-id
    part: hop-frontier expansion as k rounds of (frontier ⋈ edges →
    min-hop agg), 12-byte state rows (operators/graph.py:bfs_hops).
    The oracle resolves the same reachability with a bounded recursive
    CTE."""
    # The edge build (basket explode + support agg) feeds the seed
    # derivation and the BFS's symmetrize, and q118 needs the same
    # relation, so it is persisted once per session via the shared
    # memo. bfs_hops materializes it when it builds its symmetrized
    # edge set (one eager checkpoint job, released on return); the seed
    # then reads the cached blocks in one scan.
    e = _copurchase_edges_shared(spark, sf_dir)
    src = e.agg(F.least(F.min("pa"), F.min("pb")).alias("id"))
    return graph.bfs_hops(e, src, max_hops=BFS_MAX_HOPS, src_col="pa", dst_col="pb").select(
        F.col("id").alias("l_partkey"), "hops"
    )


Q123_SQL = f"""
WITH RECURSIVE {_COPURCHASE_SQL},
src AS (SELECT min(a) AS id FROM und),
reach(id, hops) AS (
  SELECT id, 0 FROM src
  UNION
  SELECT u.b, r.hops + 1
  FROM reach r JOIN und u ON u.a = r.id
  WHERE r.hops < {BFS_MAX_HOPS}
)
SELECT id AS l_partkey, CAST(min(hops) AS INT) AS hops
FROM reach GROUP BY id
"""


# ------------------------------------------------------------- q124

def q124_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session depth & bounce-rate report per day: q23's gap
    sessionization (one user-keyed shuffle serving both window
    passes) → per-session counts → per-day rollup. Bounce rate and
    events-per-session are single divisions of exact counts."""
    s = windows.sessionize(_t(spark, sf_dir, "events"), gap_minutes=SESSION_GAP_MIN)
    sess = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("_start"),
        F.count(F.lit(1)).alias("_n"),
    )
    day = sess.groupBy(F.date_trunc("day", "_start").alias("day")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("_n") == 1, 1).otherwise(0)).cast("bigint").alias("n_bounces"),
        F.sum("_n").cast("bigint").alias("n_events"),
    )
    nsd = F.col("n_sessions").cast("double")
    return day.select(
        "day",
        "n_sessions",
        "n_bounces",
        "n_events",
        (F.col("n_bounces").cast("double") / nsd).alias("bounce_rate"),
        (F.col("n_events").cast("double") / nsd).alias("events_per_session"),
    )


Q124_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
),
per AS (
  SELECT user_id, session_id, min(ts) AS s_start, count(*) AS n
  FROM sess GROUP BY 1, 2
),
day AS (
  SELECT CAST(date_trunc('day', s_start) AS TIMESTAMP) AS day,
         count(*) AS n_sessions,
         CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
         CAST(sum(n) AS BIGINT) AS n_events
  FROM per GROUP BY 1
)
SELECT day, n_sessions, n_bounces, n_events,
       CAST(n_bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS bounce_rate,
       CAST(n_events AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS events_per_session
FROM day
"""


# ------------------------------------------------------------- q125

RRF_K = 60.0
RRF_TOPK = 10
RRF_PROBE_ID = 0


def q125_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion of two retrieval signals (cosine
    similarity to a probe; vector magnitude as a popularity proxy):
    rrf = 1/(60+r_sim) + 1/(60+r_norm). The fused score is a function
    of INTEGER ranks only — fully portable doubles. Ranks come from
    windows over the scored relation; at 100 TB each ranking swaps to
    the ANN bucket path (q28/q39) feeding per-bucket candidate ranks.
    """
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == RRF_PROBE_ID).select("embedding").first()[0]
    p = F.array(*[F.lit(float(x)) for x in probe])
    v = F.col("embedding").cast("array<double>")
    scored = emb.filter(F.col("vec_id") != RRF_PROBE_ID).select(
        "vec_id",
        similarity.cosine(v, p).alias("_cos"),
        similarity.dot(v, v).alias("_n2"),
    )
    r1 = F.row_number().over(Window.orderBy(F.desc("_cos"), F.asc("vec_id")))
    r2 = F.row_number().over(Window.orderBy(F.desc("_n2"), F.asc("vec_id")))
    ranked = scored.select("vec_id", r1.alias("rank_sim"), r2.alias("rank_norm"))
    rrf = (
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_sim").cast("double"))
    ) + (F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_norm").cast("double")))
    fused = ranked.withColumn("rrf", rrf)
    # TakeOrderedAndProject for the final cut (no single-reducer sort);
    # the rank windows above are the part that swaps to the ANN bucket
    # path at scale.
    return fused.orderBy(F.desc("rrf"), F.asc("vec_id")).limit(RRF_TOPK)


Q125_SQL = f"""
WITH probe AS (
  SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = {RRF_PROBE_ID}
),
scored AS (
  SELECT vec_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), p)
           / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              * sqrt(list_dot_product(p, p))) AS cos,
         list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings, probe
  WHERE vec_id != {RRF_PROBE_ID}
),
ranked AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank_sim,
         CAST(row_number() OVER (ORDER BY n2 DESC, vec_id) AS INT) AS rank_norm
  FROM scored
),
fused AS (
  SELECT vec_id, rank_sim, rank_norm,
         (1.0 / ({RRF_K} + CAST(rank_sim AS DOUBLE)))
           + (1.0 / ({RRF_K} + CAST(rank_norm AS DOUBLE))) AS rrf
  FROM ranked
)
SELECT vec_id, rank_sim, rank_norm, rrf
FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, vec_id) AS rn FROM fused)
WHERE rn <= {RRF_TOPK}
"""


QUERIES_EXT3 = {
    "q116_table_checksum": q116_table_checksum,
    "q117_grouped_linreg": q117_grouped_linreg,
    "q118_triangle_counts": q118_triangle_counts,
    "q119_contingency_chi2": q119_contingency_chi2,
    "q120_nearest_event_join": q120_nearest_event_join,
    "q121_mad_outliers": q121_mad_outliers,
    "q122_decile_lift": q122_decile_lift,
    "q123_bfs_hops": q123_bfs_hops,
    "q124_session_depth": q124_session_depth,
    "q125_rrf_fusion": q125_rrf_fusion,
}

ORACLES_EXT3 = {
    "q116_table_checksum": _q116_sql(),
    "q117_grouped_linreg": Q117_SQL,
    "q118_triangle_counts": Q118_SQL,
    "q119_contingency_chi2": Q119_SQL,
    "q120_nearest_event_join": Q120_SQL,
    "q121_mad_outliers": Q121_SQL,
    "q122_decile_lift": Q122_SQL,
    "q123_bfs_hops": Q123_SQL,
    "q124_session_depth": Q124_SQL,
    "q125_rrf_fusion": Q125_SQL,
}
