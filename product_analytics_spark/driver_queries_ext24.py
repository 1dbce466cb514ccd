"""Round-4 driver query families, batch 24 (q214-q217): corpus
budget allocation, content-defined chunk dedup, zone-map pruning
effectiveness, and closed-form hierarchy rollup.

Same contract as the other driver_queries modules: every query is a
(spark, sf_dir) -> DataFrame callable with a DuckDB oracle that is
value-identical (integer/decimal internal arithmetic, doubles only
in final per-row expressions — the X32 float discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import _t, spread_by
from product_analytics_spark.driver_queries_ext import _morton_terms

# ------------------------------------------------------------- q214

BUDGET_PCT = 30  # global token budget as % of corpus tokens


def q214_corpus_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X178: budget-constrained corpus selection — the op that turns a
    token budget into a training set: allocate a global budget across
    languages by largest-remainder (X138's kernel, so the per-language
    budgets sum EXACTLY to the global one — proportional rounding
    never leaks tokens), then greedily fill each language's budget
    with its longest documents (n_tokens DESC, doc_id tiebreak) via an
    integer cumulative-sum window. Emits the per-document verdict
    (selected / rejected + the running total that justified it) — the
    relation a data builder joins against to materialize the mix.

    All arithmetic is integer (token counts, `div`/`%`), so the
    selection is bit-identical on any engine and any partitioning.

    Scale: one scan to token-count (length arithmetic, no tokenizer
    UDF), a 5-row language relation for the allocation, one
    language-keyed window for the fill — the window partitions by
    lang, so the shuffle is by the same key the budget is; skewed
    languages (en is ~40% of the corpus) are exactly the AQE
    skew-split case documented in SCALE.md."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1)
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    lang = d.groupBy("lang").agg(F.sum("n_tokens").alias("t_l"))
    # Totals via a whole-relation window over the |langs|-row relation
    # (the q171 idiom) — no cross join, no BroadcastNestedLoopJoin.
    wtot0 = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    alloc = lang.select(
        "lang",
        "t_l",
        F.sum("t_l").over(wtot0).alias("t"),
    ).select(
        "lang",
        "t_l",
        F.expr(f"CAST(t * {BUDGET_PCT} div 100 AS BIGINT)").alias("b"),
        "t",
    ).select(
        "lang",
        "t_l",
        "b",
        F.expr("CAST(b * t_l div t AS BIGINT)").alias("floor_l"),
        F.expr("CAST(b * t_l % t AS BIGINT)").alias("rem_l"),
    )
    wr = Window.partitionBy().orderBy(F.desc("rem_l"), F.asc("lang"))
    wtot = Window.partitionBy()
    alloc = alloc.select(
        "lang",
        "floor_l",
        F.row_number().over(wr).alias("rn"),
        (F.col("b") - F.sum("floor_l").over(wtot)).alias("leftover"),
    ).select(
        "lang",
        (
            F.col("floor_l")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("lang_budget"),
    )
    wfill = Window.partitionBy("lang").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        d.join(F.broadcast(alloc), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "lang_budget",
            F.sum("n_tokens").over(wfill).alias("cum_tokens"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "lang_budget",
            "cum_tokens",
            (F.col("cum_tokens") <= F.col("lang_budget")).alias("selected"),
        )
    )


Q214_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens
  FROM documents
),
lang AS (SELECT lang, sum(n_tokens) AS t_l FROM d GROUP BY lang),
tot AS (
  SELECT sum(t_l) AS t,
         CAST(sum(t_l) * {BUDGET_PCT} // 100 AS BIGINT) AS b
  FROM lang
),
alloc0 AS (
  SELECT lang.lang, lang.t_l, tot.b,
         CAST(tot.b * lang.t_l // tot.t AS BIGINT) AS floor_l,
         CAST(tot.b * lang.t_l % tot.t AS BIGINT) AS rem_l
  FROM lang, tot
),
alloc AS (
  SELECT lang,
         CAST(floor_l + CASE WHEN
             row_number() OVER (ORDER BY rem_l DESC, lang ASC)
               <= b - sum(floor_l) OVER ()
           THEN 1 ELSE 0 END AS BIGINT) AS lang_budget
  FROM alloc0
),
filled AS (
  SELECT d.doc_id, d.lang, d.n_tokens, a.lang_budget,
         CAST(sum(d.n_tokens) OVER (
           PARTITION BY d.lang ORDER BY d.n_tokens DESC, d.doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM d JOIN alloc a ON a.lang = d.lang
)
SELECT doc_id, lang, n_tokens, lang_budget, cum_tokens,
       cum_tokens <= lang_budget AS selected
FROM filled
"""


# ------------------------------------------------------------- q215

CDC_W = 8  # rolling-window width for the boundary test


def q215_content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X179: content-defined chunking + chunk-level dedup — the
    rsync/FastCDC shape: a chunk boundary opens wherever the hash of
    the W-char window starting at that position lands in 1/16 of the
    hash space (md5 hex digit == '0'), so boundaries are anchored to
    CONTENT, not offsets — an insertion early in a document shifts
    every byte but re-synchronizes the chunking at the next anchor,
    which is what makes chunk-level dedup robust where fixed-size
    blocking is not. Chunks are then deduplicated corpus-wide by
    hash; the per-language report prices the dedup win (chars saved).

    Portable by construction: md5 hex strings compare equal on both
    engines (the q20/q26 discipline), all counts are integers; the
    only double is the final per-row dup ratio.

    Scale: the position explode is O(total chars) rows of 16-byte
    state — at 100 TB this is the one op in the suite that would move
    to a mapInPandas gear-hash kernel (one pass, no explode), kept
    here as pure expressions so the whole plan stays in codegen and
    the oracle can replay it; chunk dedup itself shuffles only
    (hash, len) pairs, never chunk text."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    first = d.select("doc_id", F.lit(1).alias("s"))
    # The boundary scan is O(total chars) md5 calls; the documents
    # file arrives in a handful of input splits, so spread the CPU
    # work across the cluster before the explode (doc_id keyed — the
    # same key the chunk window shuffles on anyway).
    interior = (
        spread_by(d, "doc_id")
        .filter(F.col("n_chars") >= CDC_W + 1)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(2), (F.col("n_chars") - CDC_W + 1).cast("int"))
            ).alias("s"),
        )
        .filter(
            F.substring(F.md5(F.expr(f"substring(text, s, {CDC_W})")), 1, 1)
            == "0"
        )
        .select("doc_id", "s")
    )
    starts = first.unionByName(interior)
    wlead = Window.partitionBy("doc_id").orderBy("s")
    chunks = (
        starts.join(d.select("doc_id", "text", "lang", "n_chars"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "s",
            (
                F.coalesce(
                    F.lead("s").over(wlead) - 1, F.col("n_chars")
                )
                - F.col("s")
                + 1
            )
            .cast("bigint")
            .alias("len"),
            "text",
        )
        .select(
            "lang",
            "len",
            F.md5(F.expr("substring(text, s, CAST(len AS INT))")).alias("h"),
        )
    )
    per_hash = chunks.groupBy("lang", "h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("len").alias("len0")
    )
    return per_hash.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("len0")).cast("bigint").alias("total_chars"),
        F.sum((F.col("cnt") - 1) * F.col("len0"))
        .cast("bigint")
        .alias("dup_chars_saved"),
    ).select(
        "lang",
        "n_chunks",
        "n_distinct_chunks",
        "total_chars",
        "dup_chars_saved",
        (F.col("dup_chars_saved") / F.col("total_chars")).alias("dup_ratio"),
    )


Q215_SQL = f"""
WITH d AS (SELECT * FROM documents WHERE n_chars >= 1),
first AS (SELECT doc_id, 1 AS s FROM d),
pos AS (
  SELECT doc_id, text,
         unnest(generate_series(2, CAST(n_chars - {CDC_W} + 1 AS BIGINT))) AS s
  FROM d WHERE n_chars >= {CDC_W + 1}
),
interior AS (
  SELECT doc_id, CAST(s AS INT) AS s FROM pos
  WHERE substr(md5(substr(text, CAST(s AS INT), {CDC_W})), 1, 1) = '0'
),
starts AS (SELECT * FROM first UNION ALL SELECT * FROM interior),
chunks0 AS (
  SELECT st.doc_id, d.lang, st.s,
         CAST(coalesce(lead(st.s) OVER (PARTITION BY st.doc_id ORDER BY st.s)
                       - 1, d.n_chars) - st.s + 1 AS BIGINT) AS len,
         d.text
  FROM starts st JOIN d ON d.doc_id = st.doc_id
),
chunks AS (
  SELECT lang, len, md5(substr(text, s, CAST(len AS INT))) AS h FROM chunks0
),
per_hash AS (
  SELECT lang, h, count(*) AS cnt, min(len) AS len0
  FROM chunks GROUP BY lang, h
)
SELECT lang,
       CAST(sum(cnt) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(cnt * len0) AS BIGINT) AS total_chars,
       CAST(sum((cnt - 1) * len0) AS BIGINT) AS dup_chars_saved,
       CAST(sum((cnt - 1) * len0) AS BIGINT)
         / CAST(sum(cnt * len0) AS BIGINT) AS dup_ratio
FROM per_hash GROUP BY lang
"""


# ------------------------------------------------------------- q216

ZM_FILES = 100
ZM_CK_LO, ZM_CK_HI = 100, 249
ZM_DT_LO, ZM_DT_HI = "1996-01-01", "1996-12-31"
ZM_EPOCH = "1992-01-01"


def q216_zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X180: zone-map pruning effectiveness audit — the data-skipping
    math behind every lakehouse layout decision, measured instead of
    asserted: assign orders to {ZM_FILES} simulated files under three
    write orderings (time-clustered, key-clustered, Z-ordered on
    both), compute each file's min/max footer stats for o_custkey and
    o_orderdate, and count how many files a two-column box predicate
    can skip. Time layout prunes on date only, key layout on custkey
    only; the Morton layout (X83's kernel) carries usable min/max on
    BOTH columns — exactly why OPTIMIZE ZORDER exists, reproduced
    from first principles with nothing but integer bit arithmetic and
    window file assignment.

    Scale: the ntile file assignment stands in for the writer's range
    partitioner (a sort, not a window, at real scale) and the stats
    relation IS the parquet footer set — {ZM_FILES} rows per layout,
    so the pruning decision itself costs nothing; document the
    single-partition ntile as harness-only in SCALE.md.

    Output: one row per layout with files/rows scanned and the scan
    amplification over a perfect index (rows_scanned / matching)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("dt"),
        F.datediff(F.col("o_orderdate"), F.lit(ZM_EPOCH).cast("date")).alias(
            "days"
        ),
    )
    z = _morton_terms("(o_custkey % 256)", "(days % 256)", "div")
    o = o.withColumn("zval", F.expr(f"CAST({z} AS BIGINT)"))
    pred = (
        (F.col("o_custkey") >= ZM_CK_LO)
        & (F.col("o_custkey") <= ZM_CK_HI)
        & (F.col("dt") >= F.lit(ZM_DT_LO).cast("date"))
        & (F.col("dt") <= F.lit(ZM_DT_HI).cast("date"))
    )
    def layout(name: str, *order_cols) -> DataFrame:
        # The predicate-match count rides the SAME per-file agg (every
        # layout totals the identical value) — no scalar cross join.
        wf = Window.partitionBy().orderBy(*order_cols)
        files = (
            o.select(
                "o_custkey",
                "dt",
                F.ntile(ZM_FILES).over(wf).alias("file_id"),
                pred.alias("m"),
            )
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(F.col("m"), 1).otherwise(0)).alias("n_match"),
                F.min("o_custkey").alias("min_ck"),
                F.max("o_custkey").alias("max_ck"),
                F.min("dt").alias("min_dt"),
                F.max("dt").alias("max_dt"),
            )
        )
        scanned = ~(
            (F.col("max_ck") < ZM_CK_LO)
            | (F.col("min_ck") > ZM_CK_HI)
            | (F.col("max_dt") < F.lit(ZM_DT_LO).cast("date"))
            | (F.col("min_dt") > F.lit(ZM_DT_HI).cast("date"))
        )
        return files.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(scanned, 1).otherwise(0))
            .cast("bigint")
            .alias("files_scanned"),
            F.sum(F.when(scanned, F.col("rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("matching"),
        )

    stats = (
        layout("time", F.asc("dt"), F.asc("o_orderkey"))
        .unionByName(layout("key", F.asc("o_custkey"), F.asc("o_orderkey")))
        .unionByName(layout("zorder", F.asc("zval"), F.asc("o_orderkey")))
    )
    return stats.select(
        "layout",
        "n_files",
        "files_scanned",
        "rows_scanned",
        "matching",
        (F.col("rows_scanned") / F.col("matching")).alias("amplification"),
    )


def _q216_sql() -> str:
    z = _morton_terms("(o_custkey % 256)", "(days % 256)", "//")
    layouts = []
    for name, order in (
        ("time", "dt ASC, o_orderkey ASC"),
        ("key", "o_custkey ASC, o_orderkey ASC"),
        ("zorder", "zval ASC, o_orderkey ASC"),
    ):
        layouts.append(f"""
SELECT '{name}' AS layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
         AS files_scanned,
       CAST(sum(CASE WHEN scanned THEN rows ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS matching
FROM (
  SELECT file_id, count(*) AS rows,
         sum(CASE WHEN m THEN 1 ELSE 0 END) AS n_match,
         NOT (max(o_custkey) < {ZM_CK_LO} OR min(o_custkey) > {ZM_CK_HI}
              OR max(dt) < DATE '{ZM_DT_LO}' OR min(dt) > DATE '{ZM_DT_HI}')
           AS scanned
  FROM (
    SELECT o_custkey, dt,
           o_custkey BETWEEN {ZM_CK_LO} AND {ZM_CK_HI}
             AND dt BETWEEN DATE '{ZM_DT_LO}' AND DATE '{ZM_DT_HI}' AS m,
           ntile({ZM_FILES}) OVER (ORDER BY {order}) AS file_id
    FROM o
  ) GROUP BY file_id
)""")
    un = " UNION ALL ".join(layouts)
    return f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS dt,
         CAST(o_orderdate AS DATE) - DATE '{ZM_EPOCH}' AS days,
         CAST({z} AS BIGINT) AS zval
  FROM orders
),
stats AS ({un})
SELECT layout, n_files, files_scanned, rows_scanned, matching,
       rows_scanned / matching AS amplification
FROM stats
"""


# ------------------------------------------------------------- q217

HIER_FANOUT = 4
HIER_DEPTH = 6  # ceil(log4(2000)) levels reach the root from any key


def _hier_ancestor_sql(intdiv: str) -> list[str]:
    """Closed-form ancestor chain a0..a{HIER_DEPTH} for the dense-key
    tree parent(p) = (p-1) intdiv FANOUT (root 0); each level guards
    at the root so the chain NULLs out instead of dividing a negative
    (Spark `div` truncates toward zero, DuckDB `//` floors — the one
    integer-division divergence, designed around by construction)."""
    exprs = ["CAST(p_partkey AS BIGINT)"]
    for _ in range(HIER_DEPTH):
        prev = exprs[-1]
        exprs.append(
            f"CASE WHEN ({prev}) >= 1 "
            f"THEN (({prev}) - 1) {intdiv} {HIER_FANOUT} END"
        )
    return exprs


def q217_hierarchy_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181: hierarchy subtree rollup WITHOUT iteration — the
    bill-of-materials / org-chart aggregate: every part rolls its
    retail price up to ALL its ancestors in one pass. Because the
    part hierarchy has dense integer keys (parent(p) = (p-1) div 4),
    the ancestor chain is a CLOSED FORM — {HIER_DEPTH} chained
    guarded divisions — so the transitive closure that normally
    costs depth-many self-joins (or a recursive CTE) becomes a
    map-side explode of at most {HIER_DEPTH}+1 (node, ancestor)
    pairs per row, followed by ONE ancestor-keyed hash aggregation.

    Scale: the explode multiplies rows by tree depth (log of table
    size — 7x here), but eliminates every iterative shuffle; for
    hierarchies without closed-form parents the same shape works by
    first materializing an ancestor-path array column (computed once
    at write time), which is the standard flattened-hierarchy
    dimension design. Money in exact cents, output double."""
    chain = _hier_ancestor_sql("div")
    arr = ", ".join(chain)
    p = _t(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        f"array({arr}) AS anc",
    )
    pairs = p.select(
        "p_partkey",
        "cents",
        F.posexplode("anc").alias("k", "ancestor"),
    ).filter(F.col("ancestor").isNotNull())
    return pairs.groupBy("ancestor").agg(
        F.count(F.lit(1)).cast("bigint").alias("subtree_size"),
        (F.sum("cents") / F.lit(100.0)).alias("subtree_value"),
        F.max("k").cast("int").alias("levels_below"),
    ).select(
        F.col("ancestor").cast("bigint").alias("p_partkey"),
        "subtree_size",
        "subtree_value",
        "levels_below",
    )


def _q217_sql() -> str:
    chain = _hier_ancestor_sql("//")
    arr = ", ".join(chain)
    return f"""
WITH p AS (
  SELECT p_partkey,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         [{arr}] AS anc
  FROM part
),
idx AS (SELECT unnest(range(1, {HIER_DEPTH + 2})) AS i),
pairs AS (
  SELECT p.p_partkey, p.cents,
         idx.i - 1 AS k, list_extract(p.anc, idx.i) AS ancestor
  FROM p CROSS JOIN idx
  WHERE list_extract(p.anc, idx.i) IS NOT NULL
)
SELECT CAST(ancestor AS BIGINT) AS p_partkey,
       CAST(count(*) AS BIGINT) AS subtree_size,
       CAST(sum(cents) AS BIGINT) / 100.0 AS subtree_value,
       CAST(max(k) AS INT) AS levels_below
FROM pairs GROUP BY ancestor
"""


QUERIES_EXT24 = {
    "q214_corpus_budget_selection": q214_corpus_budget_selection,
    "q215_content_defined_chunking": q215_content_defined_chunking,
    "q216_zonemap_pruning_audit": q216_zonemap_pruning_audit,
    "q217_hierarchy_subtree_rollup": q217_hierarchy_subtree_rollup,
}


def _oracles_ext24() -> dict[str, str]:
    return {
        "q214_corpus_budget_selection": Q214_SQL,
        "q215_content_defined_chunking": Q215_SQL,
        "q216_zonemap_pruning_audit": _q216_sql(),
        "q217_hierarchy_subtree_rollup": _q217_sql(),
    }
