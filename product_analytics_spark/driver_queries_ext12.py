"""Round-3 driver query families, batch 12 (q182+): Fellegi-Sunter
record-linkage scoring, chunk-parity fingerprint near-dup (the
pHash shape), autocorrelation profiles, a Simpson's-paradox audit,
and a Bloom-filter runtime join prefilter.

Same contract as the other driver_queries modules; exact-arithmetic
discipline per qcommon.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.qcommon import _hash60_sql, _money_cents, _t
from product_analytics_spark.operators.text import portable_hash60

# ------------------------------------------------------------- q182

RL_W_SOURCE, RL_P_SOURCE = 3, -1     # agreement / disagreement weights
RL_W_LEN, RL_P_LEN = 2, -2
RL_W_PREFIX, RL_P_PREFIX = 6, -4
RL_LEN_TOL = 5
RL_PREFIX_N = 32
RL_THRESHOLD = 5
RL_LEN_BUCKET = 100


def q182_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter-style record-linkage scoring — the probabilistic
    entity-resolution shape: blocked candidate generation, a per-field
    agreement vector, integer log-odds-style weights summed to a match
    score, threshold decision. Blocking is (lang, length bucket) —
    an equi-join, never all-pairs; the agreement vector (source match,
    length within tolerance, 32-char prefix match) and the weights are
    all integers, so scoring is exact and engine-portable. Blocking
    recall is the standard linkage tradeoff (same-bucket only) and is
    part of the declared semantics, mirrored by the oracle.

    Scale: candidates are bounded by block occupancy; the score pass
    carries (ids, 3 booleans, 1 int) — never document text beyond the
    fixed 32-char prefix. Skewed blocks get the X28 salting/cap
    treatment; weights would come from an EM fit upstream (constants
    here, as in the reference's rule-derived vocabularies)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.substring("text", 1, RL_PREFIX_N).alias("prefix"),
        (F.col("n_chars") / RL_LEN_BUCKET).cast("long").alias("len_bucket"),
    )
    a = d.select(*[F.col(c).alias(f"a_{c}") for c in d.columns])
    b = d.select(*[F.col(c).alias(f"b_{c}") for c in d.columns])
    cand = a.join(
        b,
        (F.col("a_lang") == F.col("b_lang"))
        & (F.col("a_len_bucket") == F.col("b_len_bucket"))
        & (F.col("a_doc_id") < F.col("b_doc_id")),
    )
    agr_source = F.col("a_source") == F.col("b_source")
    agr_len = F.abs(F.col("a_n_chars") - F.col("b_n_chars")) <= RL_LEN_TOL
    agr_prefix = F.col("a_prefix") == F.col("b_prefix")
    weight = (
        F.when(agr_source, RL_W_SOURCE).otherwise(RL_P_SOURCE)
        + F.when(agr_len, RL_W_LEN).otherwise(RL_P_LEN)
        + F.when(agr_prefix, RL_W_PREFIX).otherwise(RL_P_PREFIX)
    )
    return (
        cand.select(
            F.col("a_doc_id").alias("id_a"),
            F.col("b_doc_id").alias("id_b"),
            agr_source.alias("agree_source"),
            agr_len.alias("agree_len"),
            agr_prefix.alias("agree_prefix"),
            weight.cast("bigint").alias("match_weight"),
        )
        .filter(F.col("match_weight") >= RL_THRESHOLD)
    )


Q182_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars,
         substring(text, 1, {RL_PREFIX_N}) AS prefix,
         CAST(n_chars // {RL_LEN_BUCKET} AS BIGINT) AS len_bucket
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       a.source = b.source AS agree_source,
       abs(a.n_chars - b.n_chars) <= {RL_LEN_TOL} AS agree_len,
       a.prefix = b.prefix AS agree_prefix,
       CAST(
         (CASE WHEN a.source = b.source THEN {RL_W_SOURCE} ELSE {RL_P_SOURCE} END)
         + (CASE WHEN abs(a.n_chars - b.n_chars) <= {RL_LEN_TOL}
                 THEN {RL_W_LEN} ELSE {RL_P_LEN} END)
         + (CASE WHEN a.prefix = b.prefix THEN {RL_W_PREFIX} ELSE {RL_P_PREFIX} END)
       AS BIGINT) AS match_weight
FROM d a JOIN d b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE (CASE WHEN a.source = b.source THEN {RL_W_SOURCE} ELSE {RL_P_SOURCE} END)
      + (CASE WHEN abs(a.n_chars - b.n_chars) <= {RL_LEN_TOL}
              THEN {RL_W_LEN} ELSE {RL_P_LEN} END)
      + (CASE WHEN a.prefix = b.prefix THEN {RL_W_PREFIX} ELSE {RL_P_PREFIX} END)
      >= {RL_THRESHOLD}
"""


# ------------------------------------------------------------- q183

#: Fingerprint width is a PRECISION capacity, grown with corpus size
#: (log2 N): the round-9 sf3 sweep (150k docs) measured the previous
#: 36-bit width saturating — random 36-bit fingerprints fall within
#: hamming ≤5 with p≈6.4e-6, so ~1.1e10 cross-doc pairs yielded ~100k
#: FALSE near-dups (97% of all output, quadratic in corpus size).
#: At 60 bits / threshold 7 the random-pair probability is ~3.8e-10
#: (a handful of expected false pairs at 150k docs, none at oracle
#: scale); re-widen again (with the band math below) near ~10M docs.
FP_BITS = 60           # fingerprint width (one parity bit per chunk)
FP_BANDS = 4           # 4 bands x 15 bits
FP_BAND_BITS = 15
FP_BALL = 1            # per-band Hamming-ball probe radius
#: recall guarantee: hamming <= K ⇒ some band carries <= floor(K/B)
#: bit errors (pigeonhole), and ball-r probing catches <= r errors —
#: so K <= B*(r+1) - 1 keeps the banded join exact-recall.
FP_MAX_HAMMING = FP_BANDS * (FP_BALL + 1) - 1  # = 7


def chunk_parity_fingerprint() -> Column:
    """q183's FP_BITS-bit fingerprint of the ``text``/``n_chars``
    columns as ONE ``F.expr`` SQL string: bit i-1 is the parity of
    ``text.portable_hash60`` (the first 15 hex chars of md5 as a
    BIGINT) of chunk i, the characters (floor((i-1)n/FP_BITS),
    floor(in/FP_BITS)] in 1-based substring coordinates, cut with
    all-integer ``div`` arithmetic so both engines cut identical
    chunks. Built Column by Column, the 60 chunk terms cost about 12
    py4j calls each; the string parses JVM-side to the same
    expression (an INT weight up to bit 30, BIGINT above)."""
    terms = []
    for i in range(1, FP_BITS + 1):
        lo, hi = f"n_chars * {i - 1} div {FP_BITS}", f"n_chars * {i} div {FP_BITS}"
        chunk = f"substring(text, CAST({lo} + 1 AS INT), CAST({hi} - {lo} AS INT))"
        h60 = f"CAST(conv(substring(md5({chunk}), 1, 15), 16, 10) AS BIGINT)"
        terms.append(f"({h60} % 2) * {1 << (i - 1)}")
    return F.expr(f"CAST({' + '.join(terms)} AS BIGINT)")


def q183_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-parity fingerprint near-dup — the perceptual-hash (pHash)
    pipeline shape applied to the text corpus: each document folds to
    a 60-bit fingerprint (one parity bit per proportional chunk, via
    the engine-portable md5-based hash), candidates come from banded
    Hamming-ball probing (4 bands x 15 bits; each band also probes its
    15 single-bit flips, so a pair within Hamming distance
    FP_MAX_HAMMING = 7 — which leaves <= floor(7/4)=1 errors in SOME
    band, pigeonhole — always collides), and the exact Hamming
    distance (bit_count of xor) verifies. Chunks are PROPORTIONAL
    (i-th 60th of the document), so same-content-different-length
    docs align positionally — the locality a raw content digest
    lacks. For real media the chunk parity becomes a DCT-coefficient
    sign over decoded frames (q32/q133's Arrow plumbing); everything
    downstream — banding, xor verify — is unchanged.

    Scale (all three choices sf1-measured — the r8 scale sweep caught
    the original 15-bit/5-bit-band shape at 121x on a 10x corpus):
      * band width: 5-bit bands give only 32 bucket values, so bucket
        occupancy grows LINEARLY with the corpus and candidate pairs
        quadratically — a fixed-capacity flaw. 15-bit bands (32768
        values) keep expected occupancy ~|corpus|/32768 per band; the
        parameter is what you grow (with log N) at larger corpora.
      * ball-1 probing instead of narrower bands: widening the hamming
        tolerance by SHRINKING bands re-creates the capacity flaw;
        probing 15 flip values per band costs 16x probe-side rows
        (linear) while keeping the 32768-value bucket space.
      * exact-dup collapse (q20's mega-bucket idiom): the banded join
        runs over DISTINCT fingerprints, so N exact copies of one
        document cost one row in the join; doc pairs are re-expanded
        afterwards by two equi-joins (cross-fp) plus a per-fp
        self-join (intra-fp, hamming 0 — quadratic only in OUTPUT
        size, which all-pairs-of-duplicates inherently is).
    The shuffled payload stays (band_id, 15-bit value, 60-bit fp) —
    fixed width; verification is one integer xor."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    # The 60-chunk md5 projection feeds six scans (distinct, both
    # expansion joins, both sides of the intra self-join, the summary):
    # one eager checkpoint builds it before the query that reads it,
    # or the hash work runs per scan. At corpus scale this is a
    # materialized signatures table reused across stages.
    fps = cache.checkpoint(d.select("doc_id", chunk_parity_fingerprint().alias("fp")))
    fpd = fps.select("fp").distinct()
    bands = fpd.select(
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(FP_BANDS - 1))).alias("band"),
    ).select(
        "fp",
        "band",
        F.expr(
            f"shiftright(fp, CAST(band * {FP_BAND_BITS} AS INT)) % {1 << FP_BAND_BITS}"
        ).alias("band_val"),
    )
    # probe side: the band value itself plus its FP_BAND_BITS
    # single-bit flips (Hamming-ball radius FP_BALL=1)
    flips = [0] + [1 << j for j in range(FP_BAND_BITS)]
    a = bands.select(
        F.col("fp").alias("fp_a"),
        "band",
        F.explode(
            F.expr("array(" + ",".join(f"{x}L" for x in flips) + ")")
        ).alias("flip"),
        "band_val",
    ).select(
        "fp_a",
        "band",
        F.col("band_val").bitwiseXOR(F.col("flip")).alias("band_val"),
    )
    b = bands.select(F.col("fp").alias("fp_b"), "band", "band_val")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    cand_fp = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("fp_a") < F.col("fp_b"))
        .select("fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= FP_MAX_HAMMING)
    )
    cross = (
        cand_fp.join(fps.select(F.col("doc_id").alias("id_x"),
                                F.col("fp").alias("fp_a")), "fp_a")
        .join(fps.select(F.col("doc_id").alias("id_y"),
                         F.col("fp").alias("fp_b")), "fp_b")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            "hamming",
        )
    )
    intra = (
        fps.alias("l")
        .join(fps.alias("r"), F.col("l.fp") == F.col("r.fp"))
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    # Sentinel summary row (id_a = -1): at the 60-bit width a clean
    # corpus legitimately has ZERO near-dup pairs at small SF, and a
    # 0-row cross-engine compare certifies nothing — this row keeps
    # the fingerprint arithmetic value-bearing at every SF (id_b =
    # #distinct fps; hamming = overflow-safe per-doc fp checksum that
    # both engines must reproduce bit-exactly).
    summary = fps.agg(
        F.lit(-1).cast("long").alias("id_a"),
        F.countDistinct("fp").cast("long").alias("id_b"),
        (F.sum(F.col("fp") % F.lit(1000003)) % F.lit(2147483647))
        .cast("bigint")
        .alias("hamming"),
    )
    return cross.unionByName(intra).unionByName(summary)


def _q183_sql() -> str:
    bit_terms = []
    for i in range(1, FP_BITS + 1):
        start = f"(n_chars * {i - 1} // {FP_BITS}) + 1"
        length = f"(n_chars * {i} // {FP_BITS}) - (n_chars * {i - 1} // {FP_BITS})"
        h = _hash60_sql(f"substring(text, CAST({start} AS INT), CAST({length} AS INT))")
        bit_terms.append(f"(({h}) % 2) * {1 << (i - 1)}")
    fp = " + ".join(bit_terms)
    # Naive ALL-PAIRS oracle (fine at oracle scale, 500 docs): a
    # deliberately independent construction — it validates the Spark
    # side's banded ball-probe recall end-to-end, not just its
    # verification arithmetic.
    return f"""
WITH fps AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {FP_MAX_HAMMING}
UNION ALL
SELECT CAST(-1 AS BIGINT),
       (SELECT CAST(count(DISTINCT fp) AS BIGINT) FROM fps),
       (SELECT CAST(CAST(sum(fp % 1000003) AS BIGINT) % 2147483647
               AS BIGINT) FROM fps)
"""


# ------------------------------------------------------------- q184

ACF_MAX_LAG = 7


def q184_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile (ACF at lags 1..7) of each nation's
    daily revenue — the time-series diagnostic behind seasonality and
    forecast-residual checks. One window pass materializes all seven
    lagged values; a stack unpivots to (nation, lag, x, y) pairs; the
    per-(nation, lag) Pearson r comes from EXACT integer power sums
    (X64's discipline: long cents products, DECIMAL(38,0) sums,
    floating point only in the final fixed-order formula — builtin
    corr is a merge-order-dependent float aggregate).

    Scale: one fact agg to |nation x day|; the lag window and the
    power-sum agg both partition by nation. Sum magnitudes stay below
    2^63 at gate scale so the decimal->double casts are exact on both
    engines; larger corpora re-point the casts at _dec2dbl_sql's
    split-reassembly (see qcommon)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(_money_cents("o_totalprice")).alias("y"))
    )
    w = Window.partitionBy("n_name").orderBy("d")
    lagged = daily.select(
        "n_name",
        "y",
        *[F.lag("y", l).over(w).alias(f"x{l}") for l in range(1, ACF_MAX_LAG + 1)],
    )
    stack_expr = ", ".join(f"{l}L, x{l}" for l in range(1, ACF_MAX_LAG + 1))
    pairs = lagged.select(
        "n_name",
        "y",
        F.expr(f"stack({ACF_MAX_LAG}, {stack_expr}) AS (lag, x)"),
    ).filter(F.col("x").isNotNull())
    dec = "decimal(38,0)"
    s = pairs.groupBy("n_name", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    r = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return s.select(
        "n_name",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        r.alias("acf"),
    )


def _q184_sql() -> str:
    lag_selects = " UNION ALL ".join(
        f"SELECT n_name, {l} AS lag, "
        f"lag(y, {l}) OVER (PARTITION BY n_name ORDER BY d) AS x, y FROM daily"
        for l in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
  SELECT n_name, CAST(o_orderdate AS DATE) AS d,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
pairs AS (
  SELECT * FROM ({lag_selects}) WHERE x IS NOT NULL
),
s AS (
  SELECT n_name, lag,
         count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
         sum(CAST(y * y AS DECIMAL(38,0))) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT n_name, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS acf
FROM s
"""


# ------------------------------------------------------------- q185


def q185_simpson_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit — does the discount/quantity trend
    WITHIN each return-flag stratum contradict the pooled trend? The
    OLS slope sign is sign(n·Σxy − Σx·Σy): a PURE INTEGER quantity
    (no division, no floats anywhere) computed per stratum and pooled
    from the very same per-stratum sums — the numerator algebra makes
    the paradox decidable exactly. One fact agg; the pooled sums are
    a window over the |strata|-row relation.

    Scale: the only shuffle is the per-stratum partial agg (map-side
    combined); everything downstream runs on a handful of rows. This
    is the analytic guardrail to run before shipping any 'discounts
    drive volume' readout."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _money_cents("l_discount").alias("x"),
        _money_cents("l_quantity").alias("y"),
    )
    dec = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    wp = Window.partitionBy()
    pooled = s.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        "sxy",
        F.sum("n").over(wp).alias("pn"),
        F.sum("sx").over(wp).alias("psx"),
        F.sum("sy").over(wp).alias("psy"),
        F.sum("sxy").over(wp).alias("psxy"),
    )
    g_num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sy").cast(dec)
    p_num = F.col("pn").cast(dec) * F.col("psxy").cast(dec) - F.col("psx").cast(
        dec
    ) * F.col("psy").cast(dec)
    sign = lambda c: F.when(c > 0, 1).when(c < 0, -1).otherwise(0)  # noqa: E731
    return pooled.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_items"),
        sign(g_num).cast("int").alias("group_sign"),
        sign(p_num).cast("int").alias("pooled_sign"),
        (sign(g_num) * sign(p_num) < 0).alias("simpson_flag"),
        g_num.cast("string").alias("group_slope_num"),
    )


Q185_SQL = """
WITH c AS (
  SELECT l_returnflag,
         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
  FROM c GROUP BY 1
),
pooled AS (
  SELECT *,
         sum(n) OVER () AS pn, sum(sx) OVER () AS psx,
         sum(sy) OVER () AS psy, sum(sxy) OVER () AS psxy
  FROM s
),
signed AS (
  SELECT l_returnflag, n,
         CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
           - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS g_num,
         CAST(pn AS HUGEINT) * CAST(psxy AS HUGEINT)
           - CAST(psx AS HUGEINT) * CAST(psy AS HUGEINT) AS p_num
  FROM pooled
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_items,
       CAST(CASE WHEN g_num > 0 THEN 1 WHEN g_num < 0 THEN -1 ELSE 0 END AS INT)
         AS group_sign,
       CAST(CASE WHEN p_num > 0 THEN 1 WHEN p_num < 0 THEN -1 ELSE 0 END AS INT)
         AS pooled_sign,
       (CASE WHEN g_num > 0 THEN 1 WHEN g_num < 0 THEN -1 ELSE 0 END)
         * (CASE WHEN p_num > 0 THEN 1 WHEN p_num < 0 THEN -1 ELSE 0 END) < 0
         AS simpson_flag,
       CAST(g_num AS VARCHAR) AS group_slope_num
FROM signed
"""


# ------------------------------------------------------------- q186

BLOOM_WORDS = 2048          # 2048 x 32-bit words = 65536 bits
BLOOM_BITS = BLOOM_WORDS * 32
BLOOM_DIM_MIN_BAL = 9000.0


def q186_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join prefilter — the engine mechanism
    behind runtime row-group pruning (Spark's own
    InjectRuntimeFilter, Delta/Iceberg bloom indexes), built
    relationally so its exactness properties are testable: the
    selective dim side (high-balance customers) folds its join keys
    to a 65536-bit filter stored as 2048 32-bit words (32-bit
    packing sidesteps 1<<63 overflow portability); the probe side
    (orders) checks k=2 bit positions via a broadcast join on word
    index and keeps rows with both bits set; the exact semi-join
    measures the false-positive rate. Zero false NEGATIVES is the
    correctness invariant (pytest-asserted); the reported counts
    quantify the shuffle the prefilter saves.

    Scale: the filter is ~8 KB regardless of probe size — it ships
    to every executor for a map-side pre-prune, turning a full
    shuffle join into a filtered one. Hashes are the engine-portable
    md5-based hash60 (identical in the oracle)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > BLOOM_DIM_MIN_BAL
    )
    # all position arithmetic in integer `div`/`%` — the hash is 60
    # bits, where double division would silently round
    hashed = cust.select(
        "c_custkey", portable_hash60(F.col("c_custkey").cast("string")).alias("h")
    )
    positions = hashed.select(
        F.expr(f"h % {BLOOM_BITS}").alias("pos")
    ).unionAll(
        hashed.select(F.expr(f"(h div {BLOOM_BITS}) % {BLOOM_BITS}").alias("pos"))
    )
    bloom = positions.groupBy(
        F.expr("pos div 32").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        ).alias("word")
    )
    o = _t(spark, sf_dir, "orders")
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        portable_hash60(F.col("o_custkey").cast("string")).alias("hp"),
    ).select(
        "o_orderkey",
        "o_custkey",
        F.expr(f"hp % {BLOOM_BITS}").alias("p1"),
        F.expr(f"(hp div {BLOOM_BITS}) % {BLOOM_BITS}").alias("p2"),
    )
    b1 = bloom.select(F.col("word_idx").alias("w1"), F.col("word").alias("word1"))
    b2 = bloom.select(F.col("word_idx").alias("w2"), F.col("word").alias("word2"))
    checked = (
        probe.join(F.broadcast(b1), F.expr("p1 div 32") == F.col("w1"), "left")
        .join(F.broadcast(b2), F.expr("p2 div 32") == F.col("w2"), "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.expr(
                "coalesce(word1 & shiftleft(CAST(1 AS BIGINT), CAST(p1 % 32 AS INT)), 0)"
                " != 0"
            ).alias("bit1"),
            F.expr(
                "coalesce(word2 & shiftleft(CAST(1 AS BIGINT), CAST(p2 % 32 AS INT)), 0)"
                " != 0"
            ).alias("bit2"),
        )
    )
    truth = cust.select(F.col("c_custkey").alias("tk"), F.lit(True).alias("is_true"))
    final = checked.join(
        F.broadcast(truth), checked.o_custkey == truth.tk, "left"
    ).select(
        (F.col("bit1") & F.col("bit2")).alias("passed"),
        F.coalesce("is_true", F.lit(False)).alias("is_true"),
    )
    return final.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("passed"), 1).otherwise(0)).cast("bigint").alias("n_pass_bloom"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("passed") & ~F.col("is_true"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        F.sum(F.when(~F.col("passed") & F.col("is_true"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_neg"),
    )


def _q186_sql() -> str:
    hc = _hash60_sql("CAST(c_custkey AS VARCHAR)")
    ho = _hash60_sql("CAST(o_custkey AS VARCHAR)")
    return f"""
WITH cust AS (
  SELECT c_custkey, {hc} AS h FROM customer WHERE c_acctbal > {BLOOM_DIM_MIN_BAL!r}
),
positions AS (
  SELECT h % {BLOOM_BITS} AS pos FROM cust
  UNION ALL
  SELECT (h // {BLOOM_BITS}) % {BLOOM_BITS} FROM cust
),
bloom AS (
  SELECT CAST(pos // 32 AS BIGINT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
  FROM positions GROUP BY 1
),
probe AS (
  SELECT o_orderkey, o_custkey,
         {ho} % {BLOOM_BITS} AS p1,
         ({ho} // {BLOOM_BITS}) % {BLOOM_BITS} AS p2
  FROM orders
),
checked AS (
  SELECT o_orderkey, o_custkey,
         coalesce(b1.word & (CAST(1 AS BIGINT) << CAST(p1 % 32 AS INT)), 0) != 0 AS bit1,
         coalesce(b2.word & (CAST(1 AS BIGINT) << CAST(p2 % 32 AS INT)), 0) != 0 AS bit2
  FROM probe
  LEFT JOIN bloom b1 ON CAST(p1 // 32 AS BIGINT) = b1.word_idx
  LEFT JOIN bloom b2 ON CAST(p2 // 32 AS BIGINT) = b2.word_idx
),
final AS (
  SELECT bit1 AND bit2 AS passed,
         o_custkey IN (SELECT c_custkey FROM cust) AS is_true
  FROM checked
)
SELECT CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
       CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN passed AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(sum(CASE WHEN NOT passed AND is_true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg
FROM final
"""


QUERIES_EXT12 = {
    "q182_record_linkage": q182_record_linkage,
    "q183_fingerprint_near_dup": q183_fingerprint_near_dup,
    "q184_autocorrelation": q184_autocorrelation,
    "q185_simpson_flag": q185_simpson_flag,
    "q186_bloom_prefilter_join": q186_bloom_prefilter_join,
}

ORACLES_EXT12 = {
    "q182_record_linkage": Q182_SQL,
    "q183_fingerprint_near_dup": _q183_sql(),
    "q184_autocorrelation": _q184_sql(),
    "q185_simpson_flag": Q185_SQL,
    "q186_bloom_prefilter_join": _q186_sql(),
}
