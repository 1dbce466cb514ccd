"""Text-analysis & near-duplicate operators over a documents table.

[EXTENSION] operators (SURVEY.md §2.11 X2/X4): token statistics,
quality scoring, language-ID heuristic, document fingerprinting, and
MinHash/SimHash near-dup detection. Everything is built-in expression
work (split/transform/aggregate/hash) — no Python UDFs — so the hot
path is JVM-side at any scale. Hashes use Spark's builtin xxhash64
with fixed integer salts: deterministic across runs and cluster sizes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from product_analytics_spark import cache

TOKEN_SPLIT_RE = r"\s+"

# --------------------------------------------------- portable hashing
# The near-dup operators need hashes that a *different* engine (the
# DuckDB oracle) can reproduce bit-for-bit. xxhash64 is Spark-only;
# md5 is universal. So: hash each shingle/token ONCE with md5, parse
# the first 15 hex chars to a non-negative 60-bit long (both engines
# can), and derive every salted variant with integer affine transforms
# mod a Mersenne prime — pure 64-bit arithmetic that cannot overflow
# (operands < 2^31, products < 2^62) and is identical everywhere.

P31 = 2_147_483_647  # 2^31 - 1, Mersenne prime: the salted-hash field
BAND_FOLD_A = 1_000_003  # fold multiplier for band hashes (< 2^20)


def portable_hash60(c: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a
    non-negative long. DuckDB equivalent: positional hex parse of
    ``substring(md5(x), 1, 15)`` (see driver_queries._hash60_sql)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_salts(num_hashes: int = 32) -> tuple[list[int], list[int]]:
    """Deterministic affine salt pairs (a_i, b_i) in [1, P31).

    Fixed arithmetic progression constants (Knuth multiplicative /
    odd step) — no RNG, so the Spark side and the oracle-SQL generator
    derive the identical table from this one function."""
    a = [((i * 2_654_435_761 + 12_345) % (P31 - 1)) + 1 for i in range(num_hashes)]
    b = [(i * 40_503 + 7) % P31 for i in range(num_hashes)]
    return a, b


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(text), TOKEN_SPLIT_RE)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-gram word shingles as strings — the MinHash input set.

    Built from slice+concat over the token array via ``transform`` on
    an index sequence; stays entirely in codegen.
    """
    toks = tokens(text)
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), count)  # 1-based for slice()
    return F.when(count > 0, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))).otherwise(
        F.array(F.trim(text))
    )


def token_hashes31(text: Column) -> Column:
    """Per-token portable hashes in [0, P31): one md5 per whitespace
    token, parsed to 60 bits, folded into the salted-hash field."""
    return F.transform(tokens(text), lambda t: portable_hash60(t) % F.lit(P31))


def with_token_hashes31(
    df: DataFrame, text_col: str = "text", out_col: str = "_th31"
) -> DataFrame:
    """Stage the per-token portable hashes as a real projection.

    The md5 pass is the expensive part of every shingle pipeline;
    staging it as an attribute makes every downstream reference a
    cheap column lookup. CollapseProject preserves the projection
    because the shingle fold references it n (>1) times."""
    return df.withColumn(out_col, token_hashes31(F.col(text_col)))


def shingle_fold31(th: Column, text: Column, n: int) -> Column:
    """Affine n-gram fold over an ALREADY-STAGED token-hash array.

    ``th`` MUST be a plain attribute from a real projection (see
    ``with_token_hashes31``), never an inline ``transform``: a
    computed array referenced inside the fold lambda is re-embedded at
    every ``element_at`` site and re-evaluated per shingle — measured
    ~10x slower than the shingle-string md5 it was meant to replace.

    When the consumer is an ``explode`` (Generate), embed THIS
    EXPRESSION directly in the explode — do not alias it first: a
    single-use alias is legally inlined into Generate, and that
    rewrite cascades straight through the token-hash staging too
    (measured: the aliased-then-exploded form re-evaluates the md5
    pass per element_at site; the direct form keeps it staged).
    Projection consumers are safe either way."""
    count = F.greatest(F.size(th) - F.lit(n - 1), F.lit(0))

    def fold(i: Column) -> Column:
        acc = F.element_at(th, i)
        for r in range(1, n):
            acc = (acc * F.lit(BAND_FOLD_A) + F.element_at(th, i + F.lit(r))) % F.lit(P31)
        return acc

    return F.when(count > 0, F.transform(F.sequence(F.lit(1), count), fold)).otherwise(
        F.array(portable_hash60(F.trim(text)) % F.lit(P31))
    )


def with_shingle_hashes31(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "_sh31"
) -> DataFrame:
    """Portable n-gram shingle hashes via token-hash folding.

    The round-2 form built every shingle STRING (slice + concat_ws over
    the token array) and md5-hashed it — n-fold string copying plus
    md5 over ~n-token payloads, the dominant CPU of every near-dup
    operator. This form hashes each TOKEN once (short md5 input) into
    a staged projection, then derives shingle hashes with the affine
    fold ``h = (h_prev * BAND_FOLD_A + th[i]) % P31`` — pure long
    arithmetic in codegen, zero string building, identical in any
    engine (the DuckDB oracles restate the same fold; see
    driver_queries._shingle_fold_cte). The two-projection staging
    mirrors ``with_language_id``: CollapseProject leaves the non-cheap
    token-hash alias alone because the fold references it n times, so
    the md5 pass executes once per row. Collision space is P31
    (~2^31): for per-document shingle sets (~10^2) the within-pair
    collision odds are ~1e-6 — and collisions are *deterministic*, so
    the oracle sees the identical values either way.

    Documents with fewer than ``n`` tokens fall back to one hash of
    the whole trimmed text (same fallback as ``word_shingles``).
    Appends ``out_col`` (array<long>); drops the staging column.
    """
    staged = with_token_hashes31(df, text_col)
    return staged.withColumn(
        out_col, shingle_fold31(F.col("_th31"), F.col(text_col), n)
    ).drop("_th31")


def _salted_hash(salt: int):
    # Single-arg lambda: F.transform treats a 2-arg lambda as
    # (element, array_index), which would clobber the salt.
    return lambda s: F.xxhash64(F.lit(salt), s)


def _minhash_sig_fold(hashes: Column, num_hashes: int, hasher: str) -> Column:
    """MinHash signature as ONE ``aggregate`` over the shingle-hash
    array carrying a ``num_hashes``-wide running-min vector.

    Semantically identical to num_hashes separate
    ``array_min(transform(...))`` columns, but the expression tree is
    ~num_hashes times smaller — whole-stage codegen compiled in ~0.4s
    instead of ~3s for 32 hashes (measured at sf0.1; execution time is
    equal). Plan compile time is real latency on every cold run of the
    operator, so the fold form is the default.

    Portable mode: per position i, min over shingles of
    (a_i*h + b_i) mod P31 (the oracle-reproducible affine salts).
    xxhash64 mode: min of xxhash64(i, h).
    """
    if hasher == "portable":
        salts_a, salts_b = minhash_salts(num_hashes)
        # ONE py4j call for the salt array (round-12, guide §1.2 —
        # driver time): the per-element F.struct(F.lit, F.lit) form
        # paid ~3 py4j round trips per salt (~0.3 s per operator call
        # at 32 hashes); the SQL string parses JVM-side to the
        # identical literal array.
        ab = F.expr(
            "array("
            + ",".join(
                f"named_struct('a',{a}L,'b',{b}L)"
                for a, b in zip(salts_a, salts_b)
            )
            + ")"
        )
        init = F.array_repeat(F.lit(P31).cast("long"), num_hashes)
        return F.aggregate(
            hashes,
            init,
            lambda acc, x: F.zip_with(
                acc, ab, lambda m, s: F.least(m, (s["a"] * x + s["b"]) % F.lit(P31))
            ),
        )
    idx = F.expr(
        "array(" + ",".join(f"{i}L" for i in range(num_hashes)) + ")"
    )
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, x: F.zip_with(acc, idx, lambda m, i: F.least(m, F.xxhash64(i, x))),
    )


def _band_hash_array(
    bands: int, rows_per_band: int, hasher: str, sig_col: str = "sig"
) -> Column:
    """The per-band hash array as ONE ``F.expr`` SQL string (round-12,
    guide §1.2 — driver time): the per-band Column-chain form paid a
    py4j round trip per arithmetic step (~0.3 s per operator call at
    16 bands). Values are identical: same fold constants, same 0-based
    ``sig[i]`` indexing, and the xxhash64 band seed stays an INT
    literal (hashing an int and a long give different xxhash64
    results, so ``{b}`` must remain untyped)."""
    terms = []
    for b in range(bands):
        if hasher == "portable":
            acc = f"CAST({b} AS BIGINT)"
            for r in range(rows_per_band):
                acc = (
                    f"(({acc} * {BAND_FOLD_A}L + "
                    f"{sig_col}[{b * rows_per_band + r}]) % {P31}L)"
                )
        else:
            cols = ",".join(
                f"{sig_col}[{b * rows_per_band + r}]"
                for r in range(rows_per_band)
            )
            acc = f"xxhash64({b},{cols})"
        terms.append(acc)
    return F.expr("array(" + ",".join(terms) + ")")


def _band_candidates(
    sig: DataFrame, id_col: str, bands: int, rows_per_band: int, hasher: str
) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, of the documents whose
    ``sig`` relation rows agree on at least one band hash: the band
    self-join. Its payload is only (id, band_idx, band_hash)."""
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            _band_hash_array(bands, rows_per_band, hasher)
        ).alias("band_idx", "bh"),
    )
    return (
        banded.select(F.col(id_col).alias("id_a"), "band_idx", "bh")
        .join(banded.select(F.col(id_col).alias("id_b"), "band_idx", "bh"), ["band_idx", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: per salt i, min over shingles of
    xxhash64(salt_i, shingle). Deterministic; array<long> output.

    array_min over a transform — linear in shingle count, no shuffle.
    """
    sig = [F.array_min(F.transform(shingles, _salted_hash(i))) for i in range(num_hashes)]
    return F.array(*sig)


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hasher: str = "portable",
    pre_group_exact: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Pipeline (each document's shingles are string-hashed ONCE):
      1. shingle -> hash each shingle to a long (``portable``: md5 ->
         60-bit -> mod P31, reproducible in the DuckDB oracle;
         ``xxhash64``: Spark-native, marginally cheaper);
      2. ``num_hashes`` salted variants of those longs -> array_min =
         MinHash signature. Portable salting is an affine transform
         (a_i*h + b_i) mod P31 — pure long arithmetic in codegen,
         cheaper than re-hashing, identical in any engine;
      3. band the signature -> posexplode to (band_idx, band_hash)
         rows -> self-join on them. The join payload is ONLY
         (id, band_idx, band_hash) — signatures are NOT carried
         through the shuffle (the round-1 version dragged two
         32-long arrays through the join; re-joining the narrow
         signature relation after pair-dedup is strictly less data);
      4. verify: signature agreement rate >= threshold, computed by
         re-joining the checkpointed signature relation per side.

    The signature relation is built by one eager checkpoint
    (``cache.checkpoint``, registered so sweep runners release it)
    before the query that reads it: both band-join sides and both
    verify joins scan it, and one shingling pass feeds all four.
    ``pre_group_exact`` builds its exact-dup groups the same way.

    Scale: at 100 TB the signature table is ~num_hashes*8 bytes/doc —
    write it to a table and reuse across runs. The band-hash shuffle
    moves bands*(8+8+4) bytes/doc. Exact-duplicate mega-buckets are
    the classic skew risk — AQE skew-join splitting plus
    ``pre_group_exact=True`` bound bucket size: exact duplicates are
    grouped by md5(text) FIRST, LSH runs over one representative per
    distinct text, and pairs are expanded back afterwards
    (intra-group pairs at est_jaccard=1.0, cross-group pairs at the
    representatives' estimate). Output is provably identical to the
    naive run — identical texts have identical signatures, so they
    always band together (est 1.0 >= any threshold) and every member
    inherits its representative's collisions — while the band join's
    worst bucket shrinks from the largest exact-dup cluster to the
    largest *distinct-text* near-dup cluster (tested equal on a
    dup-heavy corpus). Returns (id_a, id_b, est_jaccard) with
    id_a < id_b.
    """
    if pre_group_exact:
        groups = cache.checkpoint(
            df.groupBy(F.md5(F.col(text_col)).alias("_gk")).agg(
                F.min(id_col).alias("_rep"),
                F.sort_array(F.collect_list(id_col)).alias("_members"),
                F.first(text_col).alias(text_col),
            )
        )
        reps = groups.select(F.col("_rep").alias(id_col), text_col)
        rep_pairs = minhash_near_dup_pairs(
            reps,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            threshold=threshold,
            hasher=hasher,
            pre_group_exact=False,
        )
        # Intra-group pairs: every (a<b) inside one exact-dup group.
        m = F.col("_members")
        pair_arr = F.flatten(
            F.transform(
                m,
                lambda x, i: F.transform(
                    F.slice(m, i + 2, F.size(m)),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
        intra = (
            groups.filter(F.size(m) >= 2)
            .select(F.explode(pair_arr).alias("_p"))
            .select(
                F.col("_p.a").alias("id_a"),
                F.col("_p.b").alias("id_b"),
                F.lit(1.0).alias("est_jaccard"),
            )
        )
        # Cross-group pairs: expand representative pairs to all member
        # combinations, re-ordering so id_a < id_b.
        ga = groups.select(F.col("_rep").alias("id_a"), F.col("_members").alias("_ma"))
        gb = groups.select(F.col("_rep").alias("id_b"), F.col("_members").alias("_mb"))
        cross = (
            rep_pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .select(F.explode("_ma").alias("_a"), F.col("_mb"), F.col("est_jaccard"))
            .select(F.col("_a"), F.explode("_mb").alias("_b"), F.col("est_jaccard"))
            .select(
                F.least("_a", "_b").alias("id_a"),
                F.greatest("_a", "_b").alias("id_b"),
                "est_jaccard",
            )
        )
        return intra.unionByName(cross).select("id_a", "id_b", "est_jaccard")

    rows_per_band = num_hashes // bands
    if hasher == "portable":
        hashed = with_shingle_hashes31(df, text_col, shingle_n, out_col="_sh").select(
            F.col(id_col), F.col("_sh")
        )
    elif hasher == "xxhash64":
        shingle_hashes = F.transform(
            word_shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)
        )
        hashed = df.select(F.col(id_col), shingle_hashes.alias("_sh"))
    else:
        raise ValueError(f"unknown hasher: {hasher}")
    sig = cache.checkpoint(
        hashed.select(F.col(id_col), _minhash_sig_fold(F.col("_sh"), num_hashes, hasher).alias("sig"))
    )
    cand = _band_candidates(sig, id_col, bands, rows_per_band, hasher)
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sig_b"))
    verified = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = F.size(
        F.filter(
            F.zip_with("_sig_a", "_sig_b", lambda x, y: (x == y).cast("int")), lambda v: v == 1
        )
    )
    out = verified.withColumn(
        "est_jaccard", F.round(agree / F.lit(float(num_hashes)), 4)
    ).filter(F.col("est_jaccard") >= threshold)
    return out.select("id_a", "id_b", "est_jaccard")


def jaccard_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.4,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard pairs with MinHash-band candidate blocking.

    Round 1 blocked the pairwise join on (lang, first token) — at
    100x data the "the"-block is both skewed and quadratic, because a
    content-derived semantic key has a fixed vocabulary. Band hashes
    invert that: a band bucket only collects documents whose MinHash
    rows agree, so bucket population tracks *duplicate clusters*, not
    corpus size — the skew bound is the size of the largest true
    near-dup cluster (exact dups can be pre-grouped to cap even that).

    Two-stage pipeline sharing ONE shingle-hash pass (checkpointed):
      1. candidates: 16-band x 2-row MinHash banding over the portable
         salted hashes. Recall for true jaccard j is 1-(1-j^2)^16:
         ~0.94 at j=0.4, ~0.99 at j=0.5 — and the DuckDB oracle
         reproduces the identical banding, so both engines see the
         exact same candidate set.
      2. verify: exact Jaccard over the distinct 60-bit shingle-hash
         sets (array_intersect/array_union on longs — the shuffle
         moves 8-byte hashes, never shingle strings; 60-bit collisions
         are ~1e-13 at document scale).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    iu = jaccard_band_candidates_iu(df, text_col, id_col, shingle_n, num_hashes, bands)
    j = F.when(F.col("u") > 0, F.col("i") / F.col("u").cast("double")).otherwise(F.lit(0.0))
    out = iu.withColumn("jaccard", F.round(j, 4)).filter(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def jaccard_band_candidates_iu(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """MinHash-band candidate pairs with EXACT intersection/union set
    sizes (no threshold applied) — the shared kernel under
    :func:`jaccard_near_dup_pairs` and the q275 threshold sweep.

    Emitting raw ``(i, u)`` counts instead of a pre-thresholded
    jaccard lets callers evaluate MANY thresholds in one pass by
    integer cross-multiplication (i*100 >= t*u), with no float and no
    re-join per setting. Candidate generation is the band kernel —
    bucket population tracks duplicate-cluster size, not corpus size
    (the skew property that content-derived keys like (lang, first
    token) lack; see the q26 round-2 fix).

    Returns (id_a, id_b, i, u) with id_a < id_b, over the distinct
    band-candidate pairs.
    """
    return _band_candidate_sets(df, text_col, id_col, shingle_n, num_hashes, bands).select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("_sa", "_sb")).alias("i"),
        F.size(F.array_union("_sa", "_sb")).alias("u"),
    )


def _band_candidate_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, num_hashes: int, bands: int
) -> DataFrame:
    """The band-candidate pairs of :func:`jaccard_band_candidates_iu`
    and :func:`containment_pairs` with both sides' distinct
    shingle-hash sets: (id_a, id_b, _sa, _sb). The (id, set, signature)
    relation is built by one eager checkpoint: both band-join sides
    and both set joins scan it."""
    rel = cache.checkpoint(
        with_shingle_hashes31(df, text_col, shingle_n, out_col="_sh")
        .select(F.col(id_col), F.array_distinct(F.col("_sh")).alias("_s"))
        .select(
            F.col(id_col),
            F.col("_s"),
            _minhash_sig_fold(F.col("_s"), num_hashes, "portable").alias("sig"),
        )
    )
    cand = _band_candidates(rel, id_col, bands, num_hashes // bands, "portable")
    sets_a = rel.select(F.col(id_col).alias("id_a"), F.col("_s").alias("_sa"))
    sets_b = rel.select(F.col(id_col).alias("id_b"), F.col("_s").alias("_sb"))
    return cand.join(sets_a, "id_a").join(sets_b, "id_b")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Near-SUBSET (quote/excerpt) detection: directed containment
    |A∩B| / min(|A|,|B|) over shingle-hash sets, with the same
    MinHash-band candidate blocking as :func:`jaccard_near_dup_pairs`.

    Jaccard misses subsets — a paragraph quoted inside a long document
    has high containment but low Jaccard — and subset pairs are
    exactly what decontamination and quote-dedup need. Candidates come
    from the banding (high-containment pairs of comparable size band
    together; a tiny-in-huge quote needs a shingle-prefix index — out
    of scope, documented); verification is exact set arithmetic on
    8-byte hashes. Output is directed: ``id_contained`` is the doc
    with the smaller shingle set (tie → smaller id).
    """
    v = _band_candidate_sets(df, text_col, id_col, shingle_n, num_hashes, bands)
    inter = F.size(F.array_intersect("_sa", "_sb"))
    la, lb = F.size("_sa"), F.size("_sb")
    mn = F.least(la, lb)
    c = F.when(mn > 0, inter / mn.cast("double")).otherwise(F.lit(0.0))
    a_small = (la < lb) | ((la == lb) & (F.col("id_a") < F.col("id_b")))
    out = v.withColumn("containment", F.round(c, 4)).filter(
        F.col("containment") >= threshold
    )
    return out.select(
        F.when(a_small, F.col("id_a")).otherwise(F.col("id_b")).alias("id_contained"),
        F.when(a_small, F.col("id_b")).otherwise(F.col("id_a")).alias("id_container"),
        "containment",
    )


def simhash(text: Column, bits: int = 64, hasher: str = "xxhash64") -> Column:
    """SimHash over whitespace tokens (default 64-bit).

    Classic bitwise-majority construction: per bit, the sign of the
    sum over tokens of (bit set ? +1 : -1). Token hash is xxhash64
    (Spark-native) or the portable md5-based 60-bit hash (``hasher=
    "portable"`` — pass ``bits=60`` with it; reproducible in the
    DuckDB oracle). Single-pass formulation: each token is hashed
    ONCE, one ``aggregate`` walks the hash array carrying a
    ``bits``-wide vote vector (``zip_with`` add), then the votes are
    packed into the result long — O(tokens·bits) long-arithmetic in
    one codegen stage, not ``bits`` separate array traversals.
    Near-dup test = hamming distance <= k (see :func:`hamming64`).
    """
    if hasher == "portable":
        hashes = F.transform(tokens(text), lambda t: portable_hash60(t))
    else:
        hashes = F.transform(tokens(text), lambda t: F.xxhash64(t))
    # masks[i] = 1<<i as a signed long (bit 63 → long-min); h & masks[i]
    # tests bit i without any per-element shift-by-column.
    masks = F.array(
        *[F.lit(2**i if i < 63 else -(2**63)).cast("long") for i in range(bits)]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    packed = F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_max: int = 8,
    n_chunks: int = 4,
    hasher: str = "portable",
) -> DataFrame:
    """Near-duplicate pairs via SimHash + chunked-pigeonhole blocking.

    Each document gets a SimHash (60-bit for the default portable
    hasher — oracle-reproducible; 64-bit for xxhash64); the hash is
    split into ``n_chunks`` equal chunks. A pair within Hamming
    distance <= n_chunks-1 is *guaranteed* to agree on a chunk
    (pigeonhole); larger distances up to ``hamming_max`` are found
    best-effort (high recall in practice: flips cluster rarely).
    Candidate generation is an equi-join on (chunk_idx, chunk_value)
    — 10-byte keys — never an all-pairs cross join. Verification is
    one XOR+bit_count per candidate. Both sides of the oracle mirror
    this blocking exactly, so recall characteristics are identical.

    Scale: the simhash relation is ~16 bytes/doc; the chunk shuffle
    moves n_chunks rows/doc of 10-byte keys. Identical-hash
    mega-buckets (exact dups) are the skew risk — same mitigation as
    MinHash banding: AQE skew-join + pre-aggregating exact dups by
    fingerprint before the pairwise stage. Returns (id_a, id_b,
    hamming) with id_a < id_b.
    """
    bits = 60 if hasher == "portable" else 64
    bits_per = bits // n_chunks
    sh = df.select(F.col(id_col), simhash(F.col(text_col), bits=bits, hasher=hasher).alias("sh"))
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("sh"), i * bits_per).bitwiseAND(F.lit((1 << bits_per) - 1))
            for i in range(n_chunks)
        ]
    )
    chunked = cache.checkpoint(
        sh.select(F.col(id_col), F.col("sh"), F.posexplode(chunks).alias("chunk_idx", "cv"))
    )
    left = chunked.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "chunk_idx", "cv")
    right = chunked.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "chunk_idx", "cv")
    cand = (
        left.join(right, ["chunk_idx", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    out = cand.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")).cast("int"))
    return out.filter(F.col("hamming") <= hamming_max).select("id_a", "id_b", "hamming")


# Marker vocabularies for the n-gram/stopword language-ID heuristic.
# Deterministic scoring: score(lang) = # tokens in marker set; argmax
# with alphabetical tie-break (ordered dict order below).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"),
}


def language_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-token counts (the language-ID signal)."""
    toks = F.transform(tokens(text), lambda w: F.lower(w))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda w: F.array_contains(marker_arr, w)))
    return out


def language_id(text: Column) -> Column:
    """Predicted language: argmax marker score, alphabetical-first
    tie-break (stable across engines); 'und' (undetermined) when no
    marker matches at all.

    Single-Column form: the tokenize+score subtree is textually
    duplicated across the when-branches, so prefer
    ``with_language_id`` (staged projections, each score computed
    once) anywhere the input is a DataFrame — ~20x less expression
    work per row."""
    scores = language_scores(text)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # Iterate in reverse-alphabetical order so the earliest language
    # wins ties (each F.when overrides the previous on equality).
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def with_language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "pred_lang"
) -> DataFrame:
    """DataFrame form of ``language_id`` staged through real
    projections: tokens once, then one score column per language, then
    the argmax over those columns. CollapseProject keeps the stages
    separate (the aliased token array / scores are non-cheap and
    referenced multiple times), so each subtree evaluates once per row
    instead of once per when-branch — same result, far less CPU."""
    langs = sorted(LANG_MARKERS)
    toks = F.transform(tokens(F.col(text_col)), lambda w: F.lower(w))
    staged = df.withColumn("_lid_toks", toks)
    score_cols = []
    for lang in langs:
        marker_arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        score_cols.append(
            F.size(
                F.filter(F.col("_lid_toks"), lambda w: F.array_contains(marker_arr, w))
            ).alias(f"_lid_s_{lang}")
        )
    staged = staged.select("*", *score_cols)
    best = F.greatest(*[F.col(f"_lid_s_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in sorted(langs, reverse=True):
        pred = F.when(F.col(f"_lid_s_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return staged.withColumn(out_col, pred).drop(
        "_lid_toks", *[f"_lid_s_{lang}" for lang in langs]
    )


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-style pre-tokenization: letter runs, digit runs, and single
    punctuation marks (the GPT-2 pre-tokenizer shape, minus byte-level
    merges). regexp_extract_all is a codegen'd built-in."""
    return F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)


def fingerprint(text: Column) -> Column:
    """64-bit content fingerprint of normalized text (lowercased,
    whitespace-collapsed) — the cheap exact-dup key. Hash first, then
    shuffle 8-byte keys instead of documents (see operators/dedup.py).
    """
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(norm)


def text_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality columns: token count, char count, mean token
    length, punctuation ratio, stopword ratio, all-caps ratio."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    stop = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is")])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop, F.lower(w))))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_calc", n_chars)
        .withColumn(
            "mean_token_len",
            F.round(F.when(n_tok > 0, (F.length(F.regexp_replace(t, r"\s+", ""))) / n_tok).otherwise(0.0), 4),
        )
        .withColumn(
            "punct_ratio",
            F.round(
                F.when(n_chars > 0, F.length(F.regexp_replace(t, r"[^.,;:!?]", "")) / n_chars).otherwise(0.0), 4
            ),
        )
        .withColumn("stopword_ratio", F.round(F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0), 4))
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: Sequence[str],
    max_dist: int = 10,
    k: int = 25,
) -> DataFrame:
    """Fuzzy-match pairs by Levenshtein edit distance within blocks —
    the classic entity-resolution join (near-identical names/titles).

    Levenshtein is O(len^2) per pair and inherently pairwise, so the
    join MUST be blocked: pairs are generated only inside
    ``block_cols`` equi-join buckets (at 100 TB: a coarse key like
    (brand, category) or a phonetic/prefix key; the operator takes
    whatever blocking the pipeline author chooses and the same skew
    rules as every blocked self-join apply — AQE splitting, cap or
    salt pathological blocks). ``F.levenshtein`` is the textbook
    unit-cost DP, identical in DuckDB's ``levenshtein``.

    Returns the ``k`` closest pairs with distance <= ``max_dist``,
    ordered (edit_dist ASC, id_a, id_b) — a deterministic total order.
    """
    b = df.select(
        *block_cols, F.col(id_col).alias("_id"), F.col(text_col).alias("_tx")
    )
    a_side = b.select(*block_cols, F.col("_id").alias("id_a"), F.col("_tx").alias("_ta"))
    b_side = b.select(*block_cols, F.col("_id").alias("id_b"), F.col("_tx").alias("_tb"))
    pairs = a_side.join(b_side, list(block_cols)).filter(F.col("id_a") < F.col("id_b"))
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"))
    return (
        pairs.withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") <= max_dist)
        .orderBy("edit_dist", "id_a", "id_b")
        .limit(k)
        .select("id_a", "id_b", "edit_dist")
    )


def ngram_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """Exact n-gram Jaccard similarity between two text columns —
    the verification step after LSH candidate generation."""
    sa, sb = F.array_distinct(word_shingles(a, n)), F.array_distinct(word_shingles(b, n))
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union > 0, inter / union.cast("double")).otherwise(F.lit(0.0))
