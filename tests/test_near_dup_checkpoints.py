"""Near-dup kernels build their multi-scan relations by eager checkpoint.

- q183's one-string chunk-parity fingerprint equals a Python reference
  (``hashlib.md5`` over the proportional chunks), on short, multibyte
  and empty texts.
- Each near-dup key, and ``minhash_near_dup_pairs(pre_group_exact=True)``,
  leaves exactly its registered checkpoints persisted while its result
  is live, and nothing after ``clear_all``.
- The final plans of q20 and q183 scan no table cache: every relation
  they read several times is a checkpoint built before the query.
"""

from __future__ import annotations

import hashlib

import pytest

from product_analytics_spark import cache
from product_analytics_spark.driver_queries import QUERIES
from product_analytics_spark.driver_queries_ext12 import FP_BITS, chunk_parity_fingerprint
from product_analytics_spark.operators import text
from tests.conftest import SF_SMALL


def _reference_fingerprint(s: str) -> int:
    """Bit i-1 is the parity of the first 15 hex chars of md5 of chunk
    i, the code points [n(i-1) div 60, ni div 60) of ``s``."""
    n, fp = len(s), 0
    for i in range(1, FP_BITS + 1):
        chunk = s[n * (i - 1) // FP_BITS : n * i // FP_BITS]
        h60 = int(hashlib.md5(chunk.encode("utf-8")).hexdigest()[:15], 16)
        fp |= (h60 % 2) << (i - 1)
    return fp


TEXTS = [
    "",  # every chunk empty
    "near-dup",  # shorter than 60 chars: most chunks empty
    "x" * FP_BITS,  # one char per chunk
    "Grüße aus Köln — naïve façade, 東京の夜景と🙂絵文字 " * 3,  # 2-, 3- and 4-byte chars
    " ".join(f"token{i}" for i in range(200)),
]


def test_q183_fingerprint_matches_python_reference(spark):
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(TEXTS)], "doc_id long, text string, n_chars long"
    )
    got = {r.doc_id: r.fp for r in df.select("doc_id", chunk_parity_fingerprint().alias("fp")).collect()}
    assert got == {i: _reference_fingerprint(t) for i, t in enumerate(TEXTS)}
    assert dict(df.select(chunk_parity_fingerprint().alias("fp")).dtypes) == {"fp": "bigint"}


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _pre_grouped(spark):
    words = [f"tok{i}" for i in range(30)]
    rows = [(0, " ".join(words)), (1, " ".join(words)), (2, " ".join(["tokX"] + words[1:])), (3, "far away")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return text.minhash_near_dup_pairs(df, threshold=0.4, pre_group_exact=True)


#: case -> (build, checkpoints registered while the result is live)
CASES = {
    "q20_fuzzy_dedup": (lambda s: QUERIES["q20_fuzzy_dedup"](s, SF_SMALL), 1),
    "q25_simhash_near_dup": (lambda s: QUERIES["q25_simhash_near_dup"](s, SF_SMALL), 1),
    "q26_ngram_jaccard_pairs": (lambda s: QUERIES["q26_ngram_jaccard_pairs"](s, SF_SMALL), 1),
    "q146_containment_pairs": (lambda s: QUERIES["q146_containment_pairs"](s, SF_SMALL), 1),
    "q183_fingerprint_near_dup": (lambda s: QUERIES["q183_fingerprint_near_dup"](s, SF_SMALL), 1),
    # the exact-dup groups and the representatives' signatures
    "minhash_pre_group_exact": (_pre_grouped, 2),
}


@pytest.mark.parametrize("case", list(CASES))
def test_near_dup_leaves_nothing_persisted(spark, case):
    build, n_checkpoints = CASES[case]
    cache.clear_all()
    before = _persistent_ids(spark)
    out = build(spark)
    assert len(_persistent_ids(spark) - before) == n_checkpoints
    assert out.collect() is not None
    cache.clear_all()
    left = _persistent_ids(spark) - before
    assert not left, f"RDDs still persisted after clear_all: {sorted(left)}"


@pytest.mark.parametrize("key", ["q20_fuzzy_dedup", "q183_fingerprint_near_dup"])
def test_final_plan_scans_no_table_cache(spark, key):
    df = QUERIES[key](spark, SF_SMALL)
    try:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan
        assert "InMemoryTableScan" not in plan
        assert "TableCacheQueryStage" not in plan
    finally:
        cache.clear_all()
