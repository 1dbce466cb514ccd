"""Shared helpers for driver query modules (driver_queries*.py).

Centralizes the table loader and the exact-money discipline so every
query family computes identically: decimal/cents-exact internal sums,
double outputs (the representation the driver's comparator sees on
both engines — SURVEY.md §5 notes the round-1 failure mode this
prevents).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.catalog import read_parquet

# Deterministic parameters (SURVEY.md §7.4: no CURRENT_DATE anywhere).
AS_OF = dt.date(2001, 12, 31)          # orders span 1995..2001-08
EVENTS_CUT = dt.datetime(2024, 1, 20)  # events span 2024-01-01..01-30
WATERMARK_DEFAULT = dt.datetime(1900, 1, 1)
TOPK_K = 10
SESSION_GAP_MIN = 30


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base table ``name`` of ``sf_dir``, its lazy plan memoized per
    session: re-reading paid ~80 ms of schema inference + file listing
    per call on tables that never change (round-12). Every action
    still scans the files."""
    return cache.memo(
        "base_tables",
        (os.path.abspath(sf_dir), name),
        lambda: read_parquet(spark, f"{sf_dir}/{name}.parquet"),
        spark=spark,
    )


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows -> DataFrame through the Arrow path.

    ``spark.createDataFrame(list_of_tuples, schema)`` serializes via
    ``applySchemaToPythonRDD`` — pickled rows, a Python-worker round
    trip, and ~300-400 ms of fixed cost PER CALL even for 5 rows
    (measured round-12; the pandas/Arrow path is ~30 ms). Every cert
    that builds a summary/fixture relation from Python scalars pays
    it, some in per-version loops. This helper builds an Arrow table
    column-by-column against the EXPLICIT schema and hands it to
    Spark directly; value semantics match the classic path (pinned by
    tests/test_qcommon_multiset.py::test_local_rows_df_*).

    ``schema`` must be a DDL string or StructType (the explicit-schema
    discipline every call site already follows). The conversion goes
    through pyarrow DIRECTLY (``pa.array`` per declared field, not
    pandas — pandas treats float NaN as missing and would turn it into
    NULL; ``pa.array`` keeps NaN as NaN, matching the classic path).
    Falls back to the classic path if Arrow conversion raises (exotic
    nested types), so behavior is never worse.
    """
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    data = [tuple(r) for r in rows]
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        asch = to_arrow_schema(schema)
        cols = (
            list(zip(*data)) if data else [[] for _ in schema.fields]
        )
        tbl = pa.Table.from_arrays(
            [
                pa.array(list(c), type=f.type)
                for c, f in zip(cols, asch)
            ],
            schema=asch,
        )
        return spark.createDataFrame(tbl)
    except Exception:  # noqa: BLE001 — exotic types: classic path
        return spark.createDataFrame(data, schema)


def widen_if_narrow(df: DataFrame, factor: int = 2) -> DataFrame:
    """Round-robin repartition a relation whose PHYSICAL parallelism
    is far below the cluster's — guide §2.5's "repartition immediately
    after the read" fix for effectively-unsplittable inputs (a local
    single-row-group parquet file scans as ONE task no matter how the
    byte range is split; gzip at scale is the classic case). Apply it
    ONLY in front of expensive per-row work (wide multi-distinct
    Expand, per-row hashing): the shuffle it inserts costs more than
    it saves for cheap partial aggregates.

    Scale-adaptive by construction: when the scan already yields at
    least cores/factor partitions — any real multi-file table — the
    relation is returned UNCHANGED (no Exchange in the plan). The
    partition probe is plan-only (no job)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * factor <= target:
        return df.repartition(target)
    return df


def spread_by(df: DataFrame, *cols) -> DataFrame:
    """Hash-repartition ``df`` on ``cols`` to ``defaultParallelism``
    partitions: the one fan-out policy for CPU-heavy per-row stages
    (shingle explode + hashing, MinHash/SimHash signatures, md5
    chunking, generated bootstrap grids) that would otherwise run on
    the few tasks a single small parquet split scans as.

    ``defaultParallelism`` is N under ``local[N]`` and the total
    executor core count on a cluster, so every core gets one task and
    the stage runs in one wave at any size. A literal count pins the
    stage to one host's cores: extra task waves (and per-task
    scheduling and deserialization cost) on a smaller host, a capped
    fan-out on a larger cluster. Key on the column the next per-key
    stage groups by (the document id, the replicate id), so that stage
    can reuse the partitioning."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)


def combine_single_rows(*dfs: DataFrame) -> DataFrame:
    """Fold K SINGLE-ROW aggregate frames into one row WITHOUT a join:
    1-row cross joins compile to BroadcastNestedLoopJoin, which the
    plan guard bans everywhere (tests/test_plans.py). Union with
    missing columns as NULL, then one max-per-column agg over the K
    rows (max ignores the NULL fill; every column appears in exactly
    one input). All aggregates — no join node of any kind."""
    base = dfs[0]
    for d in dfs[1:]:
        base = base.unionByName(d, allowMissingColumns=True)
    return base.groupBy().agg(*[F.max(c).alias(c) for c in base.columns])


def multiset_mismatch_flag(
    a: DataFrame, b: DataFrame, name: str = "__multiset_bad"
) -> DataFrame:
    """SINGLE-ROW aggregate frame that is NULL iff ``a`` and ``b`` are
    multiset-equal (else 1): the signed-union probe behind
    ``multiset_equal``, exposed as a frame so certs can fold it into
    one combined action with their other single-row probes via
    ``combine_single_rows`` (round-12 batch 8, guide §1.2)."""
    cols = a.columns
    return (
        a.select(*cols)
        .withColumn("__side", F.lit(1))
        .unionByName(b.select(*cols).withColumn("__side", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("__side").alias("__d"))
        .where(F.col("__d") != 0)
        .agg(F.first(F.lit(1)).alias(name))
    )


def multiset_equal(a: DataFrame, b: DataFrame) -> bool:
    """One-job multiset (bag) equality for two same-schema frames.

    Replaces the 3-action probe ``a.count() == b.count() and
    a.exceptAll(b).count() == 0`` (exceptAll is itself a two-shuffle
    operator, and each ``count`` re-executes the input plan) with ONE
    action: tag each side ±1, union, one hash-aggregate on the row
    value, and ask for the first group whose signed count is nonzero
    (round-12, guide §1.2 — don't recompute; the certs' dominant cost
    was probe actions, not data). Bag semantics match exceptAll:
    NULLs and NaNs group as equal, duplicate multiplicities must
    match exactly.
    """
    return multiset_mismatch_flag(a, b).collect()[0][0] is None


def multiset_diff_counts(a: DataFrame, b: DataFrame) -> tuple[int, int]:
    """One-job ``(|a exceptAll b|, |b exceptAll a|)``: signed union +
    one hash-aggregate, then sum the positive and negative per-row
    count deltas — replaces two full exceptAll+count actions
    (round-12, guide §1.2)."""
    cols = a.columns
    d = (
        a.select(*cols)
        .withColumn("__side", F.lit(1))
        .unionByName(b.select(*cols).withColumn("__side", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("__side").alias("__d"))
        .agg(
            F.sum(
                F.when(F.col("__d") > 0, F.col("__d")).otherwise(0)
            ).alias("only_a"),
            F.sum(
                F.when(F.col("__d") < 0, -F.col("__d")).otherwise(0)
            ).alias("only_b"),
        )
        .collect()[0]
    )
    return int(d["only_a"] or 0), int(d["only_b"] or 0)


def land_once(land_dir: str, token: str, build) -> None:
    """Write a streaming landing dir via ``build()`` unless this
    process already landed the identical (dir, token) layout and the
    dir is still there: reuse keeps the file modification ORDER the
    file source replays by. ``token`` must capture everything the
    layout depends on — canonically the sf_dir. Checkpoint dirs must
    NOT go through this: a completed availableNow checkpoint would
    turn a re-run into zero micro-batches."""

    def land():
        shutil.rmtree(land_dir, ignore_errors=True)
        build()
        return land_dir

    cache.memo("landed", (land_dir, token), land, valid=lambda: os.path.isdir(land_dir))


def _hash60_sql(e: str) -> str:
    """DuckDB expression for text.portable_hash60: positional parse of
    the first 15 hex chars of md5(e) into a non-negative BIGINT."""
    return (
        "CAST(list_sum(list_transform(generate_series(1,15), i -> "
        f"CAST(strpos('0123456789abcdef', substring(md5({e}), i, 1)) - 1 AS BIGINT)"
        " * (CAST(1 AS BIGINT) << (4*(15-i))))) AS BIGINT)"
    )


def _money(c) -> F.Column:
    """Exact money arithmetic: cast 2-dp doubles to DECIMAL(18,2)
    before SUMming. Double summation is order-dependent (different
    partition/merge orders flip the last bit, and ROUND(x, 2) then
    flips a whole cent) — decimal sums are exact and deterministic on
    any cluster size. The oracle casts identically."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def _money_out(c: F.Column) -> F.Column:
    """Final cast for money OUTPUT columns: DECIMAL -> DOUBLE.

    Internal sums stay decimal (exact, order-independent); the output
    is double because the driver's comparator sees pandas values, and
    DuckDB converts DECIMAL to float64 there while Spark keeps Decimal
    objects — Decimal('0.00') vs 0.0 hash-differ despite equal values
    (the round-1 failure mode for q05/q10/q11/q12/q33). Casting the
    SAME exact decimal to double on both sides is deterministic: IEEE
    nearest-double of an identical value is identical bits."""
    return c.cast("double")


def _money_cents(c) -> F.Column:
    """Money as exact integer CENTS, for SUM-heavy aggregations.

    decimal(18,2) sums need result precision 28, which kicks Spark off
    the primitive codegen path onto per-add BigDecimal — summing exact
    long cents stays vectorized (~4x faster at sf0.1) with the
    identical final double: see _cents_out."""
    col = F.col(c) if isinstance(c, str) else c
    return (col.cast("decimal(18,2)") * 100).cast("long")


def _cents_out(sum_cents: F.Column) -> F.Column:
    """cents-sum -> money double. Equal to _money_out(F.sum(_money(c)))
    bit-for-bit: the cents sum is exact (< 2^53, so its double image is
    exact) and /100.0 rounds the same exact rational to nearest-double
    exactly once — the same single rounding the decimal->double cast
    performs."""
    return sum_cents / F.lit(100.0)


_DEC2DBL_SPLIT = 1 << 53


def _dec2dbl_sql(e: str) -> str:
    """Correctly-rounded DECIMAL(38,0) → DOUBLE for the DuckDB oracle.

    DuckDB's native int128→double cast converts in two pieces and is
    1 ulp off the correctly-rounded result on ~half of inputs above
    2^64 (measured; Spark's BigDecimal cast IS correctly rounded, so
    the two engines drift). Rebuild the double from two EXACTLY
    representable pieces split at 2^53 — hi·2^53 is exact (power-of-2
    scaling), lo < 2^53 is exact, and one IEEE add of two exact
    values is correctly rounded by definition, i.e. nearest-double of
    the true integer on any engine. Valid for 0 ≤ x < 2^106; beyond
    that a three-piece Dekker split would be needed (none of the
    oracle sums approach it at harness scale). NOTE: must go through
    HUGEINT — DuckDB's DECIMAL // is a float division."""
    s = _DEC2DBL_SPLIT
    h = f"CAST(CAST(({e}) AS HUGEINT)"
    return (
        f"(CAST({h} // {s} AS BIGINT) AS DOUBLE) * {float(s)!r} "
        f"+ CAST({h} % {s} AS BIGINT) AS DOUBLE))"
    )
