"""Event-time windowing operators: sessionize, tumbling, sliding.

The reference is batch-only (SURVEY.md §2.9) — these are the
[EXTENSION] streaming-shaped operators, implemented in batch over an
event table so they are oracle-checkable; ``streaming/`` holds the
Structured Streaming twins (``F.session_window`` / ``F.window`` +
watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Assign gap-based session ids per user (batch form).

    lag(ts) -> new-session flag when gap > threshold -> running sum of
    flags = session id. Two window passes over the same
    (user, ts) ordering, so Spark does ONE shuffle + sort and both
    window functions ride it. At 100 TB the shuffle is keyed on
    user_col — naturally parallel; skewed power-users are bounded by
    per-user event counts, and AQE skew handling covers the rest.
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    # The gap test runs in microseconds, the precision of the q23
    # oracle and of streaming/ops.py: whole seconds (unix_timestamp)
    # would keep a gap of 30 min + < 1 s inside one session. The cast
    # admits TIMESTAMP_NTZ; the session timezone is UTC (session.py),
    # so it keeps every instant.
    gap_us = gap_minutes * 60_000_000
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    is_new = F.when(prev_us.isNull() | ((ts_us - prev_us) > gap_us), 1).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("_is_new_session", is_new).withColumn(
        "session_id", F.sum("_is_new_session").over(running)
    ).drop("_is_new_session")


def session_metrics(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """Sessionize then aggregate per session: bounds, event count,
    value total (rounded money-style)."""
    s = sessionize(df, user_col, ts_col, gap_minutes)
    return s.groupBy(user_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(value_col), 2).alias("total_value"),
    )


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Fixed-width event-time window aggregation.

    ``F.window`` is epoch-aligned, so "1 hour" tumbling windows equal
    date_trunc('hour') buckets — which is what the DuckDB oracle uses.
    Single hash-aggregate shuffle on (window, groups); map-side partial
    aggregation keeps the exchange tiny at any scale.
    """
    win = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events", "total_value")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str = "15 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Overlapping windows — each row lands in duration/slide buckets
    (F.window generates the copies; shuffle volume multiplies by that
    factor, which is the honest cost of sliding windows anywhere)."""
    win = F.window(F.col(ts_col), duration, slide)
    return (
        df.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )
