"""Physical-plan audit across the whole driver-query surface.

Explains every ``queries()`` entry at sf0.001 and tallies the plan
nodes that matter at 100 TB — exchanges (shuffles), joins by strategy,
sorts, whole-stage-codegen spans, Python boundaries, top-k operators,
and scan pushdown — into ``PLAN_AUDIT.json`` next to this script.

This is the quantified form of SCALE.md's claims: the per-query rows
show where every shuffle is, that no query contains a cartesian
product / nested-loop join / row-at-a-time Python eval, and that the
Python (Arrow) boundary appears only in the declared operators.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MARKERS = {
    "exchanges": "Exchange hashpartitioning",
    "range_exchanges": "Exchange rangepartitioning",
    "single_exchanges": "Exchange SinglePartition",
    "reused_exchanges": "ReusedExchange",
    "broadcast_exchanges": "BroadcastExchange",
    "broadcast_hash_joins": "BroadcastHashJoin",
    "sort_merge_joins": "SortMergeJoin",
    "shuffled_hash_joins": "ShuffledHashJoin",
    "nested_loop_joins": "BroadcastNestedLoopJoin",
    "cartesian_products": "CartesianProduct",
    "sorts": "Sort [",
    "codegen_spans": "*(",
    "take_ordered_topk": "TakeOrderedAndProject",
    "window_ops": "Window",
    "arrow_python": "MapInPandas",
    "arrow_eval_python": "ArrowEvalPython",  # arrow_udf/arrow_udtf doors
    "row_python": "BatchEvalPython",
    "pushed_filters": "PushedFilters: [I",  # non-empty filter list
}


import re

#: filter predicates whose first argument is a column name
_PUSHED_COL_RE = re.compile(
    r"\b(?:IsNotNull|IsNull|EqualTo|GreaterThan(?:OrEqual)?|"
    r"LessThan(?:OrEqual)?|In|StringStartsWith|StringEndsWith|"
    r"StringContains|Not)\(([A-Za-z_][A-Za-z_0-9]*)"
)
_HASHPART_RE = re.compile(r"hashpartitioning\(([^)]*)\)")
_RANGEPART_RE = re.compile(r"rangepartitioning\(([^)]*)\)")
_ATTR_RE = re.compile(r"([A-Za-z_][A-Za-z_0-9]*)#\d+")


def extract_layout_stats(plan_text: str) -> dict[str, dict[str, int]]:
    """Per-plan layout signals for the workload advisor: which columns
    the scans got PUSHED FILTERS on, and which columns the exchanges
    hash/range-partition by.  Column occurrences are counted once per
    plan node."""
    filters: dict[str, int] = {}
    for m in _PUSHED_COL_RE.finditer(plan_text):
        filters[m.group(1)] = filters.get(m.group(1), 0) + 1
    shuffles: dict[str, int] = {}
    for pat in (_HASHPART_RE, _RANGEPART_RE):
        for m in pat.finditer(plan_text):
            for a in _ATTR_RE.finditer(m.group(1)):
                col = a.group(1)
                if col.startswith("_"):  # internal/derived keys
                    continue
                shuffles[col] = shuffles.get(col, 0) + 1
    return {"filter_cols": filters, "shuffle_cols": shuffles}


def build_layout_advice(
    agg_filters: dict[str, int],
    agg_shuffles: dict[str, int],
    col2table: dict[str, str],
    top_n: int = 4,
) -> dict:
    """Fold workload-wide column stats into per-table layout advice:
    the most-filtered columns are partition/Z-order candidates (they
    prune files), the most-shuffled columns are bucketing candidates
    (co-located joins/aggs skip the exchange).  This is the lake-layout
    decision a 100 TB deployment makes ONCE from its workload — here
    derived mechanically from every query's physical plan."""
    per_table: dict[str, dict] = {}
    for col, n in agg_filters.items():
        t = col2table.get(col)
        if t is None:
            continue
        d = per_table.setdefault(t, {"filter_cols": {}, "shuffle_cols": {}})
        d["filter_cols"][col] = n
    for col, n in agg_shuffles.items():
        t = col2table.get(col)
        if t is None:
            continue
        d = per_table.setdefault(t, {"filter_cols": {}, "shuffle_cols": {}})
        d["shuffle_cols"][col] = n
    advice = {}
    for t, d in sorted(per_table.items()):
        part = sorted(d["filter_cols"].items(), key=lambda kv: (-kv[1], kv[0]))
        buck = sorted(d["shuffle_cols"].items(), key=lambda kv: (-kv[1], kv[0]))
        advice[t] = {
            "partition_or_zorder_candidates": part[:top_n],
            "bucket_candidates": buck[:top_n],
        }
    return advice


def _table_columns(sf_dir: str) -> dict[str, str]:
    """column name -> table name from the parquet schemas (first table
    wins for the few shared names; the synthetic schema is prefixed so
    collisions are rare)."""
    import pyarrow.parquet as pq

    out: dict[str, str] = {}
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        for name in pq.read_schema(path).names:
            out.setdefault(name, t)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from product_analytics_spark import cache
    from product_analytics_spark.driver_queries import QUERIES
    from product_analytics_spark.session import get_spark

    spark = get_spark("plan-audit")
    rows: dict[str, dict[str, int]] = {}
    agg_filters: dict[str, int] = {}
    agg_shuffles: dict[str, int] = {}
    for name, fn in QUERIES.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            # simple mode: node arguments inline (hashpartitioning,
            # PushedFilters, *(n) codegen ids) — one marker per node.
            fn(spark, sf_dir).explain()
        cache.clear_all()
        p = buf.getvalue()
        rows[name] = {k: p.count(m) for k, m in MARKERS.items()}
        ls = extract_layout_stats(p)
        for c, n in ls["filter_cols"].items():
            agg_filters[c] = agg_filters.get(c, 0) + n
        for c, n in ls["shuffle_cols"].items():
            agg_shuffles[c] = agg_shuffles.get(c, 0) + n

    summary = {
        "n_queries": len(rows),
        "totals": {
            k: sum(r[k] for r in rows.values()) for k in MARKERS
        },
        "queries_with_cartesian_or_nested_loop": sorted(
            n
            for n, r in rows.items()
            if r["cartesian_products"] or r["nested_loop_joins"]
        ),
        "queries_with_row_at_a_time_python": sorted(
            n for n, r in rows.items() if r["row_python"]
        ),
        "queries_with_arrow_eval_python": sorted(
            n for n, r in rows.items() if r.get("arrow_eval_python")
        ),
        "queries_with_arrow_python": sorted(
            n for n, r in rows.items() if r["arrow_python"]
        ),
        "max_exchanges": max(
            ((r["exchanges"], n) for n, r in rows.items()), default=(0, "")
        ),
    }
    out = {"sf_dir": sf_dir, "summary": summary, "queries": rows}
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "PLAN_AUDIT.json")
    with open(os.path.abspath(path), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    advice = {
        "derived_from": f"{len(rows)} query plans at {sf_dir}",
        "workload_filter_cols": dict(
            sorted(agg_filters.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
        ),
        "workload_shuffle_cols": dict(
            sorted(agg_shuffles.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
        ),
        "per_table": build_layout_advice(
            agg_filters, agg_shuffles, _table_columns(sf_dir)
        ),
    }
    apath = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "LAYOUT_ADVICE.json"
    )
    with open(os.path.abspath(apath), "w") as f:
        json.dump(advice, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
