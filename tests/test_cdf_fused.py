"""The change feed's one grouped reader (``delta_log.table_changes``).

Every feed is checked against an independent reference: each commit's
JSON read directly, Delta's change-feed rule applied (its ``cdc`` files
alone, else ``dataChange`` adds as inserts and removes as deletes),
each named file read with pyarrow, partition literals typed by the
metaData in force at that version, and ``_change_type`` /
``_commit_version`` attached per file. Feeds mix cdc commits with
add/remove-derived ones, flat and hive-partitioned, over escaped hive
dirs, a path re-added by a later version and a column-mapping rename.
One test pins how often a feed and a stream trigger list the log.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.delta_stream import DeltaTailStreamReader
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_cdf_fused_wh"

_CAST = {"long": int, "integer": int, "short": int, "byte": int,
         "double": float, "float": float, "string": str}


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    yield SnapshotStore(
        spark, WH, retain_versions=20, delta_log=True, cdf=True
    )
    shutil.rmtree(WH, ignore_errors=True)


def _base(spark, n=40):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 10).alias("v"),
    )


def _reference(tdir, s, e):
    """(columns, sorted rows) of the feed over versions [s, e], built
    from the commit JSONs and pyarrow alone. Columns follow the
    per-version union: each (version, kind)'s file columns, then the
    partition columns they lack, ``_change_type``, ``_commit_version``;
    columns first seen in a later version come after."""
    log = os.path.join(tdir, "_delta_log")
    names = sorted(f for f in os.listdir(log) if re.fullmatch(r"\d{20}\.json", f))
    meta, cols, rows = None, [], []
    for name in names:
        v = int(name[:20])
        with open(os.path.join(log, name), encoding="utf-8") as fh:
            actions = [json.loads(ln) for ln in fh if ln.strip()]
        meta = next((a["metaData"] for a in actions if a.get("metaData")), meta)
        if e is not None and v > e:
            break
        if v < s:
            continue
        types = {
            f["name"]: f["type"] for f in json.loads(meta["schemaString"])["fields"]
        }
        part_cols = meta.get("partitionColumns") or []
        cdc = [a["cdc"] for a in actions if a.get("cdc")]
        if cdc:
            by_kind = {"cdc": cdc}
        else:
            by_kind = {
                kind: [
                    a[act] for a in actions
                    if a.get(act) and a[act].get("dataChange", True)
                ]
                for kind, act in (("insert", "add"), ("delete", "remove"))
            }
        for kind, files in by_kind.items():
            if not files:
                continue
            frame = []
            for f in sorted(files, key=lambda f: str(
                [(f.get("partitionValues") or {}).get(c) for c in part_cols]
            )):
                tbl = pq.read_table(dl.resolve_path(tdir, f["path"]))
                pv = f.get("partitionValues") or dl._partition_values(f["path"])
                lits = {
                    c: _CAST[types[c]](pv[c]) for c in part_cols
                    if pv.get(c) is not None and c not in tbl.column_names
                }
                frame += tbl.column_names + list(lits)
                for r in tbl.to_pylist():
                    r.update(lits)
                    if kind != "cdc":
                        r["_change_type"] = kind
                    r["_commit_version"] = v
                    rows.append(r)
            if kind != "cdc":
                frame.append("_change_type")
            for c in frame + ["_commit_version"]:
                if c not in cols:
                    cols.append(c)
    rows = sorted((tuple(r.get(c) for c in cols) for r in rows), key=repr)
    # files carry physical names; the feed is served under the end
    # version's logical ones
    mapping = dl.DeltaSnapshot(version=0, metadata=meta).column_mapping()
    logical = {phys: lg for lg, phys in mapping.items()}
    return [logical.get(c, c) for c in cols], rows


def _feed(spark, tdir, s, e):
    ch = dl.table_changes(spark, tdir, s, e)
    return ch.columns, sorted(map(tuple, ch.collect()), key=repr)


def test_partitioned_mixed_feed_matches_reference(spark, store):
    """cdc commits (merge/delete) + add-derived commits (append) on a
    hive-partitioned table: columns AND values equal the reference."""
    st = store
    st.overwrite("t", _base(spark), partition_by=("p",))     # v0 adds
    st.merge(
        "t",
        spark.createDataFrame(
            [(1, "1", -1), (100, "2", -2)], "k long, p string, v long"
        ),
        "k",
        partition_by=("p",),
    )                                                        # v1 cdc
    st.append(
        "t",
        spark.createDataFrame([(200, "0", 5)], "k long, p string, v long"),
        partition_by=("p",),
    )                                                        # v2 adds
    st.delete_where("t", "k >= 35 and k < 38")               # v3 cdc
    tdir = st.path("t")
    cols, rows = _feed(spark, tdir, 0, None)
    cols_r, rows_r = _reference(tdir, 0, None)
    assert cols == cols_r
    assert rows == rows_r
    assert len(rows) > 40


def test_flat_subrange_matches_reference(spark, store):
    st = store
    st.overwrite("t", _base(spark, 20))
    st.merge(
        "t",
        spark.createDataFrame([(3, "x", 7)], "k long, p string, v long"),
        "k",
    )
    st.append(
        "t", spark.createDataFrame([(50, "y", 9)], "k long, p string, v long")
    )
    tdir = st.path("t")
    for s, e in ((0, None), (1, None), (2, 2), (1, 2)):
        cols, rows = _feed(spark, tdir, s, e)
        cols_r, rows_r = _reference(tdir, s, e)
        assert cols == cols_r, (s, e)
        assert rows == rows_r, (s, e)


def test_rename_mid_feed_served_without_fallback(spark, store):
    """A column-mapping rename mid-feed changes the schema's column
    types map but no partition column: the feed stays one grouped
    read, served under the END version's logical names."""
    st = store
    st.overwrite("t", _base(spark, 10))
    tdir = st.path("t")
    dl.enable_column_mapping(tdir)
    dl.rename_column(tdir, "v", "val")
    st.append(
        "t",
        spark.createDataFrame([(90, "z", 3)], "k long, p string, val long"),
    )
    cols, rows = _feed(spark, tdir, 0, None)
    cols_r, rows_r = _reference(tdir, 0, None)
    assert cols == cols_r
    assert rows == rows_r
    assert "val" in cols and "v" not in cols


def _hand_table(tdir, parts):
    """A log-managed table committed through the DeltaLog API: version
    0 holds the metaData and no file; ``parts`` maps a hive dir name to
    the rows of the one file written there."""
    shutil.rmtree(tdir, ignore_errors=True)
    paths = {}
    for i, (d, ks) in enumerate(parts.items()):
        os.makedirs(os.path.join(tdir, d))
        paths[d] = os.path.join(tdir, d, f"f{i}.parquet")
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()),
                      "v": pa.array([k * 10 for k in ks], pa.int64())}),
            paths[d],
        )
    schema = json.dumps({"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in (("k", "long"), ("v", "long"), ("p", "string"))
    ]})
    log = dl.DeltaLog(tdir)
    log.commit([{"protocol": dl.PROTOCOL_ACTION},
                {"metaData": dl.make_metadata(schema, ["p"])}])
    return log, paths


def test_escaped_hive_dirs_match_reference(spark):
    """Hive dirs whose names Hadoop escapes in ``_metadata.file_path``
    (``p=a b`` scans as ``p=a%20b``, ``p=x%y`` as ``p=x%25y``): each
    row still gets its own version and partition literal."""
    tdir = "/tmp/pa_test_cdf_escaped"
    log, paths = _hand_table(tdir, {"p=a b": [1, 2], "p=x%y": [3], "p=plain": [4]})
    log.commit([{"add": dl.make_add(tdir, paths["p=a b"])}])         # v1
    log.commit([{"add": dl.make_add(tdir, paths["p=x%y"])},
                {"add": dl.make_add(tdir, paths["p=plain"])}])       # v2
    log.commit([{"remove": dl.make_remove("p=x%y/f1.parquet")}])     # v3
    try:
        cols, rows = _feed(spark, tdir, 1, None)
        assert (cols, rows) == _reference(tdir, 1, None)
        assert ("x%y", "delete", 3) in {(r[2], r[3], r[4]) for r in rows}
        assert len(rows) == 5
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


def test_repeated_path_read_once_per_version(spark):
    """One path added in two versions (a restore re-adds old paths):
    its rows appear once per version that names it, each with that
    version's ``_commit_version``."""
    tdir = "/tmp/pa_test_cdf_repeated"
    log, paths = _hand_table(tdir, {"p=a": [1, 2, 3], "p=b": [4]})
    add_a = dl.make_add(tdir, paths["p=a"])
    log.commit([{"add": add_a}])                                     # v1
    log.commit([{"remove": dl.make_remove(add_a["path"])},
                {"add": dl.make_add(tdir, paths["p=b"])}])           # v2
    log.commit([{"add": add_a}])                                     # v3
    try:
        cols, rows = _feed(spark, tdir, 1, 3)
        assert (cols, rows) == _reference(tdir, 1, 3)
        seen = sorted((r[0], r[3], r[4]) for r in rows if r[2] == "a")
        assert seen == sorted(
            (k, ct, v) for k in (1, 2, 3)
            for ct, v in (("insert", 1), ("delete", 2), ("insert", 3))
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


def test_feed_and_stream_list_the_log_at_most_twice(spark, store, monkeypatch):
    """One feed over 3 versions and one stream trigger planning 3
    versions each list ``_delta_log`` at most twice and copy at most
    one snapshot, cold snapshot cache included."""
    st = store
    st.overwrite("t", _base(spark, 20))
    for k in (3, 5, 7):
        st.merge(
            "t",
            spark.createDataFrame([(k, "x", -k)], "k long, p string, v long"),
            "k",
        )
    tdir = st.path("t")
    log_dir = os.path.abspath(os.path.join(tdir, "_delta_log"))
    reader = DeltaTailStreamReader({"path": tdir, "read_change_feed": "true"})
    counts = {"list": 0, "copy": 0}
    listdir, scandir, copy = os.listdir, os.scandir, dl._snap_copy

    def _listdir(p="."):
        counts["list"] += os.path.abspath(p) == log_dir
        return listdir(p)

    def _scandir(p="."):
        counts["list"] += os.path.abspath(p) == log_dir
        return scandir(p)

    def _copy(snap):
        counts["copy"] += 1
        return copy(snap)

    monkeypatch.setattr(os, "listdir", _listdir)
    monkeypatch.setattr(os, "scandir", _scandir)
    monkeypatch.setattr(dl, "_snap_copy", _copy)
    for label, call in (
        ("feed", lambda: dl.table_changes(spark, tdir, 1, 3)),
        ("stream", lambda: reader.partitions({"version": 1}, {"version": 4})),
    ):
        dl.clear_snapshot_cache()
        counts.update(list=0, copy=0)
        call()
        assert counts["list"] <= 2, (label, counts)
        assert counts["copy"] <= 1, (label, counts)
