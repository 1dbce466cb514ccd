"""A table version is a log version.

A commit names only the files it changes, so ANY concurrent commit —
an append, a metadata commit or a DML — moves the version an isolated
transaction read, and its conflict check catches it. These tests land
the concurrent commit through ``post_scan`` (inside the window between
the attempt's snapshot read and its commit) and pin that nothing a
concurrent writer committed is lost. Also pinned: an append whose log
commit is refused leaves nothing behind; writers on a column-mapped
table write physical names and readers return logical ones; a pruned
read of a deletion-vectored partitioned table broadcasts its positions
once.
"""

from __future__ import annotations

import os

import pytest

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import (
    ConcurrentWriteError,
    SnapshotStore,
)

SCHEMA = "k long, p string, v long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "p", "v").collect())


def _base(spark):
    return _df(spark, [(k, str(k % 2), k * 10) for k in range(10)])


def _once(fn):
    fired = []

    def hook():
        if not fired:
            fired.append(1)
            fn()

    return hook, fired


def _files(table):
    return {
        os.path.relpath(os.path.join(r, f), table)
        for r, _d, fs in os.walk(table)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in r
    }


def test_isolated_merge_keeps_a_concurrent_append(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _base(spark))
    extra = [(100 + i, "0", i) for i in range(5)]
    hook, fired = _once(lambda: st.append("t", _df(spark, extra)))
    st.merge("t", _df(spark, [(1, "1", -1)]), "k", isolated=True, post_scan=hook)
    assert fired == [1]
    want = sorted(
        [r for r in _rows(_base(spark)) if r[0] != 1] + [(1, "1", -1)] + extra
    )
    assert _rows(st.read("t")) == want
    assert _rows(dl.read_delta(spark, st.path("t"))) == want


def test_compact_keeps_a_concurrent_append(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _base(spark).repartition(4))
    extra = [(100 + i, "0", i) for i in range(5)]
    hook, fired = _once(lambda: st.append("t", _df(spark, extra)))
    out = st.compact("t", post_scan=hook)
    assert fired == [1]
    # the retry planned the appended files too: one output file
    assert out["files_after"] == 1
    assert _rows(st.read("t")) == sorted(_rows(_base(spark)) + extra)


def test_isolated_merge_conflicts_with_a_metadata_commit(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _base(spark))
    before = st.current_version("t")
    with pytest.raises(ConcurrentWriteError):
        st.merge(
            "t",
            _df(spark, [(1, "1", -1)]),
            "k",
            isolated=True,
            max_retries=1,
            post_scan=lambda: st.add_constraint("t", "v_nonneg", "v >= 0"),
        )
    # the constraint's metaData commit landed; the merge did not
    assert st.current_version("t") == before + 1
    assert st.constraints("t") == {"v_nonneg": "v >= 0"}
    assert _rows(st.read("t")) == _rows(_base(spark))


def test_refused_append_leaves_no_row_and_no_file(spark, tmp_path, monkeypatch):
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _base(spark))
    table = st.path("t")
    files, version = _files(table), st.current_version("t")

    def refuse(self, actions, **kw):
        raise dl.DeltaProtocolError("injected: log refused the commit")

    monkeypatch.setattr(dl.DeltaLog, "commit", refuse)
    with pytest.raises(dl.DeltaProtocolError, match="injected"):
        st.append("t", _df(spark, [(500, "0", 5)]))
    monkeypatch.undo()
    assert st.current_version("t") == version
    assert _rows(st.read("t")) == _rows(_base(spark))
    assert _files(table) == files


def test_append_after_rename_writes_physical_names(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "wh"), retain_versions=5, cdf=True)
    st.overwrite("t", _base(spark))
    table = st.path("t")
    dl.enable_column_mapping(table)
    dl.rename_column(table, "v", "val")
    st.append(
        "t", spark.createDataFrame([(90, "0", 3)], "k long, p string, val long")
    )
    v_append = st.current_version("t")
    read = st.read("t")
    assert read.columns == ["k", "p", "val"]
    assert read.where("k = 90").select("val").collect()[0][0] == 3
    assert (
        dl.read_delta(spark, table).where("k = 90").select("val").collect()[0][0]
        == 3
    )
    feed = dl.table_changes(spark, table, v_append, v_append)
    assert feed.columns.count("val") == 1 and "v" not in feed.columns
    assert [tuple(r) for r in feed.select("k", "val").collect()] == [(90, 3)]


def test_pruned_read_broadcasts_dv_positions_once(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite(
        "t",
        _df(spark, [(k, str(k % 3), k) for k in range(60)]),
        partition_by=["p"],
    )
    st.delete_where_mor("t", "k % 4 = 0")
    pruned = st.read_pruned("t", [("k", ">=", 0)])
    cols = ("k", "CAST(p AS STRING)", "v")
    assert sorted(map(tuple, pruned.selectExpr(*cols).collect())) == sorted(
        map(tuple, st.read("t").selectExpr(*cols).collect())
    )
    # the optimizer may push the one anti-join into each union branch;
    # the branches then share one broadcast of the positions
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    built = [
        ln for ln in final.splitlines()
        if "BroadcastExchange" in ln and "ReusedExchange" not in ln
    ]
    assert len(built) == 1, plan


def test_gc_keeps_a_shared_dv_file_a_retained_version_needs(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "wh"), retain_versions=2)
    rows = [(k, "0", k) for k in range(20)]
    st.overwrite("t", _df(spark, rows), cluster_by=("k",), n_files=2)
    st.delete_where_mor("t", "k IN (0, 19)")  # both files, one DV file
    dvs = {a["deletionVector"]["pathOrInlineDv"] for a in st._snapshot("t").files.values()}
    assert len(st._snapshot("t").files) == 2 and len(dvs) == 1
    st.delete_where_mor("t", "k = 1")  # the first file gets a new DV file
    v2 = st.current_version("t")
    st.delete_where_mor("t", "k = 18")  # and then the second one
    # v2 is retained, and its second file still names the shared DV file
    assert st.versions("t") == [v2, v2 + 1]
    want = sorted(r for r in rows if r[0] not in (0, 19, 1))
    assert _rows(st.read("t", version=v2)) == want
    assert _rows(st.read("t", version=v2 + 1)) == [r for r in want if r[0] != 18]
    st.restore("t", v2)
    assert _rows(st.read("t")) == want


def test_partition_column_typed_once_across_staging_dirs(spark, tmp_path):
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _df(spark, [(1, "01", 1), (2, "2", 2)]), partition_by=["p"])
    st.append("t", _df(spark, [(3, "x", 3)]))  # a second dir, a string value
    want = [(1, "01", 1), (2, "2", 2), (3, "x", 3)]
    got = st.read("t")
    assert dict(got.dtypes)["p"] == "string" and _rows(got) == want
    assert _rows(st.read_pruned("t")) == want
    # all-integer values across the dirs keep the inferred integer type
    st.overwrite("u", _df(spark, [(1, "1", 1)]), partition_by=["p"])
    st.append("u", _df(spark, [(2, "20", 2)]))
    assert dict(st.read("u").dtypes)["p"] == "int"


def test_no_match_delete_still_conflicts_with_a_concurrent_merge(spark, tmp_path):
    # the delete matched nothing in its snapshot, but the merge that
    # landed under its scan inserted a matching row: serial history is
    # merge, then delete, so the delete must retry and remove it
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _base(spark))
    hook, fired = _once(lambda: st.merge("t", _df(spark, [(500, "0", 1)]), "k"))
    st.delete_where("t", "k >= 500", post_scan=hook)
    assert fired == [1]
    assert _rows(st.read("t")) == _rows(_base(spark))
