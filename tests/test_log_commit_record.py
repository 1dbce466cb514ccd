"""The Delta log is a SnapshotStore table's one commit record.

A default store (no flags) derives its committed version, its version
list and time travel from ``_delta_log``; these tests read the same
table both ways — through the store and through the log alone — and
pin the edges: a version dir no commit named is not a version, and a
version that lost every row is still a readable, empty version.
"""

from __future__ import annotations

import os

import pytest

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

SCHEMA = "k long, p string, v string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _log_dirs(table: str) -> list[str]:
    """Version dirs of the log's committed versions still on disk,
    oldest first — from each version's snapshot, independently of
    ``SnapshotStore.versions``."""
    log = dl.DeltaLog(table)
    out: list[str] = []
    for v in range(log.latest_version() + 1):
        dirs = {p.split("/", 1)[0] for p in log.snapshot(v).files}
        assert len(dirs) == 1, f"version {v} spans {sorted(dirs)}"
        d = dirs.pop()
        if os.path.isdir(os.path.join(table, d)) and d not in out:
            out.append(d)
    return out


BASE = [(1, "a", "x"), (2, "a", "y"), (3, "b", "z"), (4, "b", "w")]
BATCH = [(2, "a", "Y"), (5, "b", "new")]


def _op(st, spark, op):
    st.overwrite("t", _df(spark, BASE), partition_by=["p"])
    if op == "merge":
        st.merge("t", _df(spark, BATCH), "k", partition_by=["p"])
    elif op == "append":
        st.append("t", _df(spark, BATCH), partition_by=["p"])
    elif op == "restore":
        st.merge("t", _df(spark, BATCH), "k", partition_by=["p"])
        st.restore("t", -1)
    elif op == "delete_where":
        st.delete_where("t", "k < 3")


@pytest.mark.parametrize(
    "op", ("overwrite", "merge", "append", "restore", "delete_where")
)
def test_store_state_equals_the_log(spark, tmp_path, op):
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    _op(st, spark, op)
    table = st.path("t")
    assert _rows(dl.read_delta(spark, table)) == _rows(st.read("t"))
    assert st.versions("t") == _log_dirs(table)
    assert st.versions("t")[-1] == st.current_version("t")
    assert not os.path.exists(os.path.join(table, "_CURRENT"))
    assert not os.path.exists(os.path.join(table, "_LOG"))


def test_uncommitted_version_dir_is_not_a_version(spark, tmp_path):
    """A version dir no log commit names — a writer that crashed
    before its commit, or one still in flight — can be neither read
    nor restored by name."""
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _df(spark, [(1, "a", "x")]))
    staged = st._write_version("t", _df(spark, [(9, "z", "z")]))
    assert os.path.isdir(os.path.join(st.path("t"), staged))
    assert staged not in st.versions("t")
    assert st.read("t", version=staged) is None
    with pytest.raises(ValueError, match="unknown version"):
        st.restore("t", staged)
    assert _rows(st.read("t")) == [(1, "a", "x")]


def test_version_without_rows_stays_readable(spark, tmp_path):
    """A COW delete of every row of a partitioned table writes no data
    file; the commit keeps one zero-row file so the version is named
    by the log and reads back empty with the table's columns."""
    st = SnapshotStore(spark, str(tmp_path / "wh"))
    st.overwrite("t", _df(spark, BASE), partition_by=["p"])
    cols = sorted(st.read("t").columns)
    out = st.delete_where("t", "true")
    assert out["rows_after"] == 0
    empty = st.read("t")
    assert empty.count() == 0
    assert sorted(empty.columns) == cols
    assert dl.read_delta(spark, st.path("t")).count() == 0
    assert st.versions("t") == [st.current_version("t")]
    st.merge("t", _df(spark, BATCH), "k", partition_by=["p"])
    assert _rows(st.read("t")) == _rows(_df(spark, BATCH))
