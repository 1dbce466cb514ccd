"""The one optimistic-commit loop every SnapshotStore writer runs
(``SnapshotStore._transact``), pinned across all nine writers:

* a concurrent commit landed inside the first attempt is retried, and
  the retried outcome equals a serial run on the concurrent writer's
  output;
* a writer that conflicts on every attempt raises ConcurrentWriteError
  after ``max_retries``;
* a genuine failure of the MoR trio and the COW rewrite re-raises
  unchanged and leaves no new version dir;
* a Delta-log commit refused inside the commit lock leaves the
  table's version, its log and its rows as they were.

The concurrent commit lands through ``post_scan`` where the writer has
it, and through a ``_commit`` wrapper on the store instance for
``restore``, ``purge_dv`` and ``optimize``, which take no hook.

Each writer's base store is built once per module and copied into
every case (a store is a plain directory), so a case pays only for
the writes it tests.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrame

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import (
    ConcurrentWriteError,
    SnapshotStore,
)

SCHEMA = "k long, p string, v long"


def _base(spark):
    return spark.range(40).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS p", "id * 10 AS v"
    )


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _open(spark, root):
    return SnapshotStore(
        spark, str(root), retain_versions=10, delta_log=True, cdf=True
    )


def _build(spark, root, writer):
    """A four-file table; clustered for optimize (else it falls back
    to compact), with a second version to go back to for restore and
    an outstanding deletion vector for purge_dv."""
    st = _open(spark, root)
    layout = {"cluster_by": ("v",)} if writer == "optimize" else {}
    st.overwrite("t", _base(spark), n_files=4, **layout)
    if writer == "restore":
        st.merge("t", _rows(spark, [(100, "z", 1000)]), "k")
    if writer == "purge_dv":
        st.delete_where_mor("t", "k >= 38")


@pytest.fixture(scope="module")
def make_store(spark, tmp_path_factory):
    """``make_store(root, writer)``: a copy of ``writer``'s base store
    at ``root``; the base is built on first use."""
    bases: dict[str, str] = {}

    def make(root, writer):
        if writer not in bases:
            bases[writer] = str(tmp_path_factory.mktemp(f"base_{writer}"))
            _build(spark, bases[writer], writer)
        shutil.copytree(bases[writer], str(root))
        return _open(spark, root)

    return make


def _concurrent(spark, st, writer, i):
    """The other writer's commit: a COW merge inserting a fresh key
    (an MoR delete for purge_dv, so a deletion vector stays to
    purge)."""
    if writer == "purge_dv":
        st.delete_where_mor("t", f"k = {20 + i}")
    else:
        st.merge("t", _rows(spark, [(1000 + i, "c", i)]), "k")


def _run(spark, st, writer, hook=None, max_retries=3):
    kw = {"post_scan": hook} if hook is not None else {}
    if writer == "delete_where_mor":
        return st.delete_where_mor("t", "k < 5", max_retries, **kw)
    if writer == "update_where_mor":
        return st.update_where_mor(
            "t", "k < 5", {"v": "v + 1"}, max_retries, **kw
        )
    if writer == "merge_mor":
        batch = _rows(spark, [(1, "0", -1), (500, "x", 5)])
        return st.merge_mor("t", batch, "k", max_retries, **kw)
    if writer == "merge":
        batch = _rows(spark, [(1, "0", -1), (500, "x", 5)])
        return st.merge(
            "t", batch, "k", isolated=True, max_retries=max_retries, **kw
        )
    if writer == "compact":
        return st.compact("t", max_retries=max_retries, **kw)
    if writer == "_rewrite_where":
        return st._rewrite_where(
            "t", "k < 5", lambda df, pred: df.where(~pred), max_retries, **kw
        )
    if writer == "purge_dv":
        return st.purge_dv("t", max_retries)
    if writer == "restore":
        return st.restore("t", 0, max_retries)
    if writer == "optimize":
        return st.optimize("t", max_retries=max_retries)
    raise AssertionError(writer)


#: writers with no ``post_scan``: the test lands its commit through a
#: ``_commit`` wrapper instead
NO_HOOK = ("purge_dv", "restore", "optimize")
WRITERS = (
    "delete_where_mor",
    "update_where_mor",
    "merge_mor",
    "purge_dv",
    "restore",
    "merge",
    "compact",
    "optimize",
    "_rewrite_where",
)


def _with_concurrent(spark, st, writer, monkeypatch, every: bool):
    """Run ``writer`` with another writer committing inside its first
    attempt (``every``: inside every attempt); returns (result,
    attempts that saw a concurrent commit)."""
    fired = []

    def land():
        if fired and not every:
            return
        fired.append(1)
        _concurrent(spark, st, writer, len(fired))

    if writer not in NO_HOOK:
        return _run(spark, st, writer, hook=land, max_retries=2), fired
    orig = st._commit
    busy = []

    def commit(name, version, **kw):
        # the concurrent writer's own commit goes straight through
        if not busy:
            busy.append(1)
            try:
                land()
            finally:
                busy.clear()
        return orig(name, version, **kw)

    monkeypatch.setattr(st, "_commit", commit)
    return _run(spark, st, writer, max_retries=2), fired


def _normal(spark, st, result):
    if isinstance(result, DataFrame):
        result = sorted(tuple(r) for r in result.collect())
    elif isinstance(result, dict):
        result = {k: v for k, v in result.items() if k != "restored_to"}
    return result, sorted(tuple(r) for r in st.read("t").collect())


def _vdirs(st):
    return {d for d in os.listdir(st.path("t")) if d.startswith("v_")}


@pytest.mark.parametrize("writer", WRITERS)
def test_conflict_retry_equals_serial_run(
    spark, tmp_path, writer, monkeypatch, make_store
):
    st = make_store(tmp_path / "occ", writer)
    result, fired = _with_concurrent(
        spark, st, writer, monkeypatch, every=False
    )
    assert fired == [1]
    serial = make_store(tmp_path / "serial", writer)
    _concurrent(spark, serial, writer, 1)
    expected = _run(spark, serial, writer)
    assert _normal(spark, st, result) == _normal(spark, serial, expected)
    assert st._cdc_pending("t") == []


@pytest.mark.parametrize("writer", WRITERS)
def test_always_conflicting_writer_gives_up(
    spark, tmp_path, writer, monkeypatch, make_store
):
    st = make_store(tmp_path / "occ", writer)
    with pytest.raises(ConcurrentWriteError):
        _with_concurrent(spark, st, writer, monkeypatch, every=True)
    assert st._cdc_pending("t") == []


@pytest.mark.parametrize(
    "writer",
    ("delete_where_mor", "update_where_mor", "merge_mor", "_rewrite_where"),
)
def test_genuine_failure_reraised_without_residue(
    spark, tmp_path, writer, monkeypatch, make_store
):
    st = make_store(tmp_path / "occ", writer)
    before, ver = _vdirs(st), st.current_version("t")
    boom = RuntimeError("injected commit failure")

    def commit(name, version, **kw):
        raise boom

    monkeypatch.setattr(st, "_commit", commit)
    with pytest.raises(RuntimeError) as info:
        _run(spark, st, writer)
    assert info.value is boom
    assert st.current_version("t") == ver
    assert _vdirs(st) == before
    assert st._cdc_pending("t") == []


@pytest.mark.parametrize("refusal", ("vanished", "log"))
@pytest.mark.parametrize("writer", ("delete_where_mor", "merge"))
def test_refused_log_commit_leaves_table_intact(
    spark, tmp_path, writer, refusal, monkeypatch
):
    """The Delta-log commit refuses inside the commit lock: a staged
    change file vanished before the commit, or the log itself refuses
    the new version. The log commit is the commit point, so the table
    keeps its version, its rows and its log, and no new version dir or
    staged change file is left behind."""
    st = SnapshotStore(spark, str(tmp_path / "wh"), delta_log=True, cdf=True)
    st.overwrite("t", _base(spark).where("k < 10"))
    ver, before = st.current_version("t"), _vdirs(st)
    log_v = dl.DeltaLog(st.path("t")).latest_version()
    if refusal == "vanished":
        st._stage_cdc(
            "t",
            _base(spark).where("k < 2").selectExpr("*", "'delete' AS _change_type"),
        )
        os.unlink(os.path.join(st.path("t"), st._cdc_pending("t")[0]))
    else:

        def refuse(self, actions, **kw):
            raise dl.DeltaProtocolError("injected: log refused the commit")

        monkeypatch.setattr(dl.DeltaLog, "commit", refuse)
    with pytest.raises(dl.DeltaProtocolError):
        if writer == "delete_where_mor":
            st.delete_where_mor("t", "k < 2")
        else:
            st.merge("t", _rows(spark, [(1, "0", -1)]), "k")
    monkeypatch.undo()
    assert st.current_version("t") == ver
    assert st.read("t").count() == 10
    assert _vdirs(st) == before
    assert dl.DeltaLog(st.path("t")).latest_version() == log_v
    assert st._cdc_pending("t") == []
    cdc_dir = os.path.join(st.path("t"), dl.CDC_DIR)
    assert [f for f in os.listdir(cdc_dir) if f.endswith(".parquet")] == []
