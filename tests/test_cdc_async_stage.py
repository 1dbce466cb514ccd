"""Round-12 optimization seam: OVERLAPPED cdc staging.

The COW merge and _rewrite_where DML paths stage their change files
as a concurrent Spark job (_stage_cdc_async, guide §2.6) and join it
just before the commit (the commit loop's settle step). These
tests pin the seam's contract:

* value identity — the feed a commit serves is byte-for-byte the same
  whether the stage ran overlapped or inline;
* failure hygiene — a DML that dies after the overlapped stage
  started leaves NO change file behind (the abort waits for the
  in-flight write, then unlinks), and a failure while the loop joins
  the overlapped work drops the just-written uncommitted version dir.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_cdc_async_wh"


def _base(spark, n=40):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 10).alias("v"),
    )


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    yield SnapshotStore(
        spark, WH, retain_versions=20, delta_log=True, cdf=True
    )
    shutil.rmtree(WH, ignore_errors=True)


class _Done:
    def __init__(self, v):
        self._v = v

    def result(self):
        return self._v


def _feed_rows(spark, tdir):
    ch = dl.table_changes(spark, tdir, 0, None)
    return sorted(
        tuple(r[c] for c in sorted(ch.columns)) for r in ch.collect()
    )


def test_async_stage_feed_identical_to_inline(spark, store):
    """Same merge + delete, staged overlapped vs inline: identical
    change feed and identical cdc action counts in the log."""
    def run(st):
        st.overwrite("t", _base(spark))
        st.merge(
            "t",
            spark.createDataFrame(
                [(1, "x", -1), (100, "y", -2)], "k long, p string, v long"
            ),
            "k",
        )
        st.delete_where("t", "k >= 35 and k < 38")
        return _feed_rows(spark, st.path("t"))

    rows_async = run(store)
    # Inline arm: force the async seam to run synchronously.
    sync_wh = WH + "_sync"
    shutil.rmtree(sync_wh, ignore_errors=True)
    st2 = SnapshotStore(
        spark, sync_wh, retain_versions=20, delta_log=True, cdf=True
    )
    orig = SnapshotStore._stage_cdc_async
    try:
        SnapshotStore._stage_cdc_async = (
            lambda self, name, df: _Done(self._stage_cdc_files(name, df))
            if self.cdf
            else None
        )
        rows_sync = run(st2)
    finally:
        SnapshotStore._stage_cdc_async = orig
        shutil.rmtree(sync_wh, ignore_errors=True)
    assert rows_async == rows_sync

    # and the commits reference exactly the staged files (every staged
    # cdc file is adopted; none dangles unreferenced)
    log = dl.DeltaLog(store.path("t"))
    referenced = set()
    for _v, path in log._commits():
        import json as _json

        with open(path, encoding="utf-8") as fh:
            for ln in fh:
                a = _json.loads(ln)
                if a.get("cdc"):
                    referenced.add(a["cdc"]["path"])
    on_disk = {
        f"{dl.CDC_DIR}/{f}"
        for f in os.listdir(os.path.join(store.path("t"), dl.CDC_DIR))
        if f.endswith(".parquet")
    }
    assert on_disk == referenced


def test_failed_dml_after_async_stage_leaves_no_cdc(spark, store):
    """A merge whose version write dies AFTER the overlapped stage was
    submitted must wait for it and unlink everything it staged."""
    st = store
    st.overwrite("t", _base(spark))
    orig = SnapshotStore._write_version

    def boom(self, *a, **k):
        raise RuntimeError("injected write failure")

    SnapshotStore._write_version = boom
    try:
        with pytest.raises(RuntimeError, match="injected write failure"):
            st.merge(
                "t",
                spark.createDataFrame(
                    [(1, "x", -1)], "k long, p string, v long"
                ),
                "k",
            )
    finally:
        SnapshotStore._write_version = orig
    cdc_dir = os.path.join(st.path("t"), dl.CDC_DIR)
    staged = (
        [f for f in os.listdir(cdc_dir) if f.endswith(".parquet")]
        if os.path.isdir(cdc_dir)
        else []
    )
    assert staged == []
    assert st._cdc_pending("t") == []
    # the table is untouched and still serves its v0 feed
    assert st.read("t").count() == 40


def test_violating_overwrite_leaves_no_version_residue(spark, store):
    """With validation overlapped alongside the version write, a
    violating overwrite must still raise ConstraintViolationError,
    commit nothing, AND drop the version dir it wrote in parallel."""
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
    )

    st = store
    st.overwrite("t", _base(spark))
    st.add_constraint("t", "v_nonneg", "v >= 0")
    ver = st.current_version("t")
    before = {
        d for d in os.listdir(st.path("t")) if d.startswith("v_")
    }
    bad = spark.createDataFrame(
        [(1, "x", -5)], "k long, p string, v long"
    )
    with pytest.raises(ConstraintViolationError):
        st.overwrite("t", _base(spark).unionByName(bad))
    assert st.current_version("t") == ver
    after = {
        d for d in os.listdir(st.path("t")) if d.startswith("v_")
    }
    assert after == before


def test_merge_violation_not_masked_by_concurrent_commit(spark, store):
    """ADVICE r12: a violating isolated merge must raise
    ConstraintViolationError on the FIRST attempt even when another
    writer commits during the attempt — the generic version-moved
    handler must not reclassify the violation as a concurrency
    conflict and burn retries (each one a full version write)."""
    from product_analytics_spark.sources.sinks import (
        ConstraintViolationError,
    )

    st = store
    st.overwrite("t", _base(spark))
    st.add_constraint("t", "v_nonneg", "v >= 0")
    attempts = []

    def land_concurrent_commit():
        attempts.append(1)
        # Another writer appends between this attempt's snapshot read
        # and its commit — exactly the window that moves the version.
        st.append(
            "t",
            spark.createDataFrame(
                [(1000 + len(attempts), "z", 1)],
                "k long, p string, v long",
            ),
        )

    bad = spark.createDataFrame(
        [(1, "x", -5)], "k long, p string, v long"
    )
    with pytest.raises(ConstraintViolationError):
        st.merge("t", bad, "k", isolated=True, post_scan=land_concurrent_commit)
    assert len(attempts) == 1  # no masked retry
    # nothing from the merge committed: no cdc residue pending
    assert st._cdc_pending("t") == []


def test_pre_commit_failure_drops_uncommitted_version(
    spark, store, monkeypatch
):
    """A failure while the commit loop joins an attempt's overlapped
    work (here the validation probe) must remove the version dir it
    just wrote (a lost commit leaves no residue)."""
    from concurrent.futures import Future

    st = store
    st.overwrite("t", _base(spark))
    before = {
        d for d in os.listdir(st.path("t")) if d.startswith("v_")
    }

    def vetoed(self, name, df):
        fut: Future = Future()
        fut.set_exception(RuntimeError("pre-commit veto"))
        return fut

    monkeypatch.setattr(SnapshotStore, "_validate_async", vetoed)
    with pytest.raises(RuntimeError, match="pre-commit veto"):
        st.overwrite("t", _base(spark, 10))
    after = {
        d for d in os.listdir(st.path("t")) if d.startswith("v_")
    }
    assert after == before
    assert st.read("t").count() == 40
