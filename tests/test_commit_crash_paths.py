"""Crash-path property tests for the two commit protocols.

The docstrings of ``SnapshotStore._commit`` (sources/sinks.py) and
``JsonlWriter.commit`` (sources/pyds.py) claim atomicity: a failure at
ANY point before the commit point (the Delta log's putIfAbsent; the
manifest's atomic rename) must leave readers on the prior version with
no partial output visible. These tests inject the failure instead of
assuming it.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.pyds import JsonlWriter
from product_analytics_spark.sources.sinks import SnapshotStore


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class _Boom(RuntimeError):
    pass


class _CrashingOwner(dl.FileSystemCommitOwner):
    """The filesystem commit owner, dying at the commit point (the
    log's putIfAbsent) while ``armed``."""

    armed = False

    def put_if_absent(self, log_dir, version, payload):
        if self.armed:
            raise _Boom("crash at the commit point")
        return super().put_if_absent(log_dir, version, payload)


class TestSnapshotStoreCrashPaths:
    def test_crash_after_staging_before_commit(self, spark, tmp_path):
        """A fully-written but uncommitted version dir is invisible."""
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        store.overwrite("t", v1)
        before = _rows(store.read("t"))

        v2 = spark.createDataFrame([(9, "z")], "k int, v string")
        staged = store._write_version("t", v2)  # crash here: no _commit
        assert os.path.isdir(os.path.join(store.path("t"), staged))
        assert _rows(store.read("t")) == before
        assert staged not in store.versions("t")  # never logged = never committed

    def test_crash_at_log_commit_point(self, spark, tmp_path):
        """The log's putIfAbsent is the commit point — dying on it
        (version dir written, log entry not linked) must leave the
        prior version readable and the store retryable."""
        owner = _CrashingOwner()
        store = SnapshotStore(spark, str(tmp_path / "wh"), commit_owner=owner)
        v1 = spark.createDataFrame([(1, "a")], "k int, v string")
        store.overwrite("t", v1)
        before = _rows(store.read("t"))
        log_v = dl.DeltaLog(store.path("t")).latest_version()

        v2 = spark.createDataFrame([(2, "b")], "k int, v string")
        owner.armed = True
        with pytest.raises(_Boom):
            store.overwrite("t", v2)
        owner.armed = False

        # Reader still on v1, and the log did not move.
        assert _rows(store.read("t")) == before
        assert dl.DeltaLog(store.path("t")).latest_version() == log_v
        # And the store recovers: a clean retry commits v2.
        store.overwrite("t", v2)
        assert _rows(store.read("t")) == [(2, "b")]

    def test_merge_crash_preserves_prior_snapshot(self, spark, tmp_path):
        """merge() = read prev + overwrite; a crash at its log commit
        leaves the pre-merge snapshot intact (no torn merge)."""
        owner = _CrashingOwner()
        store = SnapshotStore(spark, str(tmp_path / "wh"), commit_owner=owner)
        base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        store.overwrite("t", base)

        batch = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
        owner.armed = True
        with pytest.raises(_Boom):
            store.merge("t", batch, key="k")
        owner.armed = False
        assert _rows(store.read("t")) == [(1, "a"), (2, "b")]


class TestJsonlWriterCrashPaths:
    """Driver-side protocol tests on the writer class itself (the Spark
    plumbing around it is covered by test_pyds_writer.py)."""

    @staticmethod
    def _write_job(path, rows):
        w = JsonlWriter({"path": path})
        msgs = [w.write(iter(batch)) for batch in rows]
        return w, msgs

    def test_crash_before_manifest_rename_keeps_prior_manifest(
        self, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "sink")
        # Job 1 commits cleanly.
        w1, m1 = self._write_job(path, [[Row(a=1)], [Row(a=2)]])
        w1.commit(m1)
        manifest_v1 = json.load(open(os.path.join(path, "_MANIFEST.json")))
        assert manifest_v1["total_rows"] == 2

        # Job 2 dies on the manifest's atomic rename (after its part
        # renames) — readers must still see job 1's manifest, and the
        # torn tmp manifest must not be readable state.
        real_rename = os.rename

        def exploding_rename(src, dst):
            if os.path.basename(dst) == "_MANIFEST.json":
                raise _Boom()
            return real_rename(src, dst)

        w2, m2 = self._write_job(path, [[Row(a=10), Row(a=11)]])
        monkeypatch.setattr(os, "rename", exploding_rename)
        with pytest.raises(_Boom):
            w2.commit(m2)
        monkeypatch.undo()

        after = json.load(open(os.path.join(path, "_MANIFEST.json")))
        assert after == manifest_v1
        # No staged files of job 2 linger as readable .jsonl parts the
        # manifest doesn't cover... staged files are dot-prefixed and
        # manifest-driven readers never list them.
        for f in os.listdir(path):
            assert not f.startswith(".staging-") or w2.job_id in f

    def test_abort_removes_all_staged_files(self, tmp_path):
        path = str(tmp_path / "sink")
        w, msgs = self._write_job(path, [[Row(a=1)], [Row(a=2), Row(a=3)]])
        w.abort(msgs)
        assert not [f for f in os.listdir(path) if f.startswith(".staging-")]

    def test_concurrent_jobs_do_not_sweep_each_other(self, tmp_path):
        """Two interleaved jobs on one path: job A's commit must not
        delete job B's still-staged files (the round-4 advice bug)."""
        path = str(tmp_path / "sink")
        wa, ma = self._write_job(path, [[Row(a=1)]])
        wb, mb = self._write_job(path, [[Row(a=100)]])
        wa.commit(ma)  # B's staged file must survive A's orphan sweep
        staged_b = [
            f for f in os.listdir(path) if f.startswith(f".staging-{wb.job_id}-")
        ]
        assert staged_b, "job B's staged file was swept by job A's commit"
        wb.commit(mb)
        manifest = json.load(open(os.path.join(path, "_MANIFEST.json")))
        assert manifest["total_rows"] == 1  # B's own manifest, B's rows
