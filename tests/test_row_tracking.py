"""Row tracking tests (Delta PROTOCOL.md "Row Tracking").

Contract under test:

* enablement is a metadata-only commit: protocol → writer-features 7
  declaring rowTracking + domainMetadata (merged with whatever the
  legacy writer version implied), per-file ``baseRowId`` backfill as
  dataChange=false re-adds, HWM in a ``delta.rowTracking``
  domainMetadata action;
* appends allocate DISJOINT fresh ranges above the HWM; hardlinked
  COW/MoR copies inherit their range (same inode ⇒ same rows);
* MoR DELETE never disturbs survivors' ids; MoR UPDATE / MERGE
  preserve matched rows' ids by materializing them into the
  rewritten files (``_pa_row_id_m``); inserts get fresh ids;
* checkpoints persist baseRowId / defaultRowCommitVersion and the
  domainMetadata HWM across ``cleanup_log``;
* plain ``store.read`` NEVER exposes the materialized physical
  columns; ``read_row_ids`` is the id-aware reader;
* a later DV protocol upgrade MERGES features instead of clobbering
  rowTracking.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_rowtracking_wh"


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    s = SnapshotStore(spark, WH, retain_versions=10, delta_log=True)
    yield s
    shutil.rmtree(WH, ignore_errors=True)


def _base(spark, n=120):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 10).alias("val"),
    )


def _ids(spark, tdir, version=None):
    return {
        r.k: r._row_id
        for r in dl.read_row_ids(spark, tdir, version=version)
        .select("k", "_row_id")
        .collect()
    }


class TestEnablement:
    def test_backfill_protocol_and_hwm(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        v = store.enable_row_tracking("t")
        assert v == 1
        snap = dl.DeltaLog(store.path("t")).snapshot()
        assert snap.row_tracking_enabled()
        feats = snap.protocol.get("writerFeatures") or []
        assert "rowTracking" in feats and "domainMetadata" in feats
        assert snap.protocol["minWriterVersion"] == 7
        assert snap.row_id_high_water_mark() == 119
        bases = sorted(
            (a["baseRowId"], a["defaultRowCommitVersion"])
            for a in snap.files.values()
        )
        assert bases[0][0] == 0 and all(cv == 1 for _b, cv in bases)
        ids = _ids(spark, store.path("t"))
        assert len(ids) == 120
        assert len(set(ids.values())) == 120

    def test_idempotent(self, spark, store):
        store.overwrite("t", _base(spark))
        store.enable_row_tracking("t")
        v1 = dl.DeltaLog(store.path("t")).latest_version()
        store.enable_row_tracking("t")
        assert dl.DeltaLog(store.path("t")).latest_version() == v1

    def test_requires_delta_log(self, spark):
        # a store without the log cannot be built; every store has
        # one, so a default store enables row tracking
        shutil.rmtree(WH + "2", ignore_errors=True)
        with pytest.raises(ValueError, match="delta_log"):
            SnapshotStore(spark, WH + "2", delta_log=False)
        s = SnapshotStore(spark, WH + "2")
        s.overwrite("t", _base(spark))
        s.enable_row_tracking("t")
        assert dl.DeltaLog(s.path("t")).snapshot().row_tracking_enabled()
        shutil.rmtree(WH + "2", ignore_errors=True)


class TestAllocation:
    def test_append_allocates_disjoint(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        store.enable_row_tracking("t")
        store.append(
            "t",
            spark.range(1000, 1040)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 5).alias("g"),
                (F.col("id") * 10).alias("val"),
            )
            .repartition(2),
        )
        snap = dl.DeltaLog(store.path("t")).snapshot()
        assert snap.row_id_high_water_mark() == 159
        spans = sorted(
            (
                a["baseRowId"],
                __import__("json").loads(a["stats"])["numRecords"],
            )
            for a in snap.files.values()
        )
        for (b1, n1), (b2, _n2) in zip(spans, spans[1:]):
            assert b2 >= b1 + n1, "overlapping baseRowId ranges"
        ids = _ids(spark, store.path("t"))
        assert len(set(ids.values())) == len(ids) == 160

    def test_cow_rewrite_inherits_ranges(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        store.enable_row_tracking("t")
        before = {
            p.split("/", 1)[1]: a["baseRowId"]
            for p, a in dl.DeltaLog(store.path("t"))
            .snapshot()
            .files.items()
        }
        store.delete_where("t", "k < 0")  # no-match COW: all hardlinks
        after = {
            p.split("/", 1)[1]: a["baseRowId"]
            for p, a in dl.DeltaLog(store.path("t"))
            .snapshot()
            .files.items()
        }
        assert before == after  # inode-inherited, not re-allocated


class TestMoRPreservation:
    def test_delete_keeps_survivor_ids(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        store.enable_row_tracking("t")
        pre = _ids(spark, store.path("t"))
        store.delete_where_mor("t", "k % 4 = 0")
        post = _ids(spark, store.path("t"))
        assert set(post) == {k for k in pre if k % 4 != 0}
        assert all(post[k] == pre[k] for k in post)

    def test_update_preserves_ids(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        store.enable_row_tracking("t")
        pre = _ids(spark, store.path("t"))
        store.update_where_mor("t", "k % 3 = 1", {"val": "val + 7"})
        df = dl.read_row_ids(spark, store.path("t"))
        post = {r.k: (r._row_id, r.val) for r in df.collect()}
        assert set(post) == set(pre)
        for k, (rid, val) in post.items():
            assert rid == pre[k], f"row id changed for k={k}"
            assert val == k * 10 + (7 if k % 3 == 1 else 0)
        # uniqueness after the rewrite
        assert len({rid for rid, _v in post.values()}) == len(post)

    def test_merge_inherits_matched_inserts_fresh(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        store.enable_row_tracking("t")
        pre = _ids(spark, store.path("t"))
        batch = spark.range(100, 140).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") * 10 + 1).alias("val"),
        )  # k 100..119 matched, 120..139 inserts
        store.merge_mor("t", batch, "k")
        post = _ids(spark, store.path("t"))
        assert len(post) == 140
        for k in range(100, 120):
            assert post[k] == pre[k], "matched row lost its id"
        hwm = dl.DeltaLog(store.path("t")).snapshot()
        for k in range(120, 140):
            assert post[k] > 119  # fresh, above the backfill range
        assert len(set(post.values())) == 140
        assert hwm.row_id_high_water_mark() >= max(post.values())

    def test_plain_read_hides_materialized_cols(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        store.enable_row_tracking("t")
        store.update_where_mor("t", "k % 3 = 1", {"val": "val + 7"})
        cols = set(store.read("t").columns)
        assert dl.MATERIALIZED_ROW_ID_COL not in cols
        assert dl.MATERIALIZED_ROW_COMMIT_COL not in cols
        assert cols == {"k", "g", "val"}
        assert store.read("t").count() == 120


class TestMaintenancePreservation:
    """OPTIMIZE / compaction / DV-purge rewrite files wholesale —
    row ids must survive via materialization (Delta's rule: ids are
    stable across OPTIMIZE)."""

    def _seed(self, spark, store):
        store.overwrite("t", _base(spark), n_files=4)
        store.enable_row_tracking("t")
        store.delete_where_mor("t", "k % 6 = 2")  # leave a DV behind
        return _ids(spark, store.path("t"))

    def test_purge_dv_preserves_ids(self, spark, store):
        pre = self._seed(spark, store)
        assert store.purge_dv("t") is True
        post = _ids(spark, store.path("t"))
        assert post == pre

    def test_compact_preserves_ids(self, spark, store):
        pre = self._seed(spark, store)
        store.compact("t")  # purges the DV, then merges files
        post = _ids(spark, store.path("t"))
        assert post == pre

    def test_optimize_preserves_ids(self, spark, store):
        store.overwrite("t", _base(spark), n_files=4)
        store.enable_row_tracking("t")
        pre = _ids(spark, store.path("t"))
        from product_analytics_spark.sources import delta_log as dlog

        dlog.set_clustering(store.path("t"), ["val"])
        res = store.optimize("t", target_bytes=8_000)
        assert res["reclustered"] is True
        post = _ids(spark, store.path("t"))
        assert post == pre


class TestRowTrackingWithCdf:
    """Composition: row tracking × Change Data Feed. The materialized
    row-id columns are PHYSICAL — they must never leak into cdc
    change files (consumers see logical columns + _change_type), and
    the feed's update keys must map to UNCHANGED row ids in the
    table (the stable-join-key claim CDC consumers rely on)."""

    def test_cdc_files_stay_logical_and_ids_stable(self, spark):
        wh = WH + "_cdf"
        shutil.rmtree(wh, ignore_errors=True)
        try:
            store = SnapshotStore(
                spark, wh, retain_versions=10, delta_log=True, cdf=True
            )
            store.overwrite("t", _base(spark), n_files=3)
            store.enable_row_tracking("t")
            pre = _ids(spark, store.path("t"))
            store.update_where_mor("t", "k % 4 = 1", {"val": "val + 3"})
            store.merge_mor(
                "t",
                spark.range(110, 130).select(
                    F.col("id").alias("k"),
                    (F.col("id") % 5).alias("g"),
                    (F.col("id") * 10 + 1).alias("val"),
                ),
                "k",
            )
            tdir = store.path("t")
            latest = dl.DeltaLog(tdir).latest_version()
            tc = dl.table_changes(spark, tdir, 2, latest)
            # physical row-id columns never leak into the feed
            assert dl.MATERIALIZED_ROW_ID_COL not in tc.columns
            assert dl.MATERIALIZED_ROW_COMMIT_COL not in tc.columns
            assert set(tc.columns) == {
                "k", "g", "val", "_change_type", "_commit_version",
            }
            # updated keys kept their row ids through both DMLs
            post = _ids(spark, tdir)
            upd_keys = {
                r.k
                for r in tc.where(
                    "_change_type = 'update_postimage'"
                ).select("k").collect()
            }
            assert upd_keys  # both DMLs produced postimages
            for k in upd_keys:
                assert post[k] == pre[k], f"feed key {k} lost its id"
            # inserts got fresh ids above the pre-DML range
            ins_keys = {
                r.k
                for r in tc.where("_change_type = 'insert'")
                .select("k").collect()
            }
            assert ins_keys == set(range(120, 130))
            assert all(post[k] > max(pre.values()) for k in ins_keys)
        finally:
            shutil.rmtree(wh, ignore_errors=True)


class TestPersistenceAndProtocol:
    def test_checkpoint_round_trips_row_ids(self, spark, store):
        store.overwrite("t", _base(spark), n_files=3)
        store.enable_row_tracking("t")
        store.append(
            "t",
            spark.range(500, 520)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 5).alias("g"),
                (F.col("id") * 10).alias("val"),
            )
            .repartition(1),
        )
        tdir = store.path("t")
        pre = _ids(spark, tdir)
        log = dl.DeltaLog(tdir)
        log.write_checkpoint_v2(max_actions_per_sidecar=2)
        log.cleanup_log()
        snap = dl.DeltaLog(tdir).snapshot()
        assert snap.row_id_high_water_mark() == 139
        assert all(
            a.get("baseRowId") is not None for a in snap.files.values()
        )
        assert _ids(spark, tdir) == pre

    def test_dv_upgrade_merges_features(self, spark, store):
        store.overwrite("t", _base(spark), n_files=2)
        store.enable_row_tracking("t")
        store.delete_where_mor("t", "k % 6 = 0")  # first DV after rt
        proto = dl.DeltaLog(store.path("t")).snapshot().protocol
        wf = proto.get("writerFeatures") or []
        assert "rowTracking" in wf and "deletionVectors" in wf
        assert "domainMetadata" in wf
        assert proto["minReaderVersion"] == 3
        rf = proto.get("readerFeatures") or []
        assert "deletionVectors" in rf
