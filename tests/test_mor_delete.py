"""Merge-on-read DELETE via deletion vectors (sinks.delete_where_mor):
the low-write-amplification half of the q290 MoR-vs-CoW cost model,
implemented — no data file rewritten, tombstoned (file, row_index)
positions applied by the reader as a broadcast anti-join, and every
raw-file rewrite path (compact/optimize/COW DML) materializes pending
DVs first so deleted rows can never be resurrected."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources.sinks import SnapshotStore


def _base(spark, n=500):
    return spark.range(n).selectExpr(
        "id AS k", "id % 7 AS seg", "id * 3 AS v"
    )


class TestMorDelete:
    def test_mor_equals_cow_and_rewrites_nothing(self, spark, tmp_path):
        mor = SnapshotStore(spark, str(tmp_path / "mor"))
        cow = SnapshotStore(spark, str(tmp_path / "cow"))
        df = _base(spark)
        mor.overwrite("t", df, cluster_by=("k",), n_files=4)
        cow.overwrite("t", df, cluster_by=("k",), n_files=4)

        res = mor.delete_where_mor("t", "k % 5 = 0")
        cow.delete_where("t", "k % 5 = 0")
        assert res["files_rewritten"] == 0
        assert res["files_kept"] == 4
        assert res["dv_rows"] == 100
        got = sorted(tuple(r) for r in mor.read("t").collect())
        exp = sorted(tuple(r) for r in cow.read("t").collect())
        assert got == exp and len(got) == 400

    def test_dv_accumulates_across_deletes(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        store.delete_where_mor("t", "k < 100")
        res2 = store.delete_where_mor("t", "k >= 400")
        assert res2["dv_rows"] == 200  # both waves in the merged DV
        assert store.read("t").count() == 300
        # a position already deleted is not re-added (LIVE-rows scan)
        res3 = store.delete_where_mor("t", "k < 150")
        assert res3["dv_rows"] == 250
        assert store.read("t").count() == 250

    def test_optimize_purges_dv_and_preserves_rows(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        store.delete_where_mor("t", "seg = 3")
        expect = sorted(tuple(r) for r in store.read("t").collect())
        assert store._has_dv("t")
        out = store.optimize("t", target_bytes=1 << 30)
        assert not store._has_dv("t")  # materialized
        assert out["reclustered"] is True
        assert sorted(tuple(r) for r in store.read("t").collect()) == expect

    def test_cow_rewrite_over_dv_does_not_resurrect(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        store.delete_where_mor("t", "k % 2 = 0")  # MoR: 250 gone
        store.delete_where("t", "k % 3 = 0")  # CoW path must purge first
        got = {r.k for r in store.read("t").collect()}
        assert got == {
            k for k in range(500) if k % 2 != 0 and k % 3 != 0
        }
        assert not store._has_dv("t")

    def test_merge_over_dv_does_not_resurrect(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        store.delete_where_mor("t", "k >= 450")
        batch = spark.range(10).selectExpr(
            "id AS k", "CAST(99 AS LONG) AS seg", "id AS v"
        )
        store.merge("t", batch, "k")
        out = store.read("t")
        assert out.count() == 450  # 500 - 50 deleted; batch all matched
        assert out.where("k >= 450").count() == 0  # stayed deleted
        assert out.where("seg = 99").count() == 10

    def test_time_travel_sees_per_version_dv_state(self, spark, tmp_path):
        store = SnapshotStore(
            spark, str(tmp_path / "wh"), retain_versions=4
        )
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        store.delete_where_mor("t", "k < 50")
        store.delete_where_mor("t", "k >= 450")
        assert store.read("t", version=0).count() == 500
        assert store.read("t", version=1).count() == 450
        assert store.read("t", version=2).count() == 400

    def test_mor_with_delta_log_emits_descriptors(self, spark, tmp_path):
        # round 9 lifted the old gate: MoR under delta_log=True now
        # emits protocol-v3 deletionVector descriptors (deep coverage
        # in tests/test_deletion_vectors.py)
        from product_analytics_spark.sources import delta_log as dl

        store = SnapshotStore(
            spark, str(tmp_path / "wh"), delta_log=True
        )
        store.overwrite("t", _base(spark))
        store.delete_where_mor("t", "k = 1")
        snap = dl.DeltaLog(store.path("t")).snapshot()
        assert snap.protocol["minReaderVersion"] == 3
        assert any(a.get("deletionVector") for a in snap.files.values())
        assert dl.read_delta(spark, store.path("t")).count() == 499

    def test_mor_occ_conflict_retries(self, spark, tmp_path):
        store = SnapshotStore(
            spark, str(tmp_path / "wh"), retain_versions=3
        )
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        calls = {"n": 0}

        def concurrent_merge():
            calls["n"] += 1
            if calls["n"] == 1:
                store.merge(
                    "t",
                    spark.range(5).selectExpr(
                        "id + 1000 AS k", "CAST(0 AS LONG) AS seg",
                        "id AS v",
                    ),
                    "k",
                )

        store.delete_where_mor("t", "k % 10 = 0", post_scan=concurrent_merge)
        assert calls["n"] >= 2  # conflict forced a re-scan
        out = store.read("t")
        # serial history merge→delete: the retry re-scans AFTER the
        # merge, so merged k=1000 (matching k%10=0) is deleted too and
        # 1001..1004 survive — exactly what a serializable schedule says
        assert {r.k for r in out.where("k >= 1000").collect()} == {
            1001, 1002, 1003, 1004,
        }
        assert out.where("k % 10 = 0").count() == 0


class TestMorUpdate:
    def test_mor_update_equals_cow_update(self, spark, tmp_path):
        mor = SnapshotStore(spark, str(tmp_path / "mor"))
        cow = SnapshotStore(spark, str(tmp_path / "cow"))
        df = _base(spark)
        mor.overwrite("t", df, cluster_by=("k",), n_files=4)
        cow.overwrite("t", df, cluster_by=("k",), n_files=4)
        res = mor.update_where_mor("t", "k % 9 = 0", {"v": "v + 1000"})
        cow.update_where("t", "k % 9 = 0", {"v": "v + 1000"})
        assert res["files_rewritten"] == 0
        assert res["dv_rows"] == sum(1 for k in range(500) if k % 9 == 0)
        got = sorted(tuple(r) for r in mor.read("t").collect())
        exp = sorted(tuple(r) for r in cow.read("t").collect())
        assert got == exp and len(got) == 500

    def test_mor_update_then_delete_compose(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        store.update_where_mor("t", "k < 10", {"v": "v * 0 + 7"})
        store.delete_where_mor("t", "v = 7")  # hits the UPDATED rows
        out = store.read("t")
        assert out.count() == 490
        assert out.where("k < 10").count() == 0
        # purge materializes both layers exactly
        store.optimize("t", target_bytes=1 << 30)
        assert not store._has_dv("t")
        assert store.read("t").count() == 490

    def test_mor_merge_equals_cow_merge(self, spark, tmp_path):
        mor = SnapshotStore(spark, str(tmp_path / "mor"))
        cow = SnapshotStore(spark, str(tmp_path / "cow"))
        df = _base(spark)
        mor.overwrite("t", df, cluster_by=("k",), n_files=4)
        cow.overwrite("t", df, cluster_by=("k",), n_files=4)
        batch = spark.range(50).selectExpr(
            "id * 10 AS k", "CAST(42 AS LONG) AS seg", "id AS v"
        ).unionAll(
            spark.range(5).selectExpr(
                "id + 9000 AS k", "CAST(1 AS LONG) AS seg", "id AS v"
            )
        )
        res = mor.merge_mor("t", batch, "k")
        cow.merge("t", batch, "k")
        assert res["files_rewritten"] == 0
        assert res["files_kept"] == 4
        assert res["dv_rows"] == 50  # matched live rows only
        got = sorted(tuple(r) for r in mor.read("t").collect())
        exp = sorted(tuple(r) for r in cow.read("t").collect())
        assert got == exp and len(got) == 505

    def test_mor_merge_composes_through_dv(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        b1 = spark.range(20).selectExpr(
            "id AS k", "CAST(8 AS LONG) AS seg", "id + 100 AS v"
        )
        store.merge_mor("t", b1, "k")
        # second merge matches rows REPLACED by the first (their live
        # positions are in b1's new files, not the hardlinked old ones)
        b2 = spark.range(10).selectExpr(
            "id AS k", "CAST(9 AS LONG) AS seg", "id + 200 AS v"
        )
        res2 = store.merge_mor("t", b2, "k")
        assert res2["dv_rows"] == 30  # 20 from wave 1 + 10 from wave 2
        got = {r.k: (r.seg, r.v) for r in store.read("t").collect()}
        assert len(got) == 500
        for k in range(10):
            assert got[k] == (9, k + 200)
        for k in range(10, 20):
            assert got[k] == (8, k + 100)
        store.optimize("t", target_bytes=1 << 30)
        assert not store._has_dv("t")
        assert store.read("t").count() == 500

    def test_mor_merge_moves_partitions(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        df = spark.range(300).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS p", "id AS v"
        )
        store.overwrite("t", df, partition_by=("p",))
        # partition MOVE: matched rows land in a brand-new hive dir
        # (p=9), their old positions tombstoned in place — note the
        # value must be castable to the table's READ schema (hive
        # partition-type inference makes p an int here)
        batch = spark.range(30).selectExpr(
            "id * 10 AS k", "'9' AS p", "id AS v"
        )
        res = store.merge_mor("t", batch, "k")
        assert res["files_rewritten"] == 0
        out = store.read("t")
        assert out.count() == 300
        assert out.where("p = 9").count() == 30
        assert out.where("p = 9 AND k % 10 != 0").count() == 0

    def test_mor_merge_schema_mismatch_refused(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"))
        store.overwrite("t", _base(spark))
        with pytest.raises(ValueError, match="identical column sets"):
            store.merge_mor(
                "t", spark.range(5).selectExpr("id AS k", "id AS extra"),
                "k",
            )

    def test_mor_merge_occ_conflict_retries(self, spark, tmp_path):
        store = SnapshotStore(
            spark, str(tmp_path / "wh"), retain_versions=3
        )
        store.overwrite("t", _base(spark), cluster_by=("k",), n_files=4)
        calls = {"n": 0}

        def concurrent_delete():
            calls["n"] += 1
            if calls["n"] == 1:
                store.delete_where("t", "k < 5")

        batch = spark.range(10).selectExpr(
            "id AS k", "CAST(77 AS LONG) AS seg", "id AS v"
        )
        store.merge_mor("t", batch, "k", post_scan=concurrent_delete)
        assert calls["n"] >= 2  # conflict forced a re-scan
        out = store.read("t")
        # serial delete→merge: the merge re-ran after the delete, so
        # all 10 batch keys exist (0..4 re-inserted, 5..9 replaced)
        assert out.where("seg = 77").count() == 10
        assert out.count() == 500

    def test_mor_update_partitioned_table(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh2"))
        df = spark.range(300).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS p", "id AS v"
        )
        store.overwrite("t", df, partition_by=("p",))
        res = store.update_where_mor("t", "k % 10 = 0", {"v": "v + 5"})
        assert res["files_rewritten"] == 0
        out = store.read("t")
        assert out.count() == 300
        got = {r.k: r.v for r in out.collect()}
        for k in range(300):
            assert got[k] == (k + 5 if k % 10 == 0 else k)
        with pytest.raises(ValueError, match="partition columns"):
            store.update_where_mor("t", "k = 1", {"p": "'9'"})
