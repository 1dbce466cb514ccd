"""RESTORE (new-commit rollback) and SHALLOW CLONE tests.

Both are public Delta operations on the transaction log:

* RESTORE re-adds an earlier version's files by reference (hardlink
  here), as a NEW commit — history above the restore point stays
  readable, streams/CDF see it as a data change.
* SHALLOW CLONE starts a new table whose v0 references the source's
  live files by absolute path (PROTOCOL.md: ``add.path`` may be "an
  absolute URI"); stats come along by value so data skipping works
  from the clone's own log.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_restore_wh"
CLONE = "/tmp/pa_test_clone_dir"


def _base(spark, n=40):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )


@pytest.fixture()
def store(spark):
    shutil.rmtree(WH, ignore_errors=True)
    shutil.rmtree(CLONE, ignore_errors=True)
    yield SnapshotStore(spark, WH, retain_versions=10, delta_log=True)
    shutil.rmtree(WH, ignore_errors=True)
    shutil.rmtree(CLONE, ignore_errors=True)


def test_restore_roundtrip_and_history(spark, store):
    st = store
    st.overwrite("t", _base(spark), partition_by=("p",))
    st.merge(
        "t",
        spark.createDataFrame([(1, "1", 999)], "k long, p string, v long"),
        "k",
        partition_by=("p",),
    )
    target = st.current_version("t")
    target_rows = st.read("t").count()
    st.delete_where("t", "k >= 30")
    assert st.read("t").count() == 30

    r = st.restore("t", target)
    assert r["files_kept"] > 0
    final = st.read("t")
    assert final.count() == target_rows
    assert final.where("k = 1").select("v").collect()[0][0] == 999
    # history above the restore point: the post-delete state
    assert st.read("t", st.versions("t")[-2]).count() == 30
    # the log counts the restore as one more commit
    assert dl.DeltaLog(st.path("t")).latest_version() == 3
    assert dl.read_delta(spark, st.path("t")).count() == target_rows


def test_restore_unknown_version_raises(spark, store):
    st = store
    st.overwrite("t", _base(spark, 5))
    with pytest.raises(ValueError, match="not on disk|unknown"):
        st.restore("t", "v_nonexistent00")


def test_restore_preserves_deletion_vector(spark, store):
    st = store
    st.overwrite("t", _base(spark, 20), n_files=2)
    st.delete_where_mor("t", "k < 3")          # v1: DV, 17 live
    dv_version = st.current_version("t")
    target_rows = sorted(tuple(r) for r in st.read("t").collect())

    def cardinalities():
        return sorted(
            (os.path.basename(p), (a.get("deletionVector") or {}).get("cardinality"))
            for p, a in st.delta_snapshot("t").files.items()
        )

    target = cardinalities()
    assert sum(c or 0 for _f, c in target) == 3
    st.overwrite("t", _base(spark, 5))         # v2: plain 5 rows
    assert not st._has_dv("t")                 # v1's files left the snapshot
    st.restore("t", dv_version)                # v3: back to DV state
    # the restore commit re-adds the target version's adds, deletion
    # vectors included
    assert cardinalities() == target
    assert sorted(tuple(r) for r in st.read("t").collect()) == target_rows
    assert dl.read_delta(spark, st.path("t")).count() == 17


def test_shallow_clone_matches_then_diverges(spark, store):
    st = store
    st.overwrite("t", _base(spark, 30), cluster_by=("k",), n_files=4)
    src_dir = st.path("t")
    n = dl.shallow_clone(src_dir, CLONE)
    assert n == 4
    src = dl.read_delta(spark, src_dir)
    cl = dl.read_delta(spark, CLONE)
    assert cl.exceptAll(src).count() == 0
    assert src.exceptAll(cl).count() == 0
    # fresh identity
    assert (
        dl.DeltaLog(CLONE).snapshot().metadata["id"]
        != dl.DeltaLog(src_dir).snapshot().metadata["id"]
    )

    # diverge the clone with its own append
    extras = spark.createDataFrame(
        [(1000, "9", 1), (1001, "9", 2)], "k long, p string, v long"
    )
    app = os.path.join(CLONE, "append1")
    extras.coalesce(1).write.parquet(app)
    adds = [
        {"add": dl.make_add(CLONE, f)}
        for f in sorted(glob.glob(os.path.join(app, "part-*.parquet")))
    ]
    dl.DeltaLog(CLONE).commit(adds, operation="WRITE")
    assert dl.read_delta(spark, CLONE).count() == 32
    assert dl.read_delta(spark, src_dir).count() == 30

    # clone VACUUM never touches source files (they're outside its root)
    victims = dl.DeltaLog(CLONE).vacuum(dry_run=True)
    assert victims == []
    assert dl.read_delta(spark, src_dir).count() == 30


def test_shallow_clone_stats_skip_from_log(spark, store):
    st = store
    st.overwrite("t", _base(spark, 100), cluster_by=("k",), n_files=5)
    dl.shallow_clone(st.path("t"), CLONE)
    snap = dl.DeltaLog(CLONE).snapshot()
    kept = snap.plan_files([("k", "<=", 0)])
    assert 0 < len(kept) < 5


def test_shallow_clone_carries_dv_descriptors(spark, store):
    """Round 11: a DV'd source CLONES (no more refusal) — descriptors
    are rewritten to storageType "p" absolute paths, the clone reads
    bit-equal through the DV-aware reader, and the clone's VACUUM
    cannot touch the source sidecar."""
    import glob
    import os

    st = store
    st.overwrite("t", _base(spark, 10))
    st.delete_where_mor("t", "k = 0")
    src = st.path("t")
    n = dl.shallow_clone(src, CLONE)
    assert n > 0
    src_rows = sorted(r.k for r in dl.read_delta(spark, src).collect())
    clone_rows = sorted(
        r.k for r in dl.read_delta(spark, CLONE).collect()
    )
    assert clone_rows == src_rows and 0 not in clone_rows
    snap = dl.DeltaLog(CLONE).snapshot()
    dvds = [
        a["deletionVector"]
        for a in snap.files.values()
        if a.get("deletionVector")
    ]
    assert dvds and all(
        d["storageType"] == "p" and os.path.isabs(d["pathOrInlineDv"])
        for d in dvds
    )
    sidecars = glob.glob(
        os.path.join(src, "**", "deletion_vector_*.bin"), recursive=True
    )
    assert sidecars
    dl.DeltaLog(CLONE).vacuum()
    assert all(os.path.isfile(p) for p in sidecars)
    assert sorted(
        r.k for r in dl.read_delta(spark, src).collect()
    ) == src_rows
