"""Change Data Feed (Delta `cdc` actions + `table_changes`) tests.

The CDF contract under test (delta.io PROTOCOL.md "Add CDC File" /
"Change Data Files"):

* every DML path (COW merge/delete/update, MoR delete/update/merge)
  writes its row-level changes to ``_change_data/cdc-*.parquet`` and
  references them with ``cdc`` actions in the SAME commit;
* a commit WITH cdc actions is read from those files alone — the COW
  add/remove churn (which re-adds every unchanged row) is ignored;
* a commit WITHOUT cdc actions derives inserts from dataChange adds
  and deletes from dataChange removes;
* OPTIMIZE / DV-purge commits carry dataChange=false on both sides
  and contribute nothing to the feed;
* replaying the feed (last change per key wins) reconstructs the
  table's final state exactly;
* VACUUM keeps change files referenced by surviving commits and
  collects orphans.

Reference: the incremental models consume exactly this shape
(customers_latest.sql:3-6 merge on a CDC stream; dbt_project.yml:39
``file_format: delta``).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

WH = "/tmp/pa_test_cdf_wh"


def _base(spark, n=60):
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


def _counts(spark, tdir, start=0, end=None):
    ch = dl.table_changes(spark, tdir, start, end)
    return {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_cdf_requires_delta_log(spark):
    # every store commits through the log; one without it is refused
    with pytest.raises(ValueError, match="delta_log"):
        SnapshotStore(spark, WH, delta_log=False, cdf=True)


def test_cdf_full_dml_lifecycle(spark, store):
    st = store
    st.overwrite("t", _base(spark), partition_by=("p",))
    batch = (
        _base(spark)
        .where("k < 6")
        .withColumn("v", F.lit(-1).cast("long"))
        .unionByName(
            spark.range(100, 103).select(
                F.col("id").alias("k"),
                F.lit("9").alias("p"),
                F.lit(7).cast("long").alias("v"),
            )
        )
    )
    st.merge("t", batch, "k", partition_by=("p",))        # v1
    st.delete_where("t", "k % 7 = 0")                      # v2
    st.update_where("t", "k = 1", {"v": "v + 1000"})       # v3
    st.delete_where_mor("t", "k = 2")                      # v4
    st.update_where_mor("t", "k = 3", {"v": "v + 5"})      # v5
    b2 = spark.createDataFrame(
        [(4, "1", 999), (200, "9", 1)], "k long, p string, v long"
    )
    st.merge_mor("t", b2, "k")                             # v6
    st.optimize("t", target_bytes=1 << 30)                 # purge+optimize

    tdir = st.path("t")
    c = _counts(spark, tdir)
    # v0 derived from adds (first write — no cdc actions needed)
    assert c[(0, "insert")] == 60
    assert c[(1, "insert")] == 3
    assert c[(1, "update_preimage")] == 6
    assert c[(1, "update_postimage")] == 6
    # deletes at v2: k%7==0 and k in live (60 rows 0..59 plus 100..102)
    assert c[(2, "delete")] == 9  # 0,7,...,56
    assert c[(3, "update_preimage")] == 1
    assert c[(3, "update_postimage")] == 1
    assert c[(4, "delete")] == 1
    assert c[(5, "update_preimage")] == 1
    assert c[(6, "update_preimage")] == 1
    assert c[(6, "update_postimage")] == 1
    assert c[(6, "insert")] == 1
    # OPTIMIZE / DV purge contributed nothing
    assert not any(ver > 6 for ver, _t in c)

    # replay equivalence: last change per key == final table state
    ch = dl.table_changes(spark, tdir, 0)
    w = Window.partitionBy("k").orderBy(F.col("_commit_version").desc())
    last = (
        ch.where(F.col("_change_type") != "update_preimage")
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .where(F.col("_change_type") != "delete")
        .select("k", "p", "v")
    )
    final = st.read("t").select("k", "p", "v")
    assert last.exceptAll(final).count() == 0
    assert final.exceptAll(last).count() == 0


def test_cdf_update_postimage_values(spark, store):
    st = store
    st.overwrite("t", _base(spark, 10))
    st.update_where("t", "k = 4", {"v": "v + 1"})
    ch = dl.table_changes(spark, st.path("t"), 1, 1)
    rows = {r["_change_type"]: r["v"] for r in ch.collect()}
    assert rows == {"update_preimage": 40, "update_postimage": 41}


def test_cdf_overwrite_derives_full_refresh(spark, store):
    st = store
    st.overwrite("t", _base(spark, 10))
    st.overwrite("t", _base(spark, 4))  # full refresh
    c = _counts(spark, st.path("t"), 1, 1)
    assert c[(1, "insert")] == 4
    assert c[(1, "delete")] == 10


def test_cdf_commit_carries_cdc_actions(spark, store):
    st = store
    st.overwrite("t", _base(spark, 20))
    st.delete_where("t", "k >= 15")
    log = dl.DeltaLog(st.path("t"))
    import json

    with open(dict(log._commits())[1], encoding="utf-8") as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    cdc = [a["cdc"] for a in actions if a.get("cdc")]
    assert cdc, "DML commit must reference its change files"
    for a in cdc:
        assert a["path"].startswith(dl.CDC_DIR + "/")
        assert a["dataChange"] is False
        assert os.path.isfile(os.path.join(st.path("t"), a["path"]))
    # CDF table property declared
    snap = log.snapshot()
    conf = snap.metadata.get("configuration") or {}
    assert conf.get("delta.enableChangeDataFeed") == "true"


def test_cdf_vacuum_keeps_referenced_collects_orphans(spark, store):
    st = store
    st.overwrite("t", _base(spark, 20))
    st.delete_where("t", "k >= 15")
    tdir = st.path("t")
    log = dl.DeltaLog(tdir)
    referenced = sorted(log.referenced_cdc_paths())
    assert referenced
    # fake a crashed DML's orphan change file
    orphan = os.path.join(tdir, dl.CDC_DIR, "cdc-deadbeef-00000.parquet")
    shutil.copy(os.path.join(tdir, referenced[0]), orphan)
    victims = log.vacuum(dry_run=True)
    assert f"{dl.CDC_DIR}/cdc-deadbeef-00000.parquet" in victims
    assert not any(rel in victims for rel in referenced)
    log.vacuum()
    assert not os.path.exists(orphan)
    for rel in referenced:
        assert os.path.isfile(os.path.join(tdir, rel))
    # feed still readable after vacuum
    assert dl.table_changes(spark, tdir, 1, 1).count() == 5


def test_cdf_occ_race_discards_stale_stage(spark, store):
    """A DML attempt that loses its OCC race must discard the change
    files it staged — the retry stages fresh ones against the NEW
    snapshot, and the feed shows each change exactly once."""
    st = store
    st.overwrite("t", _base(spark, 30))
    fired = {"n": 0}

    def land_concurrent():
        if fired["n"] == 0:
            fired["n"] += 1
            st.merge(
                "t",
                spark.createDataFrame(
                    [(300, "9", 1)], "k long, p string, v long"
                ),
                "k",
            )

    st.delete_where("t", "k < 3", post_scan=land_concurrent)
    tdir = st.path("t")
    latest = dl.DeltaLog(tdir).latest_version()
    c = _counts(spark, tdir, 0, latest)
    deletes = {
        (ver, n) for (ver, t), n in c.items() if t == "delete"
    }
    assert deletes == {(latest, 3)}, c
    # exactly the 3 deleted rows, no duplicates from the lost attempt
    ch = dl.table_changes(spark, tdir, latest, latest)
    assert sorted(
        r["k"] for r in ch.where("_change_type = 'delete'").collect()
    ) == [0, 1, 2]
    # no unreferenced change files left behind (tombstoned old-version
    # DATA files are legitimately listed — that's time travel ending)
    assert not [
        rel
        for rel in dl.DeltaLog(tdir).vacuum(dry_run=True)
        if rel.startswith(dl.CDC_DIR + "/")
    ]


def test_cdf_below_retention_raises(spark):
    shutil.rmtree(WH, ignore_errors=True)
    st = SnapshotStore(
        spark, WH, retain_versions=1, delta_log=True, cdf=True
    )
    st.overwrite("t", _base(spark, 10))
    st.overwrite("t", _base(spark, 8))
    st.overwrite("t", _base(spark, 6))  # v0/v1 data dirs GC'd
    with pytest.raises(dl.DeltaProtocolError, match="retention|GC"):
        dl.table_changes(spark, st.path("t"), 0).count()
    shutil.rmtree(WH, ignore_errors=True)
