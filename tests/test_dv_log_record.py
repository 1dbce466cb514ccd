"""The log's deletion vectors are the only record of deleted rows.

A merge-on-read DML hands its commit the positions it matched; the
commit writes one deletion-vector file for the files that gained
positions and carries every other file's ``deletionVector`` forward
unchanged. ``read``, time travel and ``read_delta`` all filter through
those descriptors, no version dir holds a ``_dv`` sidecar, and the
commit's GC deletes deletion-vector files only the GC'd versions
referenced.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import functions as F

from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources import deletion_vectors as dvs
from product_analytics_spark.sources.sinks import SnapshotStore


def _base(spark, n=60):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("grp"),
        (F.col("id") * 3).alias("v"),
    )


def _store(spark, tmp_path, **kw):
    store = SnapshotStore(spark, str(tmp_path / "wh"), delta_log=True, **kw)
    store.overwrite("t", _base(spark), cluster_by=("k",), n_files=3)
    return store


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "grp", "v").collect())


def _dv_by_file(store):
    """basename -> deletionVector descriptor of every live file."""
    return {
        os.path.basename(p): a.get("deletionVector")
        for p, a in store.delta_snapshot("t").files.items()
    }


def _bins(store):
    return set(glob.glob(os.path.join(store.path("t"), "deletion_vector_*.bin")))


def _no_sidecar(store):
    return not glob.glob(os.path.join(store.path("t"), "**", "_dv"), recursive=True)


def test_no_dv_sidecar_after_any_writer(spark, tmp_path):
    store = _store(spark, tmp_path, retain_versions=8)
    first = store.current_version("t")
    store.delete_where_mor("t", "k % 5 = 0")
    assert _no_sidecar(store)
    store.update_where_mor("t", "k < 10", {"v": "v + 1"})
    assert _no_sidecar(store)
    batch = spark.createDataFrame([(1, 1, 7), (100, 0, 8)], "k long, grp int, v long")
    store.merge_mor("t", batch, "k")
    assert _no_sidecar(store)
    dv_version = store.current_version("t")
    store.restore("t", first)
    assert _no_sidecar(store)
    store.restore("t", dv_version)
    assert _no_sidecar(store) and store._has_dv("t")
    assert store.purge_dv("t") is True
    assert _no_sidecar(store) and not store._has_dv("t")


def test_untouched_files_carry_their_descriptor(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.delete_where_mor("t", "k % 10 = 0")  # every file gains positions
    before = _dv_by_file(store)
    assert len(before) == 3 and all(before.values())
    bins0 = _bins(store)

    res = store.delete_where_mor("t", "k < 5")  # the first file only
    after = _dv_by_file(store)
    touched = [f for f in after if after[f] != before[f]]
    assert len(touched) == 1
    for f in after:
        if f not in touched:
            # byte-identical: same file, offset, size and cardinality
            assert json.dumps(after[f], sort_keys=True) == json.dumps(
                before[f], sort_keys=True
            )
    new = after[touched[0]]
    assert new["cardinality"] == before[touched[0]]["cardinality"] + 4
    assert res["dv_rows"] == sum(d["cardinality"] for d in after.values())
    # the commit's new file holds exactly one bitmap: the touched file's
    (new_bin,) = _bins(store) - bins0
    assert dvs.dv_file_path(store.path("t"), new) == new_bin
    assert new["offset"] == 1
    assert os.path.getsize(new_bin) == 1 + 4 + new["sizeInBytes"] + 4
    want = [r for r in _rows(_base(spark)) if r[0] % 10 != 0 and r[0] >= 5]
    assert _rows(store.read("t")) == want
    assert _rows(dl.read_delta(spark, store.path("t"))) == want


def test_time_travel_read_returns_rows_live_at_that_version(spark, tmp_path):
    store = _store(spark, tmp_path, retain_versions=4)
    base = _rows(_base(spark))
    store.delete_where_mor("t", "k % 5 = 0")
    v1 = store.current_version("t")
    store.update_where_mor("t", "k < 20", {"v": "v + 1000"})
    v2 = store.current_version("t")
    store.delete_where_mor("t", "k % 7 = 0")
    want1 = [r for r in base if r[0] % 5 != 0]
    want2 = sorted(
        (k, g, v + 1000 if k < 20 else v) for k, g, v in want1
    )
    assert _rows(store.read("t", version=v1)) == want1
    assert _rows(store.read("t", version=v2)) == want2
    assert _rows(store.read("t")) == [r for r in want2 if r[0] % 7 != 0]


def test_dv_on_partition_dir_with_escaped_name(spark, tmp_path):
    """A hive dir whose name a scan reports URI-escaped (``p=a%20b``):
    the positions the DML collects, the ones the readers filter by and
    the row-id map name the same file."""
    store = SnapshotStore(spark, str(tmp_path / "wh"), delta_log=True)
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit("a b")).otherwise(F.lit("x%y")).alias("p"),
    )
    store.overwrite("t", df, partition_by=("p",))
    store.delete_where_mor("t", "k < 6")
    want = sorted(k for k in range(6, 20))
    assert sorted(r.k for r in store.read("t").collect()) == want
    assert sorted(r.k for r in dl.read_delta(spark, store.path("t")).collect()) == want
    store.enable_row_tracking("t")
    ids = dl.read_row_ids(spark, store.path("t")).collect()
    assert sorted(r.k for r in ids) == want
    assert len({r._row_id for r in ids if r._row_id is not None}) == len(want)


def test_gc_drops_dv_files_only_gcd_versions_referenced(spark, tmp_path):
    store = _store(spark, tmp_path, retain_versions=2)
    table = store.path("t")
    # a file no commit names (an in-flight writer's) is never touched
    stray = os.path.join(table, f"deletion_vector_{uuid.uuid4()}.bin")
    with open(stray, "wb") as fh:
        fh.write(b"\x01")
    store.delete_where_mor("t", "k % 10 = 0")  # bin A: all three files
    (bin_a,) = _bins(store) - {stray}
    for lo in (0, 1, 2, 3):  # each touches the first file only
        store.delete_where_mor("t", f"k = {lo} OR k = {lo + 1}")

    referenced = {
        dvs.dv_file_path(table, a["deletionVector"])
        for lv in store.versions("t")
        for a in dl.DeltaLog(table).snapshot(lv).files.values()
        if a.get("deletionVector")
    }
    # the superseded bins of the first file went with their versions;
    # the two untouched files still carry bin A
    assert _bins(store) == referenced | {stray}
    assert bin_a in referenced
    want = [r for r in _rows(_base(spark)) if r[0] % 10 != 0 and r[0] > 4]
    assert _rows(store.read("t")) == want
    assert _rows(dl.read_delta(spark, table)) == want
