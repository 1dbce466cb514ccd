"""Typed store reads (``SnapshotStore._scan``).

A store read takes its schema from the log metaData of the version it
reads instead of inferring it from parquet footers (a one-task Spark
job per scan). Table-driven: for every kind of table the typed read
must equal the footer-inferred read of the same version's files —
same columns, order, types and rows — and launch no Spark job. A
version's files may sit in several ``v_`` staging dirs (a commit names
only the files it changes), so the inferred read scans each dir's
files with ``basePath`` set to that dir. A deletion-vectored read
filters by the positions of the version's log snapshot, which launches
no job either. Row-tracked and column-mapped tables keep the inferred
read (the log does not describe their files' physical columns), so for
them only the equality is checked.

Also: a new table's empty partitioned first write commits a version
with no file that reads back with the written schema and takes a
merge.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.sources import delta_log as dl
from product_analytics_spark.sources.sinks import SnapshotStore

_RT_COLS = (dl.MATERIALIZED_ROW_ID_COL, dl.MATERIALIZED_ROW_COMMIT_COL)


def _base(spark, n=40):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"),
        (F.col("id") * 1.5).alias("amount"),
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000).alias("ts"),
    )


def _flat(spark, store):
    store.overwrite("t", _base(spark), n_files=2)
    return {}


def _partitioned(spark, store):
    store.overwrite("t", _base(spark), partition_by=["p"])
    return {}


def _dv(spark, store):
    store.overwrite("t", _base(spark), n_files=2)
    store.delete_where_mor("t", "k % 5 = 0")
    return {"where": "k % 5 != 0"}


def _dv_time_travel(spark, store):
    # the deleted rows come from the log snapshot of the version read,
    # not from the current one
    store.overwrite("t", _base(spark), n_files=2)
    store.delete_where_mor("t", "k % 5 = 0")
    old = store.current_version("t")
    store.delete_where_mor("t", "k % 3 = 0")
    return {"version": old, "where": "k % 5 != 0"}


def _row_tracked(spark, store):
    store.overwrite("t", _base(spark), n_files=2)
    store.enable_row_tracking("t")
    # a copy-on-write rewrite materializes row ids into the new files
    store.update_where("t", "k < 10", {"amount": "amount + 1"})
    return {"merge_schema": True, "typed": False}


def _column_mapped(spark, store):
    store.overwrite("t", _base(spark), n_files=2)
    dl.enable_column_mapping(store.path("t"))
    return {"typed": False}


def _evolved_time_travel(spark, store):
    store.overwrite("t", _base(spark), partition_by=["p"])
    old = store.current_version("t")
    store.overwrite("t", _base(spark, 50).withColumn("extra", F.lit("x")), partition_by=["p"])
    assert store.current_version("t") != old
    return {"version": old}


def _append_first(spark, store):
    store.append("t", _base(spark))
    store.append("t", _base(spark, 10))
    return {}


def _appended_partitioned(spark, store):
    # the version's files sit in two staging dirs: one scan per dir
    store.overwrite("t", _base(spark), partition_by=["p"])
    store.append("t", _base(spark, 10), partition_by=["p"])
    return {}


def _inferred(spark, store, version, merge_schema):
    """Footer-inferred read of ``version``'s files: one scan per
    ``v_`` dir (``basePath`` set to it when partitioned)."""
    table = store.path("t")
    snap = store.delta_snapshot("t", version)
    groups: dict[str, list[str]] = {}
    for rel, add in sorted(snap.files.items()):
        top = rel.split("/", 1)[0] if add.get("partitionValues") else ""
        groups.setdefault(top, []).append(os.path.join(table, rel))
    out = None
    for top in sorted(groups):
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if top:
            reader = reader.option("basePath", os.path.join(table, top))
        df = reader.parquet(*groups[top])
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


CASES = {
    "flat": _flat,
    "hive_partitioned_int": _partitioned,
    "deletion_vectored": _dv,
    "deletion_vectored_time_travel": _dv_time_travel,
    "row_tracked": _row_tracked,
    "column_mapped": _column_mapped,
    "schema_evolved_time_travel": _evolved_time_travel,
    "append_first": _append_first,
    "appended_partitioned": _appended_partitioned,
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_typed_read_equals_inferred_read(spark, tmp_path, case):
    store = SnapshotStore(spark, str(tmp_path / "wh"), retain_versions=3)
    spec = CASES[case](spark, store)
    inferred = _inferred(
        spark, store, spec.get("version"), spec.get("merge_schema")
    ).drop(*_RT_COLS)
    if "where" in spec:
        inferred = inferred.where(spec["where"])

    cache.clear("version_dirs")  # a cold read, not a memo hit
    sc = spark.sparkContext
    group = f"typed-read-{case}"
    sc.setJobGroup(group, "store.read")
    try:
        got = store.read("t", version=spec.get("version"))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got is not None
    assert got.columns == inferred.columns
    assert got.dtypes == inferred.dtypes
    assert _rows(got) == _rows(inferred)
    if spec.get("typed", True):
        assert list(jobs) == [], f"{case}: store.read() launched jobs {list(jobs)}"


def test_empty_partitioned_first_write_then_merge(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "wh"))
    written = _base(spark)
    store.overwrite("t", written.limit(0), partition_by=["p"])
    empty = store.read("t")
    assert empty is not None
    assert empty.count() == 0
    assert empty.dtypes == written.dtypes

    out = store.merge("t", _base(spark, 10), "k", partition_by=["p"])
    assert out.count() == 10
    assert sorted(out.dtypes) == sorted(written.dtypes)
    assert _rows(out.select(*written.columns)) == _rows(_base(spark, 10))
