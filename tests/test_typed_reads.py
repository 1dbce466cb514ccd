"""Typed version-dir reads (``SnapshotStore._read_version_dir``).

A store read takes its schema from the log metaData that committed the
version dir instead of inferring it from parquet footers (a one-task
Spark job per dir). Table-driven: for every kind of table the typed
read must equal the footer-inferred read — same columns, order, types
and rows — and launch no Spark job. A deletion-vectored read filters
by the positions of the dir's log snapshot, which launches no job
either. Row-tracked and column-mapped
tables keep the inferred read (the log does not describe their files'
physical columns), so for them only the equality is checked.

Also: a new table's empty partitioned first write commits a zero-row
version that reads back with the written schema and takes a merge.
"""

from __future__ import annotations

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
    return {"dir": store.current_data_dir("t")}


def _partitioned(spark, store):
    store.overwrite("t", _base(spark), partition_by=["p"])
    return {"dir": store.current_data_dir("t")}


def _dv(spark, store):
    store.overwrite("t", _base(spark), n_files=2)
    store.delete_where_mor("t", "k % 5 = 0")
    return {"dir": store.current_data_dir("t"), "where": "k % 5 != 0"}


def _dv_time_travel(spark, store):
    # the deleted rows come from the log snapshot that names the dir,
    # not from the current one
    store.overwrite("t", _base(spark), n_files=2)
    store.delete_where_mor("t", "k % 5 = 0")
    old = store.current_version("t")
    store.delete_where_mor("t", "k % 3 = 0")
    return {"dir": store.path("t") + "/" + old, "version": old, "where": "k % 5 != 0"}


def _row_tracked(spark, store):
    store.overwrite("t", _base(spark), n_files=2)
    store.enable_row_tracking("t")
    # a copy-on-write rewrite materializes row ids into the new files
    store.update_where("t", "k < 10", {"amount": "amount + 1"})
    return {"dir": store.current_data_dir("t"), "merge_schema": True, "typed": False}


def _column_mapped(spark, store):
    store.overwrite("t", _base(spark), n_files=2)
    dl.enable_column_mapping(store.path("t"))
    return {"dir": store.current_data_dir("t"), "typed": False}


def _evolved_time_travel(spark, store):
    store.overwrite("t", _base(spark), partition_by=["p"])
    old = store.current_version("t")
    store.overwrite("t", _base(spark, 50).withColumn("extra", F.lit("x")), partition_by=["p"])
    assert store.current_version("t") != old
    return {"dir": store.path("t") + "/" + old, "version": old}


def _append_first(spark, store):
    store.append("t", _base(spark))
    store.append("t", _base(spark, 10))
    d = store.current_data_dir("t")
    assert d == store.path("t")  # files at the table root
    return {"dir": d}


CASES = {
    "flat": _flat,
    "hive_partitioned_int": _partitioned,
    "deletion_vectored": _dv,
    "deletion_vectored_time_travel": _dv_time_travel,
    "row_tracked": _row_tracked,
    "column_mapped": _column_mapped,
    "schema_evolved_time_travel": _evolved_time_travel,
    "append_first": _append_first,
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_typed_read_equals_inferred_read(spark, tmp_path, case):
    store = SnapshotStore(spark, str(tmp_path / "wh"), retain_versions=3)
    spec = CASES[case](spark, store)
    reader = spark.read
    if spec.get("merge_schema"):
        reader = reader.option("mergeSchema", "true")
    inferred = reader.parquet(spec["dir"]).drop(*_RT_COLS)
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
