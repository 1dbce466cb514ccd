"""Schema evolution × DML (round-8 verdict item 7): after a merge
evolves the table schema (new column, widened type — reference
``on_schema_change='sync_all_columns'``), delete_where / update_where /
compact must keep working, including predicates and assignments over
the evolved column, on flat AND hive-partitioned tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.sources.sinks import SnapshotStore


class TestEvolutionThenDml:
    def test_new_column_then_delete_update_compact(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh"), retain_versions=2)
        store.overwrite(
            "t",
            spark.createDataFrame(
                [(k, k * 10) for k in range(8)], "k long, v long"
            ),
        )
        # merge evolves: adds `score`; old rows get NULL (sync_all_columns)
        store.merge(
            "t",
            spark.createDataFrame(
                [(6, 60, 0.5), (8, 80, 0.8), (9, 90, 0.9)],
                "k long, v long, score double",
            ),
            "k",
        )
        assert store.read("t").schema["score"].dataType.simpleString() == "double"

        # DELETE with a predicate over the evolved column (NULL-aware)
        store.delete_where("t", "score IS NULL AND k % 2 = 1")
        got = {(r.k, r.score) for r in store.read("t").collect()}
        assert got == {
            (0, None), (2, None), (4, None),
            (6, 0.5), (8, 0.8), (9, 0.9),
        }

        # UPDATE assigning the evolved column, cast back to its type
        store.update_where("t", "score IS NULL", {"score": "0.0"})
        assert store.read("t").filter("score IS NULL").count() == 0

        # compact the evolved table; contents unchanged
        before = {tuple(r) for r in store.read("t").collect()}
        stats = store.compact("t")
        assert stats["files_after"] <= stats["files_before"]
        assert {tuple(r) for r in store.read("t").collect()} == before

    def test_widened_type_through_merge_then_update(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh2"))
        store.overwrite(
            "t",
            spark.createDataFrame([(1, 100), (2, 200)], "k long, cents int"),
        )
        # batch arrives with cents widened to BIGINT
        store.merge(
            "t",
            spark.createDataFrame(
                [(2, 2_000_000_000_000), (3, 300)], "k long, cents long"
            ),
            "k",
        )
        t = store.read("t")
        assert t.schema["cents"].dataType.simpleString() == "bigint"
        got = {(r.k, r.cents) for r in t.collect()}
        assert got == {(1, 100), (2, 2_000_000_000_000), (3, 300)}

        # update_where must cast its assignment back to the WIDENED
        # type, not the original int (schema enforcement on rewrite)
        store.update_where("t", "k = 1", {"cents": "cents + 1"})
        t2 = store.read("t")
        assert t2.schema["cents"].dataType.simpleString() == "bigint"
        assert {(r.k, r.cents) for r in t2.collect()} == {
            (1, 101), (2, 2_000_000_000_000), (3, 300)
        }

    def test_partitioned_evolution_then_cow_dml(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "wh3"), retain_versions=2)
        base = spark.createDataFrame(
            [(k, f"g{k % 3}", k * 1.0) for k in range(12)],
            "k long, grp string, v double",
        )
        store.overwrite("t", base, partition_by=["grp"])
        # evolve with a new column, keeping the hive partitioning
        store.merge(
            "t",
            spark.createDataFrame(
                [(12, "g0", 12.0, "fresh"), (1, "g1", 99.0, "upd")],
                "k long, grp string, v double, note string",
            ),
            "k",
            partition_by=["grp"],
        )
        t = store.read("t")
        assert "note" in t.columns and t.count() == 13

        # COW DELETE with a partition + evolved-column predicate:
        # untouched partition dirs must survive as hardlinks
        stats = store.delete_where("t", "grp = 'g1' AND note IS NULL")
        assert stats["files_kept"] >= 1
        got = store.read("t")
        assert got.filter("grp = 'g1'").count() == 1  # only the updated row
        assert got.count() == 13 - 3

        # UPDATE over the evolved column inside one partition
        store.update_where(
            "t", "grp = 'g0' AND note IS NULL", {"note": "'backfilled'"}
        )
        assert (
            store.read("t").filter("grp = 'g0' AND note IS NULL").count() == 0
        )
        # partition-column reassignment still refused on evolved tables
        with pytest.raises(ValueError, match="partition columns"):
            store.update_where("t", "k = 0", {"grp": "'g9'"})

    def test_evolution_survives_cow_roundtrip_types(self, spark, tmp_path):
        # decimal-drift guard on an EVOLVED column: the update rewrite
        # must not let literal arithmetic widen the rewritten file's
        # schema away from the hardlinked files'.
        store = SnapshotStore(spark, str(tmp_path / "wh4"))
        store.overwrite(
            "t", spark.createDataFrame([(1,)], "k long")
        )
        store.merge(
            "t",
            spark.createDataFrame([(1, 10.5), (2, 20.5)], "k long, amt double"),
            "k",
        )
        store.update_where("t", "k = 2", {"amt": "amt + CAST(1000.25 AS DECIMAL(10,2))"})
        t = store.read("t")
        assert t.schema["amt"].dataType.simpleString() == "double"
        assert {(r.k, r.amt) for r in t.collect()} == {(1, 10.5), (2, 1020.75)}
