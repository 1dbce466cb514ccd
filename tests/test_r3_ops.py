"""Round-3 operator tests: streaks/debounce/co-occurrence, integer
PageRank, salted join ≡ plain join, snapshot time travel + retention,
Morton clustering, partition-pruned reads, corpus index ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_analytics_spark.catalog import read_parquet
from product_analytics_spark.operators import corpus, graph, product_metrics, skew
from product_analytics_spark.sources.sinks import SnapshotStore
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events(spark):
    return read_parquet(spark, f"{SF_SMALL}/events.parquet")


class TestDailyStreaks:
    def test_best_streak_is_consecutive_run(self, spark):
        rows = [
            (1, "2024-01-01"), (1, "2024-01-02"), (1, "2024-01-03"),
            (1, "2024-01-05"),  # gap → streak resets
            (2, "2024-01-10"),
        ]
        df = spark.createDataFrame(rows, "user_id long, d string").select(
            "user_id", F.col("d").cast("timestamp").alias("ts")
        )
        got = {
            r.user_id: (r.best_streak, r.n_active_days)
            for r in product_metrics.daily_streaks(df).collect()
        }
        assert got == {1: (3, 4), 2: (1, 1)}

    def test_duplicate_same_day_events_count_once(self, spark):
        rows = [(1, "2024-01-01 01:00:00"), (1, "2024-01-01 23:00:00")]
        df = spark.createDataFrame(rows, "user_id long, d string").select(
            "user_id", F.col("d").cast("timestamp").alias("ts")
        )
        [r] = product_metrics.daily_streaks(df).collect()
        assert (r.best_streak, r.n_active_days) == (1, 1)


class TestDebounce:
    def test_drops_within_gap_keeps_after(self, spark):
        rows = [
            (1, "a", "2024-01-01 00:00:00.000000", 1),
            (1, "a", "2024-01-01 00:00:03.000000", 2),   # 3s  → dropped
            (1, "a", "2024-01-01 00:00:08.000000", 3),   # 5s  → kept (>= gap)
            (1, "b", "2024-01-01 00:00:08.500000", 4),   # other key → kept
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, t string, event_id long"
        ).select("user_id", "event_type", F.col("t").cast("timestamp").alias("ts"), "event_id")
        got = {
            r.event_id: r.kept
            for r in product_metrics.debounce(df, min_gap_seconds=5).collect()
        }
        assert got == {1: True, 2: False, 3: True, 4: True}


class TestCooccurrenceLift:
    def test_lift_formula(self, spark):
        # 4 users: u1 {a,b}, u2 {a}, u3 {b}, u4 {a,b}
        rows = [(1, "a"), (1, "b"), (2, "a"), (3, "b"), (4, "a"), (4, "b")]
        df = spark.createDataFrame(rows, "user_id long, event_type string")
        [r] = product_metrics.cooccurrence_lift(df).collect()
        assert (r.type_a, r.type_b, r.n_both) == ("a", "b", 2)
        assert r.lift == pytest.approx((2 * 4) / (3 * 3))


class TestPagerank:
    def test_symmetric_cycle_uniform(self, spark):
        # a→b→c→a with equal weights: uniform ranks at every iteration.
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
        )
        out = graph.pagerank(edges, iterations=3, scale=10**9).collect()
        ranks = {r.node: r.rank_scaled for r in out}
        assert len(set(ranks.values())) == 1
        # mass ≈ scale (floor-div loses at most a few units per node)
        assert abs(sum(ranks.values()) - 10**9) < 100

    def test_sink_heavy_node_ranks_higher(self, spark):
        # Everyone points at 'hub'; hub points back at one node only.
        edges = spark.createDataFrame(
            [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
            "src string, dst string",
        )
        ranks = {
            r.node: r.rank_scaled
            for r in graph.pagerank(edges, iterations=3).collect()
        }
        assert ranks["hub"] > ranks["b"] and ranks["hub"] > ranks["c"]
        assert ranks["a"] > ranks["b"]  # receives the hub's mass


class TestSaltedJoin:
    def test_row_identical_to_plain_join(self, spark, events):
        li = read_parquet(spark, f"{SF_SMALL}/lineitem.parquet").select(
            F.col("l_partkey").alias("p_partkey"), "l_orderkey", "l_quantity"
        )
        p = read_parquet(spark, f"{SF_SMALL}/part.parquet").select(
            "p_partkey", "p_brand"
        )
        salted = skew.salted_join(
            li, p, on="p_partkey", fact_salt=F.pmod(F.col("l_orderkey"), F.lit(4)),
            n_salts=4,
        )
        plain = li.join(p, "p_partkey")
        assert salted.count() == plain.count()
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


class TestSnapshotTimeTravel:
    def test_versions_readable_within_retention(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path), retain_versions=3)
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        store.overwrite("t", df1)
        store.merge("t", spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), key="k")
        vs = store.versions("t")
        # merge writes its version then read-back commits nothing extra;
        # at least the two commit points must be retained and readable
        assert len(vs) >= 2
        v0 = {(r.k, r.v) for r in store.read("t", version=vs[0]).collect()}
        vN = {(r.k, r.v) for r in store.read("t", version=vs[-1]).collect()}
        assert v0 == {(1, "a"), (2, "b")}
        assert vN == {(1, "a"), (2, "B"), (3, "c")}

    def test_gc_drops_beyond_retention(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path), retain_versions=2)
        for i in range(4):
            store.overwrite("t", spark.createDataFrame([(i,)], "k long"))
        vs = store.versions("t")
        assert len(vs) == 2  # only the retention window survives GC
        assert store.read("t", version=vs[-1]).collect()[0].k == 3
        assert store.read("t", version=vs[0]).collect()[0].k == 2

    def test_default_retention_keeps_current_only(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path))  # retain_versions=1
        store.overwrite("t", spark.createDataFrame([(1,)], "k long"))
        store.overwrite("t", spark.createDataFrame([(2,)], "k long"))
        assert len(store.versions("t")) == 1
        assert store.read("t").collect()[0].k == 2


class TestPartitionPrunedRead:
    def test_plan_shows_partition_filters(self, spark, events, tmp_path):
        out = str(tmp_path / "part")
        (
            events.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
            .repartition("event_day")
            .write.partitionBy("event_day")
            .parquet(out)
        )
        back = spark.read.parquet(out).filter(F.col("event_day") == "2024-01-05")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "event_day" in plan
        # pruning is real: matches only that day's rows
        expect = events.filter(
            F.date_format("ts", "yyyy-MM-dd") == "2024-01-05"
        ).count()
        assert back.count() == expect


class TestCorpusIndexOps:
    def test_bpe_pairs_hand_example(self, spark):
        docs = spark.createDataFrame(
            [(1, "ab ab abc"), (2, "ab")], "doc_id long, text string"
        )
        got = {r.pair: r.merge_count for r in corpus.bpe_merge_candidates(spark.createDataFrame(
            [(1, "ab ab abc"), (2, "ab")], "doc_id long, text string"
        )).collect()}
        # 'ab' appears in words ab(x3) + abc(x1); 'bc' only in abc
        assert got["ab"] == 4 and got["bc"] == 1

    def test_inverted_index_postings_sorted_capped(self, spark):
        docs = spark.createDataFrame(
            [(i, "tok common") for i in range(12)], "doc_id long, text string"
        )
        rows = {r.token: r for r in corpus.inverted_index(docs, postings_cap=8).collect()}
        assert rows["common"].df_count == 12
        assert list(rows["common"].postings) == sorted(rows["common"].postings)
        assert len(rows["common"].postings) == 8
