"""Structured Streaming twins: each streaming operator must agree
with its batch counterpart when run over the same (fully available)
input via trigger(availableNow) — batch-equivalence is the core
correctness property of Structured Streaming plans."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from product_analytics_spark import streaming as st
from product_analytics_spark.catalog import read_parquet
from product_analytics_spark.operators import windows
from product_analytics_spark.streaming.ops import run_available_now_stateful
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module", autouse=True)
def _few_shuffle_partitions(spark):
    """Micro-batch latency in these tests is dominated by per-partition
    state-store task overhead; 2 partitions keeps semantics and cuts
    wall-clock ~5x on the tiny test inputs."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-written as micros-timestamp parquet files in a dir —
    the landing-zone layout a file-source stream ingests."""
    out = str(tmp_path_factory.mktemp("events_land"))
    read_parquet(spark, f"{SF_SMALL}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(out)
    return out


@pytest.fixture(scope="module")
def events_schema(spark, events_dir):
    return spark.read.parquet(events_dir).schema


def _stream(spark, events_dir, events_schema):
    return st.stream_table(spark, events_dir, events_schema)


class TestTumblingStream:
    def test_matches_batch_tumbling_agg(self, spark, events_dir, events_schema):
        stream = st.tumbling_window_agg_stream(
            _stream(spark, events_dir, events_schema), duration="1 hour", watermark="2 hours"
        )
        st.run_available_now(stream, "tumbling_sink", output_mode="complete")
        got = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.table("tumbling_sink").collect()
        }
        batch = windows.tumbling_window_agg(
            spark.read.parquet(events_dir), duration="1 hour", group_cols=("event_type",)
        )
        want = {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in batch.collect()
        }
        assert got == want


class TestSessionWindowStream:
    def test_matches_batch_session_bounds(self, spark, events_dir, events_schema):
        stream = st.session_window_agg_stream(
            _stream(spark, events_dir, events_schema), gap="30 minutes", watermark="2 hours"
        )
        st.run_available_now(stream, "session_sink", output_mode="complete")
        got = {
            (r.user_id, r.session_start): (r.n_events, r.total_value)
            for r in spark.table("session_sink").collect()
        }
        batch = windows.session_metrics(spark.read.parquet(events_dir), gap_minutes=30)
        want = {
            (r.user_id, r.session_start): (r.n_events, r.total_value)
            for r in batch.collect()
        }
        assert got == want


class TestCdcLatestStream:
    def test_drops_duplicate_keys_within_watermark(self, spark, tmp_path):
        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        rows = [
            (1, base, "a"),
            (1, base + dt.timedelta(minutes=1), "b"),   # dup key 1 → dropped
            (2, base + dt.timedelta(minutes=2), "c"),
            (2, base + dt.timedelta(minutes=3), "d"),   # dup key 2 → dropped
            (3, base + dt.timedelta(minutes=4), "e"),
        ]
        src = str(tmp_path / "cdc")
        spark.createDataFrame(
            rows, "customer_id long, _cdc_timestamp timestamp, payload string"
        ).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = st.cdc_latest_stream(
            st.stream_table(spark, src, schema), key_cols=("customer_id",)
        )
        st.run_available_now(stream, "cdc_sink", output_mode="append")
        out = spark.table("cdc_sink").collect()
        assert sorted(r.customer_id for r in out) == [1, 2, 3]
        assert len(out) == 3


class TestStatefulSessionizer:
    def test_emits_closed_sessions_matching_batch(self, spark, tmp_path):
        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        rows = []
        # user 7: two sessions separated by a 2-hour gap; the second
        # session stays open (never emitted) — only the first closes.
        for m in (0, 5, 10):
            rows.append((7, base + dt.timedelta(minutes=m), 1.0))
        rows.append((7, base + dt.timedelta(hours=3), 9.0))
        # user 8: one open session only → nothing emitted.
        rows.append((8, base, 2.0))
        src = str(tmp_path / "sess")
        spark.createDataFrame(rows, "user_id long, ts timestamp, value double").coalesce(
            1
        ).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = st.sessionize_stateful(
            st.stream_table(spark, src, schema), gap_minutes=30
        )
        run_available_now_stateful(stream, "stateful_sink")
        out = spark.table("stateful_sink").collect()
        assert len(out) == 1
        (s,) = out
        assert s.user_id == 7
        assert s.session_start == base
        assert s.session_end == base + dt.timedelta(minutes=10)
        assert s.n_events == 3
        assert s.total_value == 3.0

    def test_sub_second_gap_overrun_splits_batch_and_stream(self, spark, tmp_path):
        """A gap of 30 min + 0.5 s starts a new session (the q23
        oracle compares microseconds); exactly 30 min does not. Batch
        sessionize and the stateful streaming sessionizer agree."""
        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        over = base + dt.timedelta(minutes=30, microseconds=500_000)
        late = base + dt.timedelta(hours=3)
        rows = [
            (7, 1, base, 1.0), (7, 2, over, 2.0), (7, 3, late, 4.0),
            (8, 4, base, 1.0), (8, 5, base + dt.timedelta(minutes=30), 2.0), (8, 6, late, 4.0),
        ]
        schema = "user_id long, event_id long, ts timestamp, value double"

        batch = windows.sessionize(spark.createDataFrame(rows, schema), gap_minutes=30)
        got = {r.event_id: r.session_id for r in batch.collect()}
        assert got == {1: 1, 2: 2, 3: 3, 4: 1, 5: 1, 6: 2}

        src = str(tmp_path / "sess_subsec")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = st.sessionize_stateful(
            st.stream_table(spark, src, spark.read.parquet(src).schema), gap_minutes=30
        )
        run_available_now_stateful(stream, "stateful_subsec_sink")
        closed = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.table("stateful_subsec_sink").collect()
        )
        # the late events keep the last session of each user open
        assert closed == [
            (7, base, base, 1),
            (7, over, over, 1),
            (8, base, base + dt.timedelta(minutes=30), 2),
        ]


class TestIntervalJoinStream:
    def test_matches_batch_interval_join(self, spark, events_dir, events_schema):
        # Right side: signup events, columns renamed (stream-stream
        # joins forbid shared names across sides).
        def right_of(df):
            return df.filter(F.col("event_type") == "signup").select(
                F.col("user_id").alias("r_user_id"),
                F.col("ts").alias("r_ts"),
                F.col("event_id").alias("r_event_id"),
            )

        left_s = _stream(spark, events_dir, events_schema).select("event_id", "user_id", "ts")
        right_s = right_of(_stream(spark, events_dir, events_schema))
        joined = st.interval_join_stream(
            left_s, right_s, key_col="user_id", lookback_minutes=120
        ).select("event_id", "r_event_id")
        st.run_available_now(joined, "ij_sink", output_mode="append")
        got = {(r.event_id, r.r_event_id) for r in spark.table("ij_sink").collect()}

        batch = spark.read.parquet(events_dir)
        l = batch.select("event_id", "user_id", "ts").alias("l_side")
        r = right_of(batch).alias("r_side")
        cond = (
            (F.col("l_side.user_id") == F.col("r_side.r_user_id"))
            & (F.col("r_side.r_ts") <= F.col("l_side.ts"))
            & (F.col("r_side.r_ts") >= F.col("l_side.ts") - F.expr("INTERVAL 120 MINUTES"))
        )
        want = {(r_.event_id, r_.r_event_id) for r_ in l.join(r, cond).select("event_id", "r_event_id").collect()}
        assert got == want
        assert len(want) > 0


class TestForeachBatchMerge:
    def test_micro_batches_merge_into_snapshot(self, spark, tmp_path):
        from product_analytics_spark.operators.incremental import merge_upsert

        base = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "batches")
        spark.createDataFrame(
            [(1, base, "v1"), (2, base, "v1")],
            "id long, ts timestamp, v string",
        ).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema

        snapshots = {"cur": spark.createDataFrame([], schema)}

        def merge(batch_df, batch_id):
            snapshots["cur"] = merge_upsert(snapshots["cur"], batch_df, key=["id"])
            snapshots["cur"].count()  # materialize within the batch

        writer = st.foreach_batch_merge(
            st.stream_table(spark, src, schema), merge, str(tmp_path / "ckpt")
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        # second wave: update id=2, insert id=3
        spark.createDataFrame(
            [(2, base + dt.timedelta(hours=1), "v2"), (3, base, "v1")],
            "id long, ts timestamp, v string",
        ).coalesce(1).write.mode("append").parquet(src)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        got = {(r.id, r.v) for r in snapshots["cur"].collect()}
        assert got == {(1, "v1"), (2, "v2"), (3, "v1")}


class TestTransformWithState:
    def test_gate_probe_and_clear_error(self, spark):
        """The tws door is environment-gated: when protobuf is absent
        the op refuses up front with a diagnosis instead of crashing
        the stream at init (verified: the raw API dies with
        STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE here)."""
        import pytest

        from product_analytics_spark.streaming import ops as st

        if st.have_tws_runtime():
            pytest.skip("protobuf present — covered by the parity test")
        with pytest.raises(RuntimeError, match="protobuf"):
            st.running_totals_tws(spark.readStream.format("rate").load())

    def test_parity_when_runtime_present(self, spark, tmp_path):
        """Full parity vs the batch aggregate — runs only where the
        protobuf runtime exists (skipped in this container)."""
        import pytest

        from pyspark.sql import functions as F

        from product_analytics_spark.catalog import read_parquet
        from product_analytics_spark.streaming import ops as st

        if not st.have_tws_runtime():
            pytest.skip("google.protobuf missing — tws runtime unavailable")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        land = str(tmp_path / "land")
        ev = read_parquet(
            spark, "/root/testdata/sf0.001/events.parquet"
        ).select(
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        )
        ev.repartition(2).write.mode("overwrite").parquet(land)
        schema = spark.read.parquet(land).schema
        stream = st.stream_table(spark, land, schema, max_files_per_trigger=1)
        out = st.running_totals_tws(stream)
        st.run_available_now(out, "tws_parity_sink", output_mode="update")
        got = (
            spark.table("tws_parity_sink")
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n"), F.max("total_cents").alias("c"))
        )
        batch = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
        )
        assert got.exceptAll(batch).count() == 0
        assert batch.exceptAll(got).count() == 0


class TestCheckpointRestart:
    def test_restart_resumes_from_offsets_exactly_once(self, spark, tmp_path):
        """Exactly-once across restarts: run an availableNow counting
        stream to completion, land MORE data, restart with the SAME
        checkpoint — the second run must process only the new file
        (offsets resumed, nothing re-read, nothing double-counted)."""
        from pyspark.sql import functions as F

        from product_analytics_spark.catalog import read_parquet
        from product_analytics_spark.streaming import ops as st

        land = str(tmp_path / "land")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        ev = read_parquet(
            spark, "/root/testdata/sf0.001/events.parquet"
        ).select("event_id", "event_type")
        first = ev.filter(F.col("event_id") % 2 == 0)
        second = ev.filter(F.col("event_id") % 2 == 1)
        first.repartition(1).write.mode("overwrite").parquet(land)
        schema = spark.read.parquet(land).schema

        def run_once():
            stream = spark.readStream.schema(schema).parquet(land)
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sum(p["numInputRows"] for p in q.recentProgress)

        n1 = run_once()
        assert n1 == first.count()
        second.repartition(1).write.mode("append").parquet(land)
        n2 = run_once()
        assert n2 == second.count()  # ONLY the new file
        total = spark.read.parquet(out)
        assert total.count() == ev.count()
        # no duplicates across the two runs
        assert total.select("event_id").distinct().count() == ev.count()
