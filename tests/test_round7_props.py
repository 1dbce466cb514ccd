"""Round-7 fixes, pinned (round-6 verdict ADVICE items).

- persist_shared keys by applicationId internally and prunes entries
  left by stopped sessions (cache.py); so do the other session-scoped
  registry namespaces.
- run_available_now_stateful requires a data batch before accepting
  "drained" and raises on timeout (streaming/ops.py) — see
  test_streaming.py for its happy path; run_available_now raises on
  timeout too.
"""

from __future__ import annotations

import pytest

from product_analytics_spark import cache


class _DeadSession:
    """Stands in for a stopped session: an applicationId no live
    session can have."""

    class sparkContext:
        applicationId = "app-from-a-stopped-session"


class TestPersistShared:
    def test_memoizes_within_session(self, spark):
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(5)

        a = cache.persist_shared("r7_memo_key", build)
        b = cache.persist_shared("r7_memo_key", build)
        assert calls["n"] == 1
        assert a is b
        assert a.count() == 5
        cache.clear_shared()

    def test_key_is_scoped_to_application_id(self, spark):
        cache.persist_shared("r7_scope_key", lambda: spark.range(3))
        app_id = spark.sparkContext.applicationId
        assert ("", "r7_scope_key") not in cache.keys("shared")
        assert (app_id, "r7_scope_key") in cache.keys("shared")
        cache.clear_shared()

    @pytest.mark.parametrize("namespace", ["shared", "base_tables", "version_dirs"])
    def test_dead_session_entries_pruned_on_miss(self, spark, namespace):
        def build(n):
            df = spark.range(n)
            return (df, []) if namespace == "shared" else df

        cache.memo(namespace, "old", lambda: build(1), spark=_DeadSession)
        dead = ("app-from-a-stopped-session", "old")
        assert dead in cache.keys(namespace)
        cache.memo(namespace, "r7_prune_key", lambda: build(2), spark=spark)
        assert dead not in cache.keys(namespace)
        app_id = spark.sparkContext.applicationId
        assert (app_id, "r7_prune_key") in cache.keys(namespace)
        cache.clear(namespace)

    def test_clear_shared_empties_registry(self, spark):
        cache.persist_shared("r7_clear_key", lambda: spark.range(2))
        n = cache.clear_shared()
        assert n >= 1
        assert not cache.keys("shared")


class TestCalendarNameLocale:
    def test_calendar_names_pinned_to_english_under_foreign_locale(self, spark):
        """q392's oracle compares English month/day names. This pins
        WHY that is safe on any host: Spark hardcodes Locale.US in its
        datetime formatters, so date_format('MMMM'/'EEEE') and
        monthname/dayname stay English even when the JVM default
        locale is not — proven by switching the live JVM default to
        fr_FR and re-running (fresh SQL string defeats plan caching).
        DuckDB's strftime has no locale support at all."""
        jvm = spark._jvm
        Locale = jvm.java.util.Locale
        prev = Locale.getDefault()
        Locale.setDefault(jvm.java.util.Locale("fr", "FR"))
        try:
            assert Locale.getDefault().toString() == "fr_FR"
            r = spark.sql(
                "SELECT monthname(DATE'1996-02-08') AS mn, "
                "dayname(DATE'1996-02-08') AS dn, "
                "date_format(DATE'1996-02-08', 'MMMM') AS fullm, "
                "date_format(DATE'1996-02-08', 'EEEE') AS fulld"
            ).collect()[0]
            assert (r.mn, r.dn, r.fullm, r.fulld) == (
                "Feb",
                "Thu",
                "February",
                "Thursday",
            )
        finally:
            Locale.setDefault(prev)


class TestLandingMemo:
    SF = "/root/testdata/sf0.001"

    def test_streaming_landing_reused_within_process(self, spark):
        import os

        # The ext modules are loaded via the driver_queries aggregator;
        # importing one directly first trips the circular chain.
        import product_analytics_spark.driver_queries  # noqa: F401
        from product_analytics_spark.driver_queries_ext5 import (
            Q149_LAND,
            q149_streaming_dedup_parity,
        )

        r1 = sorted(
            tuple(r) for r in q149_streaming_dedup_parity(spark, self.SF).collect()
        )
        sig1 = {
            f: os.stat(os.path.join(Q149_LAND, f)).st_mtime_ns
            for f in os.listdir(Q149_LAND)
            if f.endswith(".parquet")
        }
        r2 = sorted(
            tuple(r) for r in q149_streaming_dedup_parity(spark, self.SF).collect()
        )
        sig2 = {
            f: os.stat(os.path.join(Q149_LAND, f)).st_mtime_ns
            for f in os.listdir(Q149_LAND)
            if f.endswith(".parquet")
        }
        assert r1 == r2  # rerun is value-identical
        assert sig1 == sig2  # and reused the landed files verbatim

    def test_land_once_rewrites_on_token_change(self, spark, tmp_path):
        import os

        from product_analytics_spark.qcommon import land_once

        land = str(tmp_path / "land")
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            spark.range(3).write.mode("overwrite").parquet(land)

        land_once(land, "sfA", build)
        land_once(land, "sfA", build)
        assert calls["n"] == 1  # same token: reused
        land_once(land, "sfB", build)
        assert calls["n"] == 2  # different token: rewritten
        # Dir deleted out-of-band: re-landed even with a seen token.
        import shutil

        shutil.rmtree(land)
        land_once(land, "sfB", build)
        assert calls["n"] == 3
        assert os.path.isdir(land)


class _StubQuery:
    """Scripted StreamingQuery stand-in: a list of lastProgress frames
    (None = no progress yet); isActive until the script says stop."""

    def __init__(self, frames, active_after=True):
        self._frames = list(frames)
        self._active_after = active_after

    @property
    def isActive(self):
        return bool(self._frames) or self._active_after

    @property
    def lastProgress(self):
        if self._frames:
            return self._frames.pop(0)
        return {"numInputRows": 0}


class TestPollIdle:
    def test_timeout_raises_instead_of_silent_partial(self):
        from product_analytics_spark.streaming.ops import _poll_idle

        # The source keeps reporting data (a stateful plan with a
        # processing-time timeout never goes idle): raise at the
        # deadline rather than stop and return a partial sink.
        class _Busy:
            isActive = True
            lastProgress = {"numInputRows": 1}
            status = {"isDataAvailable": True, "isTriggerActive": False}

        with pytest.raises(TimeoutError, match="not idle"):
            _poll_idle(_Busy(), timeout_s=0.2, sink_name="s", sleep_s=0.01)


class TestPollDrained:
    def test_drained_after_data_batch(self):
        from product_analytics_spark.streaming.ops import _poll_drained

        q = _StubQuery(
            [None, {"numInputRows": 5}, {"numInputRows": 0}], active_after=True
        )
        _poll_drained(q, timeout_s=2.0, sink_name="s", sleep_s=0.0)

    def test_leading_empty_batch_not_mistaken_for_drain(self):
        # First progress frame has zero rows (source still warming up):
        # the old heuristic stopped HERE; now it must wait for the data
        # batch and the empty batch after it.
        from product_analytics_spark.streaming.ops import _poll_drained

        frames = [{"numInputRows": 0}, {"numInputRows": 7}, {"numInputRows": 0}]
        q = _StubQuery(frames, active_after=True)
        _poll_drained(q, timeout_s=2.0, sink_name="s", sleep_s=0.0)
        assert not q._frames  # consumed past the leading empty frame

    def test_natural_termination_is_drained(self):
        from product_analytics_spark.streaming.ops import _poll_drained

        q = _StubQuery([{"numInputRows": 3}], active_after=False)
        _poll_drained(q, timeout_s=2.0, sink_name="s", sleep_s=0.0)

    def test_timeout_raises_instead_of_silent_partial(self):
        from product_analytics_spark.streaming.ops import _poll_drained

        # Query stays active but never yields a zero-input batch after
        # data (e.g. wedged source): must raise, not return silently.
        class _Wedged:
            isActive = True
            lastProgress = {"numInputRows": 1}

        with pytest.raises(TimeoutError, match="not drained"):
            _poll_drained(_Wedged(), timeout_s=0.2, sink_name="s", sleep_s=0.01)


# ----------------------------------------- COW DML property (round 7)

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SETTLE = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


class TestCopyOnWriteProperty:
    @settings(**_SETTLE)
    @given(
        n_rows=st.integers(min_value=20, max_value=120),
        n_files=st.integers(min_value=1, max_value=6),
        mod=st.integers(min_value=2, max_value=9),
        res=st.integers(min_value=0, max_value=8),
        partitioned=st.booleans(),
    )
    def test_delete_where_equals_filter(
        self, spark, tmp_path_factory, n_rows, n_files, mod, res, partitioned
    ):
        """For ANY generated table layout (file count, hive
        partitioning) and ANY modulus predicate — including all-match
        and no-match — copy-on-write delete must be value-equal to the
        plain anti-filter, with the file accounting consistent
        (linked + rewritten == total) and row accounting exact."""
        from product_analytics_spark.sources.sinks import SnapshotStore

        res = res % mod
        wh = tmp_path_factory.mktemp("cowprop")
        store = SnapshotStore(spark, str(wh), retain_versions=1)
        df = spark.range(n_rows).selectExpr(
            "id AS k", "CAST(id % 3 AS STRING) AS part", "id * 7 AS v"
        )
        if partitioned:
            store.overwrite("t", df, partition_by=["part"])
        else:
            store.overwrite("t", df.repartition(n_files))
        pred = f"k % {mod} = {res}"
        stats = store.delete_where("t", pred)
        assert stats["files_linked"] + stats["files_rewritten"] == stats[
            "files_total"
        ]
        expect = {
            (r.k, str(r.part), r.v)
            for r in df.where(f"NOT ({pred})").collect()
        }
        got = {
            (r.k, str(r.part), r.v)
            for r in store.read("t").select("k", "part", "v").collect()
        }
        assert got == expect
        assert stats["rows_before"] - stats["rows_after"] == n_rows - len(
            expect
        )
