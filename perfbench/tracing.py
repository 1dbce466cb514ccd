"""Span recorder for the traced run.

The engine is traced from the outside: :class:`Tracer` wraps the
public entry points of each layer (``SnapshotStore`` methods,
``DeltaLog`` commit / snapshot / checkpoint, ``delta_log.table_changes``,
``cache.persist_shared``, model builders), the py4j round trip, and the
driver's file I/O under the warehouse (``open``, directory listings,
pyarrow footer reads). Each wrapped call records a span — name, start,
end, parent span, op id — in memory; :meth:`Tracer.dump` writes them
out when the run ends. Counts are taken at the same wrappers.

Wrappers stay installed for the whole traced run and pass straight
through while ``Tracer.active`` is false, so the run can alternate
traced and untraced ops and report the tracing overhead.
"""

from __future__ import annotations

import builtins
import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

#: SnapshotStore methods, each traced as ``sinks.<method>``
SINK_METHODS = (
    "merge", "overwrite", "read", "merge_mor",
    "delete_where_mor", "update_where_mor", "compact",
)

#: py4j's command prefix for releasing a Java object (memory / delete)
GC_DETACH = "m\nd\n"


class Tracer:
    def __init__(self, watch_root: str):
        #: only file I/O under this directory is counted
        self.watch_root = os.path.abspath(watch_root)
        self.active = False
        self.spans: list[tuple] = []  # (id, name, t0, t1, parent, op)
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        #: op root span for threads that have no span stack of their
        #: own (engine worker threads) — only set by single-client ops
        self.shared_root: tuple[int, str] | None = None

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent(self):
        st = self._stack()
        if st:
            return st[-1]
        return self.shared_root

    @contextmanager
    def span(self, name: str):
        if not self.active or getattr(self._local, "internal", False):
            yield
            return
        parent = self._parent()
        sid = next(self._ids)
        op = parent[1] if parent else None
        st = self._stack()
        st.append((sid, op))
        # On the thread that owns a shared op, the innermost span also
        # parents the spans of threads it starts (DAG workers, futures).
        adopt = (
            self.shared_root is not None
            and self._local.__dict__.get("owner", False)
            and not name.startswith(("py4j.", "io."))
        )
        if adopt:
            outer, self.shared_root = self.shared_root, (sid, op)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            if adopt:
                self.shared_root = outer
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent[0] if parent else None, op))

    @contextmanager
    def op(self, op_id: str, shared: bool = False):
        """Root span of one op. ``shared=True`` also adopts spans from
        threads the op starts (single-client workloads only)."""
        sid = next(self._ids)
        st = self._stack()
        st.append((sid, op_id))
        if shared:
            self.shared_root = (sid, op_id)
            self._local.owner = True
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            if shared:
                self.shared_root = None
                self._local.owner = False
            with self._lock:
                self.spans.append((sid, "op", t0, t1, None, op_id))

    @contextmanager
    def internal(self):
        """Calls the tracer itself makes (job counters): not counted."""
        prev = getattr(self._local, "internal", False)
        self._local.internal = True
        try:
            yield
        finally:
            self._local.internal = prev

    def count(self, key: str, n: float = 1) -> None:
        if self.active and not getattr(self._local, "internal", False):
            with self._lock:
                self.counts[key] += n

    # ---------------------------------------------------------- patches

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap_call(self, owner, attr: str, name: str, count_key: str | None = None) -> None:
        tracer = self

        def make(orig):
            def wrapped(*a, **kw):
                if not tracer.active:
                    return orig(*a, **kw)
                if count_key:
                    tracer.count(count_key)
                with tracer.span(name):
                    return orig(*a, **kw)

            wrapped.__wrapped__ = orig
            return wrapped

        self._patch(owner, attr, make)

    def _under_root(self, path) -> bool:
        try:
            p = os.fspath(path)
        except TypeError:
            return False
        if isinstance(p, bytes):
            p = p.decode(errors="replace")
        return os.path.abspath(p).startswith(self.watch_root)

    def wrap_io(self, owner, attr: str, name: str, count_key: str) -> None:
        tracer = self

        def make(orig):
            def wrapped(path, *a, **kw):
                if not tracer.active or not tracer._under_root(path):
                    return orig(path, *a, **kw)
                tracer.count(count_key)
                with tracer.span(name):
                    return orig(path, *a, **kw)

            return wrapped

        self._patch(owner, attr, make)

    def install(self) -> None:
        """Wrap every layer boundary the benchmark traces."""
        import pyarrow.parquet as pq
        from py4j import clientserver

        from product_analytics_spark import cache
        from product_analytics_spark.sources import delta_log as dl
        from product_analytics_spark.sources.sinks import SnapshotStore

        for m in SINK_METHODS:
            self.wrap_call(SnapshotStore, m, f"sinks.{m}", f"sinks.{m}_n")
        self.wrap_call(dl.DeltaLog, "commit", "delta_log.commit", "delta_log.commit_n")
        self.wrap_call(dl.DeltaLog, "snapshot", "delta_log.snapshot")
        for cp in ("write_checkpoint", "write_checkpoint_multipart", "write_checkpoint_v2"):
            self.wrap_call(dl.DeltaLog, cp, "delta_log.checkpoint", "delta_log.checkpoint_n")
        self.wrap_call(dl, "table_changes", "delta_log.table_changes")
        self.wrap_call(dl, "read_delta", "delta_log.read_delta")

        tracer = self

        def shared(orig):
            def persist_shared(key, build):
                if not tracer.active:
                    return orig(key, build)
                tracer.count("cache.shared_calls")

                def counted_build():
                    tracer.count("cache.shared_builds")
                    with tracer.span("cache.shared_build"):
                        return build()

                return orig(key, counted_build)

            return persist_shared

        self._patch(cache, "persist_shared", shared)

        def send(orig):
            def send_command(conn, command, *a, **kw):
                if (
                    not tracer.active
                    or getattr(tracer._local, "internal", False)
                    # object releases: py4j's finalizer thread sends them
                    # whenever Python's GC runs, so their count never repeats
                    or command.startswith(GC_DETACH)
                ):
                    return orig(conn, command, *a, **kw)
                t0 = time.perf_counter()
                try:
                    with tracer.span("py4j.call"):
                        return orig(conn, command, *a, **kw)
                finally:
                    tracer.count("py4j.calls")
                    tracer.count("py4j.wait_s", time.perf_counter() - t0)

            return send_command

        self._patch(clientserver.ClientServerConnection, "send_command", send)

        self.wrap_io(builtins, "open", "io.open", "io.files_opened")
        self.wrap_io(os, "listdir", "io.list", "io.dir_lists")
        self.wrap_io(os, "scandir", "io.list", "io.dir_lists")
        for fn in ("ParquetFile", "read_schema", "read_table", "read_metadata"):
            self.wrap_io(pq, fn, "io.footer", "io.footer_reads")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- reports

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Per layer (span-name prefix), the sum over spans of the
        span's duration minus the part of it its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _sid, _n, t0, t1, parent, _op in self.spans:
            if parent is not None:
                children[parent].append((t0, t1))
        out: dict[str, float] = defaultdict(float)
        for sid, name, t0, t1, _parent, op in self.spans:
            if op not in ops:
                continue
            covered, end = 0.0, t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[name.split(".")[0]] += (t1 - t0) - covered
        return dict(out)

    def span_totals(self, ops: set[str]) -> dict[str, float]:
        """Summed duration per span name over the given ops."""
        out: dict[str, float] = defaultdict(float)
        for _sid, name, t0, t1, _p, op in self.spans:
            if op in ops:
                out[name] += t1 - t0
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "fields": ["id", "name", "start", "end", "parent", "op"],
                    "spans": self.spans,
                },
                fh,
            )


class SparkCounter:
    """Spark jobs / stages / tasks per op, from the driver's own
    scheduler counters and the status tracker (tracer-internal calls,
    excluded from ``py4j.calls``)."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer

    def _next_ids(self) -> tuple[int, int]:
        with self.tracer.internal():
            ds = self.sc._jsc.sc().dagScheduler()
            return int(ds.nextJobId()), int(ds.nextStageId())

    def mark(self) -> tuple[int, int]:
        return self._next_ids()

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks launched since ``mark``
        (single-client ops: nothing else runs meanwhile)."""
        j1, s1 = self._next_ids()
        return self._summ(range(mark[0], j1), s1 - mark[1])

    def group(self, group_id: str) -> dict[str, int]:
        """Same counts for the jobs of one job group."""
        with self.tracer.internal():
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(group_id))
        return self._summ(jobs, None)

    def _summ(self, jobs, n_stages) -> dict[str, int]:
        st = self.sc.statusTracker()
        tasks = failed = 0
        stages: set[int] = set()
        with self.tracer.internal():
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for s in list(info.stageIds):
                    stages.add(int(s))
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {
            "spark.jobs": len(list(jobs)),
            "spark.stages": n_stages if n_stages is not None else len(stages),
            "spark.tasks": tasks,
            "spark.failed_tasks": failed,
        }
