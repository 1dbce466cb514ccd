"""The session-scoped cache registry (``cache.py``).

- No module of the engine keeps an ad hoc memo: every module-level
  empty container or lock lives in ``cache.py``.
- Under thread contention no counter update is lost and a
  build-locked namespace builds each key once.
- Under concurrent queries the registry changes no result, builds a
  shared relation once however many queries miss it at the same time,
  and leaves nothing persisted once cleared.
"""

from __future__ import annotations

import ast
import pathlib
import sys
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from product_analytics_spark import cache
from product_analytics_spark.driver_queries import QUERIES
from tests.conftest import SF_SMALL
from tools.throughput import MIX

_PKG = pathlib.Path(cache.__file__).parent
_EMPTY_CALLS = {"set", "dict", "list", "OrderedDict", "Counter", "Lock", "RLock"}


def _is_empty_container_or_lock(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return name in _EMPTY_CALLS
    return False


def _module_level(body):
    """Statements that run at import: the module body and the blocks
    of its top-level if/try/with, not function or class bodies."""
    for stmt in body:
        yield stmt
        if isinstance(stmt, (ast.If, ast.Try, ast.With)):
            for block in ("body", "orelse", "finalbody"):
                yield from _module_level(getattr(stmt, block, []))
            for handler in getattr(stmt, "handlers", []):
                yield from _module_level(handler.body)


def test_no_module_level_memo_outside_cache_registry():
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        if path == _PKG / "cache.py":
            continue
        for stmt in _module_level(ast.parse(path.read_text()).body):
            if isinstance(stmt, (ast.Assign, ast.AnnAssign)) and stmt.value is not None:
                if _is_empty_container_or_lock(stmt.value):
                    found.append(f"{path.relative_to(_PKG)}:{stmt.lineno}")
    assert not found, f"module-level memo outside cache.py: {found}"


class _Session:
    class sparkContext:
        applicationId = "registry-stress"


def test_builds_and_counters_exact_under_thread_contention():
    """16 threads, 2000 lookups over 4 keys, a tiny switch interval: a
    build-locked namespace builds each key once, and no counter update
    is lost in either kind of namespace."""
    builds: Counter = Counter()
    lock = threading.Lock()

    def build(k):
        with lock:
            builds[k] += 1
        time.sleep(0.001)
        return k

    def lookups(namespace):
        with ThreadPoolExecutor(16) as pool:
            futures = [
                pool.submit(cache.memo, namespace, ("stress", i % 4),
                            lambda i=i: build(i % 4), spark=_Session)
                for i in range(2000)
            ]
            return [f.result(timeout=60) for f in futures]

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for ns in ("base_tables", "snapshots"):
            cache.stats(ns, reset=True)
            builds.clear()
            assert lookups(ns) == [i % 4 for i in range(2000)]
            st = cache.stats(ns)
            assert st.get("hits", 0) + st.get("misses", 0) == 2000, ns
            assert st["misses"] == sum(builds.values()), ns
            if ns == "base_tables":
                assert builds == {k: 1 for k in range(4)}
    finally:
        sys.setswitchinterval(prev)
        cache.clear("base_tables")
        cache.clear("snapshots")


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _rows(spark, key):
    return sorted((tuple(r) for r in QUERIES[key](spark, SF_SMALL).collect()), key=repr)


class TestConcurrentStress:
    # q56 and q277 miss the same _dup_clusters_shared entry at once;
    # q432 and q434 run DML certs on their own warehouses through the
    # snapshot and version-dir namespaces and the fused CDF reader.
    KEYS = (
        "q56_dup_clusters",
        "q277_dup_cluster_histogram",
        "q432_mor_merge_lifecycle",
        "q434_cdf_table_changes",
        *MIX,
    )

    def test_eight_threads_match_serial_and_release_everything(self, spark):
        cache.clear_all()
        cache.clear_shared()
        # ids, not a count: the context cleaner may release RDDs that
        # earlier tests left persisted while this one runs
        before = _persistent_ids(spark)

        serial = {k: _rows(spark, k) for k in self.KEYS}
        cache.clear_all()
        cache.clear_shared()
        for ns in ("shared", "snapshots", "version_dirs"):
            cache.stats(ns, reset=True)

        with ThreadPoolExecutor(8) as pool:
            futures = {k: pool.submit(_rows, spark, k) for k in self.KEYS}
            concurrent = {k: f.result() for k, f in futures.items()}

        for k in self.KEYS:
            assert concurrent[k] == serial[k], k
        shared = cache.stats("shared")
        assert shared.get("misses") == 1
        assert shared.get("hits", 0) >= 1
        assert [key for _scope, key in cache.keys("shared")] == [
            f"dup_clusters:{SF_SMALL}"
        ]
        for ns in ("snapshots", "version_dirs"):
            assert cache.stats(ns).get("misses", 0) > 0, ns

        cache.clear_all()
        cache.clear_shared()
        left = _persistent_ids(spark) - before
        assert not left, f"RDDs still persisted after clearing: {sorted(left)}"
