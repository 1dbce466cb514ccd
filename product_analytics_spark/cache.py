"""Session-scoped cache registry: the engine's one keyed store.

Every memo the engine keeps between calls lives here, keyed by
(scope, namespace, key). The scope is the live session's
applicationId for namespaces whose entries hold JVM objects (a
restarted session never sees a dead session's plan; a miss evicts
dead sessions' entries), and the process for pure-Python or on-disk
ones. Each namespace has one lock, an optional LRU bound, an explicit
clear and counters (``hits``/``misses``, named events) that
:func:`stats` reads. README.md "Caches" lists the namespaces.

``live`` holds what :func:`persist`, :func:`checkpoint` and
:func:`register_checkpoint` register, so a long-lived session that
sweeps many queries (bench.py, tools/check.py) releases them with
:func:`clear_all` between queries (the round-1 leak); it is never
looked up, so it needs no session scope. ``shared`` holds relations
several queries reuse and survives :func:`clear_all`. Its builds run
under the namespace lock: concurrent misses on one key build it once,
and a per-key latch raised ``analyst_mix`` op latency instead by
letting heavy builds overlap light queries. Bounded namespaces build
outside their lock, so a slow snapshot replay never stalls other
tables.
"""

from __future__ import annotations

import threading
from collections import Counter, OrderedDict
from functools import partial

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PROCESS = ""
_MISS = object()


class _Namespace:
    def __init__(self, per_session, bound=None, build_locked=False, drop=None):
        assert not (bound and build_locked)  # LRU hits take the lock
        self.per_session, self.bound, self.drop = per_session, bound, drop
        self.build_locked = build_locked
        self.lock = threading.Lock()
        self.entries: OrderedDict = OrderedDict()  # (scope, key) -> value
        self.counts: Counter = Counter()


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist(False)
    except Exception:  # noqa: BLE001 — session may already be gone
        pass


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint`` DataFrame (its
    RDD is persisted outside the SQL cache manager, so
    ``DataFrame.unpersist`` never reaches it). Only once nothing still
    reads it: its lineage is truncated, so a lost block is lost."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — session may already be gone
        pass


def _drop_shared(entry) -> None:
    df, checkpoints = entry
    for ckpt in checkpoints:
        release_checkpoint(ckpt)
    _unpersist(df)


_NAMESPACES = {
    "live": _Namespace(False, drop=lambda release: release()),
    "shared": _Namespace(True, build_locked=True, drop=_drop_shared),
    "base_tables": _Namespace(True, build_locked=True),
    "model_columns": _Namespace(True),
    "version_dirs": _Namespace(True, bound=256),
    "snapshots": _Namespace(False, bound=256),
    "retained": _Namespace(False, bound=256),
    "landed": _Namespace(False),
    "materialized": _Namespace(False),
}
#: guards the counters, so a hit never waits on a build
_COUNTS_LOCK = threading.Lock()
#: per-thread checkpoint owner while a :func:`persist_shared` build
#: runs: the shared relation's lineage ends in them, so they die with it
_BUILDING = threading.local()


def _current_app_id() -> str:
    """applicationId of the live session (thread-local active session
    first; the process default otherwise — getOrCreate never builds a
    new one while a default exists, e.g. in bench worker threads)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return spark.sparkContext.applicationId


def _get(ns: _Namespace, full, valid):
    value = ns.entries.get(full, _MISS)
    if value is _MISS or (valid is not None and not valid()):
        return _MISS
    if ns.bound:
        with ns.lock:
            if full in ns.entries:
                ns.entries.move_to_end(full)
    return value


def _drop(ns: _Namespace, full) -> None:
    value = ns.entries.pop(full)
    if ns.drop is not None:
        ns.drop(value)


def _put(ns: _Namespace, full, value) -> None:
    """Store an entry (caller holds ``ns.lock``), evicting dead
    sessions' entries and, past the bound, the least recently used."""
    if ns.per_session:
        for k in [k for k in ns.entries if k[0] != full[0]]:
            _drop(ns, k)
    ns.entries[full] = value
    ns.entries.move_to_end(full)
    while ns.bound and len(ns.entries) > ns.bound:
        _drop(ns, next(iter(ns.entries)))


def memo(namespace: str, key, build, *, spark=None, valid=None):
    """Return the entry for ``key``, storing ``build()`` on a miss.
    Session-scoped namespaces key it under ``spark``'s applicationId
    (the active session's when None). A hit whose ``valid()`` is False
    is a miss (an on-disk marker whose dir or table is gone)."""
    ns = _NAMESPACES[namespace]
    scope = _PROCESS
    if ns.per_session:
        scope = spark.sparkContext.applicationId if spark else _current_app_id()
    full = (scope, key)
    value = _get(ns, full, valid)
    hit = value is not _MISS
    if not hit and ns.build_locked:
        with ns.lock:
            value = _get(ns, full, valid)  # a racer may have built it
            hit = value is not _MISS
            if not hit:
                value = build()
                _put(ns, full, value)
    elif not hit:
        value = build()
        with ns.lock:
            _put(ns, full, value)
    count(namespace, "hits" if hit else "misses")
    return value


def carry(namespace: str, key, step):
    """Replace a process-scoped entry with ``step(entry)`` (``step(None)``
    when there is none) and return it: state a caller carries forward
    instead of rebuilding, like a table's retained version list from
    one log version to the next. ``step`` returns its argument itself
    when the entry is still current (a hit)."""
    ns = _NAMESPACES[namespace]
    full = (_PROCESS, key)
    prior = _get(ns, full, None)
    prior = None if prior is _MISS else prior
    value = step(prior)
    hit = prior is not None and value is prior
    if not hit:
        with ns.lock:
            _put(ns, full, value)
    count(namespace, "hits" if hit else "misses")
    return value


def count(namespace: str, event: str) -> None:
    with _COUNTS_LOCK:
        _NAMESPACES[namespace].counts[event] += 1


def stats(namespace: str, reset: bool = False) -> dict:
    """``namespace``'s counters since the last reset."""
    with _COUNTS_LOCK:
        out = dict(_NAMESPACES[namespace].counts)
        if reset:
            _NAMESPACES[namespace].counts.clear()
    return out


def keys(namespace: str) -> list:
    """(scope, key) of every entry of ``namespace``."""
    with _NAMESPACES[namespace].lock:
        return list(_NAMESPACES[namespace].entries)


def clear(namespace: str) -> int:
    """Drop and release every entry of ``namespace`` in every scope;
    returns how many."""
    ns = _NAMESPACES[namespace]
    with ns.lock:
        n = len(ns.entries)
        while ns.entries:
            _drop(ns, next(iter(ns.entries)))
    return n


def _register(release) -> None:
    with _NAMESPACES["live"].lock:
        _put(_NAMESPACES["live"], (_PROCESS, id(release)), release)


def persist(df: DataFrame) -> DataFrame:
    """Persist (memory-and-disk, spill-safe) and register for cleanup."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _register(partial(_unpersist, out))
    return out


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Register a ``localCheckpoint`` DataFrame an operator returns:
    released by :func:`clear_shared` when built inside a
    :func:`persist_shared` build, else by :func:`clear_all`."""
    owner = getattr(_BUILDING, "checkpoints", None)
    if owner is None:
        _register(partial(release_checkpoint, df))
    else:
        owner.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """``df`` built by one eager ``localCheckpoint`` job and registered
    (:func:`register_checkpoint`): for a relation that one query scans
    several times and the returned lazy DataFrame still reads. A
    lazily persisted relation becomes one table-cache job per scan
    under AQE, and those jobs all wait on the same blocks while
    holding executor slots."""
    return register_checkpoint(df.localCheckpoint(eager=True))


def clear_all() -> int:
    """Release every per-query relation and checkpoint; returns how many."""
    return clear("live")


def persist_shared(key: str, build) -> DataFrame:
    """Return the persisted relation for ``key`` in this session,
    building it with ``build()`` (a zero-arg callable) on first use."""

    def build_persisted():
        outer = getattr(_BUILDING, "checkpoints", None)
        _BUILDING.checkpoints = checkpoints = []
        try:
            return build().persist(StorageLevel.MEMORY_AND_DISK), checkpoints
        finally:
            _BUILDING.checkpoints = outer

    return memo("shared", key, build_persisted)[0]


def clear_shared() -> int:
    """Unpersist every shared relation; returns how many."""
    return clear("shared")
