"""Cache lifecycle registry.

Operators that self-join an expensive intermediate (MinHash signatures,
SimHash chunks, shingle relations) persist it so the join branches
share one computation pass. ``persist()`` here registers every such
relation so runners can release them: a long-lived SparkSession that
sweeps many queries (the driver's correctness sweep, bench.py,
tools/check.py) calls :func:`clear_all` between queries, instead of
accumulating cached relations in executor memory for the whole sweep
(the round-1 leak). At 100 TB the same intermediates would be written
to a signatures *table* and reused across runs — the registry is the
in-session analog of that lifecycle.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []

#: ``localCheckpoint`` results handed back by operators. Their RDD is
#: persisted outside the SQL cache manager, so ``DataFrame.unpersist``
#: never reaches it; :func:`release_checkpoint` unpersists it directly.
_LIVE_CHECKPOINTS: list[DataFrame] = []

#: Per-thread owner of checkpoints registered while a
#: :func:`persist_shared` build runs: the shared relation's lineage
#: ends in them, so they live (and die) with the shared entry rather
#: than with the per-query registry.
_BUILDING = threading.local()


def persist(df: DataFrame) -> DataFrame:
    """Persist (memory-and-disk, spill-safe) and register for cleanup."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(out)
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint`` DataFrame. Only
    once nothing still reads it: its lineage is truncated, so a lost
    block cannot be recomputed."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — session may already be gone
        pass


def register_checkpoint(df: DataFrame) -> DataFrame:
    """Register a ``localCheckpoint`` DataFrame an operator returns:
    released by :func:`clear_shared` when built inside a
    :func:`persist_shared` build, else by :func:`clear_all`."""
    owner = getattr(_BUILDING, "checkpoints", None)
    (_LIVE_CHECKPOINTS if owner is None else owner).append(df)
    return df


def clear_all() -> int:
    """Unpersist every registered relation; returns how many."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(False)
            n += 1
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    while _LIVE_CHECKPOINTS:
        release_checkpoint(_LIVE_CHECKPOINTS.pop())
        n += 1
    return n


# --- Cross-query shared relations -----------------------------------
#
# Some intermediates are shared by SEVERAL queries in a sweep (the
# co-purchase edge list feeds both the triangle counts and the BFS).
# At 100 TB those are materialized tables built once per ingest and
# read by every consumer; the in-session analog is a keyed memo that
# SURVIVES clear_all() and is only dropped by clear_shared(). Entries
# are keyed internally by (applicationId, key) — callers pass a plain
# name+sf_dir key and can never hand one session a plan cached under a
# previous, stopped session; entries from dead sessions are pruned on
# the next miss (round-6 verdict: the appId discipline was caller
# convention before, and nothing ever evicted dead-session entries).

_SHARED: dict[tuple[str, str], DataFrame] = {}
#: checkpoints registered by each shared entry's build
_SHARED_CHECKPOINTS: dict[tuple[str, str], list[DataFrame]] = {}
#: bench.py drives QUERIES through 8 worker threads; the miss path
#: (stale-entry eviction + build + insert) must be serialized or two
#: concurrent misses pop the same stale key (KeyError) and double-build
#: the same relation (two persisted copies, one leaked).
_SHARED_LOCK = threading.Lock()


def _current_app_id() -> str:
    """applicationId of the live session (thread-local active session
    first; the process default otherwise — getOrCreate never builds a
    new one while a default exists, e.g. in bench worker threads)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return spark.sparkContext.applicationId


def persist_shared(key: str, build) -> DataFrame:
    """Return the memoized persisted relation for ``key``, building it
    with ``build()`` (a zero-arg callable) on first use. Keys are
    scoped to the live session's applicationId internally; a miss also
    evicts (best-effort unpersists) entries left by stopped sessions."""
    app_id = _current_app_id()
    full = (app_id, key)
    df = _SHARED.get(full)
    if df is None:
        with _SHARED_LOCK:
            df = _SHARED.get(full)  # double-checked: a racer may have built
            if df is None:
                for stale_key in [k for k in _SHARED if k[0] != app_id]:
                    _drop_shared(stale_key)
                outer = getattr(_BUILDING, "checkpoints", None)
                _BUILDING.checkpoints = checkpoints = []
                try:
                    df = build().persist(StorageLevel.MEMORY_AND_DISK)
                finally:
                    _BUILDING.checkpoints = outer
                _SHARED[full] = df
                _SHARED_CHECKPOINTS[full] = checkpoints
    return df


def _drop_shared(key: tuple[str, str]) -> bool:
    """Unpersist one shared entry and its build's checkpoints (caller
    holds ``_SHARED_LOCK``); returns whether the entry existed."""
    for ckpt in _SHARED_CHECKPOINTS.pop(key, ()):
        release_checkpoint(ckpt)
    df = _SHARED.pop(key, None)
    if df is None:
        return False
    try:
        df.unpersist(False)
    except Exception:  # noqa: BLE001 — session may already be gone
        pass
    return True


def clear_shared() -> int:
    """Unpersist every shared relation; returns how many."""
    with _SHARED_LOCK:
        return sum(_drop_shared(k) for k in list(_SHARED))
