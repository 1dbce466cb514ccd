"""Pure-Python Delta Lake transaction log (``_delta_log``) — writer,
reader, and stats-based scan planner.

The reference materializes every model as a Delta table
(``dbt_project.yml:39`` ``+file_format: delta``; ``orders_cleaned.sql``
post-hook ``OPTIMIZE``). delta-spark is not installable in this
container, but the transaction-log format itself is a PUBLIC protocol
(delta.io PROTOCOL.md): a table is a directory of parquet data files
plus ``_delta_log/`` holding one newline-delimited-JSON *commit* per
version (zero-padded 20-digit filenames), each a list of actions:

  {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
  {"metaData": {"id": ..., "format": {"provider": "parquet", ...},
                "schemaString": <Spark schema JSON>,
                "partitionColumns": [...], "configuration": {}, ...}}
  {"add":    {"path": ..., "partitionValues": {...}, "size": ...,
              "modificationTime": ..., "dataChange": true,
              "stats": "{\"numRecords\":N,\"minValues\":{...},
                         \"maxValues\":{...},\"nullCount\":{...}}"}}
  {"remove": {"path": ..., "deletionTimestamp": ..., "dataChange": true}}
  {"commitInfo": {...}}                     (informational)

plus optional parquet *checkpoints* (``NNN.checkpoint.parquet`` +
``_last_checkpoint``) so readers replay a bounded JSON tail.

This module implements that protocol in pure Python:

* **Commit = putIfAbsent.** The version-N JSON file is created by
  writing a temp file and hard-linking it to the final name —
  ``os.link`` fails with EEXIST if version N already exists, which is
  the local-FS analog of the object-store putIfAbsent Delta's LogStore
  contract requires: two racing writers of the same version conflict
  deterministically, and readers can never observe a partial commit
  (the link appears with its full content or not at all).

* **Stats at write time, planning from the log.** ``add.stats``
  carries per-file numRecords / minValues / maxValues / nullCount,
  collected from the parquet footer ONCE when the file is committed.
  Scan planning (``DeltaSnapshot.plan_files``) then prunes files from
  the log alone — zero parquet footer opens at read time. At 100 TB
  this is the difference between a metadata lookup and a
  million-file footer storm: Delta, Iceberg and Hudi all plan from
  log/manifest stats for exactly this reason.

* **Snapshot reconstruction.** Replay: latest checkpoint (if any),
  then JSON commits in version order; ``add`` inserts into the live
  set keyed by path, ``remove`` deletes. Time travel = replay to an
  older version (valid while the data files are retained — after GC/
  VACUUM old versions are unreadable, same as Delta).

Cross-engine conformance: the q421/q423 driver certs parse the SAME
log with DuckDB's ``read_json_auto`` as an independent oracle, and
``tests/test_delta_log.py`` asserts planner decisions involve no file
opens.
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from pathlib import PurePath

from product_analytics_spark import cache

LOG_DIR = "_delta_log"
#: sidecar shard directory of v2 checkpoints, relative to the log dir
#: (Delta PROTOCOL.md "V2 spec checkpoints": `_delta_log/_sidecars/`)
SIDECAR_DIR = "_sidecars"
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
#: classic multi-part checkpoint: <v>.checkpoint.<part>.<of>.parquet
_CHECKPOINT_MP_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
)
#: v2 checkpoint manifest: <v>.checkpoint.<uniqueStr>.parquet (the
#: unique string is a uuid hex — disambiguated from the multi-part
#: form, whose middle segments are exactly 10 digits)
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-f]{16,})\.parquet$"
)
#: v2 manifest in JSON form — the protocol allows either format for
#: the MANIFEST (sidecar shards are always parquet). Distinct from a
#: commit file by the ``.checkpoint.<uuid>`` infix.
_CHECKPOINT_V2_JSON_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-f]{16,})\.json$"
)

#: Fixed timestamp written into protocol-required *Time fields.
#: The engine's certs compare log CONTENT cross-engine; wall-clock
#: would make commits non-reproducible (and Date.now-style calls are
#: banned in the driver harness). Real writers put wall-clock here;
#: nothing in the protocol reads these fields for correctness.
_FIXED_TIME_MS = 0


class DeltaProtocolError(RuntimeError):
    """The log on disk violates the protocol (gap in versions, missing
    metaData, unparseable commit)."""


class DeltaConflictError(RuntimeError):
    """putIfAbsent lost: the target commit version already exists.
    The writer must re-read the snapshot and retry at the new version
    — the same commit-retry loop ConcurrentWriteError drives for the
    pointer store."""


class MetadataChangedError(DeltaConflictError):
    """A winning commit changed the table's metadata (schema,
    properties, partitioning) under this transaction — never safe to
    rebase; the whole operation must re-plan against the new
    metadata (Delta's MetadataChangedException)."""


class ProtocolChangedError(DeltaConflictError):
    """A winning commit upgraded/downgraded the protocol under this
    transaction (Delta's ProtocolChangedException)."""


class ConcurrentAppendError(DeltaConflictError):
    """A winning commit ADDED files this transaction's reads would
    have seen — its outputs may be stale (Delta's
    ConcurrentAppendException). Blind appends never raise this."""


class ConcurrentDeleteReadError(DeltaConflictError):
    """A winning commit REMOVED a file this transaction read
    (Delta's ConcurrentDeleteReadException)."""


class ConcurrentDeleteDeleteError(DeltaConflictError):
    """A winning commit REMOVED a file this transaction also removes
    — double-delete (Delta's ConcurrentDeleteDeleteException)."""


# ------------------------------------------------------------------
# JSON-safe stats values
# ------------------------------------------------------------------


def _stats_value(v):
    """Parquet-footer stat -> JSON-safe value. Timestamps/dates/
    decimals/bytes go to strings (ISO-8601 / repr), matching how Delta
    serializes non-JSON-native types in ``add.stats``."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None  # binary stats are not comparable — drop
    return None


def _coerce_like(raw, template):
    """Parse a JSON-stored stat back to the LITERAL's type so pruning
    compares like with like. Unknown combinations return None (caller
    keeps the file — pruning must stay conservative)."""
    if raw is None:
        return None
    t = type(template)
    try:
        if t is bool:
            return bool(raw)
        if t is int:
            return int(raw) if not isinstance(raw, str) else int(float(raw))
        if t is float:
            return float(raw)
        if t is Decimal:
            return Decimal(str(raw))
        if t is datetime:
            return datetime.fromisoformat(str(raw))
        if t is date:
            return date.fromisoformat(str(raw)[:10])
        if t is str:
            return str(raw)
    except (ValueError, TypeError):
        return None
    return None


def file_stats(path: str) -> dict:
    """Per-file stats from ONE parquet footer read — called at WRITE/
    commit time only (see module doc). Aggregates row-group stats;
    columns without usable stats are simply absent from min/max
    (planner keeps the file). Parquet writers may truncate long binary
    min/max but guarantee they remain valid bounds, so pruning on them
    stays sound."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    names: set[str] = set()
    # A column's file-level min/max is sound only if EVERY row group
    # carries usable stats for it — one statless row group could hold
    # values outside the others' range, so it invalidates the column.
    bad_minmax: set[str] = set()
    bad_null: set[str] = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaves: skip (Delta skips too)
                continue
            names.add(name)
            st = col.statistics
            if st is None or not st.has_null_count:
                bad_null.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if st is None or not st.has_min_max:
                bad_minmax.add(name)
                continue
            lo, hi = _stats_value(st.min), _stats_value(st.max)
            if lo is None or hi is None:
                bad_minmax.add(name)
                continue
            try:
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi
            except TypeError:  # mixed stat types across row groups
                bad_minmax.add(name)
    ok = sorted(names - bad_minmax)
    return {
        "numRecords": md.num_rows,
        "minValues": {k: mins[k] for k in ok if k in mins},
        "maxValues": {k: maxs[k] for k in ok if k in maxs},
        "nullCount": {k: nulls[k] for k in sorted(names - bad_null)},
    }


def resolve_path(table_dir: str, p: str) -> str:
    """Resolve an action's ``path`` to a filesystem path. Per the
    protocol, ``add.path`` is either a path RELATIVE to the table
    root or an ABSOLUTE URI — shallow clones use the absolute form to
    reference the source table's files without copying them."""
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(p).path)
    return os.path.join(table_dir, p)  # absolute p wins the join


def _partition_values(rel_path: str) -> dict[str, str]:
    """Hive ``col=value`` segments of a path, as Delta partitionValues."""
    out: dict[str, str] = {}
    for seg in rel_path.split("/")[:-1]:
        col, eq, val = seg.partition("=")
        if eq:
            out[col] = val
    return out


def make_add(table_dir: str, abs_path: str, with_stats: bool = True) -> dict:
    """Build an ``add`` action for one data file under ``table_dir``."""
    rel = os.path.relpath(abs_path, table_dir).replace(os.sep, "/")
    add = {
        "path": rel,
        "partitionValues": _partition_values(rel),
        "size": os.path.getsize(abs_path),
        "modificationTime": _FIXED_TIME_MS,
        "dataChange": True,
    }
    if with_stats:
        add["stats"] = json.dumps(
            file_stats(abs_path), separators=(",", ":"), sort_keys=True
        )
    return add


def make_remove(rel_path: str) -> dict:
    return {
        "path": rel_path,
        "deletionTimestamp": _FIXED_TIME_MS,
        "dataChange": True,
    }


def make_metadata(
    schema_string: str,
    partition_columns: list[str] | tuple[str, ...] = (),
    table_id: str | None = None,
) -> dict:
    return {
        "id": table_id or str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_string,
        "partitionColumns": list(partition_columns),
        "configuration": {},
        "createdTime": _FIXED_TIME_MS,
    }


PROTOCOL_ACTION = {"minReaderVersion": 1, "minWriterVersion": 2}

#: Append-only tables (Delta PROTOCOL.md "Append-only Tables"):
#: activated by this table property; the feature itself is legacy
#: writer version 2 (every protocol-v2 writer must ENFORCE it).
APPEND_ONLY_PROP = "delta.appendOnly"

#: Time-based retention horizons (delta.io table properties): a
#: tombstoned data file survives VACUUM until
#: ``deletedFileRetentionDuration`` has passed since its remove
#: action's ``deletionTimestamp`` (default 7 days) — which is what
#: keeps time travel working inside the window; log commits survive
#: ``cleanup_log`` until ``logRetentionDuration`` has passed since
#: their in-commit timestamp (default 30 days).
DELETED_FILE_RETENTION_PROP = "delta.deletedFileRetentionDuration"
LOG_RETENTION_PROP = "delta.logRetentionDuration"
#: SetTransaction expiry horizon (delta.io): txn entries whose
#: lastUpdated lapsed may be dropped AT CHECKPOINT TIME. Default:
#: keep forever (no property).
SET_TXN_RETENTION_PROP = "delta.setTransactionRetentionDuration"

#: Coordinated-commits DECLARATION (Delta 4.x
#: ``coordinatedCommits-preview``): the table's metadata NAMES its
#: commit coordinator, so a writer that doesn't route commits
#: through that coordinator can discover it must refuse — without
#: this, the q456/q463 owner seam is a convention (every writer must
#: simply KNOW to use the registry) and one coordinator-unaware
#: writer doing filesystem putIfAbsent forks the history the
#: coordinator thinks it owns.
COMMIT_COORDINATOR_PROP = (
    "delta.coordinatedCommits.commitCoordinator-preview"
)
COMMIT_COORDINATOR_CONF_PROP = (
    "delta.coordinatedCommits.commitCoordinatorConf-preview"
)
COORDINATED_COMMITS_FEATURE = "coordinatedCommits-preview"
DEFAULT_DELETED_FILE_RETENTION_MS = 7 * 24 * 3600 * 1000
DEFAULT_LOG_RETENTION_MS = 30 * 24 * 3600 * 1000

_INTERVAL_UNIT_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 7 * 86_400_000,
}


def parse_interval_ms(raw: str | None, default_ms: int) -> int:
    """Parse Delta's retention-property format — ``interval <n>
    <unit>`` (units week/day/hour/minute/second/millisecond, plural
    accepted) — into milliseconds; ``default_ms`` on absent/blank.
    Malformed values raise rather than silently defaulting: a typo'd
    retention that quietly became 7 days would vacuum files the user
    asked to keep."""
    if raw is None or not str(raw).strip():
        return default_ms
    parts = str(raw).strip().lower().split()
    if len(parts) == 3 and parts[0] == "interval":
        n, unit = parts[1], parts[2].rstrip("s")
        if unit in _INTERVAL_UNIT_MS:
            try:
                return int(n) * _INTERVAL_UNIT_MS[unit]
            except ValueError:
                pass
    raise DeltaProtocolError(
        f"unparseable retention interval {raw!r} (expected "
        "'interval <n> <week|day|hour|minute|second|millisecond>s')"
    )

#: Column invariants (Delta PROTOCOL.md "Column Invariants"): SQL
#: rules stored in the schema's per-field metadata under this key;
#: legacy writer version 2. Unlike CHECK constraints, NULL violates.
INVARIANTS_META_KEY = "delta.invariants"


def walk_schema_fields(fields: list, prefix: str = ""):
    """Yield ``(dotted path, field dict)`` for every field in a
    Delta schema JSON, descending struct types — nested fields carry
    their own metadata (Delta persists nested-column invariants on
    the INNER field), so anything reading field metadata must walk,
    not just scan the top level."""
    for f in fields:
        name = prefix + f["name"]
        yield name, f
        t = f.get("type")
        if isinstance(t, dict) and t.get("type") == "struct":
            yield from walk_schema_fields(
                t.get("fields", []), name + "."
            )


def schema_field_at(schema: dict, path: str) -> dict | None:
    """The field dict at a (possibly dotted) ``path`` in a Delta
    schema JSON, or None when absent. Mutating the returned dict
    mutates the schema — how callers attach nested field metadata."""
    for name, f in walk_schema_fields(schema.get("fields", [])):
        if name == path:
            return f
    return None

#: Table-features protocol required once any add carries a
#: ``deletionVector`` descriptor (Delta PROTOCOL.md: DVs are a
#: reader+writer table feature on protocol 3/7).
PROTOCOL_DV_ACTION = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}

#: Row tracking (Delta PROTOCOL.md "Row Tracking"): the domain that
#: carries the row-id high-water mark, and the materialized column
#: names rewrites use to PRESERVE ids (fresh ids are virtual:
#: ``baseRowId + row_index``).
ROW_TRACKING_DOMAIN = "delta.rowTracking"
MATERIALIZED_ROW_ID_COL = "_pa_row_id_m"
MATERIALIZED_ROW_COMMIT_COL = "_pa_row_commit_m"


def _snap_copy(s: "DeltaSnapshot") -> "DeltaSnapshot":
    """Copy a cached snapshot for a caller. The inner add/domain
    dicts are copied ONE LEVEL too (round-11 verdict hardening): a
    caller doing ``add["stats"] = ...`` in place can no longer poison
    the snapshot cache — previously that discipline was
    convention-only (every mutation site copied first, but one slip
    would corrupt every later reader silently). Nested containers
    (partitionValues, deletionVector) stay shared — copying them
    would double the per-read cost at millions of files; the
    mutation-canary pytest (tests/test_snapshot_cache.py) pins that
    no code path mutates those in place."""
    return DeltaSnapshot(
        version=s.version,
        protocol=dict(s.protocol) if s.protocol else dict(),
        metadata=dict(s.metadata) if s.metadata else dict(),
        files={k: dict(v) for k, v in s.files.items()},
        domains={k: dict(v) for k, v in s.domains.items()},
        transactions=dict(s.transactions),
        txn_updated=dict(s.txn_updated),
    )


def clear_snapshot_cache() -> None:
    """Drop every memoized snapshot — the 'fresh reader' switch for
    fault-injection tests (a cached snapshot legitimately survives
    out-of-band file corruption, exactly like real Delta's snapshot
    cache; clearing simulates a new process discovering the log)."""
    cache.clear("snapshots")


def snapshot_cache_stats(reset: bool = False) -> dict:
    """Test/diagnostic hook: cumulative snapshot-cache hits/misses
    (a miss = one full checkpoint+tail reconstruction from disk)."""
    st = cache.stats("snapshots", reset)
    return {"hits": st.get("hits", 0), "misses": st.get("misses", 0)}


def merge_protocol(prev: dict, need: dict) -> dict:
    """Merge a required protocol into an existing one WITHOUT
    clobbering previously-declared table features: versions take the
    max, feature lists union (a protocol upgrade in Delta is always
    monotone — dropping a feature needs an explicit downgrade
    procedure, not a commit that forgets it)."""
    out = {
        "minReaderVersion": max(
            prev.get("minReaderVersion", 1), need.get("minReaderVersion", 1)
        ),
        "minWriterVersion": max(
            prev.get("minWriterVersion", 2), need.get("minWriterVersion", 2)
        ),
    }
    for side in ("readerFeatures", "writerFeatures"):
        feats = list(
            dict.fromkeys(
                (prev.get(side) or []) + (need.get(side) or [])
            )
        )
        if feats:
            out[side] = feats
    return out


# ------------------------------------------------------------------
# Snapshot
# ------------------------------------------------------------------


@dataclass
class DeltaSnapshot:
    """The reconstructed state of a Delta table at one version: the
    live file set (path -> add action) plus table metadata."""

    version: int
    protocol: dict = field(default_factory=dict)
    metadata: dict = field(default_factory=dict)
    files: dict[str, dict] = field(default_factory=dict)
    #: domainMetadata actions by domain (Delta's domainMetadata
    #: writer feature) — e.g. ``delta.rowTracking`` carries the
    #: row-id high-water mark. ``removed: true`` deletes the domain.
    domains: dict[str, dict] = field(default_factory=dict)
    #: SetTransaction state (Delta PROTOCOL.md "Transaction
    #: Identifiers"): appId -> latest recorded transaction version —
    #: the idempotent-writer protocol streaming sinks use to make a
    #: retried micro-batch a no-op. Folded from ``txn`` actions and
    #: persisted through every checkpoint form.
    transactions: dict[str, int] = field(default_factory=dict)
    #: appId -> the txn action's ``lastUpdated`` stamp — what
    #: ``delta.setTransactionRetentionDuration`` expires against at
    #: checkpoint time.
    txn_updated: dict[str, int] = field(default_factory=dict)

    def row_id_high_water_mark(self) -> int:
        """The row-tracking high-water mark from the
        ``delta.rowTracking`` domain (-1 when absent — no row ids
        allocated yet)."""
        dm = self.domains.get(ROW_TRACKING_DOMAIN)
        if not dm:
            return -1
        try:
            return int(
                json.loads(dm.get("configuration") or "{}").get(
                    "rowIdHighWaterMark", -1
                )
            )
        except (ValueError, TypeError):
            return -1

    def row_tracking_enabled(self) -> bool:
        conf = (self.metadata or {}).get("configuration") or {}
        return conf.get("delta.enableRowTracking") == "true"

    def append_only(self) -> bool:
        """``delta.appendOnly = true`` (Delta PROTOCOL.md
        "Append-only Tables", the legacy writer-version-2 /
        ``appendOnly`` table feature): when active, writers must not
        commit ``remove`` actions with ``dataChange = true`` —
        DELETE/UPDATE/MERGE/overwrite/RESTORE are refused; appends
        and rearrange-only commits (OPTIMIZE, ``dataChange: false``)
        still land."""
        conf = (self.metadata or {}).get("configuration") or {}
        return conf.get(APPEND_ONLY_PROP) == "true"

    def invariants(self) -> dict[str, str]:
        """Column invariants from the schema's field metadata
        (``delta.invariants``, Delta PROTOCOL.md "Column Invariants"
        — the legacy writer-version-2 / ``invariants`` table
        feature): column -> SQL expression every written row must
        satisfy. NESTED struct fields carry their own metadata
        (Delta persists a nested-column invariant on the inner
        field), so keys are dotted paths (``addr.zip``). Accepts
        both the spec's persisted-rule JSON form
        ``{"expression": {"expression": "<sql>"}}`` and a plain SQL
        string. Unlike CHECK constraints, a NULL result VIOLATES an
        invariant (delta-spark's CheckDeltaInvariant throws on null
        or false)."""
        schema_str = (self.metadata or {}).get("schemaString")
        if not schema_str:
            return {}
        out: dict[str, str] = {}
        for name, f in walk_schema_fields(
            json.loads(schema_str).get("fields", [])
        ):
            raw = (f.get("metadata") or {}).get(INVARIANTS_META_KEY)
            if not raw:
                continue
            expr = raw
            if isinstance(raw, str) and raw.lstrip().startswith("{"):
                try:
                    expr = json.loads(raw)["expression"]["expression"]
                except (ValueError, KeyError, TypeError):
                    expr = raw
            out[name] = expr
        return out

    def clustering_columns(self) -> list[str]:
        """Liquid-clustering columns from the ``delta.clustering``
        domain (empty when the table is not clustered)."""
        dm = self.domains.get(CLUSTERING_DOMAIN)
        if not dm:
            return []
        try:
            cols = json.loads(dm.get("configuration") or "{}").get(
                "clusteringColumns"
            ) or []
            return [c[0] if isinstance(c, list) else c for c in cols]
        except (ValueError, TypeError, IndexError):
            return []

    def num_records(self) -> int | None:
        """LIVE rows from log stats alone (None if any file lacks
        stats) — Delta's ``SELECT count(*)`` metadata-only fast path.
        Files carrying a ``deletionVector`` descriptor contribute
        their physical numRecords minus the DV's cardinality."""
        total = 0
        for add in self.files.values():
            s = add.get("stats")
            if not s:
                return None
            total += json.loads(s)["numRecords"]
            dvd = add.get("deletionVector")
            if dvd:
                total -= dvd["cardinality"]
        return total

    def column_mapping(self) -> dict[str, str]:
        """Logical name -> PHYSICAL name when column mapping is
        enabled (``delta.columnMapping.mode`` name/id), else empty.
        Physical names are what the data files and ``add.stats``
        carry; logical names are what users query — a rename flips
        only the logical side, zero files rewritten."""
        conf = (self.metadata or {}).get("configuration") or {}
        if conf.get("delta.columnMapping.mode") not in ("name", "id"):
            return {}
        schema = json.loads(self.metadata["schemaString"])
        return {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            for f in schema["fields"]
        }

    def column_mapping_ids(self) -> dict[str, int]:
        """Logical name -> stable ``delta.columnMapping.id`` when
        column mapping is enabled, else empty. Under ``id`` mode the
        data files carry these as parquet FIELD IDS and readers
        resolve columns by id — the Iceberg-compat half of the spec:
        the parquet column NAME becomes irrelevant, only the id
        binds."""
        conf = (self.metadata or {}).get("configuration") or {}
        if conf.get("delta.columnMapping.mode") not in ("name", "id"):
            return {}
        schema = json.loads(self.metadata["schemaString"])
        out: dict[str, int] = {}
        for f in schema["fields"]:
            cid = (f.get("metadata") or {}).get("delta.columnMapping.id")
            if cid is not None:
                out[f["name"]] = int(cid)
        return out

    def dv_positions(self, table_dir: str) -> list[tuple[str, int]]:
        """Decode every live file's deletion vector into (relative
        path, row_index) pairs — the reader-side tombstone set. Cost
        is O(total DV cardinality), independent of table size."""
        from product_analytics_spark.sources import deletion_vectors as dvs

        out: list[tuple[str, int]] = []
        for path in sorted(self.files):
            dvd = self.files[path].get("deletionVector")
            if dvd:
                out.extend((path, ri) for ri in dvs.read_dv(table_dir, dvd))
        return out

    # ---------------------------------------------- data skipping

    @staticmethod
    def _file_overlaps(add: dict, col: str, op: str, lit) -> bool:
        """True iff the file MAY contain a row satisfying
        ``col <op> lit``, judged from log stats / partition values
        only. Conservative: missing information keeps the file."""
        template = lit[0] if op == "between" else lit
        pv = add.get("partitionValues") or {}
        if col in pv:
            v = _coerce_like(pv[col], template)
            if v is None:
                return True
            lo = hi = v
        else:
            s = add.get("stats")
            if not s:
                return True
            stats = json.loads(s)
            n = stats.get("numRecords")
            nulls = (stats.get("nullCount") or {}).get(col)
            if n is not None and nulls is not None and nulls == n:
                return False  # all-null column can satisfy no comparison
            lo = _coerce_like((stats.get("minValues") or {}).get(col), template)
            hi = _coerce_like((stats.get("maxValues") or {}).get(col), template)
            if lo is None or hi is None:
                return True
        try:
            if op == "=":
                return lo <= lit <= hi
            if op == "<":
                return lo < lit
            if op == "<=":
                return lo <= lit
            if op == ">":
                return hi > lit
            if op == ">=":
                return hi >= lit
            if op == "between":  # lit = (lo_lit, hi_lit) inclusive
                a, b = lit
                return lo <= b and hi >= a
        except TypeError:
            return True
        return True  # unknown op: never prune on it

    def generated_partition_sources(
        self,
    ) -> dict[str, tuple[str, str, object]]:
        """Partition columns whose ``delta.generationExpression`` is a
        recognized function of one data column: partition col ->
        (source col, kind, arg). Kinds: ``date`` (CAST AS DATE /
        to_date), ``year``/``month``/``day``, ``trunc_day`` /
        ``trunc_month`` / ``trunc_year`` (date_trunc), ``prefix``
        (substring(c,1,n) / left(c,n)). ``date``/``year``/``trunc_*``
        / ``prefix`` are MONOTONE non-decreasing in the source —
        usable for range predicates; ``month``/``day`` wrap and are
        equality-only."""
        schema_str = (self.metadata or {}).get("schemaString")
        part_cols = set(self.metadata.get("partitionColumns") or [])
        if not schema_str or not part_cols:
            return {}
        out: dict[str, tuple[str, str, object]] = {}
        pats = (
            (r"^cast\s*\(\s*(\w+)\s+as\s+date\s*\)$", "date", None),
            (r"^to_date\s*\(\s*(\w+)\s*\)$", "date", None),
            (r"^year\s*\(\s*(\w+)\s*\)$", "year", None),
            (r"^month\s*\(\s*(\w+)\s*\)$", "month", None),
            (r"^day\s*\(\s*(\w+)\s*\)$", "day", None),
            (r"^date_trunc\s*\(\s*'(day|month|year)'\s*,\s*(\w+)\s*\)$",
             "trunc", None),
            (r"^substring\s*\(\s*(\w+)\s*,\s*1\s*,\s*(\d+)\s*\)$",
             "prefix", None),
            (r"^left\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)$", "prefix", None),
        )
        for f in json.loads(schema_str).get("fields", []):
            if f["name"] not in part_cols:
                continue
            expr = (f.get("metadata") or {}).get(
                "delta.generationExpression"
            )
            if not expr:
                continue
            e = str(expr).strip().lower()
            for pat, kind, _ in pats:
                mm = re.match(pat, e)
                if not mm:
                    continue
                if kind == "trunc":
                    out[f["name"]] = (
                        mm.group(2), f"trunc_{mm.group(1)}", None
                    )
                elif kind == "prefix":
                    out[f["name"]] = (
                        mm.group(1), "prefix", int(mm.group(2))
                    )
                else:
                    out[f["name"]] = (mm.group(1), kind, None)
                break
        return out

    @staticmethod
    def _gen_apply(kind: str, arg, v):
        """Evaluate the generation function on a predicate LITERAL
        (driver-side, literals only). None = not computable — the
        caller derives nothing, pruning stays conservative."""
        try:
            if kind == "prefix":
                return str(v)[: int(arg)]
            if isinstance(v, str):
                d = datetime.fromisoformat(v[:19]) if len(v) > 10 \
                    else datetime.fromisoformat(v[:10])
            elif isinstance(v, datetime):
                d = v
            elif isinstance(v, date):
                d = datetime(v.year, v.month, v.day)
            else:
                return None
            if kind == "date":
                return d.date()
            if kind == "year":
                return d.year
            if kind == "month":
                return d.month
            if kind == "day":
                return d.day
            if kind == "trunc_day":
                return datetime(d.year, d.month, d.day)
            if kind == "trunc_month":
                return datetime(d.year, d.month, 1)
            if kind == "trunc_year":
                return datetime(d.year, 1, 1)
        except (ValueError, TypeError):
            return None
        return None

    #: generation kinds that are monotone non-decreasing in the
    #: source column — safe for range-predicate derivation
    _GEN_MONOTONE = frozenset(
        {"date", "year", "trunc_day", "trunc_month", "trunc_year",
         "prefix"}
    )

    def derived_partition_conjuncts(
        self, conjuncts: list[tuple[str, str, object]]
    ) -> list[tuple[str, str, object]]:
        """**Generated-column partition pruning** (delta.io "use
        generated columns for partition pruning"): a predicate on a
        DATA column implies a predicate on any PARTITION column
        generated from it — ``WHERE ts >= X`` on a table partitioned
        by ``day = CAST(ts AS DATE)`` prunes to the matching date
        directories with no user-written partition filter. Monotone
        generations derive range conjuncts (strict ops conservatively
        weaken to inclusive — f(c) > f(v) would over-prune the
        boundary partition); wrapping ones (month/day) derive
        equality only."""
        gens = self.generated_partition_sources()
        if not gens:
            return []
        by_src: dict[str, list[tuple[str, str, object]]] = {}
        for p, (src, kind, arg) in gens.items():
            by_src.setdefault(src, []).append((p, kind, arg))
        derived: list[tuple[str, str, object]] = []
        for c, op, lit in conjuncts:
            for p, kind, arg in by_src.get(c, ()):
                mono = kind in self._GEN_MONOTONE
                if op == "=":
                    pv = self._gen_apply(kind, arg, lit)
                    if pv is not None:
                        derived.append((p, "=", pv))
                elif not mono:
                    continue
                elif op in (">", ">="):
                    pv = self._gen_apply(kind, arg, lit)
                    if pv is not None:
                        derived.append((p, ">=", pv))
                elif op in ("<", "<="):
                    pv = self._gen_apply(kind, arg, lit)
                    if pv is not None:
                        derived.append((p, "<=", pv))
                elif op == "between":
                    a = self._gen_apply(kind, arg, lit[0])
                    b = self._gen_apply(kind, arg, lit[1])
                    if a is not None and b is not None:
                        derived.append((p, "between", (a, b)))
        return derived

    def plan_files(
        self, conjuncts: list[tuple[str, str, object]] | None = None
    ) -> list[str]:
        """Relative paths of live files that may satisfy ALL conjuncts
        — the data-skipping scan plan, computed from the log with zero
        parquet footer opens. ``conjuncts``: (column, op, literal)
        with op in =, <, <=, >, >=, between. Columns are LOGICAL
        names; under column mapping they are translated to the
        physical names the stats are keyed by. Predicates on a data
        column additionally prune through partition columns GENERATED
        from it (``derived_partition_conjuncts``) — Delta's
        generated-column partition pruning."""
        m = self.column_mapping()
        conj = list(conjuncts or [])
        conj += self.derived_partition_conjuncts(conj)
        out = []
        for path in sorted(self.files):
            add = self.files[path]
            if all(
                self._file_overlaps(add, m.get(c, c), op, lit)
                for (c, op, lit) in conj
            ):
                out.append(path)
        return out


# ------------------------------------------------------------------
# The log
# ------------------------------------------------------------------


class CommitOwner:
    """The **coordinated-commits seam** (Delta 4.x "commit
    coordinator"): every commit reduces to one putIfAbsent of the
    fully-written commit payload at ``<version>.json``. Who provides
    the atomicity is pluggable — a POSIX filesystem gives it via
    hardlinks, an object store without putIfAbsent needs a catalog /
    registry to own the table's commits. Implementations must raise
    :class:`DeltaConflictError` when the version is already taken and
    must never let readers observe partial content.

    ``coordinator_name`` is the owner's identity for the table-level
    coordinator DECLARATION (``COMMIT_COORDINATOR_PROP``): when a
    table's metadata names a coordinator, ``DeltaLog.commit`` refuses
    any owner whose name doesn't match — the mechanism that turns
    "every writer must know to use the registry" from convention into
    protocol."""

    coordinator_name: str | None = None

    def __init__(self, coordinator_name: str | None = None):
        self.coordinator_name = coordinator_name

    def put_if_absent(
        self, log_dir: str, version: int, payload: str
    ) -> None:
        raise NotImplementedError


class FileSystemCommitOwner(CommitOwner):
    """Hardlink putIfAbsent — the single-filesystem default. The
    payload is written to a temp file and ``os.link``ed to the final
    name: EEXIST is the conflict signal, and the name only ever
    appears fully written."""

    def put_if_absent(
        self, log_dir: str, version: int, payload: str
    ) -> None:
        target = os.path.join(log_dir, f"{version:020d}.json")
        if os.path.isdir(os.path.join(log_dir, STAGED_DIR)) and (
            version in _staged_ratified(log_dir)
        ):
            # the table has coordinated commits and THIS version is
            # already ratified (just not backfilled) — minting the
            # canonical file would silently fork the history
            raise DeltaConflictError(
                f"delta commit {version} already ratified by the "
                f"commit coordinator in {log_dir}; re-read and retry"
            )
        tmp = os.path.join(log_dir, f"_tmp_{uuid.uuid4().hex[:12]}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload)
        try:
            os.link(tmp, target)  # putIfAbsent: EEXIST on conflict
        except FileExistsError:
            raise DeltaConflictError(
                f"delta commit {version} already exists in {log_dir}; "
                "re-read the snapshot and retry"
            ) from None
        finally:
            os.unlink(tmp)


class InProcessCommitOwner(CommitOwner):
    """Registry-owned commits: a process-wide table registry decides
    the putIfAbsent race under a lock and then publishes the file
    itself (atomic rename) — the in-process stand-in for Delta's
    catalog-owned commits, where the coordinator (not filesystem
    atomicity) serializes writers on object stores that have no
    putIfAbsent. Two writers racing the same version through one
    owner: exactly one wins; the loser gets
    :class:`DeltaConflictError` and retries on a fresh snapshot."""

    _LOCK = threading.Lock()
    _OWNED: dict[str, set[int]] = {}

    @classmethod
    def reset(cls, log_dir: str) -> None:
        """Drop the registry's ownership record for one table — the
        owner is authoritative across table recreations, so a rebuilt
        fixture (or a legitimately dropped-and-recreated table) must
        explicitly re-register."""
        with cls._LOCK:
            cls._OWNED.pop(os.path.abspath(log_dir), None)

    def put_if_absent(
        self, log_dir: str, version: int, payload: str
    ) -> None:
        key = os.path.abspath(log_dir)
        target = os.path.join(log_dir, f"{version:020d}.json")
        with InProcessCommitOwner._LOCK:
            owned = InProcessCommitOwner._OWNED.setdefault(key, set())
            if version in owned or os.path.exists(target):
                raise DeltaConflictError(
                    f"delta commit {version} already owned in {log_dir}; "
                    "re-read the snapshot and retry"
                )
            tmp = os.path.join(
                log_dir, f"_tmp_{uuid.uuid4().hex[:12]}.json"
            )
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(payload)
            os.rename(tmp, target)  # atomic publish under the lock
            owned.add(version)


class _flock_file:
    """Context manager holding an exclusive flock on a dedicated
    lockfile (created on demand, never replaced — see the
    flock-vs-replace hazard in FileRegistryCommitOwner)."""

    def __init__(self, path: str):
        self.path = path
        self._fh = None

    def __enter__(self):
        import fcntl

        self._fh = open(self.path, "a+", encoding="utf-8")
        fcntl.flock(self._fh.fileno(), fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._fh.fileno(), fcntl.LOCK_UN)
        self._fh.close()
        return False


class FileRegistryCommitOwner(CommitOwner):
    """DURABLE registry owner: ownership is recorded in a registry
    file (``_commit_owner.json`` inside ``_delta_log``, flock-
    serialized) that survives process restarts — the single-machine
    model of a CATALOG-owned table, where the coordinator's record
    (not the storage) is the authority. The defining property the
    in-process registry lacks: after a crash/restart, a version the
    owner granted stays granted — even if the commit FILE vanished
    out-of-band, re-minting it is refused (exactly how a catalog
    protects against the lost-putIfAbsent double-commit on object
    stores). The leading underscore keeps the registry invisible to
    commit/checkpoint discovery and log cleanup."""

    REGISTRY = "_commit_owner.json"

    def put_if_absent(
        self, log_dir: str, version: int, payload: str
    ) -> None:
        os.makedirs(log_dir, exist_ok=True)
        reg = os.path.join(log_dir, self.REGISTRY)
        # Lock a SEPARATE, never-replaced lockfile. Locking the
        # registry itself is the classic flock-vs-replace bug: a
        # writer blocked on the flock holds an fd to the inode that
        # os.replace just superseded, acquires the lock on that STALE
        # inode, reads the OLD owned-set through it, and clobbers the
        # winner's grant when it re-writes the registry — a silently
        # lost commit under 3-writer contention (reproduced by the
        # staged-owner fuzz before this fix).
        with _flock_file(reg + ".lock"):
            try:
                with open(reg, encoding="utf-8") as fh:
                    raw = fh.read().strip()
            except OSError:
                raw = ""
            owned = set(json.loads(raw)["owned"]) if raw else set()
            target = os.path.join(log_dir, f"{version:020d}.json")
            if version in owned or os.path.exists(target):
                raise DeltaConflictError(
                    f"delta commit {version} already owned in "
                    f"{log_dir}; re-read the snapshot and retry"
                )
            tmp = os.path.join(
                log_dir, f"_tmp_{uuid.uuid4().hex[:12]}.json"
            )
            with open(tmp, "w", encoding="utf-8") as out:
                out.write(payload)
            os.rename(tmp, target)  # publish under the lock
            owned.add(version)
            rtmp = reg + f".tmp{uuid.uuid4().hex[:8]}"
            with open(rtmp, "w", encoding="utf-8") as out:
                json.dump({"owned": sorted(owned)}, out)
            os.replace(rtmp, reg)  # durable grant, atomic


#: Delta 4.x coordinated-commits layout: unbackfilled commits live as
#: UUID-named files under this _delta_log subdirectory; the owner's
#: registry says which one is THE commit for each version.
STAGED_DIR = "_staged_commits"
_STAGED_REGISTRY = "_ratified.json"
_STAGED_RE = re.compile(r"^(\d{20})\.([0-9a-f-]{8,})\.json$")


def _staged_ratified(log_dir: str) -> dict[int, str]:
    """The staged-commit registry: version -> ratified staged file
    name (empty when the table has no coordinated commits). One JSON
    read; readers merge these with the backfilled tail."""
    reg = os.path.join(log_dir, STAGED_DIR, _STAGED_REGISTRY)
    try:
        with open(reg, encoding="utf-8") as fh:
            raw = json.load(fh)
    except (OSError, ValueError):
        return {}
    return {int(v): str(name) for v, name in raw.items()}


class StagedCommitOwner(CommitOwner):
    """**Coordinated commits with Delta 4.x's file layout** (Delta
    PROTOCOL.md "Catalog-Managed Tables" / coordinated commits):
    every commit is first written as an IMMUTABLE UUID-named staged
    file — ``_staged_commits/<version>.<uuid>.json`` — which never
    contends with anyone (unique name), and then RATIFIED in the
    owner's flock-serialized registry, the single-machine stand-in
    for the catalog's commit record. Exactly one staged file per
    version wins ratification; losers raise
    :class:`DeltaConflictError` and their staged files remain as
    unratified garbage (the spec's behavior — ``backfill`` sweeps
    them once the version is published). Ratification order IS
    commit order: the registry only ever grows monotonically per
    version, and the grant survives restarts and out-of-band staged
    file loss, like the catalog it models.

    Readers see ratified-but-unbackfilled commits because
    ``DeltaLog._commits`` merges the registry with the backfilled
    ``<version>.json`` tail — the reader half of the protocol
    (consult the coordinator for the unbackfilled suffix).

    ``backfill`` publishes ratified staged commits to their
    canonical ``<version>.json`` names (hardlink putIfAbsent — a
    concurrent backfiller is harmless) so ordinary readers that
    never heard of the coordinator can read the table — Delta's
    exact interop story on object stores."""

    def put_if_absent(
        self, log_dir: str, version: int, payload: str
    ) -> None:
        sdir = os.path.join(log_dir, STAGED_DIR)
        os.makedirs(sdir, exist_ok=True)
        fname = f"{version:020d}.{uuid.uuid4().hex}.json"
        with open(os.path.join(sdir, fname), "w", encoding="utf-8") as fh:
            fh.write(payload)  # immutable, uncontended
        reg = os.path.join(sdir, _STAGED_REGISTRY)
        # dedicated lockfile — never flock the replaced registry
        # itself (see FileRegistryCommitOwner for the lost-commit
        # hazard that invites)
        with _flock_file(reg + ".lock"):
            owned = {
                str(v): n
                for v, n in _staged_ratified(log_dir).items()
            }
            target = os.path.join(log_dir, f"{version:020d}.json")
            if str(version) in owned or os.path.exists(target):
                # loser: the staged file stays as unratified
                # garbage until backfill sweeps it
                raise DeltaConflictError(
                    f"delta commit {version} already ratified in "
                    f"{log_dir}; re-read the snapshot and retry"
                )
            owned[str(version)] = fname
            rtmp = reg + f".tmp{uuid.uuid4().hex[:8]}"
            with open(rtmp, "w", encoding="utf-8") as out:
                json.dump(owned, out, sort_keys=True)
            os.replace(rtmp, reg)  # durable grant, atomic

    @staticmethod
    def backfill(log_dir: str) -> int:
        """Publish every ratified staged commit to its canonical
        ``<version>.json`` name and sweep that version's unratified
        losers. Hardlink putIfAbsent — concurrent backfillers and
        pre-existing published files are no-ops. Returns the number
        of versions published."""
        sdir = os.path.join(log_dir, STAGED_DIR)
        ratified = _staged_ratified(log_dir)
        published = 0
        for version, fname in sorted(ratified.items()):
            src = os.path.join(sdir, fname)
            dst = os.path.join(log_dir, f"{version:020d}.json")
            if not os.path.exists(dst):
                try:
                    os.link(src, dst)
                    published += 1
                except FileExistsError:
                    pass  # concurrent backfiller won — same content
                except OSError:
                    continue  # staged file missing — leave for audit
            # loser sweep: unratified staged files for this version
            try:
                names = os.listdir(sdir)
            except OSError:
                names = []
            for n in names:
                m = _STAGED_RE.match(n)
                if m and int(m.group(1)) == version and n != fname:
                    try:
                        os.unlink(os.path.join(sdir, n))
                    except OSError:
                        pass
        return published


_DEFAULT_OWNER = FileSystemCommitOwner()


class DeltaLog:
    """Reader/writer for one table's ``_delta_log`` directory."""

    #: write a parquet checkpoint every N commits (Delta defaults to 10)
    CHECKPOINT_INTERVAL = 10

    def __init__(self, table_dir: str, owner: CommitOwner | None = None):
        self.table_dir = table_dir
        self.log_dir = os.path.join(table_dir, LOG_DIR)
        self.owner = owner or _DEFAULT_OWNER

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir) and self.latest_version() is not None

    # -------------------------------------------------- file listing

    def _commits(self) -> list[tuple[int, str]]:
        if not os.path.isdir(self.log_dir):
            return []
        out = {}
        for f in os.listdir(self.log_dir):
            m = _COMMIT_RE.match(f)
            if m:
                out[int(m.group(1))] = os.path.join(self.log_dir, f)
        # Coordinated commits (Delta 4.x): a ratified-but-unbackfilled
        # commit lives only under _staged_commits/ — the reader must
        # consult the owner's registry for the unbackfilled suffix or
        # it reads a stale table. Backfilled versions win (same
        # content, canonical name); zero overhead for tables without
        # a staged dir.
        sdir = os.path.join(self.log_dir, STAGED_DIR)
        if os.path.isdir(sdir):
            for v, fname in _staged_ratified(self.log_dir).items():
                if v not in out:
                    p = os.path.join(sdir, fname)
                    if os.path.isfile(p):
                        out[v] = p
        return sorted(out.items())

    def _checkpoints(self) -> list[tuple[int, str]]:
        """Single-file (classic v1) checkpoints only — see
        ``_checkpoint_groups`` for the full discovery across all
        three protocol forms."""
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            m = _CHECKPOINT_RE.match(f)
            if m:
                out.append((int(m.group(1)), os.path.join(self.log_dir, f)))
        return sorted(out)

    def _checkpoint_groups(self) -> list[tuple[int, str, list[str]]]:
        """Discover COMPLETE checkpoints of every protocol form,
        sorted by version: ``(version, kind, paths)`` with kind in

        * ``v1`` — one ``<v>.checkpoint.parquet`` file;
        * ``mp`` — classic multi-part
          ``<v>.checkpoint.<i>.<n>.parquet`` (usable only when ALL n
          parts are present — a torn multi-part write is ignored,
          per the protocol's completeness rule);
        * ``v2`` — a ``<v>.checkpoint.<uuid>.parquet`` manifest whose
          add actions live in ``_sidecars/`` shard files.

        Multiple forms at the same version: prefer v2 > mp > v1
        (richest first — all describe the same snapshot)."""
        if not os.path.isdir(self.log_dir):
            return []
        v1: dict[int, list[str]] = {}
        v2: dict[int, list[str]] = {}
        mp: dict[tuple[int, int], dict[int, str]] = {}
        for f in os.listdir(self.log_dir):
            p = os.path.join(self.log_dir, f)
            m = _CHECKPOINT_RE.match(f)
            if m:
                v1.setdefault(int(m.group(1)), []).append(p)
                continue
            m = _CHECKPOINT_MP_RE.match(f)
            if m:
                ver, part, of = (
                    int(m.group(1)), int(m.group(2)), int(m.group(3)),
                )
                mp.setdefault((ver, of), {})[part] = p
                continue
            m = _CHECKPOINT_V2_RE.match(f) or _CHECKPOINT_V2_JSON_RE.match(f)
            if m:
                v2.setdefault(int(m.group(1)), []).append(p)
        best: dict[int, tuple[str, list[str]]] = {}
        for ver, paths in v1.items():
            best[ver] = ("v1", sorted(paths))
        for (ver, of), parts in mp.items():
            if len(parts) == of and set(parts) == set(range(1, of + 1)):
                if ver not in best or best[ver][0] == "v1":
                    best[ver] = (
                        "mp", [parts[i] for i in range(1, of + 1)]
                    )
        for ver, paths in v2.items():
            # several v2 manifests may exist (concurrent writers);
            # any one is complete — take the lexicographically first
            best[ver] = ("v2", [sorted(paths)[0]])
        return [
            (ver, kind, paths)
            for ver, (kind, paths) in sorted(best.items())
        ]

    def latest_version(self) -> int | None:
        commits = self._commits()
        return commits[-1][0] if commits else None

    # ------------------------------------------------------- commit

    def _prev_ict(self, version: int) -> int | None:
        """The inCommitTimestamp of commit ``version - 1`` (one O(1)
        file read of its first line), or None when unavailable."""
        if version <= 0:
            return None
        p = os.path.join(self.log_dir, f"{version - 1:020d}.json")
        if not os.path.isfile(p):
            # the previous commit may be ratified-but-unbackfilled
            # (coordinated commits) — one registry read resolves it
            fname = _staged_ratified(self.log_dir).get(version - 1)
            if fname is not None:
                p = os.path.join(self.log_dir, STAGED_DIR, fname)
        try:
            with open(p, encoding="utf-8") as fh:
                for ln in fh:
                    if not ln.strip():
                        continue
                    a = json.loads(ln)
                    ci = a.get("commitInfo")
                    if ci:
                        return ci.get("inCommitTimestamp")
                    break
        except OSError:
            return None
        return None

    def commit(
        self,
        actions: list[dict],
        version: int | None = None,
        operation: str = "WRITE",
        timestamp_ms: int | None = None,
    ) -> int:
        """Append one commit. ``version`` defaults to latest+1; if that
        file already exists the putIfAbsent link fails and
        DeltaConflictError tells the caller to re-read and retry.
        Readers never see partial content: the name appears only via
        os.link of a fully-written temp file.

        ``timestamp_ms`` sets the commit's **in-commit timestamp**
        (Delta's inCommitTimestamp table feature); absent, the
        deterministic ``version·1000`` stamp is proposed (wall-clock
        is banned in the cert harness; real writers pass their
        clock). Either way the stored value is CLAMPED to
        ``max(proposed, previous_ict + 1)`` — the feature's
        monotonicity rule, which is what makes ``TIMESTAMP AS OF``
        resolution well-defined even under clock skew between
        writers."""
        os.makedirs(self.log_dir, exist_ok=True)
        if version is None:
            latest = self.latest_version()
            version = 0 if latest is None else latest + 1
        # Append-only enforcement (Delta PROTOCOL.md "Append-only
        # Tables"): this engine DECLARES the appendOnly writer
        # feature, so it must enforce it — when the commit's
        # effective metadata (the metaData action in THIS commit if
        # present, else the previous snapshot's) activates
        # ``delta.appendOnly``, any ``remove`` with ``dataChange``
        # is refused before anything lands. ``dataChange: false``
        # removes (OPTIMIZE / purge-style rearrangements) pass —
        # they move bytes, not logical rows.
        if any(
            a.get("remove") is not None
            and a["remove"].get("dataChange", True)
            for a in actions
        ):
            eff_meta = next(
                (a["metaData"] for a in actions if a.get("metaData")),
                None,
            )
            if eff_meta is None and version > 0:
                try:
                    eff_meta = self.snapshot(version - 1).metadata
                except (DeltaProtocolError, OSError, ValueError):
                    eff_meta = None
            conf = (eff_meta or {}).get("configuration") or {}
            if conf.get(APPEND_ONLY_PROP) == "true":
                raise DeltaProtocolError(
                    f"table {self.table_dir} is append-only "
                    f"({APPEND_ONLY_PROP}=true): a compliant writer "
                    "must not commit remove actions with "
                    "dataChange=true (DELETE/UPDATE/MERGE/overwrite/"
                    "RESTORE forbidden); nothing committed"
                )
        # Coordinated-commits declaration (Delta 4.x
        # ``coordinatedCommits-preview``): when the PREVIOUS
        # version's metadata names a commit coordinator, filesystem
        # putIfAbsent is no longer this table's commit protocol — a
        # writer not routing through that coordinator must refuse
        # (a coordinator-unaware writer racing the catalog would
        # fork the history the coordinator thinks it owns). The
        # commit that ENABLES the coordinator is the table's last
        # filesystem commit (prev metadata is still un-coordinated);
        # the commit that DISABLES it goes THROUGH the coordinator
        # (prev still declares it), after which filesystem commits
        # resume. Prev-snapshot reconstruction is module-memoized,
        # so this is one dict lookup on the hot path.
        prev_conf: dict = {}
        if version > 0:
            try:
                prev_conf = (
                    self.snapshot(version - 1).metadata or {}
                ).get("configuration") or {}
            except (DeltaProtocolError, OSError, ValueError):
                prev_conf = {}
            declared = prev_conf.get(COMMIT_COORDINATOR_PROP)
            if declared and (
                getattr(self.owner, "coordinator_name", None)
                != declared
            ):
                raise DeltaProtocolError(
                    f"table {self.table_dir} commits are owned by "
                    f"coordinator {declared!r} "
                    f"({COMMIT_COORDINATOR_PROP}): a compliant "
                    "writer must route commits through that "
                    "coordinator, not filesystem putIfAbsent; "
                    "nothing committed"
                )
        proposed = (
            int(timestamp_ms) if timestamp_ms is not None
            else version * 1000
        )
        prev_ict = self._prev_ict(version)
        ict = (
            proposed if prev_ict is None else max(proposed, prev_ict + 1)
        )
        lines = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": _FIXED_TIME_MS,
                        "inCommitTimestamp": ict,
                        "operation": operation,
                        "engineInfo": "product-analytics-spark",
                    }
                },
                separators=(",", ":"),
            )
        ]
        lines += [
            json.dumps(a, separators=(",", ":"), sort_keys=True)
            for a in actions
        ]
        # putIfAbsent through the commit OWNER — the hardlink default
        # on a filesystem, a registry/catalog owner where the storage
        # can't give atomicity (see CommitOwner).
        self.owner.put_if_absent(
            self.log_dir, version, "".join(ln + "\n" for ln in lines)
        )
        # Auto-checkpoint cadence + form are TABLE PROPERTIES
        # (delta.io ``delta.checkpointInterval``, Delta PROTOCOL.md
        # ``delta.checkpointPolicy``): the effective configuration is
        # this commit's own metaData action if present, else the
        # previous snapshot's. A hot 100 TB table tunes the interval
        # DOWN (shorter replay tails for thousand-reader sessions)
        # or UP (checkpoint write cost dominates tiny commits), and
        # ``v2`` policy shards the checkpoint into reusable sidecars
        # so its cost is O(changed files), not O(table).
        eff_meta_cp = next(
            (a["metaData"] for a in actions if a.get("metaData")),
            None,
        )
        conf_cp = (
            (eff_meta_cp.get("configuration") or {})
            if eff_meta_cp is not None
            else prev_conf
        )
        try:
            interval = int(
                conf_cp.get("delta.checkpointInterval")
                or self.CHECKPOINT_INTERVAL
            )
        except (TypeError, ValueError):
            interval = self.CHECKPOINT_INTERVAL
        if (version + 1) % max(1, interval) == 0:
            try:
                if conf_cp.get("delta.checkpointPolicy") == "v2":
                    self.write_checkpoint_v2(version)
                else:
                    self.write_checkpoint(version)
            except Exception:  # noqa: BLE001 — checkpoint is an optimization
                pass
        try:
            self.write_checksum(version)
        except Exception:  # noqa: BLE001 — crc is auxiliary, like Delta's
            pass
        return version

    # ---------------------------------- logical conflict detection

    def _commit_actions_at(self, version: int) -> list[dict]:
        """The action list of one committed version (one JSON read;
        staged-but-ratified commits resolve through ``_commits``)."""
        commits = dict(self._commits())
        p = commits.get(version)
        if p is None:
            raise DeltaProtocolError(
                f"commit {version} missing from {self.log_dir}"
            )
        with open(p, encoding="utf-8") as fh:
            return [json.loads(ln) for ln in fh if ln.strip()]

    @staticmethod
    def check_logical_conflict(
        winner_actions: list[dict],
        *,
        read_files: frozenset | set = frozenset(),
        read_whole_table: bool = False,
        read_partitions: dict | None = None,
        our_removes: frozenset | set = frozenset(),
    ) -> None:
        """Delta's **ConflictChecker** (PROTOCOL.md / delta-spark
        "Concurrency Control"): classify a WINNING commit against
        this transaction's declared read/write sets, raising the
        spec's exception class when the transaction's outputs may be
        stale — and returning silently when the two commits are
        LOGICALLY disjoint, in which case the loser may REBASE
        (re-commit at the new version without recomputing). Blanket
        version-OCC treats every concurrent commit as a conflict;
        at 1000 writers that serializes the table — this check is
        what lets blind appends and partition-disjoint DML commit
        concurrently.

        Rules, in severity order:

        * winner carries ``metaData`` ⇒ :class:`MetadataChangedError`
          (schema/properties moved under us — always re-plan);
        * winner carries ``protocol`` ⇒ :class:`ProtocolChangedError`;
        * winner REMOVED a file we read ⇒
          :class:`ConcurrentDeleteReadError`;
        * winner REMOVED a file we also remove ⇒
          :class:`ConcurrentDeleteDeleteError`;
        * winner ADDED dataChange files our reads would have seen ⇒
          :class:`ConcurrentAppendError` — "would have seen" is
          ``read_whole_table``, or intersection with
          ``read_partitions`` ({partition col -> value} of the
          transaction's pruned scan: an add in another partition is
          invisible to it, Delta's partition-level conflict
          pruning). A BLIND append (no reads) never append-conflicts.

        dataChange=false rearrangements (OPTIMIZE) still
        delete-conflict on the file sets — a compaction that swept a
        file we read/remove invalidates us — but never
        append-conflict."""
        for a in winner_actions:
            if a.get("metaData") is not None:
                raise MetadataChangedError(
                    "concurrent metadata change; re-plan the "
                    "transaction against the new schema/properties"
                )
            if a.get("protocol") is not None:
                raise ProtocolChangedError(
                    "concurrent protocol change; re-plan the "
                    "transaction against the new protocol"
                )
        w_removes = {
            a["remove"]["path"]
            for a in winner_actions
            if a.get("remove")
        }
        hit = w_removes & set(read_files)
        if hit:
            raise ConcurrentDeleteReadError(
                f"concurrent commit removed files this transaction "
                f"read: {sorted(hit)[:3]}"
            )
        dd = w_removes & set(our_removes)
        if dd:
            raise ConcurrentDeleteDeleteError(
                f"concurrent commit already removed files this "
                f"transaction removes: {sorted(dd)[:3]}"
            )
        w_adds = [
            a["add"]
            for a in winner_actions
            if a.get("add") and a["add"].get("dataChange", True)
        ]
        if not w_adds:
            return
        if read_whole_table:
            raise ConcurrentAppendError(
                "concurrent commit appended files this full-table "
                "read would have seen"
            )
        if read_partitions:
            for add in w_adds:
                pv = add.get("partitionValues") or {}
                if all(
                    str(pv.get(k)) == str(v)
                    for k, v in read_partitions.items()
                ):
                    raise ConcurrentAppendError(
                        f"concurrent commit appended into the read "
                        f"partition {read_partitions!r}"
                    )

    def commit_with_rebase(
        self,
        actions: list[dict],
        expected_version: int,
        *,
        operation: str = "WRITE",
        read_files: frozenset | set = frozenset(),
        read_whole_table: bool = False,
        read_partitions: dict | None = None,
        max_rebases: int = 50,
    ) -> int:
        """Commit ``actions`` planned against snapshot
        ``expected_version``, REBASING over logically-disjoint
        winners instead of failing: on a lost putIfAbsent, every
        winning commit in the gap is classified by
        :meth:`check_logical_conflict`; if none conflicts, the same
        actions re-commit at the new head — no recompute, no
        exception — exactly Delta's commit-retry fast path. A real
        conflict raises its class (the caller re-plans). This is the
        difference between 1000 blind appenders throughput-limited
        by commit latency and 1000 appenders serialized by whole-DML
        retries."""
        our_removes = frozenset(
            a["remove"]["path"] for a in actions if a.get("remove")
        )
        target = int(expected_version) + 1
        for _ in range(max_rebases):
            try:
                return self.commit(
                    actions, version=target, operation=operation
                )
            except (
                MetadataChangedError,
                ProtocolChangedError,
                ConcurrentAppendError,
                ConcurrentDeleteReadError,
                ConcurrentDeleteDeleteError,
            ):
                raise
            except DeltaConflictError:
                latest = self.latest_version()
                for v in range(target, (latest or 0) + 1):
                    self.check_logical_conflict(
                        self._commit_actions_at(v),
                        read_files=read_files,
                        read_whole_table=read_whole_table,
                        read_partitions=read_partitions,
                        our_removes=our_removes,
                    )
                target = (latest or 0) + 1  # disjoint: rebase
        raise DeltaConflictError(
            f"commit starved after {max_rebases} rebases in "
            f"{self.log_dir}"
        )

    # ---------------------------------------- transaction identifiers

    def txn_version(self, app_id: str) -> int | None:
        """The latest SetTransaction version recorded for ``app_id``
        (Delta PROTOCOL.md "Transaction Identifiers"), or None if the
        application never committed. One memoized snapshot lookup —
        the read half of the idempotent-writer protocol."""
        return self.snapshot().transactions.get(app_id)

    def commit_txn(
        self,
        actions: list[dict],
        app_id: str,
        txn_version: int,
        operation: str = "STREAMING UPDATE",
        last_updated_ms: int | None = None,
    ) -> int | None:
        """Idempotent commit (Delta's ``txn`` / SetTransaction
        action — the contract ``foreachBatch`` exactly-once sinks
        and connectors like Kafka→Delta rely on): the commit carries
        ``{appId, version}``; a RETRY of the same (or an older)
        application version is a NO-OP returning None, because the
        table already contains that batch's writes. The action set
        lands atomically with its marker — there is no state where
        the data committed but the marker didn't, which is exactly
        what makes replay safe after a crash between "write" and
        "record progress". Restart recovery is
        ``txn_version(app_id)`` — the sink resumes from the batch
        AFTER the recorded one, with the log (not a side channel) as
        the source of truth."""
        recorded = self.txn_version(app_id)
        if recorded is not None and int(txn_version) <= recorded:
            return None  # replay of an already-applied batch
        marker = {
            "txn": {
                "appId": str(app_id),
                "version": int(txn_version),
                "lastUpdated": int(
                    last_updated_ms
                    if last_updated_ms is not None
                    else _FIXED_TIME_MS
                ),
            }
        }
        return self.commit(
            list(actions) + [marker], operation=operation
        )

    # ---------------------------------------------------- checksum

    def _crc_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.crc")

    def write_checksum(self, version: int) -> str:
        """Delta's per-version CHECKSUM file (``<version>.crc``, the
        VERSION_CHECKSUM sidecar real Delta writers emit): a JSON
        summary of the post-commit snapshot — file count, total
        bytes, live row count from stats, protocol and metaData —
        letting any reader VALIDATE a reconstructed state in O(1)
        instead of trusting its own replay. Cost: the snapshot replay
        the committer just did anyway (checkpoint-bounded)."""
        snap = self.snapshot(version)
        body = {
            "tableSizeBytes": sum(
                int(a.get("size") or 0) for a in snap.files.values()
            ),
            "numFiles": len(snap.files),
            "numDeletionVectors": sum(
                1 for a in snap.files.values() if a.get("deletionVector")
            ),
            "numMetadata": 1,
            "numProtocol": 1,
            "protocol": snap.protocol or PROTOCOL_ACTION,
            "metadata": snap.metadata,
        }
        nrec = snap.num_records()
        if nrec is not None:
            body["numRecords"] = nrec
        tmp = os.path.join(self.log_dir, f"_crc_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(json.dumps(body, separators=(",", ":"), sort_keys=True))
        os.replace(tmp, self._crc_path(version))
        return self._crc_path(version)

    def validate_checksum(self, version: int | None = None) -> bool:
        """Recompute the snapshot and compare against the stored
        ``.crc`` — the reader-side integrity check. Returns True on
        match; raises DeltaProtocolError on MISMATCH (a corrupted or
        tampered log); returns False if no crc exists for the
        version (older writer — validation unavailable, not failed)."""
        if version is None:
            version = self.latest_version()
        path = self._crc_path(version)
        if not os.path.isfile(path):
            return False
        with open(path, encoding="utf-8") as fh:
            stored = json.load(fh)
        snap = self.snapshot(version)
        actual = {
            "tableSizeBytes": sum(
                int(a.get("size") or 0) for a in snap.files.values()
            ),
            "numFiles": len(snap.files),
            "numRecords": snap.num_records(),
        }
        for k, v in actual.items():
            if k in stored and stored[k] != v:
                raise DeltaProtocolError(
                    f"checksum mismatch at version {version}: "
                    f"{k} stored={stored[k]} actual={v}"
                )
        return True

    # ------------------------------------------------------ snapshot

    @staticmethod
    def _apply(snap: DeltaSnapshot, action: dict) -> None:
        if "metaData" in action and action["metaData"] is not None:
            snap.metadata = action["metaData"]
        elif "protocol" in action and action["protocol"] is not None:
            snap.protocol = action["protocol"]
        elif "add" in action and action["add"] is not None:
            snap.files[action["add"]["path"]] = action["add"]
        elif "remove" in action and action["remove"] is not None:
            snap.files.pop(action["remove"]["path"], None)
        elif (
            "domainMetadata" in action
            and action["domainMetadata"] is not None
        ):
            dm = action["domainMetadata"]
            if dm.get("removed"):
                snap.domains.pop(dm.get("domain"), None)
            else:
                snap.domains[dm["domain"]] = dm
        elif "txn" in action and action["txn"] is not None:
            t = action["txn"]
            if t.get("appId") is not None:
                snap.transactions[t["appId"]] = int(t["version"])
                snap.txn_updated[t["appId"]] = int(
                    t.get("lastUpdated") or 0
                )

    def snapshot(
        self,
        version: int | None = None,
        commits: list[tuple[int, str]] | None = None,
    ) -> DeltaSnapshot:
        """Reconstruct the table state at ``version`` (default:
        latest): start from the newest checkpoint at or below it, then
        replay the JSON commits after it in order. ``commits`` is this
        log's :meth:`_commits` listing when the caller already holds
        one, so the snapshot lists ``_delta_log`` no second time.

        MEMOIZED: commit files are immutable once linked into the log
        (the hardlink putIfAbsent), so a snapshot at a version is
        fully determined by the identity of that version's head
        commit file — reconstructions are cached process-wide (the
        registry's ``snapshots`` namespace, so the cache survives the
        throwaway DeltaLog(...) instances every call site creates)
        keyed by (log dir, version, head-file inode/mtime/size); callers
        only ever get copies (:func:`_snap_copy`), the way real
        Delta caches Snapshot objects per version. A new commit is a
        new key (no explicit invalidation needed); a recreated table
        at the same path is a new inode (test warehouses never alias);
        LRU-bounded. Without this, every ``read_delta`` /
        ``table_changes`` / stream trigger replays checkpoint parquet
        + JSON tail from disk — O(live files) per call, a driver-side
        bottleneck at 10^6-file scale."""
        if commits is None:
            commits = self._commits()
        if not commits:
            raise DeltaProtocolError(f"no commits in {self.log_dir}")
        if version is None:
            version = commits[-1][0]
        key = None
        head = next((p for v, p in commits if v == version), None)
        if head is not None:
            try:
                st = os.stat(head)
                key = (
                    os.path.abspath(self.log_dir),
                    version,
                    st.st_ino,
                    st.st_mtime_ns,
                    st.st_size,
                )
            except OSError:
                key = None
        if key is None:
            return self._reconstruct(version, commits)
        build = lambda: self._reconstruct(version, commits)  # noqa: E731
        return _snap_copy(cache.memo("snapshots", key, build))

    def _pointer_checkpoint(
        self, version: int
    ) -> tuple[int, str, list[str]] | None:
        """Resolve the checkpoint FROM the ``_last_checkpoint``
        pointer, the spec's documented read path: one O(1) file read
        instead of a directory LIST (which on an object store is the
        expensive operation the pointer exists to avoid). Returns
        ``(cp_version, kind, paths)`` when the pointer names a
        complete checkpoint at or below ``version`` whose files all
        exist, else None (no pointer / too new / torn) — the caller
        falls back to listing discovery. A STALE pointer (older than
        the newest checkpoint) is legal per the spec; the caller
        retries by listing if the stale tail was already cleaned."""
        try:
            with open(
                os.path.join(self.log_dir, "_last_checkpoint"),
                encoding="utf-8",
            ) as fh:
                hint = json.load(fh)
        except (OSError, ValueError):
            return None
        try:
            v = int(hint.get("version"))
        except (TypeError, ValueError):
            return None
        if v > version:
            return None
        v2p = (hint.get("v2Checkpoint") or {}).get("path")
        if v2p:
            m = _CHECKPOINT_V2_RE.match(v2p) or _CHECKPOINT_V2_JSON_RE.match(
                v2p
            )
            p = os.path.join(self.log_dir, v2p)
            if m and int(m.group(1)) == v and os.path.isfile(p):
                return (v, "v2", [p])
            return None
        parts = hint.get("parts")
        if parts:
            try:
                n = int(parts)
            except (TypeError, ValueError):
                return None
            paths = [
                os.path.join(
                    self.log_dir,
                    f"{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet",
                )
                for i in range(1, n + 1)
            ]
            if all(os.path.isfile(p) for p in paths):
                return (v, "mp", paths)
            return None
        p = os.path.join(self.log_dir, f"{v:020d}.checkpoint.parquet")
        if os.path.isfile(p):
            return (v, "v1", [p])
        return None

    def _reconstruct(
        self, version: int, commits: list[tuple[int, str]]
    ) -> DeltaSnapshot:
        # pointer-first discovery; a stale pointer whose tail was
        # already cleaned raises a gap error — re-discover by listing
        hint = self._pointer_checkpoint(version)
        if hint is not None:
            try:
                return self._replay(version, commits, hint)
            except DeltaProtocolError:
                pass
        cps = [c for c in self._checkpoint_groups() if c[0] <= version]
        return self._replay(version, commits, cps[-1] if cps else None)

    def _replay(
        self,
        version: int,
        commits: list[tuple[int, str]],
        cp: tuple[int, str, list[str]] | None,
    ) -> DeltaSnapshot:
        snap = DeltaSnapshot(version=version)
        start = 0
        if cp is not None:
            cp_version, kind, cp_paths = cp
            if kind == "v2":
                self._load_checkpoint_v2(snap, cp_paths[0])
            else:  # v1 single-file or all parts of a multi-part
                for p in cp_paths:
                    self._load_checkpoint(snap, p)
            start = cp_version + 1
        expected = start
        for v, path in commits:
            if v < start or v > version:
                continue
            if v != expected:
                raise DeltaProtocolError(
                    f"version gap in {self.log_dir}: expected {expected}, "
                    f"found {v}"
                )
            expected += 1
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        self._apply(snap, json.loads(line))
        if expected <= version:
            raise DeltaProtocolError(
                f"missing commits {expected}..{version} in {self.log_dir}"
            )
        return snap

    # ---------------------------------------------------- checkpoint

    @staticmethod
    def _cp_types():
        """Arrow types of the protocol's checkpoint schema: struct
        columns add/metaData/protocol, maps for partitionValues/
        configuration. Shared by the v1 single-file, classic
        multi-part, and v2 sidecar writers."""
        import pyarrow as pa

        pv_type = pa.map_(pa.string(), pa.string())
        dv_t = pa.struct(
            [
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ]
        )
        add_t = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pv_type),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
                ("deletionVector", dv_t),
                ("baseRowId", pa.int64()),
                ("defaultRowCommitVersion", pa.int64()),
            ]
        )
        meta_t = pa.struct(
            [
                ("id", pa.string()),
                (
                    "format",
                    pa.struct(
                        [("provider", pa.string()), ("options", pv_type)]
                    ),
                ),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pv_type),
                ("createdTime", pa.int64()),
            ]
        )
        proto_t = pa.struct(
            [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
        )
        return add_t, meta_t, proto_t

    @staticmethod
    def _cp_add_payload(a: dict) -> dict:
        def _map(d):
            return list((d or {}).items())

        return {
            "path": a["path"],
            "partitionValues": _map(a.get("partitionValues")),
            "size": a.get("size"),
            "modificationTime": a.get("modificationTime", _FIXED_TIME_MS),
            "dataChange": False,
            "stats": a.get("stats"),
            "deletionVector": a.get("deletionVector"),
            "baseRowId": a.get("baseRowId"),
            "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
        }

    @staticmethod
    def _cp_meta_payload(m: dict) -> dict:
        def _map(d):
            return list((d or {}).items())

        return {
            "id": m.get("id"),
            "format": {
                "provider": (m.get("format") or {}).get(
                    "provider", "parquet"
                ),
                "options": _map((m.get("format") or {}).get("options")),
            },
            "schemaString": m.get("schemaString"),
            "partitionColumns": m.get("partitionColumns") or [],
            "configuration": _map(m.get("configuration")),
            "createdTime": m.get("createdTime", _FIXED_TIME_MS),
        }

    @staticmethod
    def _dm_type():
        import pyarrow as pa

        return pa.struct(
            [
                ("domain", pa.string()),
                ("configuration", pa.string()),
                ("removed", pa.bool_()),
            ]
        )

    @staticmethod
    def _txn_type():
        import pyarrow as pa

        return pa.struct(
            [
                ("appId", pa.string()),
                ("version", pa.int64()),
                ("lastUpdated", pa.int64()),
            ]
        )

    @staticmethod
    def _txn_rows(
        snap: DeltaSnapshot, now_ms: int | None = None
    ) -> list:
        """SetTransaction rows for a checkpoint. Per
        ``delta.setTransactionRetentionDuration`` (delta.io), entries
        whose ``lastUpdated`` lapsed are DROPPED at checkpoint time —
        the spec's permitted expiry, bounding checkpoint growth for
        tables with many transient writer apps. The documented cost:
        a sink restarted after the retention window loses its
        idempotence gate and may re-apply its last batch — which is
        why the DEFAULT is no expiry. ``now_ms`` is injectable for
        deterministic certs; wall clock otherwise."""
        conf = (snap.metadata or {}).get("configuration") or {}
        raw = conf.get(SET_TXN_RETENTION_PROP)
        horizon = None
        if raw:
            import time as _time

            retention = parse_interval_ms(raw, None)
            if retention is not None:
                now = (
                    now_ms if now_ms is not None
                    else int(_time.time() * 1000)
                )
                horizon = now - int(retention)
        return [
            {"appId": a, "version": int(v),
             "lastUpdated": int(snap.txn_updated.get(a, 0))}
            for a, v in sorted(snap.transactions.items())
            if horizon is None
            or int(snap.txn_updated.get(a, 0)) > horizon
        ]

    def _write_cp_part(
        self,
        final_path: str,
        proto_rows: list,
        meta_rows: list,
        add_rows: list,
        domain_rows: list | None = None,
        txn_rows: list | None = None,
    ) -> None:
        """One checkpoint part file, written tmp-then-rename (readers
        never observe a torn part)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        add_t, meta_t, proto_t = self._cp_types()
        domain_rows = list(domain_rows or [])
        txn_rows = list(txn_rows or [])
        # one action per ROW (the protocol's checkpoint shape):
        # domain and txn rows get their own rows after the others
        base = max(len(proto_rows), len(meta_rows), len(add_rows))
        n = base + len(domain_rows) + len(txn_rows)
        proto_rows = proto_rows + [None] * (n - len(proto_rows))
        meta_rows = meta_rows + [None] * (n - len(meta_rows))
        add_rows = add_rows + [None] * (n - len(add_rows))
        txn_col = (
            [None] * (base + len(domain_rows)) + txn_rows
        )
        domain_rows = (
            [None] * base + domain_rows + [None] * len(txn_rows)
        )
        table = pa.table(
            {
                "protocol": pa.array(proto_rows, type=proto_t),
                "metaData": pa.array(meta_rows, type=meta_t),
                "add": pa.array(add_rows, type=add_t),
                "domainMetadata": pa.array(
                    domain_rows, type=self._dm_type()
                ),
                "txn": pa.array(txn_col, type=self._txn_type()),
            }
        )
        tmp = final_path + f".tmp{uuid.uuid4().hex[:8]}"
        pq.write_table(table, tmp)
        os.replace(tmp, final_path)

    @staticmethod
    def _domain_rows(snap: DeltaSnapshot) -> list:
        return [
            {
                "domain": d,
                "configuration": dm.get("configuration"),
                "removed": False,
            }
            for d, dm in sorted(snap.domains.items())
        ]

    def _write_last_checkpoint(self, body: dict) -> None:
        lc_tmp = os.path.join(self.log_dir, f"_lc_{uuid.uuid4().hex[:8]}")
        with open(lc_tmp, "w", encoding="utf-8") as fh:
            json.dump(body, fh)
        os.replace(lc_tmp, os.path.join(self.log_dir, "_last_checkpoint"))

    def write_checkpoint(
        self, version: int | None = None,
        now_ms: int | None = None,
    ) -> str:
        """Parquet checkpoint of the snapshot at ``version`` + the
        ``_last_checkpoint`` pointer — bounds the JSON tail readers
        replay. One row per action; struct columns add/metaData/
        protocol, maps for partitionValues/configuration (the
        protocol's checkpoint schema)."""
        snap = self.snapshot(version)
        version = snap.version
        proto_rows = [snap.protocol or PROTOCOL_ACTION, None]
        meta_rows = [None, self._cp_meta_payload(snap.metadata)]
        add_rows: list = [None, None]
        add_rows += [
            self._cp_add_payload(snap.files[p]) for p in sorted(snap.files)
        ]
        cp_path = os.path.join(
            self.log_dir, f"{version:020d}.checkpoint.parquet"
        )
        self._write_cp_part(
            cp_path, proto_rows, meta_rows, add_rows,
            domain_rows=self._domain_rows(snap),
            txn_rows=self._txn_rows(snap, now_ms),
        )
        self._write_last_checkpoint(
            {"version": version, "size": len(add_rows)}
        )
        return cp_path

    def write_checkpoint_multipart(
        self, version: int | None = None, n_parts: int = 2,
        now_ms: int | None = None,
    ) -> list[str]:
        """Classic MULTI-PART checkpoint
        (``<v>.checkpoint.<part>.<of>.parquet``, Delta PROTOCOL.md):
        the live add set is sharded contiguously across ``n_parts``
        files; part 1 additionally carries the protocol and metaData
        rows (any part may — readers merge all parts). The
        ``_last_checkpoint`` pointer records ``parts`` so readers can
        verify completeness; a torn write (some parts missing) is
        IGNORED by discovery, never half-read.

        Scale: a 100 TB table is millions of add actions — one
        checkpoint parquet becomes both a multi-GB write on the commit
        path and a single-threaded read on session start. Sharding
        lets N writers/readers move the same bytes in parallel; this
        is why the protocol grew the form."""
        if n_parts < 1:
            raise ValueError("n_parts must be >= 1")
        snap = self.snapshot(version)
        version = snap.version
        adds = [
            self._cp_add_payload(snap.files[p]) for p in sorted(snap.files)
        ]
        n_parts = min(n_parts, max(1, len(adds)))
        per = (len(adds) + n_parts - 1) // n_parts
        paths: list[str] = []
        for i in range(1, n_parts + 1):
            shard = adds[(i - 1) * per : i * per]
            proto_rows: list = []
            meta_rows: list = []
            domain_rows: list = []
            txn_rows: list = []
            if i == 1:
                proto_rows = [snap.protocol or PROTOCOL_ACTION, None]
                meta_rows = [None, self._cp_meta_payload(snap.metadata)]
                domain_rows = self._domain_rows(snap)
                txn_rows = self._txn_rows(snap, now_ms)
                shard = [None, None] + shard
            p = os.path.join(
                self.log_dir,
                f"{version:020d}.checkpoint.{i:010d}.{n_parts:010d}"
                ".parquet",
            )
            self._write_cp_part(
                p, proto_rows, meta_rows, shard,
                domain_rows=domain_rows, txn_rows=txn_rows,
            )
            paths.append(p)
        self._write_last_checkpoint(
            {"version": version, "size": len(adds) + 2, "parts": n_parts}
        )
        return paths

    def _last_v2_manifest_shards(
        self, below_version: int
    ) -> dict[tuple[str, str], dict]:
        """(nBuckets, contentHash) -> sidecar action of the newest v2
        checkpoint strictly below ``below_version`` — the reuse index
        for incremental checkpointing. One tiny manifest read; the
        shards themselves are never opened."""
        import pyarrow.parquet as pq

        v2s = [
            (v, paths[0])
            for v, kind, paths in self._checkpoint_groups()
            if kind == "v2" and v <= below_version
        ]
        if not v2s:
            return {}
        out: dict[tuple[str, str], dict] = {}
        try:
            rows = self._v2_manifest_rows(v2s[-1][1])
        except Exception:  # noqa: BLE001 — unreadable: no reuse
            return {}
        for row in rows:
            sc = row.get("sidecar")
            if not sc or not sc.get("path"):
                continue
            tags = dict(sc.get("tags") or {})
            h, nb = tags.get("contentHash"), tags.get("nBuckets")
            if h and nb:
                out[(nb, h)] = sc
        return out

    def write_checkpoint_v2(
        self,
        version: int | None = None,
        max_actions_per_sidecar: int = 50_000,
        manifest_format: str = "parquet",
        now_ms: int | None = None,
    ) -> str:
        """**V2 checkpoint with sidecars** (Delta PROTOCOL.md "V2
        Checkpoint Table Feature"): the live add set is sharded into
        parquet SIDECAR files under ``_delta_log/_sidecars/``, and a
        small MANIFEST ``<v>.checkpoint.<uuid>.parquet`` carries only
        protocol, metaData, a ``checkpointMetadata`` row, and one
        ``sidecar`` action per shard ({path, sizeInBytes,
        modificationTime, tags}). Readers load the manifest (tiny),
        then the sidecars — in parallel, pruned, or lazily.

        **Incremental**: sharding is by a STABLE hash-bucket of the
        add path (bucket count = next power of two of
        ``ceil(n/cap)``), and each sidecar action carries a
        ``contentHash`` tag. The next checkpoint re-buckets the new
        live set, and any bucket whose content is unchanged REUSES
        the previous checkpoint's shard file by name — one manifest
        read decides, zero shard reads. An append therefore
        rewrites only the buckets its new files hash into:
        checkpoint cost is O(changed files), not O(table), which at
        100 TB is the difference between a multi-GB serial write per
        commit-interval and a few small shards. (Contiguous
        sharding over sorted paths would reshuffle every boundary on
        any insert — hash bucketing is what makes shards stable.)

        The manifest's uuid name makes concurrent checkpoint writers
        conflict-free (last ``_last_checkpoint`` pointer wins; both
        manifests are complete; shared shards are immutable).

        Returns the manifest path. Reference: the production-scale
        role of ``+file_format: delta`` (dbt_project.yml:39)."""
        import hashlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot(version)
        version = snap.version
        adds = [
            self._cp_add_payload(snap.files[p]) for p in sorted(snap.files)
        ]
        side_dir = os.path.join(self.log_dir, SIDECAR_DIR)
        os.makedirs(side_dir, exist_ok=True)
        add_t, meta_t, proto_t = self._cp_types()
        step = max(1, int(max_actions_per_sidecar))
        n_buckets = 1
        while n_buckets * step < len(adds):
            n_buckets *= 2
        buckets: dict[int, list[dict]] = {i: [] for i in range(n_buckets)}
        for a in adds:
            b = int(
                hashlib.md5(a["path"].encode()).hexdigest()[:8], 16
            ) % n_buckets
            buckets[b].append(a)
        reuse = self._last_v2_manifest_shards(version)
        sidecars: list[dict] = []
        for b in range(n_buckets):
            shard = buckets[b]
            if not shard and n_buckets > 1:
                continue  # empty bucket: no shard
            h = hashlib.sha1(
                json.dumps(shard, separators=(",", ":"), sort_keys=True)
                .encode()
            ).hexdigest()
            tags = {
                "contentHash": h,
                "bucket": str(b),
                "nBuckets": str(n_buckets),
            }
            prev = reuse.get((str(n_buckets), h))
            if prev is not None and os.path.isfile(
                os.path.join(side_dir, prev["path"])
            ):
                sc = dict(prev)
                sc["tags"] = tags
                sidecars.append(sc)
                continue
            name = f"{uuid.uuid4().hex}.parquet"
            sp = os.path.join(side_dir, name)
            tmp = sp + f".tmp{uuid.uuid4().hex[:8]}"
            pq.write_table(
                pa.table({"add": pa.array(shard, type=add_t)}), tmp
            )
            os.replace(tmp, sp)
            sidecars.append(
                {
                    "path": name,
                    "sizeInBytes": os.path.getsize(sp),
                    "modificationTime": _FIXED_TIME_MS,
                    "tags": tags,
                }
            )
        if manifest_format not in ("parquet", "json"):
            raise ValueError(
                f"manifest_format must be parquet|json, got "
                f"{manifest_format!r}"
            )
        if manifest_format == "json":
            # JSON-lines manifest (the protocol's other manifest
            # form; sidecar shards stay parquet): same actions as
            # the parquet manifest, commit-file shapes.
            lines = [
                json.dumps(
                    {"checkpointMetadata": {"version": version}},
                    separators=(",", ":"),
                ),
                json.dumps(
                    {"protocol": snap.protocol or PROTOCOL_ACTION},
                    separators=(",", ":"), sort_keys=True,
                ),
                json.dumps(
                    {"metaData": snap.metadata},
                    separators=(",", ":"), sort_keys=True,
                ),
            ]
            lines += [
                json.dumps({"sidecar": sc}, separators=(",", ":"),
                           sort_keys=True)
                for sc in sidecars
            ]
            lines += [
                json.dumps({"domainMetadata": dm},
                           separators=(",", ":"), sort_keys=True)
                for dm in self._domain_rows(snap)
            ]
            lines += [
                json.dumps({"txn": tx}, separators=(",", ":"),
                           sort_keys=True)
                for tx in self._txn_rows(snap, now_ms)
            ]
            manifest = os.path.join(
                self.log_dir,
                f"{version:020d}.checkpoint.{uuid.uuid4().hex}.json",
            )
            tmp = manifest + f".tmp{uuid.uuid4().hex[:8]}"
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("".join(ln + "\n" for ln in lines))
            os.replace(tmp, manifest)
            self._write_last_checkpoint(
                {
                    "version": version,
                    "size": len(adds) + 2,
                    "sizeInBytes": os.path.getsize(manifest),
                    "checkpointSchema": None,
                    "v2Checkpoint": {"path": os.path.basename(manifest)},
                }
            )
            return manifest
        side_t = pa.struct(
            [
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
                ("tags", pa.map_(pa.string(), pa.string())),
            ]
        )
        cpmeta_t = pa.struct([("version", pa.int64())])
        domain_rows = self._domain_rows(snap)
        txn_rows = self._txn_rows(snap, now_ms)
        n = 3 + len(sidecars) + len(domain_rows) + len(txn_rows)

        def _pad(rows: list) -> list:
            return rows + [None] * (n - len(rows))

        table = pa.table(
            {
                "checkpointMetadata": pa.array(
                    _pad([{"version": version}]), type=cpmeta_t
                ),
                "protocol": pa.array(
                    _pad([None, snap.protocol or PROTOCOL_ACTION]),
                    type=proto_t,
                ),
                "metaData": pa.array(
                    _pad([None, None, self._cp_meta_payload(snap.metadata)]),
                    type=meta_t,
                ),
                "sidecar": pa.array(
                    _pad(
                        [None, None, None]
                        + [
                            {
                                **sc,
                                "tags": sorted(
                                    dict(sc.get("tags") or {}).items()
                                ),
                            }
                            for sc in sidecars
                        ]
                    ),
                    type=side_t,
                ),
                "domainMetadata": pa.array(
                    [None] * (3 + len(sidecars)) + domain_rows
                    + [None] * len(txn_rows),
                    type=self._dm_type(),
                ),
                "txn": pa.array(
                    [None] * (3 + len(sidecars) + len(domain_rows))
                    + txn_rows,
                    type=self._txn_type(),
                ),
            }
        )
        manifest = os.path.join(
            self.log_dir,
            f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet",
        )
        tmp = manifest + f".tmp{uuid.uuid4().hex[:8]}"
        pq.write_table(table, tmp)
        os.replace(tmp, manifest)
        self._write_last_checkpoint(
            {
                "version": version,
                "size": len(adds) + 2,
                "sizeInBytes": os.path.getsize(manifest),
                "checkpointSchema": None,
                "v2Checkpoint": {"path": os.path.basename(manifest)},
            }
        )
        return manifest

    @staticmethod
    def _v2_manifest_rows(manifest: str) -> list[dict]:
        """Action rows of a v2 manifest, format-agnostic: the
        protocol allows the manifest in parquet OR json-lines form
        (sidecar shards are always parquet)."""
        if manifest.endswith(".json"):
            rows: list[dict] = []
            with open(manifest, encoding="utf-8") as fh:
                for ln in fh:
                    ln = ln.strip()
                    if ln:
                        rows.append(json.loads(ln))
            return rows
        import pyarrow.parquet as pq

        return pq.read_table(manifest).to_pylist()

    def _load_checkpoint_v2(self, snap: DeltaSnapshot, manifest: str) -> None:
        """Replay a v2 manifest + its sidecar shards into ``snap``."""
        import pyarrow.parquet as pq

        rows = self._v2_manifest_rows(manifest)
        sidecars: list[str] = []
        for row in rows:
            proto = row.get("protocol")
            meta = row.get("metaData")
            if proto is not None:
                snap.protocol = proto
            if meta is not None:
                meta = dict(meta)
                fmt = dict(meta.get("format") or {})
                fmt["options"] = dict(fmt.get("options") or {})
                meta["format"] = fmt
                meta["configuration"] = dict(meta.get("configuration") or {})
                snap.metadata = meta
            sc = row.get("sidecar")
            if sc is not None and sc.get("path"):
                sidecars.append(sc["path"])
            dm = row.get("domainMetadata")
            if dm is not None and dm.get("domain"):
                snap.domains[dm["domain"]] = dict(dm)
            tx = row.get("txn")
            if tx is not None and tx.get("appId") is not None:
                snap.transactions[tx["appId"]] = int(tx["version"])
                snap.txn_updated[tx["appId"]] = int(
                    tx.get("lastUpdated") or 0
                )
        side_dir = os.path.join(self.log_dir, SIDECAR_DIR)
        for name in sidecars:
            sp = os.path.join(side_dir, name)
            if not os.path.isfile(sp):
                raise DeltaProtocolError(
                    f"v2 checkpoint sidecar missing: {sp}"
                )
            for row in pq.read_table(sp).to_pylist():
                add = row.get("add")
                if add is None:
                    continue
                add = self._restore_add(add)
                snap.files[add["path"]] = add

    @staticmethod
    def _restore_add(add: dict) -> dict:
        add = dict(add)
        add["partitionValues"] = dict(add.get("partitionValues") or {})
        for opt in (
            "stats", "deletionVector", "baseRowId",
            "defaultRowCommitVersion",
        ):
            if add.get(opt) is None:
                add.pop(opt, None)
        return add

    def _load_checkpoint(self, snap: DeltaSnapshot, cp_path: str) -> None:
        import pyarrow.parquet as pq

        table = pq.read_table(cp_path)
        cols = set(table.column_names)
        for row in table.to_pylist():
            proto = row.get("protocol")
            meta = row.get("metaData")
            add = row.get("add")
            dm = row.get("domainMetadata") if "domainMetadata" in cols else None
            tx = row.get("txn") if "txn" in cols else None
            if tx is not None and tx.get("appId") is not None:
                snap.transactions[tx["appId"]] = int(tx["version"])
                snap.txn_updated[tx["appId"]] = int(
                    tx.get("lastUpdated") or 0
                )
            if proto is not None:
                snap.protocol = proto
            if meta is not None:
                meta = dict(meta)
                fmt = dict(meta.get("format") or {})
                fmt["options"] = dict(fmt.get("options") or {})
                meta["format"] = fmt
                meta["configuration"] = dict(meta.get("configuration") or {})
                snap.metadata = meta
            if add is not None:
                add = self._restore_add(add)
                snap.files[add["path"]] = add
            if dm is not None and dm.get("domain"):
                snap.domains[dm["domain"]] = dict(dm)


    # ------------------------------------------------- log retention

    def cleanup_log(self, now_ms: int | None = None) -> int:
        """Delta's metadata-retention pass: delete JSON commits
        STRICTLY BELOW the newest checkpoint — readers reconstruct any
        retained version from the checkpoint + tail, so those commits
        are dead weight — **except commits still inside
        ``delta.logRetentionDuration``** (default 30 days, measured
        against each commit's in-commit timestamp): those survive,
        and the cutoff retreats to the newest checkpoint AT OR BELOW
        the first retained commit so every retained version stays
        reconstructible (checkpoint + tail). ``now_ms`` defaults to
        wall clock — injectable so retention certs are deterministic.
        Returns the number of commit files removed; no checkpoint ⇒
        no-op (never orphan readers)."""
        import time as _time

        cps = self._checkpoint_groups()
        if not cps:
            return 0
        cutoff = cps[-1][0]
        # Time-based retention: find the FIRST commit whose in-commit
        # timestamp is inside the window; the cutoff must not pass it.
        try:
            snap = self.snapshot()
            conf = (snap.metadata or {}).get("configuration") or {}
            log_retention_ms = parse_interval_ms(
                conf.get(LOG_RETENTION_PROP), DEFAULT_LOG_RETENTION_MS
            )
        except (DeltaProtocolError, ValueError, TypeError):
            log_retention_ms = DEFAULT_LOG_RETENTION_MS
        horizon = (
            int(now_ms if now_ms is not None else _time.time() * 1000)
            - log_retention_ms
        )
        oldest_kept = None
        for v, _path in self._commits():
            if v >= cutoff:
                break
            ict = self._prev_ict(v + 1)  # commit v's own timestamp
            if ict is not None and ict > horizon:
                oldest_kept = v
                break
        if oldest_kept is not None and oldest_kept < cutoff:
            at_or_below = [v for v, _k, _p in cps if v <= oldest_kept]
            if not at_or_below:
                # no checkpoint at or below the first retained commit:
                # its reconstruction needs the tail from version 0 —
                # nothing may be cleaned yet
                return 0
            cutoff = max(at_or_below)
        # checkpointProtection (Delta PROTOCOL.md): versions below
        # delta.requireCheckpointProtectionBeforeVersion are exempt
        # from cleanup — history across a protocol-transition
        # boundary stays reconstructible. Conservative branch of the
        # spec (spare, never rewrite).
        protected = 0
        try:
            snap = self.snapshot()
            feats = set(
                (snap.protocol or {}).get("writerFeatures") or []
            )
            if CHECKPOINT_PROTECTION_FEATURE in feats:
                protected = int(
                    (
                        (snap.metadata or {}).get("configuration") or {}
                    ).get(CHECKPOINT_PROTECTION_PROP, 0)
                )
        except (DeltaProtocolError, ValueError, TypeError):
            protected = 0
        removed = 0
        for v, path in self._commits():
            if protected <= v < cutoff:
                try:
                    os.unlink(path)
                    removed += 1
                except OSError:
                    pass
                try:  # the version's crc sidecar goes with it
                    os.unlink(self._crc_path(v))
                except OSError:
                    pass
        # Superseded checkpoints below the newest one are dead weight
        # too — every retained version reconstructs from the newest
        # checkpoint + tail. Delete EVERY discovered form at those
        # versions (a version can carry v1 + mp + v2 files, plus
        # extra v2 manifests from concurrent writers, plus torn
        # multi-part writes); _checkpoint_groups keeps only the
        # preferred form, so listing the raw files is required or
        # the non-preferred forms accumulate as stale log garbage.
        for f in os.listdir(self.log_dir):
            m = (
                _CHECKPOINT_RE.match(f)
                or _CHECKPOINT_MP_RE.match(f)
                or _CHECKPOINT_V2_RE.match(f)
                or _CHECKPOINT_V2_JSON_RE.match(f)
            )
            if m and protected <= int(m.group(1)) < cutoff:
                try:
                    os.unlink(os.path.join(self.log_dir, f))
                except OSError:
                    pass
        # v2 sidecar GC: a sidecar shard is live only while a
        # SURVIVING manifest references it (superseded checkpoints'
        # shards, and shards orphaned by a crashed checkpoint writer,
        # go here — the _delta_log analog of VACUUM).
        side_dir = os.path.join(self.log_dir, SIDECAR_DIR)
        if os.path.isdir(side_dir):
            live_sc: set[str] = set()
            for _v, kind, paths in self._checkpoint_groups():
                if kind != "v2":
                    continue
                try:
                    rows = self._v2_manifest_rows(paths[0])
                except Exception:  # noqa: BLE001 — unreadable manifest
                    continue
                for row in rows:
                    sc = row.get("sidecar")
                    if sc and sc.get("path"):
                        live_sc.add(sc["path"])
            for f in os.listdir(side_dir):
                if f.endswith(".parquet") and f not in live_sc:
                    try:
                        os.unlink(os.path.join(side_dir, f))
                    except OSError:
                        pass
        return removed

    def history(self) -> list[dict]:
        """``DESCRIBE HISTORY``: one entry per surviving commit,
        newest first — version, operation, inCommitTimestamp, and
        action counts (adds/removes/cdc), all from the JSON tail
        (O(tail) file reads, zero data I/O)."""
        out: list[dict] = []
        for v, path in sorted(self._commits(), reverse=True):
            entry = {
                "version": v,
                "operation": None,
                "inCommitTimestamp": None,
                "n_add": 0,
                "n_remove": 0,
                "n_cdc": 0,
            }
            try:
                with open(path, encoding="utf-8") as fh:
                    for ln in fh:
                        if not ln.strip():
                            continue
                        a = json.loads(ln)
                        if "commitInfo" in a:
                            ci = a["commitInfo"] or {}
                            entry["operation"] = ci.get("operation")
                            entry["inCommitTimestamp"] = ci.get(
                                "inCommitTimestamp"
                            )
                        elif a.get("add"):
                            entry["n_add"] += 1
                        elif a.get("remove"):
                            entry["n_remove"] += 1
                        elif a.get("cdc"):
                            entry["n_cdc"] += 1
            except OSError:
                continue
            out.append(entry)
        return out

    def version_at_timestamp(self, ts_ms: int) -> int:
        """Timestamp-based time travel (``TIMESTAMP AS OF``): the
        LATEST version whose inCommitTimestamp ≤ ``ts_ms`` — Delta's
        exact resolution rule. Raises if every surviving commit is
        newer (the requested instant predates retained history)."""
        best = None
        for h in self.history():
            ts = h.get("inCommitTimestamp")
            if ts is not None and ts <= ts_ms:
                best = h["version"] if best is None else max(best, h["version"])
        if best is None:
            raise DeltaProtocolError(
                f"no commit at or before timestamp {ts_ms} in "
                f"{self.log_dir} (history cleaned?)"
            )
        return best

    def referenced_cdc_paths(self) -> set[str]:
        """Change-file paths referenced by a ``cdc`` action in any
        SURVIVING commit JSON — the set a CDF-aware VACUUM must keep.
        O(|commit tail|) file reads; checkpoints don't carry cdc
        actions (they snapshot state, not per-commit changes), so the
        JSON tail is the single source of truth."""
        out: set[str] = set()
        for _v, path in self._commits():
            try:
                with open(path, encoding="utf-8") as fh:
                    for ln in fh:
                        if not ln.strip():
                            continue
                        c = json.loads(ln).get("cdc")
                        if c and c.get("path"):
                            out.add(c["path"])
            except OSError:
                continue
        return out

    def _tombstoned_at(self) -> dict[str, tuple[int, dict | None]]:
        """Latest ``deletionTimestamp`` (and that remove action's
        ``deletionVector`` descriptor, if any) per tombstoned path,
        from the surviving JSON tail — O(tail) reads, no data I/O."""
        out: dict[str, tuple[int, dict | None]] = {}
        for _v, cpath in self._commits():
            try:
                with open(cpath, encoding="utf-8") as fh:
                    for ln in fh:
                        if not ln.strip():
                            continue
                        rm = json.loads(ln).get("remove")
                        if rm and rm.get("path"):
                            ts = int(rm.get("deletionTimestamp") or 0)
                            p = rm["path"]
                            if ts > out.get(p, (-1, None))[0]:
                                out[p] = (ts, rm.get("deletionVector"))
            except (OSError, ValueError):
                continue
        return out

    def _vacuum_protocol_check(self, snap) -> None:
        """The FULL writer protocol check the vacuumProtocolCheck
        feature mandates: refuse to garbage-collect a table whose
        writer features this engine does not implement — an unknown
        feature may mark files live in ways we cannot see."""
        declared_w = set(
            (snap.protocol or {}).get("writerFeatures") or []
        )
        unknown_w = declared_w - ENGINE_WRITER_FEATURES
        if unknown_w:
            raise DeltaProtocolError(
                f"vacuum refused: table {self.table_dir} declares "
                f"writer features {sorted(unknown_w)} this engine "
                "does not support"
            )

    def vacuum_lite(
        self,
        dry_run: bool = False,
        retention_ms: int | None = None,
        now_ms: int | None = None,
    ) -> list[str]:
        """Delta 4.0 **VACUUM LITE**: derive the victim set from the
        TRANSACTION LOG alone — zero directory listing. Full VACUUM's
        cost at scale is the recursive LIST of the table directory
        (millions of object-store LIST calls on a 100 TB table, paid
        even when nothing is collectible); LITE reads the surviving
        JSON tail it already has and collects exactly the tombstoned
        files whose retention lapsed (same
        ``delta.deletedFileRetentionDuration`` horizon as full
        vacuum, same time-travel contract), plus the DV sidecars
        those remove actions reference that no live add still uses.

        The documented tradeoff: files the log never tracked
        (crashed-writer orphans, foreign droppings) are INVISIBLE to
        LITE — only full ``vacuum``'s listing finds them. Run LITE
        on the frequent schedule, full vacuum rarely.

        Same writer-protocol check as full vacuum
        (vacuumProtocolCheck): both plan deletions."""
        import time as _time
        from product_analytics_spark.sources import (
            deletion_vectors as dvs,
        )

        snap = self.snapshot()
        self._vacuum_protocol_check(snap)
        if retention_ms is None:
            conf = (snap.metadata or {}).get("configuration") or {}
            retention_ms = parse_interval_ms(
                conf.get(DELETED_FILE_RETENTION_PROP),
                DEFAULT_DELETED_FILE_RETENTION_MS,
            )
        horizon = (
            int(now_ms if now_ms is not None else _time.time() * 1000)
            - int(retention_ms)
        )
        live = set(snap.files)
        live_dv_bins = set()
        for add in snap.files.values():
            dvd = add.get("deletionVector")
            if dvd and dvd.get("storageType") == "u":
                live_dv_bins.add(
                    os.path.relpath(
                        dvs.dv_file_path(self.table_dir, dvd),
                        self.table_dir,
                    ).replace(os.sep, "/")
                )
        victims: list[str] = []
        for p, (ts, dvd) in self._tombstoned_at().items():
            if ts > horizon or p in live:
                continue  # retained for time travel, or re-added
            if os.path.isfile(os.path.join(self.table_dir, p)):
                victims.append(p)
            if dvd and dvd.get("storageType") == "u":
                rel = os.path.relpath(
                    dvs.dv_file_path(self.table_dir, dvd),
                    self.table_dir,
                ).replace(os.sep, "/")
                if rel not in live_dv_bins and os.path.isfile(
                    os.path.join(self.table_dir, rel)
                ):
                    victims.append(rel)
        victims = sorted(set(victims))
        if not dry_run:
            for rel in victims:
                try:
                    os.unlink(os.path.join(self.table_dir, rel))
                except OSError:
                    pass
        return victims

    def vacuum(
        self,
        dry_run: bool = False,
        cdc_grace_s: float = 0.0,
        retention_ms: int | None = None,
        now_ms: int | None = None,
    ) -> list[str]:
        """Delta VACUUM for a standalone log-managed table: delete
        data files under the table dir that the CURRENT snapshot does
        not reference (tombstoned by remove actions, or orphaned) —
        **except tombstones still inside the retention window**
        (``delta.deletedFileRetentionDuration``, default 7 days,
        overridable per-call via ``retention_ms``): a file whose
        remove action's ``deletionTimestamp`` is newer than
        ``now - retention`` survives, which is exactly what keeps
        time travel to recent versions working after a VACUUM
        (delta.io's contract; the old all-or-nothing behavior is
        ``retention_ms=0``). ``now_ms`` defaults to wall clock —
        injectable so retention certs are deterministic. After the
        window passes, time travel to versions referencing the
        collected files is gone — exactly Delta's contract. Returns
        the (relative) paths removed; ``dry_run`` lists without
        deleting. Candidates are parquet data files outside
        ``_delta_log`` plus deletion-vector sidecars
        (``deletion_vector_*.bin``) no live add references, plus
        Change-Data-Feed files under ``_change_data/`` that no
        SURVIVING commit's ``cdc`` action references (after
        ``cleanup_log`` truncates the JSON tail, the dead commits'
        change files are unreachable by ``table_changes`` and go with
        them — Delta's CDF retention follows log retention the same
        way). Tombstone timestamps come from the surviving JSON
        tail's remove actions (O(tail) reads, no data I/O); orphans
        with NO tombstone anywhere are collected immediately — an
        untracked file is garbage, not history.

        ``cdc_grace_s`` (ADVICE r9): a change file another writer has
        STAGED but not yet committed is referenced by nothing — a
        concurrent vacuum would sweep it and the in-flight DML would
        then fail its commit (``_delta_commit`` raises on a vanished
        staged file rather than dropping feed rows). Setting a grace
        window skips ``_change_data`` files younger than it, the
        local-FS analog of Delta's retention horizon; the default 0
        keeps vacuum deterministic for offline tables."""
        import time as _time
        from product_analytics_spark.sources import deletion_vectors as dvs

        snap = self.snapshot()
        # The FULL writer protocol check the vacuumProtocolCheck
        # feature mandates (legacy vacuums checked only the reader
        # side — see ``vacuum_unaware`` for the hazard): refuse to
        # garbage-collect a table whose writer features this engine
        # does not implement — an unknown feature may mark files live
        # in ways we cannot see.
        self._vacuum_protocol_check(snap)
        if retention_ms is None:
            conf = (snap.metadata or {}).get("configuration") or {}
            retention_ms = parse_interval_ms(
                conf.get(DELETED_FILE_RETENTION_PROP),
                DEFAULT_DELETED_FILE_RETENTION_MS,
            )
        horizon = (
            int(now_ms if now_ms is not None else _time.time() * 1000)
            - int(retention_ms)
        )
        # Latest deletionTimestamp per tombstoned path, from the
        # surviving JSON tail (checkpoints drop tombstones; after
        # cleanup_log truncates the tail those files' retention has
        # necessarily lapsed with the log's own).
        tombstoned_at = self._tombstoned_at()
        spared = {
            p for p, (ts, _dvd) in tombstoned_at.items()
            if ts > horizon
        }
        live = set(snap.files)
        referenced_cdc = self.referenced_cdc_paths()
        live_dv_bins = set()
        for add in snap.files.values():
            dvd = add.get("deletionVector")
            if dvd and dvd.get("storageType") == "u":
                live_dv_bins.add(
                    os.path.relpath(
                        dvs.dv_file_path(self.table_dir, dvd), self.table_dir
                    ).replace(os.sep, "/")
                )
        victims: list[str] = []
        for root, dirs, files in os.walk(self.table_dir):
            dirs[:] = [d for d in dirs if d != LOG_DIR]
            for f in files:
                if f.startswith((".", "_")):
                    continue
                rel = os.path.relpath(
                    os.path.join(root, f), self.table_dir
                ).replace(os.sep, "/")
                if rel.startswith(CDC_DIR + "/"):
                    if rel not in referenced_cdc:
                        if cdc_grace_s > 0:
                            try:
                                age = _time.time() - os.path.getmtime(
                                    os.path.join(root, f)
                                )
                            except OSError:
                                continue  # already gone
                            if age < cdc_grace_s:
                                continue  # possibly staged, in-flight
                        victims.append(rel)
                elif f.endswith(".parquet"):
                    if rel not in live and rel not in spared:
                        victims.append(rel)
                elif f.startswith("deletion_vector_") and f.endswith(".bin"):
                    if rel not in live_dv_bins and rel not in spared:
                        victims.append(rel)
        if not dry_run:
            for rel in victims:
                try:
                    os.unlink(os.path.join(self.table_dir, rel))
                except OSError:
                    pass
        return sorted(victims)


# ------------------------------------------------------------------
# Conversion of existing parquet tables
# ------------------------------------------------------------------


def convert_to_delta(spark, table_dir: str) -> int:
    """``CONVERT TO DELTA parquet.`path``` — retrofit a transaction
    log onto an EXISTING plain-parquet table (hive-partitioned or
    flat): one commit 0 with protocol + metaData (Spark schemaString,
    partition columns from the directory layout) + one stats-bearing
    add per data file. The data files are not touched — conversion is
    a pure metadata operation, which is why Delta can convert
    petabyte tables in minutes. Returns the created version (0).
    Refuses if a log already exists."""
    log = DeltaLog(table_dir)
    if log.exists():
        raise DeltaProtocolError(f"{table_dir} already has a _delta_log")
    data_files: list[str] = []
    part_cols: list[str] = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(
            d for d in dirs if not d.startswith((".", "_"))
        )
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(root, f)
                data_files.append(p)
                for c in _partition_values(
                    os.path.relpath(p, table_dir).replace(os.sep, "/")
                ):
                    if c not in part_cols:
                        part_cols.append(c)
    if not data_files:
        raise DeltaProtocolError(f"no parquet files under {table_dir}")
    schema_json = spark.read.parquet(table_dir).schema.json()
    actions: list[dict] = [
        {"protocol": dict(PROTOCOL_ACTION)},
        {"metaData": make_metadata(schema_json, part_cols)},
    ]
    actions += [{"add": make_add(table_dir, p)} for p in data_files]
    return log.commit(actions, version=0, operation="CONVERT")


# ------------------------------------------------------------------
# Standalone consumption
# ------------------------------------------------------------------


def _positions_df(spark, rows, schema: str):
    """A small position/metadata list as a ONE-partition, Arrow-backed
    DataFrame — the broadcast-side shape (round-12 optimization).

    ``spark.createDataFrame(list_of_tuples)`` parallelizes through the
    pickled-row Python path into ``defaultParallelism`` mostly-empty
    partitions, so EVERY broadcast build over it pays ~32 Python-worker
    round-trips (measured 0.3-1.1s per build in the MoR certs).
    pandas + Arrow halves the serialization and ``coalesce(1)`` makes
    the build a single task (guide §4: cross the Python boundary in
    Arrow batches, and as few times as possible)."""
    import pandas as pd

    cols = [c.strip().split()[0] for c in schema.split(",")]
    pdf = pd.DataFrame(list(rows), columns=cols)
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


#: ASCII characters Hadoop's ``Path.toUri`` leaves unescaped in a
#: path (java.net.URI's path characters); it percent-encodes every
#: other ASCII character, and non-ASCII ones only when they are spaces
#: or controls.
_URI_PATH_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "-_.!~*'():@&=+$,;/"
)


def file_uri(path: str) -> str:
    """The ``_metadata.file_path`` a Spark scan reports for the local
    file ``path``: ``file:`` and the absolute path, escaped as Hadoop
    escapes it (a hive dir ``p=a b`` scans as ``p=a%20b``)."""
    import unicodedata
    from urllib.parse import quote

    return "file:" + "".join(
        c
        if c in _URI_PATH_CHARS
        or (c >= "\x80" and unicodedata.category(c) not in ("Zs", "Zl", "Zp", "Cc"))
        else quote(c, safe="")
        for c in os.path.abspath(path)
    )


def dv_positions_df(spark, table_dir: str, positions):
    """The broadcast side of the deletion-vector anti-join: one row per
    tombstoned (add path, row index) of ``positions``, keyed by the
    ``_metadata.file_path`` the file scans as. Relative add paths
    resolve under the table root, absolute-URI adds (shallow clones of
    DV'd sources) wherever they live. None when there are none."""
    if not positions:
        return None
    uri = {p: file_uri(resolve_path(table_dir, p)) for p in {p for p, _ in positions}}
    return _positions_df(
        spark, [(uri[p], ri) for p, ri in positions], "path string, row_index bigint"
    )


def _dv_tag(df):
    """``df`` (a file scan) plus its rows' deletion-vector key as real
    columns: ``_metadata`` is a scan pseudo-column and does not survive
    unions."""
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.col("_metadata.file_path").alias("__dv_f"),
        F.col("_metadata.row_index").alias("__dv_ri"),
    )


def _dv_anti_join(tagged, pos_df, keep_tags: bool = False):
    """One broadcast anti-join of ``_dv_tag``-tagged rows against a
    ``dv_positions_df`` relation; drops the tag columns unless
    ``keep_tags``. The partitioned readers tag each branch and join
    once above the union, so the positions are broadcast once per
    read, not once per branch."""
    from pyspark.sql import functions as F

    out = tagged.join(
        F.broadcast(pos_df),
        (F.col("__dv_f") == pos_df["path"])
        & (F.col("__dv_ri") == pos_df["row_index"]),
        "left_anti",
    )
    return out if keep_tags else out.drop("__dv_f", "__dv_ri")


def apply_dv_filter(df, pos_df):
    """Drop a file scan's deletion-vectored rows: a broadcast anti-join
    of (``_metadata.file_path``, ``_metadata.row_index``) against
    ``pos_df`` (``dv_positions_df``; None drops nothing). Cost bounded
    by the total DV cardinality — the exact read-side trade MoR buys.
    Apply it directly on the scan, where ``_metadata`` resolves."""
    if pos_df is None:
        return df
    return _dv_anti_join(_dv_tag(df), pos_df)


def read_delta(spark, table_dir: str, version: int | None = None):
    """Consume ANY ``_delta_log`` table: plan the live file set from
    the log and load exactly those files. Partition columns come from
    the log's partitionValues (Delta stores them in the log, not the
    files), injected as literal columns per the metadata's declared
    partitionColumns. Files carrying ``deletionVector`` descriptors
    (protocol 3/7 table feature) have their tombstoned positions
    decoded from the roaring-bitmap sidecars and anti-joined out.
    Under column mapping, data files carry PHYSICAL column names; the
    returned DataFrame exposes the metadata's LOGICAL names (a rename
    is therefore visible instantly, zero files rewritten)."""
    from pyspark.sql import functions as F

    snap = DeltaLog(table_dir).snapshot(version)
    # The universal reader rule (Delta PROTOCOL.md "Table Features"):
    # a table declaring a reader feature outside this engine's set is
    # UNREADABLE — guessing would silently return wrong rows (e.g. a
    # reader that ignored deletionVectors would resurrect tombstones).
    unknown_r = (
        set((snap.protocol or {}).get("readerFeatures") or [])
        - ENGINE_READER_FEATURES
    )
    if unknown_r:
        raise DeltaProtocolError(
            f"cannot read {table_dir}: unsupported reader features "
            f"{sorted(unknown_r)}"
        )
    part_cols = (snap.metadata or {}).get("partitionColumns") or []
    paths = sorted(snap.files)
    if not paths:
        # a version with no file (every row deleted): empty, typed
        # from the logged schema
        from pyspark.sql.types import StructType

        schema = (snap.metadata or {}).get("schemaString")
        if not schema:
            raise DeltaProtocolError(f"empty table at {table_dir}")
        return spark.createDataFrame([], StructType.fromJson(json.loads(schema)))
    pos_df = dv_positions_df(spark, table_dir, snap.dv_positions(table_dir))
    conf = (snap.metadata or {}).get("configuration") or {}
    widened = conf.get("delta.enableTypeWidening") == "true"

    # Widened tables mix narrow (old) and wide (new) physical types.
    # mergeSchema REFUSES int+bigint, but Spark's parquet reader
    # supports type PROMOTION when given an explicit read schema —
    # so the declared logical schema (minus partition columns, which
    # live in the log) becomes the read schema and every old file
    # upcasts in the scan itself, vectorized, no extra pass.
    #
    # Under column mapping mode ``id`` the forced read schema ALSO
    # carries ``parquet.field.id`` metadata and the scan resolves
    # columns by parquet FIELD ID, not name (Spark's native
    # ``spark.sql.parquet.fieldId.read.enabled`` path, vectorized) —
    # the file's parquet column name is irrelevant, per the spec.
    # Round-12 optimization (guide §1.2/§6): the read schema is ALWAYS
    # forced from the log's schemaString when present — the log is the
    # source of truth for the table schema, so the per-read parquet
    # schema-inference job (one driver-side footer job per read_delta
    # call, one PER PARTITION GROUP on partitioned tables) and the
    # row-tracked mergeSchema footer scan of every file are pure
    # overhead. Old narrow files upcast via parquet type promotion
    # (the widened path proved this), files missing later-added
    # columns read as null (Delta's semantics), and row-tracking's
    # physical id columns are simply not read — read_delta hides
    # them anyway (read_row_ids, which needs them, has its own
    # reader).
    cm_mode = conf.get("delta.columnMapping.mode")
    read_schema = None
    schema_str0 = (snap.metadata or {}).get("schemaString")
    if schema_str0:
        try:
            from pyspark.sql.types import StructField, StructType

            st = StructType.fromJson(json.loads(schema_str0))
            # Data files carry PHYSICAL names under column mapping —
            # the forced read schema must match the files, or the
            # scan drops the renamed column and _to_logical fails.
            cmap = snap.column_mapping() or {}
            cids = snap.column_mapping_ids() if cm_mode == "id" else {}
            fields = []
            for f in st.fields:
                if f.name in part_cols:
                    continue
                md = dict(f.metadata or {})
                if f.name in cids:
                    md["parquet.field.id"] = cids[f.name]
                fields.append(
                    StructField(
                        cmap.get(f.name, f.name),
                        f.dataType,
                        f.nullable,
                        md,
                    )
                )
            read_schema = StructType(fields)
            if cm_mode == "id":
                # Inert for every other read (kicks in only when a
                # read schema carries parquet.field.id metadata).
                spark.conf.set(
                    "spark.sql.parquet.fieldId.read.enabled", "true"
                )
        except Exception:  # noqa: BLE001 — fall back to inference
            read_schema = None

    # Row-tracked tables mix file schemas: only MoR-rewritten /
    # OPTIMIZE'd files carry the materialized row-id columns. Merge
    # schemas so the scan is deterministic, then hide the physical
    # id columns like SnapshotStore.read does. (Irrelevant when a
    # widened read schema is forced — the explicit schema wins.)
    row_tracked = conf.get("delta.enableRowTracking") == "true"

    def _reader():
        r = spark.read
        if read_schema is not None:
            return r.schema(read_schema)
        if row_tracked:
            r = r.option("mergeSchema", "true")
        return r

    def _hide_rt(df):
        if not row_tracked:
            return df
        drop = [
            c
            for c in (MATERIALIZED_ROW_ID_COL, MATERIALIZED_ROW_COMMIT_COL)
            if c in df.columns
        ]
        return df.drop(*drop) if drop else df

    _SIMPLE = {
        "byte": "tinyint", "short": "smallint", "integer": "int",
        "long": "bigint", "float": "float", "double": "double",
    }

    def _conform_types(df):
        """Cast columns up to the metadata schema's declared types —
        the reader half of type widening (old int32 files read as
        long through the widened schema)."""
        schema_str = (snap.metadata or {}).get("schemaString")
        if not widened or not schema_str:
            return df
        declared = {
            f["name"]: f["type"]
            for f in json.loads(schema_str)["fields"]
            if isinstance(f["type"], str)
        }
        by_name = {fld.name: fld.dataType.simpleString() for fld in df.schema}
        out = df
        for c, t in declared.items():
            want = _SIMPLE.get(t)
            if want and c in by_name and by_name[c] != want:
                out = out.withColumn(c, F.col(c).cast(t))
        return out

    def _to_logical(df):
        m = snap.column_mapping()
        if not m:
            return df
        return df.select(
            *[F.col(phys).alias(logical) for logical, phys in m.items()]
        )

    if not part_cols:
        df = _reader().parquet(
            *[resolve_path(table_dir, p) for p in paths]
        )
        return _hide_rt(
            _conform_types(
                _to_logical(
                    apply_dv_filter(df, pos_df)
                )
            )
        )
    # Partition literals are STRINGS in the log (partitionValues);
    # the table's real column types live in metaData.schemaString —
    # cast each literal to its declared type, like Delta readers do.
    part_types: dict[str, object] = {}
    schema_str = (snap.metadata or {}).get("schemaString")
    if schema_str:
        try:
            from pyspark.sql.types import StructType

            st = StructType.fromJson(json.loads(schema_str))
            part_types = {f.name: f.dataType for f in st.fields}
        except Exception:  # noqa: BLE001 — fall back to strings
            part_types = {}
    # Group by partition tuple so each group injects its literals.
    # The DV filter applies per group, BEFORE the literal columns —
    # _metadata resolves only on the raw scan.
    groups: dict[tuple, list[str]] = {}
    for p in paths:
        pv = snap.files[p].get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(p)
    # DV positions are anti-joined ONCE, above the union: each branch
    # only tags the scan's (file_path, row_index) pseudo-columns as
    # real columns (a projection — _metadata itself does not survive
    # unions/joins), and the single broadcast of the positions
    # relation serves every partition group. The per-branch form
    # built one BroadcastExchange per group — N identical broadcasts
    # of the same positions for an N-partition table (round-12
    # optimization; guide §2.4).
    out = None
    for key in sorted(groups, key=lambda k: tuple(str(x) for x in k)):
        df = _reader().parquet(
            *[resolve_path(table_dir, p) for p in groups[key]]
        )
        if pos_df is not None:
            df = _dv_tag(df)
        df = _conform_types(df)
        for c, v in zip(part_cols, key):
            df = df.withColumn(
                c, F.lit(v).cast(part_types.get(c, "string"))
            )
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    if pos_df is not None:
        out = _dv_anti_join(out, pos_df)
    return _hide_rt(_conform_types(_to_logical(out)))


# ------------------------------------------------------------------
# Change Data Feed
# ------------------------------------------------------------------

#: Directory (relative to the table root) where CDF change files live
#: — Delta's exact layout (PROTOCOL.md "Add CDC File"): DML commits
#: write their change rows to ``_change_data/cdc-*.parquet`` and
#: reference them with ``cdc`` actions.
CDC_DIR = "_change_data"

#: CDF metadata columns (Delta's reserved names).
CDC_TYPE_COL = "_change_type"
CDC_VERSION_COL = "_commit_version"


def _part_types_of(metadata: dict | None) -> dict:
    """Column name -> Spark DataType from a metaData action's
    ``schemaString`` (partition literals are strings in the log and
    must be cast back to their declared types, like every Delta
    reader does)."""
    schema_str = (metadata or {}).get("schemaString")
    if not schema_str:
        return {}
    try:
        from pyspark.sql.types import StructType

        st = StructType.fromJson(json.loads(schema_str))
        return {f.name: f.dataType for f in st.fields}
    except Exception:  # noqa: BLE001 — fall back to strings
        return {}


@dataclass(frozen=True)
class ChangeFile:
    """One data file a commit contributes to its change feed."""

    path: str  # as the action names it (relative, or a file: URI)
    partition_values: dict
    size: int
    kind: str  # "cdc" (carries its own _change_type), "insert" or "delete"


@dataclass(frozen=True)
class CommitChanges:
    """What one commit changed."""

    version: int
    files: list[ChangeFile]
    #: the commit removes data files or deletes rows through a deletion
    #: vector: it is not an append (the stream's skip_change_commits test)
    rewrites: bool
    #: the table's metaData in force at this version
    metadata: dict


def commit_changes(
    log: "DeltaLog", start: int, end: int | None = None, feed: bool = True
):
    """Yield one :class:`CommitChanges` per version in ``[start, end]``
    (``end`` defaults to the latest commit), reading each commit JSON
    once, lazily, in version order.

    The change-feed rule (Delta PROTOCOL.md "Add CDC File"): a commit
    that carries ``cdc`` actions changes exactly its change files; a
    commit without them changes its ``dataChange`` adds (inserts) and
    its ``dataChange`` removes (deletes). OPTIMIZE/compaction commits
    mark both sides ``dataChange: false`` and change nothing. A commit
    that adds a deletion vector without ``cdc`` actions raises: its
    churn re-adds whole files, and deriving inserts from it would
    resurrect the deleted rows. With ``feed=False`` the files are the
    commit's ``dataChange`` adds (what an append stream emits) and a
    rewriting commit does not raise; its ``rewrites`` flag tells.

    Cost: one listing of ``_delta_log`` and one snapshot (at ``start``,
    for the metadata in force there); each later commit's ``metaData``
    action advances the metadata, so no per-version snapshot is built."""
    listed = log._commits()
    if not listed:
        raise DeltaProtocolError(f"no _delta_log at {log.table_dir}")
    commits = dict(listed)
    latest = listed[-1][0]
    end = latest if end is None else int(end)
    if end > latest:
        raise DeltaProtocolError(
            f"end_version {end} beyond latest commit {latest}"
        )
    metadata = None
    for v in range(int(start), end + 1):
        if v not in commits:
            raise DeltaProtocolError(
                f"commit {v} missing from the log of {log.table_dir} "
                "(cleaned below the checkpoint?) — change feed "
                "unavailable for it"
            )
        with open(commits[v], encoding="utf-8") as fh:
            actions = [json.loads(ln) for ln in fh if ln.strip()]
        if metadata is None:
            metadata = log.snapshot(v, listed).metadata or {}
        else:
            metadata = next(
                (a["metaData"] for a in actions if a.get("metaData")),
                metadata,
            )
        adds = [
            a["add"] for a in actions
            if a.get("add") and a["add"].get("dataChange", True)
        ]
        removes = [
            a["remove"] for a in actions
            if a.get("remove") and a["remove"].get("dataChange", True)
        ]
        cdc = [a["cdc"] for a in actions if a.get("cdc")]
        has_dv = any(a.get("deletionVector") for a in adds)
        inserts = [
            ChangeFile(
                a["path"], a.get("partitionValues") or {},
                int(a.get("size") or 0), "insert",
            )
            for a in adds
        ]
        if not feed:
            files = inserts
        elif cdc:
            files = [
                ChangeFile(
                    c["path"], c.get("partitionValues") or {},
                    int(c.get("size") or 0), "cdc",
                )
                for c in cdc
            ]
        elif has_dv:
            raise DeltaProtocolError(
                f"commit {v} carries deletion vectors but no cdc "
                "actions — its changes cannot be derived from "
                "add/remove churn (write with cdf=True so DML stages "
                "change files)"
            )
        else:
            files = inserts + [
                ChangeFile(
                    r["path"],
                    r.get("partitionValues") or _partition_values(r["path"]),
                    int(r.get("size") or 0), "delete",
                )
                for r in removes
            ]
        yield CommitChanges(v, files, bool(removes) or has_dv, metadata)


def _footer_schema(path: str) -> tuple[str, object]:
    """(fingerprint, Spark read schema) of one parquet footer, read on
    the driver with pyarrow: no Spark inference job. Fields are made
    nullable: REQUIRED vs OPTIONAL varies with the writing plan while
    the layout is the same, and the nullable form reads both.
    ``prefer_timestamp_ntz`` matches Spark's own inference: files
    adjusted to UTC carry tz=UTC (TimestampType), NTZ files none."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    sch = pa.schema(
        [f.with_nullable(True) for f in pq.read_schema(path).remove_metadata()]
    )
    return str(sch), from_arrow_schema(sch, prefer_timestamp_ntz=True)


def table_changes(
    spark,
    table_dir: str,
    start_version: int,
    end_version: int | None = None,
):
    """Delta **Change Data Feed** reader (``table_changes(t, s, e)``):
    every row-level change committed in versions ``[start, end]``,
    with the reserved ``_change_type`` (insert / delete /
    update_preimage / update_postimage) and ``_commit_version``
    columns appended — the contract downstream incremental consumers
    (dbt models reading "what changed since my watermark") depend on.

    Which files a commit changed is :func:`commit_changes`' rule: its
    ``cdc`` files alone when it has any (a copy-on-write rewrite's
    add/remove churn re-adds every unchanged row), else its
    ``dataChange`` adds as inserts and removes as deletes (readable
    until VACUUM, exactly Delta's window).

    One grouped read: the files of every version are grouped by
    (kind, footer schema, typed partition literals), each group is one
    scan, and ``_commit_version`` comes from a file -> version map over
    ``_metadata.file_path`` (keyed by :func:`file_uri`, the escaped
    path Spark reports). A path named by several versions is read once
    per version, each read in its own group. Groups are unioned by name
    in version order (within a version: kind as listed, then partition
    literals), so the columns come out as the first group's (the
    files' columns, the partition columns they lack, ``_change_type``,
    ``_commit_version``) followed by those later groups add.

    Scale: one ``_delta_log`` listing, one snapshot and one footer per
    change file; the scan is O(rows actually changed), never
    O(table). A version below the checkpoint-cleaned tail, an end
    beyond the latest commit, change files already VACUUMed or a range
    without changes raise ``DeltaProtocolError``.

    Reference: the incremental models consume exactly this shape
    (``customers_latest.sql:3-6`` merge on the CDC stream;
    ``dbt_project.yml:39`` ``file_format: delta``)."""
    from pyspark.sql import functions as F

    changes = list(
        commit_changes(DeltaLog(table_dir), start_version, end_version)
    )
    schemas: dict[str, object] = {}  # footer fingerprint -> read schema
    groups: dict[tuple, list[tuple[str, int]]] = {}
    reads: dict[tuple[str, str], int] = {}  # (kind, file) -> reads so far
    for c in changes:
        part_cols = c.metadata.get("partitionColumns") or []
        types = _part_types_of(c.metadata)
        by_kind: dict[str, dict[tuple, list[str]]] = {}
        for f in c.files:
            p = resolve_path(table_dir, f.path)
            if not os.path.isfile(p):
                # Retention/VACUUM dropped the files this range's
                # changes live in — the failure Delta reports when CDF
                # is requested below the vacuum horizon.
                raise DeltaProtocolError(
                    f"change-feed data file {f.path!r} no longer on disk "
                    "(GC'd/VACUUMed below the retention window)"
                )
            fp, schema = _footer_schema(p)
            schemas.setdefault(fp, schema)
            pv = tuple(
                (col, f.partition_values.get(col),
                 types[col].simpleString() if col in types else "string")
                for col in part_cols
            )
            by_kind.setdefault(f.kind, {}).setdefault((pv, fp), []).append(p)
        for kind, subs in by_kind.items():
            for pv, fp in sorted(
                subs, key=lambda k: (tuple(str(x[1]) for x in k[0]), k[1])
            ):
                for p in subs[(pv, fp)]:
                    n = reads.get((kind, p), 0)
                    reads[(kind, p)] = n + 1
                    groups.setdefault((kind, fp, pv, n), []).append(
                        (p, c.version)
                    )
    if not groups:
        end = changes[-1].version if changes else end_version
        raise DeltaProtocolError(
            f"no changes in versions [{start_version}, {end}]"
        )
    out = None
    for (kind, fp, pv, _n), files in groups.items():
        df = spark.read.schema(schemas[fp]).parquet(*(p for p, _v in files))
        for col, val, typ in pv:
            if val is not None and col not in df.columns:
                df = df.withColumn(col, F.lit(val).cast(typ))
        if kind != "cdc":
            df = df.withColumn(CDC_TYPE_COL, F.lit(kind))
        version_of = ", ".join(
            "'" + file_uri(p).replace("'", "\\'") + f"', {v}L"
            for p, v in files
        )
        df = df.withColumn(
            CDC_VERSION_COL,
            F.expr(f"CAST(map({version_of})[_metadata.file_path] AS BIGINT)"),
        )
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    # CDF × column mapping: data and cdc files carry PHYSICAL column
    # names (stable across renames); the feed is served under the END
    # version's LOGICAL names, so a rename mid-feed changes how every
    # batch — pre- and post-rename — is exposed, exactly like a
    # Delta reader resolving the latest schema. Metadata-only commits
    # (the rename itself) contribute no rows.
    mapping = DeltaSnapshot(
        version=changes[-1].version, metadata=changes[-1].metadata
    ).column_mapping()
    for logical, phys in mapping.items():
        if phys != logical and phys in out.columns:
            out = out.withColumnRenamed(phys, logical)
    return out


# ------------------------------------------------------------------
# Shallow clone
# ------------------------------------------------------------------


def shallow_clone(src_table_dir: str, dst_table_dir: str) -> int:
    """Delta **SHALLOW CLONE**: create a NEW log-managed table whose
    version-0 commit references the SOURCE table's live data files by
    ABSOLUTE path — zero bytes copied (the protocol allows
    ``add.path`` to be "a relative path ... or an absolute URI";
    clones are the canonical use). The clone starts its own history:
    commits to it add files under its OWN directory and never touch
    the source; per-file ``stats`` come along by value, so scan
    planning on the clone prunes from its log with zero footer opens.

    Returns the number of files referenced. Outstanding deletion
    vectors CLONE TOO (round 11): a relative storageType-"u"
    descriptor is rewritten to storageType "p" with the ABSOLUTE
    path of the source sidecar — offset/size/cardinality unchanged
    (the bitmap bytes are untouched) — so the clone's DV-aware reads
    are bit-equal to the source's without materializing, exactly how
    Delta clones DV'd tables. Inline ("i") descriptors carry over
    verbatim. The clone's own VACUUM can never delete source
    sidecars: they live outside its table directory.

    Scale: cloning a 100 TB table is O(|files|) log entries — the
    dev/staging-fork workflow (test a risky migration against
    production data without copying it) costs metadata, not a second
    copy of the lake. VACUUM on the clone never deletes source files
    (they live outside its table dir); VACUUM on the source CAN break
    clones past their retention, exactly Delta's documented caveat.

    Reference: dbt's ``file_format: delta`` tables are forked this
    way for CI runs (dbt_project.yml:39); the clone is how a staging
    run materializes against prod inputs without a 100 TB copy."""
    src_log = DeltaLog(src_table_dir)
    snap = src_log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData in source {src_table_dir}")
    actions: list[dict] = [
        {"protocol": dict(snap.protocol or PROTOCOL_ACTION)}
    ]
    meta = dict(snap.metadata)
    meta["id"] = str(uuid.uuid4())  # a clone is a NEW table identity
    actions.append({"metaData": meta})
    src_abs = os.path.abspath(src_table_dir)
    n = 0
    from product_analytics_spark.sources import deletion_vectors as dvs

    for rel in sorted(snap.files):
        add = dict(snap.files[rel])
        dvd = add.get("deletionVector")
        if dvd and dvd.get("storageType") == "u":
            dvd = dict(dvd)
            dvd["pathOrInlineDv"] = dvs.dv_file_path(src_abs, dvd)
            dvd["storageType"] = "p"
            add["deletionVector"] = dvd
        # pathlib's as_uri percent-encodes, matching resolve_path's
        # unquote on read — plain concatenation round-tripped paths
        # containing % / # / ? to a DIFFERENT filesystem path
        # (ADVICE r9)
        add["path"] = PurePath(os.path.join(src_abs, rel)).as_uri()
        add["dataChange"] = True
        actions.append({"add": add})
        n += 1
    os.makedirs(dst_table_dir, exist_ok=True)
    DeltaLog(dst_table_dir).commit(actions, version=0, operation="CLONE")
    return n


# ------------------------------------------------------------------
# In-commit timestamps, liquid clustering, type widening
# ------------------------------------------------------------------

#: domainMetadata domain that records liquid-clustering columns
#: (Delta PROTOCOL.md "Clustered Table" — the successor to ZORDER:
#: clustering keys live in the LOG, not a side file, so every engine
#: and every OPTIMIZE run sees the same declaration).
CLUSTERING_DOMAIN = "delta.clustering"


def enable_in_commit_timestamps(table_dir: str) -> int:
    """Declare the **inCommitTimestamp** writer feature (Delta
    PROTOCOL.md "In-Commit Timestamps"): commit timestamps become
    part of the COMMIT CONTENT (commitInfo.inCommitTimestamp,
    monotonically clamped) instead of filesystem mtimes — the only
    way ``TIMESTAMP AS OF`` stays correct when log files are copied,
    restored, or written by skewed clocks. Records the enablement
    version/timestamp table properties the spec requires, so readers
    know where the ICT regime begins. Metadata-only commit."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    conf = dict(snap.metadata.get("configuration") or {})
    if conf.get("delta.enableInCommitTimestamps") == "true":
        return snap.version  # idempotent
    version = snap.version + 1
    prev_proto = dict(snap.protocol or PROTOCOL_ACTION)
    need = {
        "minReaderVersion": prev_proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": _implied_writer_features(
            prev_proto.get("minWriterVersion", 2)
        )
        + ["inCommitTimestamp"],
    }
    # the enablement commit's own ict, under the same clamp commit()
    # applies (deterministic default stamp)
    prev_ict = log._prev_ict(version)
    ict = (
        version * 1000
        if prev_ict is None
        else max(version * 1000, prev_ict + 1)
    )
    meta = dict(snap.metadata)
    conf["delta.enableInCommitTimestamps"] = "true"
    conf["delta.inCommitTimestamps.enablementVersion"] = str(version)
    conf["delta.inCommitTimestamps.enablementTimestamp"] = str(ict)
    meta["configuration"] = conf
    return log.commit(
        [
            {"protocol": merge_protocol(prev_proto, need)},
            {"metaData": meta},
        ],
        version=version,
        operation="UPGRADE",
    )


def set_clustering(table_dir: str, cols: list[str]) -> int:
    """Declare **liquid clustering** columns in the log (Delta
    PROTOCOL.md "Clustered Table", the successor to ZORDER
    post-hooks): a ``delta.clustering`` domainMetadata action carries
    ``clusteringColumns``; the ``clustering`` + ``domainMetadata``
    writer features are declared. ``optimize()`` then reads its keys
    FROM THE LOG — any engine maintaining the table reclusters the
    same way, with no side-channel layout file. Metadata-only
    commit; reclustering happens at the next OPTIMIZE, exactly
    Delta's behavior for ``ALTER TABLE ... CLUSTER BY``."""
    if not cols:
        raise ValueError("clustering needs at least one column")
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    schema = json.loads(snap.metadata["schemaString"])
    names = {f["name"] for f in schema["fields"]}
    missing = [c for c in cols if c not in names]
    if missing:
        raise DeltaProtocolError(
            f"clustering columns {missing} not in schema {sorted(names)}"
        )
    prev_proto = dict(snap.protocol or PROTOCOL_ACTION)
    need = {
        "minReaderVersion": prev_proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": _implied_writer_features(
            prev_proto.get("minWriterVersion", 2)
        )
        + ["clustering", "domainMetadata"],
    }
    return log.commit(
        [
            {"protocol": merge_protocol(prev_proto, need)},
            {
                "domainMetadata": {
                    "domain": CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        # nested arrays: each entry is a (possibly
                        # multi-part) physical column path
                        {"clusteringColumns": [[c] for c in cols]},
                        separators=(",", ":"),
                    ),
                    "removed": False,
                }
            },
        ],
        operation="CLUSTER BY",
    )


#: allowed type widenings (Delta PROTOCOL.md "Type Widening"):
#: from -> widenable-to set. Conservative integer/float promotions
#: only — everything a parquet reader can upcast losslessly.
_WIDENINGS = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def widen_column_type(table_dir: str, col: str, to_type: str) -> int:
    """**Type widening** (Delta PROTOCOL.md "Type Widening",
    ``delta.enableTypeWidening``): change a column's LOGICAL type to
    a wider one — int→long, float→double — in ONE metadata commit,
    zero files rewritten. Old files keep their narrow physical type;
    readers upcast through the widened schema (``read_delta``
    conforms every loaded column to the declared type). The field's
    ``delta.typeChanges`` metadata records {fromType, toType,
    tableVersion} per widening so engines know which files predate
    which change.

    The alternative at 100 TB — rewriting every file because an id
    column outgrew int32 — is exactly what this feature exists to
    avoid. Refuses narrowings and unknown promotions (they would
    corrupt, not widen). Reference: schema evolution on
    ``file_format: delta`` tables (customers_latest.sql:5
    ``on_schema_change='sync_all_columns'`` handles add/remove; this
    is the type half)."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    schema = json.loads(snap.metadata["schemaString"])
    field = next((f for f in schema["fields"] if f["name"] == col), None)
    if field is None:
        raise DeltaProtocolError(f"no column {col!r}")
    cur = field["type"]
    if not isinstance(cur, str):
        raise DeltaProtocolError(
            f"type widening supports primitive types only, {col!r} "
            f"is {cur}"
        )
    if to_type == cur:
        return snap.version  # idempotent
    if to_type not in _WIDENINGS.get(cur, ()):  # narrowing/unknown
        raise DeltaProtocolError(
            f"cannot widen {col!r} from {cur} to {to_type} "
            f"(allowed: {sorted(_WIDENINGS.get(cur, ()))})"
        )
    version = snap.version + 1
    field["type"] = to_type
    md = dict(field.get("metadata") or {})
    changes = list(md.get("delta.typeChanges") or [])
    changes.append(
        {"fromType": cur, "toType": to_type, "tableVersion": version}
    )
    md["delta.typeChanges"] = changes
    field["metadata"] = md
    meta = dict(snap.metadata)
    meta["schemaString"] = json.dumps(schema, separators=(",", ":"))
    conf = dict(meta.get("configuration") or {})
    conf["delta.enableTypeWidening"] = "true"
    meta["configuration"] = conf
    prev_proto = dict(snap.protocol or PROTOCOL_ACTION)
    need = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["typeWidening"],
        "writerFeatures": _implied_writer_features(
            prev_proto.get("minWriterVersion", 2)
        )
        + ["typeWidening"],
    }
    return log.commit(
        [
            {"protocol": merge_protocol(prev_proto, need)},
            {"metaData": meta},
        ],
        version=version,
        operation="ALTER COLUMN",
    )


# ------------------------------------------------------------------
# Row tracking (stable row identity)
# ------------------------------------------------------------------

#: Features implied by the LEGACY writer versions (Delta PROTOCOL.md
#: "Table Features"): upgrading a table to writer version 7 must list
#: every feature its old version number implied.
_LEGACY_WRITER_FEATURES = {
    3: ["checkConstraints"],
    4: ["changeDataFeed", "generatedColumns"],
    5: ["columnMapping"],
    6: ["identityColumns"],
}


def _implied_writer_features(min_writer: int) -> list[str]:
    out: list[str] = []
    for v in range(3, min(min_writer, 6) + 1):
        out += _LEGACY_WRITER_FEATURES[v]
    return out


def enable_row_tracking(table_dir: str) -> int:
    """Enable the **row tracking** writer feature (Delta PROTOCOL.md
    "Row Tracking"): every data file gets a ``baseRowId`` — the first
    of ``numRecords`` consecutive FRESH row ids — and a
    ``defaultRowCommitVersion``; the allocation high-water mark lives
    in a ``delta.rowTracking`` ``domainMetadata`` action. A row's id
    is ``baseRowId + position`` unless a REWRITE preserved the id by
    materializing it into the configured materialized column
    (``delta.rowTracking.materializedRowIdColumnName``) — which is
    what makes the id STABLE across MoR updates/merges, the join key
    CDC consumers actually want.

    Enablement is one metadata commit that BACKFILLS the live files:
    each is re-added (``dataChange: false`` — streams/CDF skip it)
    with its allocated range; protocol upgrades to writer-features
    (7) declaring ``rowTracking`` + ``domainMetadata`` alongside
    whatever the legacy writer version implied. Zero data I/O at any
    table size — O(|files|) log entries, like every metadata-only
    upgrade in this family."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    conf = dict(snap.metadata.get("configuration") or {})
    if conf.get("delta.enableRowTracking") == "true":
        return snap.version  # idempotent
    version = snap.version + 1
    prev_proto = dict(snap.protocol or PROTOCOL_ACTION)
    need = {
        "minReaderVersion": prev_proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": _implied_writer_features(
            prev_proto.get("minWriterVersion", 2)
        )
        + ["rowTracking", "domainMetadata"],
    }
    actions: list[dict] = [{"protocol": merge_protocol(prev_proto, need)}]
    meta = dict(snap.metadata)
    conf["delta.enableRowTracking"] = "true"
    conf["delta.rowTracking.materializedRowIdColumnName"] = (
        MATERIALIZED_ROW_ID_COL
    )
    conf["delta.rowTracking.materializedRowCommitVersionColumnName"] = (
        MATERIALIZED_ROW_COMMIT_COL
    )
    meta["configuration"] = conf
    actions.append({"metaData": meta})
    hwm = snap.row_id_high_water_mark()
    for rel in sorted(snap.files):
        add = dict(snap.files[rel])
        s = add.get("stats")
        if not s:
            raise DeltaProtocolError(
                f"row tracking backfill needs numRecords stats; "
                f"{rel!r} has none"
            )
        n = int(json.loads(s)["numRecords"])
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        add["dataChange"] = False
        hwm += n
        actions.append({"add": add})
    actions.append(
        {
            "domainMetadata": {
                "domain": ROW_TRACKING_DOMAIN,
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": hwm}, separators=(",", ":")
                ),
                "removed": False,
            }
        }
    )
    return log.commit(actions, version=version, operation="UPGRADE")


def row_id_base_df(spark, table_dir: str, snap):
    """The broadcastable (``__rt_p`` = ``_metadata.file_path``,
    ``__rt_base`` = baseRowId, ``__rt_cv`` = defaultRowCommitVersion)
    map of snapshot ``snap``'s live files — the O(|files|) side of the
    virtual row-id computation ``baseRowId + row_index``."""
    rows = []
    for rel in sorted(snap.files):
        add = snap.files[rel]
        if add.get("baseRowId") is None:
            raise DeltaProtocolError(
                f"live file {rel!r} has no baseRowId (written by a "
                "non-row-tracking writer after enablement?)"
            )
        rows.append(
            (file_uri(resolve_path(table_dir, rel)), int(add["baseRowId"]),
             int(add.get("defaultRowCommitVersion") or 0))
        )
    return _positions_df(
        spark, rows, "__rt_p string, __rt_base bigint, __rt_cv bigint"
    )


def read_row_ids(spark, table_dir: str, version: int | None = None):
    """Read a row-tracked table WITH its stable row identity: the
    logical columns plus ``_row_id`` and ``_row_commit_version``.

    Fresh rows: ``_row_id = baseRowId + _metadata.row_index`` (a
    broadcast join of the O(|files|) path→baseRowId map onto the
    scan — no shuffle of the data side). Preserved rows: the
    materialized columns a MoR rewrite wrote win via ``coalesce``.
    Deletion-vector tombstones are anti-joined out first, so a
    deleted row's id never resurfaces. ``mergeSchema`` is on because
    only rewritten files carry the materialized columns (schema
    evolution by design, exactly how Delta stores them)."""
    from pyspark.sql import functions as F

    snap = DeltaLog(table_dir).snapshot(version)
    if not snap.row_tracking_enabled():
        raise DeltaProtocolError(
            f"row tracking not enabled on {table_dir} — call "
            "enable_row_tracking first"
        )
    base_df = row_id_base_df(spark, table_dir, snap)
    pos_df = dv_positions_df(spark, table_dir, snap.dv_positions(table_dir))
    part_cols = (snap.metadata or {}).get("partitionColumns") or []
    part_types = _part_types_of(snap.metadata)
    # Round-12 optimization (guide §1.2): mergeSchema footer-scans
    # every file in a distributed job per partition group, only to
    # discover whether rewritten files carry the materialized id
    # columns. Force the schema instead: metadata fields (physical
    # names, partition columns live in the log) plus the two
    # materialized long columns, nullable — files lacking them read
    # null, exactly what mergeSchema + allowMissingColumns produced,
    # and the existing coalesce fallback handles null identically.
    read_schema = None
    schema_str = (snap.metadata or {}).get("schemaString")
    if schema_str:
        try:
            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
            )

            st = StructType.fromJson(json.loads(schema_str))
            cmap = snap.column_mapping() or {}
            fields = [
                StructField(cmap.get(f.name, f.name), f.dataType, True)
                for f in st.fields
                if f.name not in part_cols
            ]
            fields += [
                StructField(MATERIALIZED_ROW_ID_COL, LongType(), True),
                StructField(
                    MATERIALIZED_ROW_COMMIT_COL, LongType(), True
                ),
            ]
            read_schema = StructType(fields)
        except Exception:  # noqa: BLE001 — fall back to mergeSchema
            read_schema = None
    groups: dict[tuple, list[str]] = {}
    for rel in sorted(snap.files):
        pv = snap.files[rel].get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(rel)
    out = None
    for key in sorted(groups, key=lambda k: tuple(str(x) for x in k)):
        df = (
            spark.read.schema(read_schema)
            if read_schema is not None
            else spark.read.option("mergeSchema", "true")
        ).parquet(*[resolve_path(table_dir, p) for p in groups[key]])
        tagged = df.select(
            "*",
            F.col("_metadata.file_path").alias("__rt_path"),
            F.col("_metadata.row_index").alias("__rt_ri"),
        )
        for c, v in zip(part_cols, key):
            tagged = tagged.withColumn(
                c, F.lit(v).cast(part_types.get(c, "string"))
            )
        out = tagged if out is None else out.unionByName(
            tagged, allowMissingColumns=True
        )
    if pos_df is not None:
        # One DV anti-join above the union (tag columns kept — the
        # row-id computation still needs them) instead of one
        # broadcast per partition group (round-12 optimization).
        out = out.join(
            F.broadcast(pos_df),
            (F.col("__rt_path") == pos_df["path"])
            & (F.col("__rt_ri") == pos_df["row_index"]),
            "left_anti",
        )
    joined = out.join(
        F.broadcast(base_df), F.col("__rt_path") == F.col("__rt_p"), "left"
    )
    mat_id = (
        F.col(MATERIALIZED_ROW_ID_COL)
        if MATERIALIZED_ROW_ID_COL in out.columns
        else F.lit(None).cast("long")
    )
    mat_cv = (
        F.col(MATERIALIZED_ROW_COMMIT_COL)
        if MATERIALIZED_ROW_COMMIT_COL in out.columns
        else F.lit(None).cast("long")
    )
    logical = [
        c
        for c in out.columns
        if c
        not in (
            MATERIALIZED_ROW_ID_COL,
            MATERIALIZED_ROW_COMMIT_COL,
            "__rt_path",
            "__rt_ri",
        )
    ]
    return joined.select(
        *logical,
        F.coalesce(
            mat_id, F.col("__rt_base") + F.col("__rt_ri")
        ).cast("long").alias("_row_id"),
        F.coalesce(mat_cv, F.col("__rt_cv")).cast("long").alias(
            "_row_commit_version"
        ),
    )


# ------------------------------------------------------------------
# Column mapping (rename without rewrite)
# ------------------------------------------------------------------


def _verify_field_ids(
    table_dir: str, snap: "DeltaSnapshot", want: dict[str, int]
) -> None:
    """Every live data file must carry ``PARQUET:field_id`` matching
    the assigned column-mapping ids (by current physical name) before
    ``id`` mode may activate — an id-mode reader resolves ONLY by id,
    so an id-less file would read as all-null or error."""
    import pyarrow.parquet as pq

    for rel in sorted(snap.files):
        sch = pq.read_schema(resolve_path(table_dir, rel))
        by_name = {}
        for fld in sch:
            md = fld.metadata or {}
            fid = md.get(b"PARQUET:field_id")
            if fid is not None:
                by_name[fld.name] = int(fid)
        for name, fid in want.items():
            if by_name.get(name) != fid:
                raise DeltaProtocolError(
                    f"cannot enable column mapping mode 'id': file "
                    f"{rel!r} lacks parquet field id {fid} on column "
                    f"{name!r} (found {by_name.get(name)}); id-mode "
                    "readers resolve by field id only — rewrite the "
                    "file with ids or use mode 'name'"
                )


def arrow_schema_with_field_ids(schema, ids: dict[str, int]):
    """Attach ``PARQUET:field_id`` metadata to a pyarrow schema —
    what an id-mode writer must stamp on every file (column name ->
    field id; columns absent from ``ids`` keep no id)."""
    import pyarrow as pa

    fields = []
    for fld in schema:
        if fld.name in ids:
            md = dict(fld.metadata or {})
            md[b"PARQUET:field_id"] = str(ids[fld.name]).encode()
            fields.append(fld.with_metadata(md))
        else:
            fields.append(fld)
    return pa.schema(fields)


def with_field_ids(df, ids: dict[str, int]):
    """Attach ``parquet.field.id`` column metadata to a DataFrame so
    Spark's native writer stamps ``PARQUET:field_id`` into every
    footer (``spark.sql.parquet.fieldId.write.enabled`` is on by
    default) — the zero-custom-code write path for id-mode tables.
    Must go through ``Column.alias(metadata=...)``: attaching the
    metadata to a target StructType and ``df.to(schema)`` silently
    DROPS it before the write (verified on Spark 4.1)."""
    from pyspark.sql import functions as F

    return df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": ids[c]})
            if c in ids
            else F.col(c)
            for c in df.columns
        ]
    )


def enable_column_mapping(table_dir: str, mode: str = "name") -> int:
    """Upgrade a log-managed table to column mapping
    (``delta.columnMapping.mode = name | id``): every schema field
    gets a stable ``delta.columnMapping.id`` and a
    ``delta.columnMapping.physicalName`` equal to its CURRENT name
    (so existing data files stay valid byte-for-byte), and the
    protocol moves to reader 2 / writer 5 (the legacy columnMapping
    requirement) unless already higher. MetaData-only commit — zero
    data I/O at any table size in ``name`` mode.

    ``mode="id"`` (the Iceberg-compat half of the spec): readers
    resolve columns by parquet FIELD ID, so every live data file
    must already carry ``PARQUET:field_id`` on every column matching
    the assigned ids — verified here with one footer read per live
    file (enable-time only); real Delta sidesteps the check by
    allowing ``id`` only on new tables, which is strictly less
    permissive than verifying. Files written AFTER enablement must
    carry the ids too (``arrow_schema_with_field_ids`` /
    ``with_field_ids`` stamp them)."""
    if mode not in ("name", "id"):
        raise DeltaProtocolError(
            f"column mapping mode must be 'name' or 'id', got {mode!r}"
        )
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    conf = dict(snap.metadata.get("configuration") or {})
    if conf.get("delta.columnMapping.mode") in ("name", "id"):
        return snap.version  # already enabled — idempotent
    schema = json.loads(snap.metadata["schemaString"])
    max_id = 0
    for i, f in enumerate(schema["fields"], start=1):
        md = dict(f.get("metadata") or {})
        md.setdefault("delta.columnMapping.id", i)
        md.setdefault("delta.columnMapping.physicalName", f["name"])
        f["metadata"] = md
        max_id = max(max_id, int(md["delta.columnMapping.id"]))
    if mode == "id":
        part_cols = set(snap.metadata.get("partitionColumns") or [])
        want = {
            f["name"]: int(f["metadata"]["delta.columnMapping.id"])
            for f in schema["fields"]
            if f["name"] not in part_cols
        }
        _verify_field_ids(table_dir, snap, want)
    meta = dict(snap.metadata)
    meta["schemaString"] = json.dumps(schema, separators=(",", ":"))
    conf["delta.columnMapping.mode"] = mode
    conf["delta.columnMapping.maxColumnId"] = str(max_id)
    meta["configuration"] = conf
    actions: list[dict] = []
    proto = dict(snap.protocol or PROTOCOL_ACTION)
    if (
        proto.get("minReaderVersion", 1) < 2
        or proto.get("minWriterVersion", 2) < 5
    ):
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": max(
                        2, proto.get("minReaderVersion", 1)
                    ),
                    "minWriterVersion": max(
                        5, proto.get("minWriterVersion", 2)
                    ),
                }
            }
        )
    actions.append({"metaData": meta})
    return log.commit(actions, operation="UPGRADE")


def rename_column(table_dir: str, old: str, new: str) -> int:
    """``ALTER TABLE t RENAME COLUMN old TO new`` under column
    mapping: flip the LOGICAL field name in metaData; the physical
    name (what every data file and every ``add.stats`` entry carries)
    is untouched — ZERO files rewritten, one metaData commit.
    ``read_delta`` exposes the new logical name immediately and
    ``plan_files`` translates predicates on it back to the physical
    stats keys, so data skipping survives the rename.

    Partition columns are refused (their physical names live in the
    hive directory layout; Delta requires a rewrite for those too).

    Scale: renaming a column of a 100 TB table is one JSON commit.
    The alternative — rewrite every file with the new parquet column
    name — is exactly what column mapping exists to avoid."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    conf = (snap.metadata or {}).get("configuration") or {}
    if conf.get("delta.columnMapping.mode") not in ("name", "id"):
        raise DeltaProtocolError(
            "rename_column requires column mapping — call "
            "enable_column_mapping first"
        )
    if old in ((snap.metadata or {}).get("partitionColumns") or []):
        raise DeltaProtocolError(
            f"cannot rename partition column {old!r} (physical name "
            "is the hive directory layout; rewrite required)"
        )
    schema = json.loads(snap.metadata["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise DeltaProtocolError(f"no column {old!r} in {names}")
    if new in names:
        raise DeltaProtocolError(f"column {new!r} already exists")
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new  # physicalName in metadata stays put
    meta = dict(snap.metadata)
    meta["schemaString"] = json.dumps(schema, separators=(",", ":"))
    return log.commit([{"metaData": meta}], operation="RENAME COLUMN")


# ------------------------------------------------------------------
# Append-only tables / column invariants (legacy writer version 2)
# ------------------------------------------------------------------


def _declare_writer_feature(proto: dict | None, feature: str) -> dict | None:
    """Return a protocol action declaring ``feature`` when the
    table's protocol is the table-features form (writer 7) and the
    feature is missing; None when nothing needs to change (legacy
    protocols ≥ the feature's floor imply it)."""
    proto = dict(proto or PROTOCOL_ACTION)
    if proto.get("minWriterVersion", 2) < 7:
        return None  # legacy protocol v2+ already implies both
    feats = list(proto.get("writerFeatures") or [])
    if feature in feats:
        return None
    proto["writerFeatures"] = sorted(feats + [feature])
    return proto


def set_append_only(table_dir: str, enabled: bool = True) -> int:
    """``ALTER TABLE t SET TBLPROPERTIES (delta.appendOnly = ...)``
    for a log-managed table: one metaData commit flipping the
    property (plus the ``appendOnly`` writer feature when the
    protocol is the table-features form). From the next commit on,
    ``DeltaLog.commit`` refuses remove actions with
    ``dataChange = true`` — see ``commit`` for the enforcement."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    meta = dict(snap.metadata)
    conf = dict(meta.get("configuration") or {})
    conf[APPEND_ONLY_PROP] = "true" if enabled else "false"
    meta["configuration"] = conf
    actions: list[dict] = []
    if enabled:
        proto = _declare_writer_feature(snap.protocol, "appendOnly")
        if proto is not None:
            actions.append({"protocol": proto})
    actions.append({"metaData": meta})
    return log.commit(actions, operation="SET TBLPROPERTIES")


def set_column_invariant(table_dir: str, col: str, expr_sql: str) -> int:
    """Declare a **column invariant** (Delta PROTOCOL.md "Column
    Invariants") on a log-managed table: the expression is persisted
    in the column's field metadata under ``delta.invariants`` in the
    spec's rule form ``{"expression": {"expression": "<sql>"}}``.
    Every compliant writer must validate each written row (null or
    false ⇒ refuse the write) — this engine does, in
    ``validate_invariants`` / SnapshotStore's write paths."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    schema = json.loads(snap.metadata["schemaString"])
    target = schema_field_at(schema, col)  # dotted paths descend
    if target is None:
        names = [n for n, _ in walk_schema_fields(schema["fields"])]
        raise DeltaProtocolError(f"no column {col!r} in {names}")
    md = dict(target.get("metadata") or {})
    md[INVARIANTS_META_KEY] = json.dumps(
        {"expression": {"expression": expr_sql}},
        separators=(",", ":"),
    )
    target["metadata"] = md
    meta = dict(snap.metadata)
    meta["schemaString"] = json.dumps(schema, separators=(",", ":"))
    actions: list[dict] = []
    proto = _declare_writer_feature(snap.protocol, "invariants")
    if proto is not None:
        actions.append({"protocol": proto})
    actions.append({"metaData": meta})
    return log.commit(actions, operation="ALTER TABLE")


def validate_invariants(df, invariants: dict[str, str]) -> None:
    """Writer-side invariant check: raise ``DeltaProtocolError`` if
    any row of ``df`` violates any invariant (expression false OR
    NULL — delta-spark's CheckDeltaInvariant rule; stricter than
    CHECK constraints, where NULL satisfies). A declared column
    missing from the write entirely is a violation too (its value
    would be null for every row). One fused predicate per scan — no
    shuffle, no extra pass at any scale."""
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    for col, expr_sql in invariants.items():
        if col.split(".", 1)[0] not in df.columns:
            raise DeltaProtocolError(
                f"column invariant on {col!r} ({expr_sql}): the "
                "write is missing the column entirely (all-null "
                "violates); nothing committed"
            )
        try:
            # agg(first) not take(1): one fully-parallel job in the
            # all-pass case (round-12, guide §1.2).
            bad0 = (
                df.where(~F.coalesce(F.expr(expr_sql), F.lit(False)))
                .agg(F.first(F.struct(*df.columns)))
                .collect()[0][0]
            )
            bad = [bad0] if bad0 is not None else []
        except AnalysisException:
            # a nested field the write's struct lacks — all-null,
            # which violates
            raise DeltaProtocolError(
                f"column invariant on {col!r} ({expr_sql}): the "
                "write cannot resolve the invariant's column "
                "(missing nested field is all-null, which "
                "violates); nothing committed"
            ) from None
        if bad:
            raise DeltaProtocolError(
                f"column invariant on {col!r} ({expr_sql}) violated, "
                f"e.g. by row {bad[0].asDict()!r}; nothing committed"
            )


# ------------------------------------------------------------------
# Protocol-safety features: vacuumProtocolCheck / checkpointProtection
# ------------------------------------------------------------------

#: Every reader feature this engine understands. A reader MUST refuse
#: a table declaring a reader feature outside its set (Delta
#: PROTOCOL.md "Table Features") — vacuumProtocolCheck exploits
#: exactly this rule to stop legacy VACUUMs (below).
ENGINE_READER_FEATURES = frozenset(
    {
        "deletionVectors",
        "columnMapping",
        "typeWidening",
        "timestampNtz",
        "v2Checkpoint",
        "vacuumProtocolCheck",
    }
)

#: Every writer feature this engine implements.
ENGINE_WRITER_FEATURES = frozenset(
    {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "generatedColumns",
        "columnMapping",
        "identityColumns",
        "deletionVectors",
        "domainMetadata",
        "rowTracking",
        "inCommitTimestamp",
        "typeWidening",
        "clustering",
        "v2Checkpoint",
        "vacuumProtocolCheck",
        "checkpointProtection",
        "coordinatedCommits-preview",
    }
)

VACUUM_PROTOCOL_CHECK_FEATURE = "vacuumProtocolCheck"
CHECKPOINT_PROTECTION_FEATURE = "checkpointProtection"
CHECKPOINT_PROTECTION_PROP = (
    "delta.requireCheckpointProtectionBeforeVersion"
)


def enable_vacuum_protocol_check(table_dir: str) -> int:
    """Declare the **vacuumProtocolCheck** reader+writer feature
    (Delta PROTOCOL.md "Vacuum Protocol Check"). The historical
    hazard it closes: VACUUM implementations performed only a READER
    protocol check before deleting unreferenced files, so a client
    that could read the table but whose vacuum predates deletion
    vectors would sweep live ``deletion_vector_*.bin`` sidecars as
    garbage — corrupting every DV'd file at once. Declaring the
    feature on BOTH sides makes any legacy client fail its generic
    protocol check before it can plan a single deletion:

    * legacy readers refuse (unknown reader feature ⇒ unreadable);
    * compliant vacuums (this engine's ``DeltaLog.vacuum``) perform
      the full WRITER protocol check the feature mandates.

    Metadata-only commit; idempotent."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    prev = dict(snap.protocol or PROTOCOL_ACTION)
    if VACUUM_PROTOCOL_CHECK_FEATURE in (prev.get("writerFeatures") or []):
        return snap.version  # idempotent
    need = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": [VACUUM_PROTOCOL_CHECK_FEATURE],
        "writerFeatures": _implied_writer_features(
            prev.get("minWriterVersion", 2)
        )
        + [VACUUM_PROTOCOL_CHECK_FEATURE],
    }
    return log.commit(
        [{"protocol": merge_protocol(prev, need)}],
        operation="UPGRADE PROTOCOL",
    )


def enable_checkpoint_protection(
    table_dir: str, before_version: int | None = None
) -> int:
    """Declare the **checkpointProtection** writer feature (Delta
    PROTOCOL.md "Checkpoint Protection"): log cleanup MUST NOT delete
    commit or checkpoint files at versions below
    ``delta.requireCheckpointProtectionBeforeVersion`` (default: the
    current version) unless it can rewrite history in full — this
    engine takes the conservative branch and simply spares them, so
    time travel across a protocol-transition boundary keeps working
    after ``cleanup_log``. Metadata + protocol commit; idempotent
    for the same boundary."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    if before_version is None:
        before_version = snap.version
    conf = dict((snap.metadata or {}).get("configuration") or {})
    prev = dict(snap.protocol or PROTOCOL_ACTION)
    if (
        CHECKPOINT_PROTECTION_FEATURE in (prev.get("writerFeatures") or [])
        and conf.get(CHECKPOINT_PROTECTION_PROP)
        == str(int(before_version))
    ):
        return snap.version  # idempotent
    need = {
        "minReaderVersion": prev.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": _implied_writer_features(
            prev.get("minWriterVersion", 2)
        )
        + [CHECKPOINT_PROTECTION_FEATURE],
    }
    meta = dict(snap.metadata)
    conf[CHECKPOINT_PROTECTION_PROP] = str(int(before_version))
    meta["configuration"] = conf
    return log.commit(
        [{"protocol": merge_protocol(prev, need)}, {"metaData": meta}],
        operation="UPGRADE PROTOCOL",
    )


#: feature -> is it still ACTIVE in the current snapshot? (reason
#: string, or None when deactivated). Delta's DROP FEATURE refuses
#: while the feature is in use — the table property must be unset /
#: the traces rewritten first.
def _feature_active_reason(snap: DeltaSnapshot, feature: str) -> str | None:
    conf = (snap.metadata or {}).get("configuration") or {}
    schema_str = (snap.metadata or {}).get("schemaString") or ""

    def _prop(key):
        return conf.get(key) == "true"

    if feature == "deletionVectors":
        if _prop("delta.enableDeletionVectors"):
            return "delta.enableDeletionVectors is still true"
        if any(a.get("deletionVector") for a in snap.files.values()):
            return "live files still carry deletion vectors (purge first)"
    elif feature == "appendOnly":
        if conf.get(APPEND_ONLY_PROP) == "true":
            return f"{APPEND_ONLY_PROP} is still true"
    elif feature == "invariants":
        if snap.invariants():
            return "column invariants are still declared"
    elif feature == "checkConstraints":
        if any(k.startswith("delta.constraints.") for k in conf):
            return "CHECK constraints are still declared"
    elif feature == "changeDataFeed":
        if _prop("delta.enableChangeDataFeed"):
            return "delta.enableChangeDataFeed is still true"
    elif feature == "columnMapping":
        if conf.get("delta.columnMapping.mode") in ("name", "id"):
            return "column mapping is still enabled"
    elif feature == "rowTracking":
        if _prop("delta.enableRowTracking"):
            return "delta.enableRowTracking is still true"
    elif feature == "typeWidening":
        if _prop("delta.enableTypeWidening"):
            return "delta.enableTypeWidening is still true"
    elif feature == "generatedColumns":
        if "delta.generationExpression" in schema_str:
            return "generated columns are still declared"
    elif feature == "identityColumns":
        if "delta.identity.start" in schema_str:
            return "identity columns are still declared"
    elif feature == COORDINATED_COMMITS_FEATURE:
        if conf.get(COMMIT_COORDINATOR_PROP):
            return "a commit coordinator is still declared"
    elif feature == "clustering":
        if snap.clustering_columns():
            return "liquid clustering columns are still declared"
    return None


#: reader features whose TRACES linger in history: an old reader
#: that time-travels below the drop would still need the feature, so
#: Delta's DROP FEATURE requires the available history to be clean
#: (TRUNCATE HISTORY: purge + checkpointProtection + log cleanup).
_FEATURE_HISTORY_TRACES = {
    # ADD-side descriptors only: a reconstructible version whose
    # snapshot includes a DV'd add NEEDS the feature; a remove's
    # descriptor is writer-side GC bookkeeping for a dead file and
    # contributes no readable state.
    "deletionVectors": lambda a: bool(
        (a.get("add") or {}).get("deletionVector")
    ),
    "columnMapping": lambda a: (
        ((a.get("metaData") or {}).get("configuration") or {}).get(
            "delta.columnMapping.mode"
        )
        in ("name", "id")
    ),
    "typeWidening": lambda a: (
        ((a.get("metaData") or {}).get("configuration") or {}).get(
            "delta.enableTypeWidening"
        )
        == "true"
        or "delta.typeChanges"
        in ((a.get("metaData") or {}).get("schemaString") or "")
    ),
}


def drop_table_feature(table_dir: str, feature: str) -> int:
    """``ALTER TABLE t DROP FEATURE f`` (Delta PROTOCOL.md /
    delta.io "drop Delta table features"): the explicit protocol
    DOWNGRADE procedure — the one commit allowed to shrink the
    feature lists (ordinary upgrades are monotone,
    ``merge_protocol``). Three gates, matching the spec's order:

    1. the feature must be DEACTIVATED in the current snapshot
       (property unset, traces rewritten) — refuse with the reason
       otherwise;
    2. a READER feature must additionally have a CLEAN available
       history: any surviving commit still carrying its traces means
       an old reader could time-travel into needing it — refuse and
       point at the TRUNCATE HISTORY procedure (purge +
       ``enable_checkpoint_protection`` + ``cleanup_log``), which is
       exactly what checkpointProtection (q455) exists to make safe;
    3. then one ``DROP FEATURE`` commit removes it from both lists.

    Idempotent when the feature isn't declared. After the drop, a
    legacy reader whose set lacks the feature can read the table
    again — the point of the procedure."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    proto = dict(snap.protocol or PROTOCOL_ACTION)
    rf = list(proto.get("readerFeatures") or [])
    wf = list(proto.get("writerFeatures") or [])
    if feature not in rf and feature not in wf:
        return snap.version  # idempotent: not declared
    reason = _feature_active_reason(snap, feature)
    if reason:
        raise DeltaProtocolError(
            f"cannot drop feature {feature!r} from {table_dir}: "
            f"{reason}; deactivate it first"
        )
    if feature in rf:
        trace = _FEATURE_HISTORY_TRACES.get(feature)
        if trace is not None:
            for v, cpath in log._commits():
                try:
                    with open(cpath, encoding="utf-8") as fh:
                        dirty = any(
                            trace(json.loads(ln))
                            for ln in fh if ln.strip()
                        )
                except (OSError, ValueError):
                    continue
                if dirty:
                    raise DeltaProtocolError(
                        f"cannot drop reader feature {feature!r}: "
                        f"commit {v} still carries its traces — an "
                        "old reader could time-travel into needing "
                        "it. TRUNCATE HISTORY first: purge, "
                        "enable_checkpoint_protection, cleanup_log"
                    )
    new_proto = dict(proto)
    new_proto["readerFeatures"] = [f for f in rf if f != feature]
    new_proto["writerFeatures"] = [f for f in wf if f != feature]
    return log.commit(
        [{"protocol": new_proto}], operation="DROP FEATURE"
    )


def enable_coordinated_commits(
    table_dir: str, coordinator: str, conf: dict | None = None
) -> int:
    """Declare a **commit coordinator** on a log-managed table
    (Delta 4.x coordinated commits,
    ``delta.coordinatedCommits.commitCoordinator-preview``): from
    the NEXT commit on, ``DeltaLog.commit`` refuses any owner whose
    ``coordinator_name`` doesn't match — coordinator-unaware
    filesystem writers fail their protocol check instead of forking
    the history the coordinator owns. This declaration commit is,
    by the spec's design, the table's LAST filesystem commit.
    ``conf`` lands JSON-encoded under the coordinator-conf property
    (endpoint/credential hints for the coordinator client).
    Idempotent for the same coordinator; switching coordinators
    requires disabling through the current one first
    (``disable_coordinated_commits``)."""
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    cur = (snap.metadata.get("configuration") or {}).get(
        COMMIT_COORDINATOR_PROP
    )
    if cur == coordinator:
        return snap.version  # idempotent
    if cur:
        raise DeltaProtocolError(
            f"table {table_dir} is already coordinated by {cur!r}; "
            "disable through that coordinator before declaring "
            "another"
        )
    meta = dict(snap.metadata)
    c = dict(meta.get("configuration") or {})
    c[COMMIT_COORDINATOR_PROP] = coordinator
    if conf is not None:
        c[COMMIT_COORDINATOR_CONF_PROP] = json.dumps(
            conf, sort_keys=True
        )
    meta["configuration"] = c
    prev = dict(snap.protocol or PROTOCOL_ACTION)
    need = {
        "minReaderVersion": prev.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        "writerFeatures": _implied_writer_features(
            prev.get("minWriterVersion", 2)
        )
        + [COORDINATED_COMMITS_FEATURE],
    }
    return log.commit(
        [{"protocol": merge_protocol(prev, need)}, {"metaData": meta}],
        operation="SET TBLPROPERTIES",
    )


def disable_coordinated_commits(
    table_dir: str, owner: CommitOwner
) -> int:
    """Drop the coordinator declaration — THROUGH the coordinator
    (``owner`` must carry the declared ``coordinator_name``;
    ``DeltaLog.commit`` enforces it, so a foreign writer can't
    unilaterally un-coordinate a table it doesn't own). After this
    commit, filesystem putIfAbsent is the table's commit protocol
    again; the writer feature stays declared (protocol upgrades are
    monotone) but is inert without the property, matching Delta's
    downgrade story."""
    log = DeltaLog(table_dir, owner=owner)
    snap = log.snapshot()
    if not snap.metadata:
        raise DeltaProtocolError(f"no metaData at {table_dir}")
    meta = dict(snap.metadata)
    c = dict(meta.get("configuration") or {})
    c.pop(COMMIT_COORDINATOR_PROP, None)
    c.pop(COMMIT_COORDINATOR_CONF_PROP, None)
    meta["configuration"] = c
    return log.commit(
        [{"metaData": meta}], operation="UNSET TBLPROPERTIES"
    )


def vacuum_unaware(table_dir: str, dry_run: bool = True) -> list[str]:
    """Simulate the LEGACY client vacuumProtocolCheck exists to stop:
    its vacuum performs only the READER protocol check (the
    historical behavior), knows nothing about deletion vectors, and
    treats any file the live adds don't name — including live
    ``deletion_vector_*.bin`` sidecars — as garbage.

    With ``dry_run=True`` (default) it returns the victim list
    without deleting, demonstrating the hazard; ``dry_run=False``
    actually deletes, which is only safe in tests.

    The one rule even legacy clients follow is the universal reader
    rule: a table declaring a reader feature outside the client's
    set is UNREADABLE — so once ``enable_vacuum_protocol_check`` has
    run, this function raises :class:`DeltaProtocolError` before
    planning a single deletion. That refusal IS the feature."""
    legacy_reader_features = frozenset(
        {"deletionVectors", "columnMapping", "timestampNtz"}
    )
    log = DeltaLog(table_dir)
    snap = log.snapshot()
    declared = set((snap.protocol or {}).get("readerFeatures") or [])
    unknown = declared - legacy_reader_features
    if unknown:
        raise DeltaProtocolError(
            f"vacuum refused: table {table_dir} declares reader "
            f"features {sorted(unknown)} this client does not "
            "support"
        )
    live = set(snap.files)
    victims: list[str] = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if d != LOG_DIR]
        for f in files:
            if f.startswith((".", "_")):
                continue
            rel = os.path.relpath(
                os.path.join(root, f), table_dir
            ).replace(os.sep, "/")
            if rel in live:
                continue
            if f.endswith(".parquet") or f.startswith(
                "deletion_vector_"
            ):
                victims.append(rel)
    if not dry_run:
        for rel in victims:
            try:
                os.unlink(os.path.join(table_dir, rel))
            except OSError:
                pass
    return sorted(victims)
