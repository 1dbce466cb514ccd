"""Warehouse sinks: snapshot store with merge/upsert, partitioned
writes, and the ZORDER-analog layout pass.

Reference mapping (SURVEY.md §2.1):
  S4 merge/upsert        dbt incremental_strategy='merge' + unique_key
                         (customers_latest.sql:3-6, orders_cleaned.sql:9-12)
  S5 append              dbt default strategy (dbt_project.yml:40-41)
  S6 partitioned write   partition_by=['order_year','order_month'] /
                         ['country'] (orders_cleaned.sql:14, dim_customer.sql:7)
  S7 ZORDER post-hook    OPTIMIZE ... ZORDER BY (customers_latest.sql:7 etc.)
  S8 schema evolution    on_schema_change='sync_all_columns'

Commit protocol: the table's Delta log (``<table>/_delta_log/``,
sources/delta_log.py) is its one commit record. Every writer writes a
fresh immutable version directory ``<table>/v_<uuid>/`` and then
commits one log entry whose adds name that directory's files and whose
removes name the previous version's; the log's putIfAbsent of the
next entry is the commit point. A crash at ANY point before it leaves
the log on the prior version; after it, readers see the new one. The
committed version, the retained version list, time travel and GC are
all derived from the log. Superseded versions are garbage-collected on
the next successful commit.

Every writer runs through one optimistic transaction,
``SnapshotStore._transact``: snapshot read, version-dir allocation,
settling the overlapped cdc/validation jobs, the commit, telling a
conflict from a failure, cleanup and retry live there once. Inside
the commit lock the order is: OCC check, log commit, the retained
list for GC — so a refused log commit leaves the table exactly as it
was.

The ZORDER analog is repartitionByRange + sortWithinPartitions: same
data-skipping effect (clustered min/max ranges per file) from OSS
primitives.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from product_analytics_spark import cache
from product_analytics_spark.operators.incremental import merge_upsert

_LAYOUT = "_LAYOUT"
_CONSTRAINTS = "_CONSTRAINTS"
_GENERATED = "_GENERATED"
_IDENTITY = "_IDENTITY"
_PROPS = "_PROPS"
_INVARIANTS = "_INVARIANTS"
_ROW_TRACKING = "_ROW_TRACKING"

#: Sentinel default for ``expected_version`` — distinct from None,
#: which is a MEANINGFUL expectation (first write: no commit yet).
UNCHECKED = object()
#: ``_transact``'s default expectation: read ``current_version`` at
#: the start of every attempt.
_READ = object()


def _logged_schema(meta: dict):
    """The Spark schema a log metaData action records for its files,
    without the field metadata the log adds (``delta.*`` keys:
    generation expressions, invariants, identity specs), which the
    files' own footers never carry. None — read the footers instead —
    where the log does not describe the files' physical columns:

    * row-tracked tables: rewritten files carry the materialized
      row-id columns;
    * column-mapping tables: the files carry physical names;
    * type-widening tables: the files carry mixed physical widths."""
    import json

    from pyspark.sql.types import StructType

    conf = meta.get("configuration") or {}
    if (
        not meta.get("schemaString")
        or conf.get("delta.columnMapping.mode") in ("name", "id")
        or conf.get("delta.enableTypeWidening") == "true"
        or conf.get("delta.enableRowTracking") == "true"
    ):
        return None

    def strip(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    md = {
                        k: v
                        for k, v in (f.get("metadata") or {}).items()
                        if not k.startswith("delta.")
                    }
                    f["metadata"] = md
                    strip(f["type"])
            elif t.get("type") == "array":
                strip(t["elementType"])
            elif t.get("type") == "map":
                strip(t["keyType"])
                strip(t["valueType"])
        return t

    return StructType.fromJson(strip(json.loads(meta["schemaString"])))


def _nullable(t):
    """``t`` with every field, array element and map value nullable —
    the schema a parquet read reports for files written from ``t``."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _dir_signature(d: str) -> tuple:
    """Content signature of a store directory's data files: sorted
    (relative path, size, mtime_ns) per parquet file, skipping
    hidden/metadata entries — cheap driver metadata (~1 ms for
    cert-sized dirs), no Spark involvement."""
    sig = []
    for root, dirs, files in os.walk(d):
        dirs[:] = sorted(
            x for x in dirs if not x.startswith((".", "_"))
        )
        for f in sorted(files):
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            sig.append(
                (os.path.relpath(p, d), st.st_size, st.st_mtime_ns)
            )
    return tuple(sig)


def _submit_inheritable(fn, *args):
    """Run ``fn(*args)`` on a ``pyspark.InheritableThread``, returning a
    Future. Replaces the throwaway one-thread ThreadPoolExecutor the
    overlapped cdc/validation jobs used (ADVICE r12): under py4j
    pinned-thread mode (PySpark's default) a plain Python thread running
    Spark actions leaves its paired JVM thread behind on exit and does
    NOT inherit the submitter's JVM-thread locals, so overlapped jobs
    lost their job group / scheduler pool / description and a
    long-running driver accumulated JVM threads across DMLs.
    InheritableThread copies the locals in and deterministically
    releases the pinned connection when the thread finishes."""
    from concurrent.futures import Future

    from pyspark import InheritableThread
    from pyspark.sql import SparkSession

    fut: Future = Future()

    def _run() -> None:
        try:
            fut.set_result(fn(*args))
        except BaseException as exc:  # noqa: BLE001 — settled into the Future
            fut.set_exception(exc)

    InheritableThread(
        target=_run, daemon=True, session=SparkSession.getActiveSession()
    ).start()
    return fut


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency conflict: the table's committed version
    moved between a transaction's snapshot read and its commit. The
    caller re-reads and retries (the Delta/Iceberg commit-retry loop);
    blind retry would silently drop the other writer's rows."""


class ConstraintViolationError(RuntimeError):
    """A write contained rows violating a declared CHECK constraint
    (Delta ``delta.constraints.<name>``). NOTHING commits — the
    constraint is enforced at write time, never repaired after."""


class _Attempt:
    """One attempt of :meth:`SnapshotStore._transact`: the snapshot
    version it presents at commit, the version dir it writes, and the
    work the loop settles on every exit."""

    def __init__(self, table: str, expected):
        self.table = table
        self.expected = expected
        #: the version dir the attempt commits; a writer that lets
        #: ``_write_version`` allocate stores that name here instead
        self.version: str | None = f"v_{uuid.uuid4().hex[:12]}"
        #: overlapped cdc stage (``_stage_cdc_async``): adopted by the
        #: commit, discarded on every other exit
        self.cdc = None
        #: overlapped validation futures (None entries are skipped):
        #: joined in order before the commit, so a failure refuses it;
        #: awaited and swallowed on every other exit
        self.jobs: list = []
        #: zero-arg callables run last on every exit (cache releases)
        self.releases: list = []
        #: the DataFrame ``_stage_overwrite`` wrote: its schema is the
        #: metaData of a new table whose empty first write left no file
        self.written: DataFrame | None = None
        #: a MoR DML's newly deleted row indexes by scanned file
        #: (``_metadata.file_path``): the commit adds them to the
        #: deletion vector of the add that hardlinks that file
        self.deleted: dict[str, list[int]] = {}
        #: a log snapshot whose adds the commit reuses, ahead of the
        #: live snapshot's, for the files it hardlinks (``restore``'s
        #: target version, with its deletion vectors)
        self.source = None

    @property
    def vdir(self) -> str:
        return os.path.join(self.table, self.version)

    def no_commit(self, result):
        """End the attempt with ``result`` and nothing to commit."""
        self.version = None
        return lambda: result


class SnapshotStore:
    """Keyed SCD-1 snapshots in a warehouse directory, one table per
    model, with atomic Delta-log-commit replace and merge/upsert.

    At 100 TB the same interface maps onto Delta/Iceberg tables on an
    object store: the log commit is already the table format's, and
    merge becomes MERGE INTO with file pruning on the unique key;
    nothing above this class changes.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        retain_versions: int = 1,
        delta_log: bool = True,
        cdf: bool = False,
        commit_owner=None,
    ):
        """``retain_versions`` — how many committed versions to keep on
        disk (≥1). With >1, superseded versions stay readable via
        ``read(name, version=...)`` — Delta time travel within the
        window; GC drops versions that fall off the retention window
        at the next commit (VACUUM analog).

        Every commit is one protocol-conformant Delta Lake
        ``_delta_log/`` entry (sources/delta_log.py), written inside
        the commit's locked section: JSON commits with protocol/
        metaData/add/remove actions and per-file ``stats``
        (numRecords + min/max/nullCount collected once from the
        parquet footer at write time). Readers — including scan
        planning via ``scan_files``/``read_pruned`` and any
        independent protocol parser — plan from the log with ZERO
        parquet footer opens. Files a COW rewrite hardlinks into the
        new version reuse their previous add action's stats (same
        inode, same content — no footer re-read). History older than
        the retention window references GC'd files, exactly like
        Delta history after VACUUM. ``delta_log`` is accepted for
        older callers; ``False`` raises, since the log is the store's
        only commit record.

        ``cdf=True`` enables the Change Data Feed: every DML path
        (merge / delete / update, COW and MoR alike) writes its
        row-level changes to ``_change_data/cdc-*.parquet`` and
        references them with ``cdc`` actions in the same commit, per
        Delta's ``delta.enableChangeDataFeed`` contract;
        ``delta_log.table_changes`` reads them back with
        ``_change_type``/``_commit_version`` columns."""
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.retain_versions = max(1, retain_versions)
        if not delta_log:
            raise ValueError(
                "SnapshotStore commits through the Delta log; "
                "delta_log=False is not supported"
            )
        self.cdf = bool(cdf)
        #: CommitOwner for the table's _delta_log commits (None =
        #: hardlink putIfAbsent). A registry/catalog owner makes the
        #: store's DML commits coordinator-mediated — the
        #: multi-cluster story (see delta_log.CommitOwner, q456).
        self.commit_owner = commit_owner
        import threading

        # Staged-but-uncommitted CDF files, keyed by table name.
        # THREAD-LOCAL: a DML stages its change files immediately
        # before its own commit on the same thread; concurrent
        # writers (DagExecutor workers) must never pop each other's.
        self._cdc_local = threading.local()
        os.makedirs(warehouse_dir, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse_dir, name)

    def _read_sidecar(self, name: str, sidecar: str) -> dict:
        """A table's JSON sidecar (``_LAYOUT``, ``_CONSTRAINTS``, ...);
        empty dict if never written."""
        import json

        p = os.path.join(self.path(name), sidecar)
        if not os.path.isfile(p):
            return {}
        with open(p, encoding="utf-8") as fh:
            return json.load(fh)

    def _write_sidecar(
        self, name: str, sidecar: str, obj: dict, sort_keys: bool = True
    ) -> None:
        """Atomically replace a table's JSON sidecar (tmp write, then
        ``os.replace``)."""
        import json

        os.makedirs(self.path(name), exist_ok=True)
        tmp = os.path.join(
            self.path(name), f"{sidecar}_{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(obj, fh, sort_keys=sort_keys)
        os.replace(tmp, os.path.join(self.path(name), sidecar))

    def _metadata_commit(self, name: str, operation: str) -> None:
        """A metaData-only log commit, so a changed sidecar reaches the
        log without waiting for the next data commit (like Delta's
        ALTER TABLE); nothing to do before the table's first commit."""
        if self.exists(name):
            with self._commit_lock(name):
                self._delta_commit(
                    name, self.current_data_dir(name), operation=operation
                )

    # ---------------------------------------------- layout metadata

    def layout(self, name: str) -> dict:
        """The table's declared physical layout (partition/cluster/
        zorder keys), recorded at write time — the engine-local
        analog of Delta's table properties. ``optimize`` consumes it
        to restore clustering; empty dict if never declared."""
        return self._read_sidecar(name, _LAYOUT)

    def _record_layout(
        self,
        name: str,
        partition_by: Sequence[str],
        cluster_by: Sequence[str],
        zorder_by: Sequence[str],
        zorder_depth: bool = False,
    ) -> None:
        meta = {
            "partition_by": list(partition_by),
            "cluster_by": list(cluster_by),
            "zorder_by": list(zorder_by),
            "zorder_depth": bool(zorder_depth),
        }
        meta_keys = {k: v for k, v in meta.items() if k != "zorder_depth"}
        if not any(meta_keys.values()):
            # A layout-less write (e.g. merge's internal overwrite)
            # keeps the standing declaration — dbt model config is
            # constant across runs, not per-write.
            return
        self._write_sidecar(name, _LAYOUT, meta, sort_keys=False)

    # --------------------------------------------- CHECK constraints

    def constraints(self, name: str) -> dict[str, str]:
        """Declared CHECK constraints, name -> SQL expression — Delta's
        ``delta.constraints.<name>`` table properties, mirrored into
        the log's metaData."""
        return self._read_sidecar(name, _CONSTRAINTS)

    def add_constraint(self, name: str, cname: str, expr_sql: str) -> None:
        """``ALTER TABLE t ADD CONSTRAINT cname CHECK (expr)`` —
        Delta's CHECK-constraint semantics exactly:

        * the EXISTING data must already satisfy the expression
          (one validating scan, or the ALTER fails — a constraint
          that the table violates is a lie);
        * every subsequent write (overwrite / append / merge, COW
          and MoR alike) validates its rows and raises
          :class:`ConstraintViolationError` with NOTHING committed;
        * NULL evaluates as satisfied (SQL CHECK semantics — use
          ``x IS NOT NULL`` to forbid nulls);
        * the constraint lands in the log's metaData configuration
          as ``delta.constraints.<cname>`` and the protocol is
          upgraded to writer version ≥ 3 (the legacy checkConstraints
          writer feature), so any protocol-aware writer knows it must
          enforce or refuse.

        RESTORE is exempt: a restored version was validated under
        the constraints in force when it committed.

        Scale: enforcement is one codegen'd predicate fused into the
        write's existing scan — no extra shuffle; the validating
        ALTER scan is the one unavoidable full pass, same as Delta."""
        df = self.read(name)
        if df is None:
            raise ValueError(f"unknown table {name!r}")
        bad = self._first_violation(
            df, ~F.coalesce(F.expr(expr_sql), F.lit(True))
        )
        if bad is not None:
            raise ConstraintViolationError(
                f"CHECK constraint {cname!r} ({expr_sql}) violated, "
                f"e.g. by row {bad.asDict()!r}; nothing committed"
            )
        cons = self.constraints(name)
        cons[cname] = expr_sql
        self._write_sidecar(name, _CONSTRAINTS, cons)
        self._metadata_commit(name, "ADD CONSTRAINT")

    def drop_constraint(self, name: str, cname: str) -> None:
        cons = self.constraints(name)
        cons.pop(cname, None)
        self._write_sidecar(name, _CONSTRAINTS, cons)
        self._metadata_commit(name, "DROP CONSTRAINT")

    @staticmethod
    def _first_violation(df: DataFrame, violates):
        """The first row of ``df`` where ``violates`` holds, or None.
        agg(first) instead of take(1): in the no-violation case
        take(1) runs up to 4 escalating jobs (1/4/20/... partitions)
        and still ends up scanning everything; one aggregate scans
        once, fully parallel, in a single job (round-12, guide §1.2)."""
        return (
            df.where(violates)
            .agg(F.first(F.struct(*df.columns)))
            .collect()[0][0]
        )

    def _validate_constraints(self, name: str, df: DataFrame) -> None:
        """Validate a write's rows against every declared CHECK
        constraint AND column invariant (called by the write paths
        BEFORE any data lands). Invariants use Delta's stricter
        rule — NULL violates (delta-spark CheckDeltaInvariant throws
        on null or false), unlike CHECK where NULL satisfies.

        All predicates are fused into ONE scan (round-12
        optimization, guide §1.2): the per-rule form ran one full
        pass over the write per declared rule — a table with k rules
        paid k validation scans per write. One ``take(1)`` over the
        OR of every violation predicate, with per-rule flag columns
        so the raised error still names the violated rule and an
        example row. Resolution errors (missing nested fields) are
        caught at ANALYSIS time per rule — driver-only, no job."""
        cons = self.constraints(name)
        invs = self.invariants(name)
        if not cons and not invs:
            return
        checks: list[tuple[str, str, str, object]] = []
        for cname, expr_sql in cons.items():
            checks.append(
                (
                    "check", cname, expr_sql,
                    ~F.coalesce(F.expr(expr_sql), F.lit(True)),
                )
            )
        for col, expr_sql in invs.items():
            if col.split(".", 1)[0] not in df.columns:
                raise ConstraintViolationError(
                    f"column invariant on {col!r} ({expr_sql}): the "
                    "write is missing the column entirely (all-null "
                    "violates an invariant); nothing committed"
                )
            viol = ~F.coalesce(F.expr(expr_sql), F.lit(False))
            try:
                df.select(viol)  # analysis only — no job
            except AnalysisException:
                # nested field the write's struct lacks — all-null,
                # which violates an invariant
                raise ConstraintViolationError(
                    f"column invariant on {col!r} ({expr_sql}): the "
                    "write cannot resolve the invariant's column "
                    "(missing nested field is all-null, which "
                    "violates); nothing committed"
                ) from None
            checks.append(("inv", col, expr_sql, viol))
        any_viol = checks[0][3]
        for _, _, _, v in checks[1:]:
            any_viol = any_viol | v
        # agg(first) instead of take(1) — one fully-parallel job in
        # the (common) all-pass case; take's partition escalation ran
        # up to 4 jobs per validated write and scanned everything
        # anyway when nothing violated (round-12, guide §1.2).
        bad = (
            df.where(any_viol)
            .select(
                F.struct(
                    F.struct(*df.columns).alias("__row"),
                    *[
                        F.coalesce(v, F.lit(False)).alias(f"__v{i}")
                        for i, (_, _, _, v) in enumerate(checks)
                    ],
                ).alias("__b")
            )
            .agg(F.first("__b"))
            .collect()[0][0]
        )
        if bad is None:
            return
        row = bad["__row"].asDict()
        for i, (kind, label, expr_sql, _) in enumerate(checks):
            if not bad[f"__v{i}"]:
                continue
            if kind == "check":
                raise ConstraintViolationError(
                    f"CHECK constraint {label!r} ({expr_sql}) "
                    f"violated, e.g. by row {row!r}; nothing committed"
                )
            raise ConstraintViolationError(
                f"column invariant on {label!r} ({expr_sql}) "
                f"violated (null or false), e.g. by row "
                f"{row!r}; nothing committed"
            )

    # ------------------------------------- table properties / invariants

    def table_properties(self, name: str) -> dict[str, str]:
        """Declared table properties (``delta.appendOnly``, ...) —
        Delta's TBLPROPERTIES, mirrored into the log's metaData
        configuration."""
        return self._read_sidecar(name, _PROPS)

    def set_table_property(self, name: str, key: str, value: str) -> None:
        """``ALTER TABLE t SET TBLPROPERTIES (key = value)`` — one
        sidecar write plus a metaData-only log commit so
        protocol-aware readers see the property immediately, like
        Delta's ALTER TABLE."""
        props = self.table_properties(name)
        props[str(key)] = str(value)
        self._write_sidecar(name, _PROPS, props)
        self._metadata_commit(name, "SET TBLPROPERTIES")

    def set_append_only(self, name: str, enabled: bool = True) -> None:
        """Activate Delta's **append-only** writer feature
        (``delta.appendOnly = true``, PROTOCOL.md "Append-only
        Tables"): every mutating path — DELETE/UPDATE/MERGE (COW and
        MoR alike), overwrite, RESTORE — refuses with nothing
        written; appends and OPTIMIZE (rearrange-only,
        ``dataChange: false``) still land. The reference's bronze CDC
        tables are exactly this shape (bronze.yml: immutable change
        streams)."""
        from product_analytics_spark.sources import delta_log as dl

        self.set_table_property(
            name, dl.APPEND_ONLY_PROP, "true" if enabled else "false"
        )

    def append_only(self, name: str) -> bool:
        from product_analytics_spark.sources import delta_log as dl

        return self.table_properties(name).get(
            dl.APPEND_ONLY_PROP
        ) == "true"

    def _assert_appendable(self, name: str, op: str) -> None:
        """The writer-side append-only gate: called at the TOP of
        every data-mutating path, before any data is written — a
        compliant Delta writer must refuse, not repair (PROTOCOL.md
        "Append-only Tables")."""
        from product_analytics_spark.sources import delta_log as dl

        if self.append_only(name):
            raise dl.DeltaProtocolError(
                f"table {name!r} is append-only "
                f"({dl.APPEND_ONLY_PROP}=true): {op} is forbidden; "
                "appends and rearrange-only OPTIMIZE still land"
            )

    def invariants(self, name: str) -> dict[str, str]:
        """Declared column invariants, column -> SQL expression
        (Delta's ``delta.invariants`` field metadata, the legacy
        writer-version-2 feature) — enforced on every write by
        ``_validate_constraints``; mirrored into the log metaData's
        schemaString field metadata."""
        return self._read_sidecar(name, _INVARIANTS)

    def set_invariant(self, name: str, col: str, expr_sql: str) -> None:
        """Declare a column invariant: existing data must already
        satisfy it (one validating scan, null-violates rule — an
        invariant the table breaks is a lie), then every subsequent
        write validates its rows and raises
        :class:`ConstraintViolationError` with NOTHING committed."""
        df = self.read(name)
        if df is None:
            raise ValueError(f"unknown table {name!r}")
        if col.split(".", 1)[0] not in df.columns:
            raise ValueError(f"no column {col!r} in table {name!r}")
        try:
            bad = self._first_violation(
                df, ~F.coalesce(F.expr(expr_sql), F.lit(False))
            )
        except AnalysisException:
            raise ValueError(
                f"no column {col!r} in table {name!r} (nested field "
                "missing)"
            ) from None
        if bad is not None:
            raise ConstraintViolationError(
                f"existing data violates invariant on {col!r} "
                f"({expr_sql}), e.g. row {bad.asDict()!r}"
            )
        invs = self.invariants(name)
        invs[col] = expr_sql
        self._write_sidecar(name, _INVARIANTS, invs)
        self._metadata_commit(name, "ALTER TABLE")

    # --------------------------------------------- generated columns

    def generated_columns(self, name: str) -> dict[str, str]:
        """Declared generated columns, column -> SQL generation
        expression (Delta's ``delta.generationExpression`` field
        metadata, the writer-version-4 generatedColumns feature)."""
        return self._read_sidecar(name, _GENERATED)

    def set_generated(self, name: str, col: str, expr_sql: str) -> None:
        """Declare ``col`` GENERATED ALWAYS AS (expr) — Delta's
        generated-column contract:

        * a write that OMITS the column gets it computed (and
          materialized into the files, like Delta);
        * a write that SUPPLIES it is validated — any row where the
          supplied value differs from the expression (null-safe) is
          a ConstraintViolationError with nothing committed;
        * the expression lands in the log schema's field metadata
          as ``delta.generationExpression`` and the protocol floor
          moves to writer ≥ 4.

        Declare BEFORE the first write that should carry the column
        (the canonical use: a partition column derived from an event
        timestamp, so writers can't desynchronize the partition key
        from the data — at 100 TB a mispartitioned day is a silent
        full-scan tax on every downstream query until repaired)."""
        gens = self.generated_columns(name)
        gens[col] = expr_sql
        self._write_sidecar(name, _GENERATED, gens)

    def _apply_generated(self, name: str, df: DataFrame) -> DataFrame:
        """Compute absent generated columns; validate supplied ones
        (exact null-safe equality with the generation expression)."""
        gens = self.generated_columns(name)
        for col, expr_sql in gens.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr_sql))
            else:
                bad = self._first_violation(
                    df, ~F.col(col).eqNullSafe(F.expr(expr_sql))
                )
                if bad is not None:
                    raise ConstraintViolationError(
                        f"generated column {col!r} = ({expr_sql}) "
                        f"violated by supplied value, e.g. row "
                        f"{bad.asDict()!r}; nothing committed"
                    )
        return df

    # ---------------------------------------------- identity columns

    def identity_columns(self, name: str) -> dict[str, dict]:
        """Declared identity columns, column -> {start, step,
        high_water_mark} (Delta's ``delta.identity.*`` field
        metadata, the writer-version-6 identityColumns feature)."""
        return self._read_sidecar(name, _IDENTITY)

    def set_identity(
        self, name: str, col: str, start: int = 1, step: int = 1
    ) -> None:
        """Declare ``col`` as GENERATED ALWAYS AS IDENTITY (START
        WITH ``start`` INCREMENT BY ``step``) — Delta's identity
        columns (writer-version-6 feature):

        * a write that OMITS the column gets fresh values allocated
          above the persisted high-water mark (monotonic per
          allocation order; Delta guarantees uniqueness+monotonicity,
          NOT gap-freedom — neither do we: a failed transaction may
          burn a range, exactly like every database sequence);
        * a write that SUPPLIES the column is refused (GENERATED
          ALWAYS semantics — Delta's writer does the same);
        * the high-water mark is persisted (``delta.identity.
          highWaterMark`` analog) so restarts never re-issue ids.

        Declare BEFORE the first write. Scale: allocation is one
        window-free ``zipWithIndex``-style pass over ONLY the new
        rows (monotonically_increasing_id + a rank over partition
        ids would shuffle; instead we use the partition-local offsets
        trick — O(rows written), no extra shuffle, no global sort)."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        ids = self.identity_columns(name)
        ids[col] = {"start": int(start), "step": int(step),
                    "high_water_mark": None}
        self._write_sidecar(name, _IDENTITY, ids)

    def _identity_lock(self, name: str):
        """Serializes the identity read-allocate-persist cycle
        (ADVICE r9: two concurrent writers both reading the same HWM
        would mint duplicate surrogate keys). A dedicated lock file —
        NOT the commit lock, which is held for microseconds; the
        allocation holds this one across a small Spark job (the
        localCheckpoint pin + max), so the deadline is longer."""
        os.makedirs(self.path(name), exist_ok=True)
        return self._flock(
            os.path.join(self.path(name), "_ID_LOCK"), deadline_s=120.0
        )

    def _apply_identity(self, name: str, df: DataFrame) -> DataFrame:
        """Allocate identity values for absent identity columns;
        refuse supplied ones. The whole read-HWM / allocate / persist
        cycle runs under ``_identity_lock`` so concurrent writers get
        DISJOINT ranges, and the allocated (nondeterministic) column
        is PINNED via localCheckpoint before the HWM is computed from
        it — a later re-plan (AQE, a different join order in
        ``_identity_merge_batch``) can therefore never write ids that
        differ from the ones the HWM covered. Advances the persisted
        high-water mark BEFORE the write (a crashed write burns the
        range — ids stay unique, like any sequence)."""
        ids = self.identity_columns(name)
        if not ids:
            return df
        for col in ids:
            if col in df.columns:
                raise ConstraintViolationError(
                    f"column {col!r} is GENERATED ALWAYS AS IDENTITY —"
                    " writers must not supply it"
                )
        with self._identity_lock(name):
            ids = self.identity_columns(name)  # re-read under the lock
            for col, spec in ids.items():
                step = int(spec["step"])
                hwm = spec["high_water_mark"]
                base = int(spec["start"]) if hwm is None else int(hwm) + step
                # JVM-side allocation: base + monotonically_increasing_id
                # · step — zero shuffles, zero Python row round-trips.
                # Values within a batch are unique and increasing but
                # NOT contiguous (the per-partition id space leaves
                # gaps) — exactly Delta's own identity allocator, which
                # hands each task a range and burns the remainder.
                # Gap-freedom was never the contract; uniqueness +
                # monotonic-above-HWM is.
                df = df.withColumn(
                    col,
                    (
                        F.lit(base)
                        + F.monotonically_increasing_id() * F.lit(step)
                    ).cast("long"),
                )
            # Pin the nondeterministic ids ONCE: after this, the HWM
            # job below and the downstream write read the SAME
            # materialized values. Cost: one pass over only the new
            # rows (O(batch), never O(table)). Round-13 (guide §1.2):
            # the checkpoint is LAZY and the HWM aggregate right below
            # is its materializing action — the full-relation agg
            # computes (and thereby caches) every checkpoint
            # partition, so pin + HWM cost ONE job instead of the old
            # eager-checkpoint-then-agg two.
            df = df.localCheckpoint(eager=False)
            # the high-water mark is the furthest value IN THE STEP
            # DIRECTION (negative increments descend, like SQL
            # sequences and Delta's) — one combined agg job for all
            # identity columns
            row = df.agg(
                *[
                    (
                        F.max(c) if int(ids[c]["step"]) > 0 else F.min(c)
                    ).alias(c)
                    for c in ids
                ]
            ).collect()[0]
            changed = False
            for col, spec in ids.items():
                v = row[col]
                if v is not None:
                    spec["high_water_mark"] = int(v)
                    changed = True
            if changed:
                self._write_sidecar(name, _IDENTITY, ids)
        return df

    def _advance_identity_hwm(self, name: str, version: str) -> None:
        """After a write that SUPPLIED identity values (``overwrite``
        doubles as the engine's internal rewrite primitive, and a user
        full-refresh may legitimately carry existing keys), push the
        persisted high-water mark past the furthest supplied value so
        later allocations never duplicate them (ADVICE r9). The
        furthest value comes from the written files' parquet FOOTERS
        — zero Spark jobs, O(|files|) metadata reads."""
        import pyarrow.parquet as pq

        ids = self.identity_columns(name)
        if not ids:
            return
        vdir = os.path.join(self.path(name), version)
        far: dict[str, int] = {}
        for root, dirs, files in os.walk(vdir):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                try:
                    md = pq.ParquetFile(os.path.join(root, f)).metadata
                except OSError:
                    continue
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        col = md.row_group(rg).column(ci)
                        cname = col.path_in_schema
                        spec = ids.get(cname)
                        st = col.statistics
                        if spec is None or st is None or not st.has_min_max:
                            continue
                        v = int(st.max if int(spec["step"]) > 0 else st.min)
                        if cname not in far:
                            far[cname] = v
                        elif int(spec["step"]) > 0:
                            far[cname] = max(far[cname], v)
                        else:
                            far[cname] = min(far[cname], v)
        if not far:
            return
        with self._identity_lock(name):
            ids = self.identity_columns(name)
            changed = False
            for col, spec in ids.items():
                v = far.get(col)
                if v is None:
                    continue
                step, hwm = int(spec["step"]), spec["high_water_mark"]
                if (
                    hwm is None
                    or (step > 0 and v > int(hwm))
                    or (step < 0 and v < int(hwm))
                ):
                    spec["high_water_mark"] = v
                    changed = True
            if changed:
                self._write_sidecar(name, _IDENTITY, ids)

    def _identity_merge_batch(
        self, name: str, prev: DataFrame | None, batch: DataFrame,
        keys: list[str],
    ) -> DataFrame:
        """MERGE semantics for an identity table: matched keys INHERIT
        their existing identity value (one key-join against the live
        side's key+identity projection — broadcastable when the batch
        is small); unmatched rows get fresh allocations. Supplying the
        column in the batch is refused (GENERATED ALWAYS)."""
        ids = self.identity_columns(name)
        if not ids:
            return batch
        if len(ids) > 1:
            raise ValueError(
                "at most one identity column per table is supported"
            )
        col = next(iter(ids))
        if col in batch.columns:
            raise ConstraintViolationError(
                f"column {col!r} is GENERATED ALWAYS AS IDENTITY —"
                " writers must not supply it"
            )
        if prev is None:
            return self._apply_identity(name, batch)
        tagged = batch.join(prev.select(*keys, col), keys, "left")
        existing = tagged.where(F.col(col).isNotNull())
        fresh = self._apply_identity(
            name, tagged.where(F.col(col).isNull()).drop(col)
        )
        return existing.unionByName(fresh.select(*existing.columns))

    @staticmethod
    def _version_of(rel: str) -> str | None:
        """The version dir a table-relative log path sits in (None for
        a file at the table root or in a root hive dir — a table whose
        first write was an ``append``)."""
        head = rel.split("/", 1)[0]
        return head if head.startswith("v_") and "=" not in head else None

    def versions(self, name: str) -> list[str]:
        """Committed version dirs still on disk, oldest→newest: the
        dirs the log's data commits name, back to the first one GC
        dropped (the retention window)."""
        return [v for v, _lv in self._retained(self.path(name))]

    def _retained(self, table: str) -> list[tuple[str, int]]:
        """(version dir, log version of the newest commit naming it)
        for ``versions()``, oldest→newest. Carried forward per table
        through ``cache.py``'s ``retained`` namespace: each call opens
        only the commits after the last one it saw (one per commit),
        not every commit back to the first GC'd dir. The carried list
        is rebuilt when the last seen commit file changed (a table
        recreated at the same path)."""
        import json

        from product_analytics_spark.sources import delta_log as dl

        commits = dl.DeltaLog(table)._commits()

        def ident(path: str):
            st = os.stat(path)
            return st.st_ino, st.st_mtime_ns, st.st_size

        def step(prior):
            if not commits:
                return (None, None, ())
            head_v, head_p = commits[-1]
            seen, seen_id, runs = prior or (None, None, ())
            try:
                if seen is None or ident(dict(commits)[seen]) != seen_id:
                    seen, runs = None, ()
            except (KeyError, OSError):
                seen, runs = None, ()
            runs = list(runs)
            for lv, path in commits:
                if seen is not None and lv <= seen:
                    continue
                with open(path, encoding="utf-8") as fh:
                    adds = (
                        a["add"]["path"]
                        for a in map(json.loads, filter(str.strip, fh))
                        if a.get("add")
                    )
                    v = self._version_of(next(adds, ""))
                if v is None:
                    continue  # metadata-only, append, or root-dir commit
                if runs and runs[-1][0] == v:
                    runs[-1] = (v, lv)
                else:
                    runs.append((v, lv))
            # the window: newest dirs back to the first one GC dropped
            # (or whose commits log cleanup already removed)
            first = commits[0][0]
            for i in range(len(runs) - 1, -1, -1):
                v, lv = runs[i]
                if lv < first or not os.path.isdir(os.path.join(table, v)):
                    runs = runs[i + 1 :]
                    break
            out = (head_v, ident(head_p), tuple(runs))
            return prior if out == prior else out

        return list(
            cache.carry("retained", os.path.abspath(table), step)[2]
        )

    def current_data_dir(self, name: str) -> str | None:
        """Directory of the committed version, from the log's current
        snapshot; None before the first commit. Every committed
        version's live files sit under one ``v_<uuid>`` dir, so any
        one of them names it. A table whose first write was an
        ``append`` keeps its files at the table root until a rewrite."""
        return self._current(name)[0]

    def _current(self, name: str):
        """(``current_data_dir``, the log snapshot it was read from);
        (None, None) before the first commit."""
        from product_analytics_spark.sources import delta_log as dl

        log = dl.DeltaLog(self.path(name))
        try:
            snap = log.snapshot()
        except dl.DeltaProtocolError:
            if log.latest_version() is None:
                return None, None  # no commit yet
            raise
        if not snap.files:
            return None, None
        v = self._version_of(next(iter(snap.files)))
        return (os.path.join(self.path(name), v) if v else self.path(name)), snap

    def current_version(self, name: str) -> str | None:
        """The committed version dir name — the snapshot identity an
        optimistic transaction reads and later presents as
        ``expected_version`` at commit. None before the first commit
        (and for a table whose files sit at its root)."""
        data = self.current_data_dir(name)
        return data and self._version_of(os.path.relpath(data, self.path(name)))

    def exists(self, name: str) -> bool:
        return self.current_data_dir(name) is not None

    def read(self, name: str, version: int | str | None = None) -> DataFrame | None:
        """Prior snapshot ({{ this }}) or None on first run.

        ``version`` time-travels within the retention window: an int
        indexes ``versions()`` (0 = oldest retained, -1 = current), a
        str names a retained version directory; None for anything
        else (a GC'd version, or a dir no commit named). Requires the
        store to have been created with ``retain_versions > 1`` for
        anything but the current version to still exist.

        Rows the version's log snapshot marks deleted (the deletion
        vectors the MoR DMLs commit) are filtered out by a broadcast
        anti-join on (``_metadata.file_path``, ``_metadata.row_index``)
        — the merge-on-read half of the DELETE cost model (q290)."""
        rt = self._row_tracking(name)

        def _hide_rt(df: DataFrame) -> DataFrame:
            # the materialized row-id columns are PHYSICAL, not
            # logical — plain reads never expose them (Delta hides
            # them the same way); read_row_ids is the id-aware reader
            if not rt:
                return df
            from product_analytics_spark.sources import delta_log as dl

            return df.drop(
                dl.MATERIALIZED_ROW_ID_COL, dl.MATERIALIZED_ROW_COMMIT_COL
            )

        if version is None:
            data, snap = self._current(name)
            if data is None:
                return None
            return _hide_rt(self._apply_dv(data, merge_schema=rt, snap=snap))
        vs = self.versions(name)
        if isinstance(version, int):
            if not vs:
                return None
            version = vs[version]
        elif version not in vs:
            return None
        vdir = os.path.join(self.path(name), version)
        return _hide_rt(self._apply_dv(vdir, merge_schema=rt))

    # ------------------------------------------ deletion vectors (MoR)

    def _has_dv(self, name: str) -> bool:
        """Whether a live file of ``name`` carries a deletion vector."""
        snap = self._current(name)[1]
        return snap is not None and any(
            a.get("deletionVector") for a in snap.files.values()
        )

    def _dv_rows(self, data_dir: str) -> int:
        """Deleted rows the deletion vectors of version dir
        ``data_dir``'s log snapshot record."""
        snap = self._dir_snapshot(data_dir)[1]
        return sum(
            int((a.get("deletionVector") or {}).get("cardinality") or 0)
            for a in snap.files.values()
        )

    def _row_tracking(self, name: str) -> bool:
        """O(1) row-tracking check (marker file written by
        ``enable_row_tracking`` — the log's configuration is the
        source of truth, this avoids a snapshot replay per read)."""
        return os.path.isfile(os.path.join(self.path(name), _ROW_TRACKING))

    def enable_row_tracking(self, name: str) -> int:
        """Enable the Delta row-tracking writer feature on this table:
        protocol upgrade + per-file ``baseRowId`` backfill +
        ``delta.rowTracking`` domainMetadata high-water mark (see ``delta_log.enable_row_tracking``). From
        then on every commit allocates fresh id ranges for new files,
        and the MoR DML paths PRESERVE matched rows' ids by
        materializing them into the rewritten files. Read ids back
        with ``delta_log.read_row_ids``."""
        from product_analytics_spark.sources import delta_log as dl

        v = dl.enable_row_tracking(self.path(name))
        marker = os.path.join(self.path(name), _ROW_TRACKING)
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("enabled\n")
        return v

    def _rt_base_df(self, name: str):
        """Broadcastable (``_metadata.file_path``, baseRowId,
        defaultRowCommitVersion) map of the CURRENT snapshot — the
        O(|files|) side of the virtual-row-id computation."""
        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)
        snap = dl.DeltaLog(table).snapshot()
        rows = []
        for rel in sorted(snap.files):
            add = snap.files[rel]
            if add.get("baseRowId") is None:
                raise dl.DeltaProtocolError(
                    f"row-tracked table {name!r}: live file {rel!r} "
                    "has no baseRowId"
                )
            rows.append(
                (
                    dl.file_uri(dl.resolve_path(table, rel)),
                    int(add["baseRowId"]),
                    int(add.get("defaultRowCommitVersion") or 0),
                )
            )
        return dl._positions_df(
            self.spark, rows,
            "__rt_p string, __rt_base bigint, __rt_cv bigint",
        )

    def _rt_attach_ids(self, name: str, scan: DataFrame, base_df=None):
        """Tag a raw scan with the stable ``_pa_row_id_m`` /
        ``_pa_row_commit_m`` columns (see ``_rt_ids``). Must be applied
        directly on the scan (``_metadata`` is a scan pseudo-column).
        Pass a precomputed ``base_df`` when calling in a loop — it
        costs one log-snapshot replay per build."""
        from product_analytics_spark.sources import delta_log as dl

        logical = [
            c
            for c in scan.columns
            if c not in (dl.MATERIALIZED_ROW_ID_COL, dl.MATERIALIZED_ROW_COMMIT_COL)
        ]
        return self._rt_ids(
            name, self._tag_positions(scan), logical, scan.columns, base_df
        )

    @staticmethod
    def _rt_split(live: DataFrame, rt: bool) -> tuple[tuple, list[str]]:
        """(materialized row-id columns, logical columns) of a live
        relation; no id columns unless the table is row-tracked."""
        if not rt:
            return (), list(live.columns)
        from product_analytics_spark.sources import delta_log as dl

        rt_cols = (
            dl.MATERIALIZED_ROW_ID_COL,
            dl.MATERIALIZED_ROW_COMMIT_COL,
        )
        return rt_cols, [c for c in live.columns if c not in rt_cols]

    def _rt_ids(
        self,
        name: str,
        tagged: DataFrame,
        cols: Sequence[str],
        source_cols: Sequence[str],
        base_df=None,
    ) -> DataFrame:
        """``cols`` of a ``_tag_positions``-tagged relation plus its
        stable row ids: materialized values (from a prior rewrite;
        present when ``source_cols``, the untagged relation's columns,
        carry them) win; otherwise ``baseRowId + row_index`` from the
        snapshot's broadcast file map. The one id-inheritance join the
        scan tagger and the MoR DMLs share."""
        from product_analytics_spark.sources import delta_log as dl

        rt_id, rt_cv = (
            dl.MATERIALIZED_ROW_ID_COL,
            dl.MATERIALIZED_ROW_COMMIT_COL,
        )
        if base_df is None:
            base_df = self._rt_base_df(name)

        def materialized(c: str):
            return (
                F.col(c) if c in source_cols else F.lit(None).cast("long")
            )

        return tagged.join(
            F.broadcast(base_df),
            F.col("__pos_f") == F.col("__rt_p"),
            "left",
        ).select(
            *cols,
            F.coalesce(materialized(rt_id), F.col("__rt_base") + F.col("__pos_ri"))
            .cast("long")
            .alias(rt_id),
            F.coalesce(materialized(rt_cv), F.col("__rt_cv"))
            .cast("long")
            .alias(rt_cv),
        )

    #: Target bytes per written file/task (guide §6: output files in
    #: the 128 MB - 1 GB range). Drives the size-adaptive write task
    #: count below; env-overridable for clusters with different file
    #: sizing goals.
    _WRITE_TARGET_BYTES = int(
        os.environ.get("SPARK_GRAFT_WRITE_TARGET_BYTES", str(128 << 20))
    )

    def _n_write_tasks(self, df: DataFrame, floor: int = 1) -> int:
        """Size-adaptive task count for a write repartition (round-12,
        guide §2.5/§6): ``ceil(estimated bytes / 128 MB target)``
        clamped to ``[floor, spark.sql.shuffle.partitions]``.

        The estimate is Catalyst's ``analyzed().stats()`` — a
        driver-only py4j call on the ALREADY-analyzed plan (no job,
        and no extra optimizer pass: the write re-optimizes its own
        tree regardless); for parquet-backed plans it is the sum of
        the input file sizes, and for plans with unknown stats it
        degenerates to Long.MaxValue, which the clamp turns into the
        conf count (the previous fixed behavior, so the fallback is
        never worse). A 15k-row lifecycle write thus gets a handful
        of tasks (measured: 512 ms at 32 tasks -> ~300 ms) while a
        100 GB write gets est/128MB tasks up to the conf cap, which a
        cluster submit raises with the cluster."""
        conf_parts = int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        floor = max(1, min(floor, conf_parts))
        try:
            est = int(
                df._jdf.queryExecution().analyzed().stats().sizeInBytes()
            )
        except Exception:  # noqa: BLE001 — estimate is best-effort
            return conf_parts
        n = (est + self._WRITE_TARGET_BYTES - 1) // self._WRITE_TARGET_BYTES
        return max(floor, min(conf_parts, int(n)))

    def _existing_dir_floor(self, name: str) -> int:
        """Floor for a partitioned write's task count: the committed
        version's hive-directory count (driver metadata, no job), so
        a many-directory table never collapses to one task writing
        every directory serially (measured 1.1 s/write at ~80 dirs);
        8 for a fresh table (no dirs to count yet)."""
        try:
            cur = self.current_version(name)
            if cur:
                return max(
                    1,
                    len(
                        self._partition_dirs(
                            os.path.join(self.path(name), cur)
                        )
                    ),
                )
        except Exception:  # noqa: BLE001 — metadata probe only
            pass
        return 8

    def _read_version_dir(
        self, data_dir: str, merge_schema: bool = False, snap=None
    ) -> DataFrame:
        """Parquet read of a store directory, its resolved lazy plan
        memoized per (dir, mergeSchema, content signature): the DML
        certs re-read one version many times per op (q428: 66×, ~90
        ms each). The signature catches in-place changes (an append
        into the live data dir). Deleted rows are not filtered here
        (``_apply_dv``).

        The read is typed, not inferred: with the data columns the
        dir's commit logged (``_data_schema``). Footer inference runs
        a one-task Spark job per dir; it stays where the log does not
        describe the files' physical columns: row-tracked
        ``mergeSchema`` reads (rewritten files carry materialized
        row-id columns the logical schema omits) and the dirs
        ``_data_schema`` leaves to it. ``snap``, the log snapshot the
        caller resolved ``data_dir`` from, saves ``_data_schema`` a
        second listing of the log."""

        def read():
            reader = self.spark.read
            if merge_schema:
                return reader.option("mergeSchema", "true").parquet(data_dir)
            schema = self._data_schema(data_dir, snap)
            if schema is not None:
                reader = reader.schema(schema)
            return reader.parquet(data_dir)

        sig = _dir_signature(data_dir)
        key = (os.path.abspath(data_dir), bool(merge_schema), sig)
        return cache.memo("version_dirs", key, read, spark=self.spark)

    def _dir_snapshot(self, data_dir: str, snap=None):
        """(table dir, the log snapshot at the newest commit at which
        the version dir ``data_dir`` — or, for a table whose first
        write was an ``append``, the table root — was live). The
        snapshot is None for a dir no retained commit names (outside
        any table, or not committed). ``snap`` is the table's current
        snapshot when the caller already holds it."""
        from product_analytics_spark.sources import delta_log as dl

        data_dir = os.path.normpath(data_dir)
        v = os.path.basename(data_dir)
        table = os.path.dirname(data_dir) if v.startswith("v_") else data_dir
        log = dl.DeltaLog(table)
        if snap is None:
            try:
                snap = log.snapshot()
            except dl.DeltaProtocolError:
                return table, None  # not a logged table
        live = self._version_of(next(iter(snap.files), ""))
        if not snap.files or (os.path.join(table, live) if live else table) != data_dir:
            lv = dict(self._retained(table)).get(v)  # time travel
            snap = None if lv is None else log.snapshot(lv)
        return table, snap

    def _data_schema(self, data_dir: str, snap=None):
        """The data columns ``data_dir`` was committed with:
        ``_logged_schema`` of its ``_dir_snapshot``'s metaData.
        Partition columns are left out: Spark's path discovery (a
        listing, no Spark job) types them from the dir's hive values
        exactly as an inferred read does, and an append can add values
        the logged type would not parse. None — infer from the footers
        — where ``_logged_schema`` is None and for dirs no retained
        commit names."""
        from pyspark.sql.types import StructType

        snap = self._dir_snapshot(data_dir, snap)[1]
        if snap is None:
            return None
        meta = snap.metadata or {}
        schema = _logged_schema(meta)
        if schema is None:
            return None
        parts = set(meta.get("partitionColumns") or ())
        return StructType([f for f in schema.fields if f.name not in parts])

    def _apply_dv(
        self, data_dir: str, merge_schema: bool = False, snap=None
    ) -> DataFrame:
        """Read a version dir without the rows its log snapshot marks
        deleted (``dl.apply_dv_filter``, the reader ``read_delta`` and
        ``read_pruned`` use). ``merge_schema`` is set by row-tracked
        tables, whose rewritten files carry the materialized row-id
        columns the hardlinked ones lack; ``snap`` as for
        ``_read_version_dir``."""
        from product_analytics_spark.sources import delta_log as dl

        base = self._read_version_dir(data_dir, merge_schema=merge_schema, snap=snap)
        table, snap = self._dir_snapshot(data_dir, snap)
        if snap is None or not any(
            a.get("deletionVector") for a in snap.files.values()
        ):
            return base  # no memo lookup: its session scope costs py4j calls
        return dl.apply_dv_filter(base, self._dv_positions(table, snap)[1])

    def _dv_positions(self, table: str, snap):
        """(row indexes by add path, their ``dl.dv_positions_df``
        relation) of ``snap``'s deletion vectors, decoded once per
        table and log version: readers filter by the relation, and a
        MoR commit adds its new positions to the decoded ones of the
        files it touches, without reading their DV files again."""
        from product_analytics_spark.sources import delta_log as dl

        def build():
            positions = snap.dv_positions(table)
            by_path: dict[str, list[int]] = {}
            for p, ri in positions:
                by_path.setdefault(p, []).append(ri)
            return by_path, dl.dv_positions_df(self.spark, table, positions)

        table_id = (snap.metadata or {}).get("id")
        key = ("dv", os.path.abspath(table), table_id, snap.version)
        return cache.memo("version_dirs", key, build, spark=self.spark)

    @staticmethod
    def _tag_positions(df: DataFrame) -> DataFrame:
        """``df`` (a file scan) plus each row's deletion-vector key:
        ``__pos_f`` (``_metadata.file_path``) and ``__pos_ri`` (row
        index)."""
        return df.select(
            "*",
            F.col("_metadata.file_path").alias("__pos_f"),
            F.col("_metadata.row_index").alias("__pos_ri"),
        )

    @staticmethod
    def _positions(matched: DataFrame) -> dict[str, list[int]]:
        """Row indexes of ``_tag_positions``-tagged rows by scanned
        file: the positions a MoR DML hands its commit (``txn.deleted``).
        O(matched) rows reach the driver."""
        out: dict[str, list[int]] = {}
        for f, ri in matched.select("__pos_f", "__pos_ri").collect():
            out.setdefault(f, []).append(ri)
        return out

    def delete_where_mor(
        self,
        name: str,
        predicate: str,
        max_retries: int = 3,
        post_scan=None,
    ) -> dict:
        """Merge-on-read DELETE (Delta deletion vectors' semantics):
        NO data file is rewritten — every data file is hardlinked into
        the new version, and the commit adds the matching LIVE rows'
        (file, row_index) positions to those files' deletion vectors,
        which every reader applies as a broadcast anti-join. This is
        the low-write-amplification half of the q290 cost model:
        deleting 3 rows from a 128 MB file costs a few DV bytes, not
        a 128 MB rewrite; reads pay one broadcast anti-join until the
        next OPTIMIZE/compact/merge materializes the deletes and drops
        the DV. Optimistic transaction like the COW paths
        (``post_scan`` = the same fault-injection window).

        The deletion vectors are the log's protocol-v3
        ``deletionVector`` descriptors: one roaring-bitmap file per
        commit for the files that gained positions (their old
        positions ∪ the new ones), untouched files keep theirs, and
        the first one upgrades the protocol to reader 3 / writer 7
        with the deletionVectors table feature (see
        ``sources/deletion_vectors.py``)."""
        self._assert_appendable(name, "DELETE (merge-on-read)")

        def attempt(txn: _Attempt):
            data, snap = self._current(name)
            if data is None:
                raise ValueError(f"unknown table {name!r}")
            # positions of matching rows among LIVE rows only.
            # With CDF on, the matched rows feed BOTH the change
            # file and the positions — one persisted O(matched)
            # intermediate instead of two full scans of the live
            # relation (round-12 optimization, guide §1.2: every
            # extra consumer re-ran the scan + DV anti-join).
            matched = self._tag_positions(
                self._apply_dv(data, snap=snap).where(predicate)
            )
            if self.cdf:
                matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
                txn.releases.append(lambda: matched.unpersist(False))
            if post_scan is not None:
                post_scan()
            # Materialize-then-fork (round-13, VERDICT r12 item 2,
            # guide §2.6): collecting the positions fills the
            # persisted `matched` cache, so the cdc stage then
            # overlaps the hardlink pass as a pure cache reader.
            txn.deleted = self._positions(matched)
            if self.cdf:
                txn.cdc = self._stage_cdc_async(
                    name,
                    matched.drop("__pos_f", "__pos_ri").withColumn(
                        "_change_type", F.lit("delete")
                    ),
                )
            n_link = sum(
                self._link_files(txn.vdir, rel, files)
                for rel, files in self._partition_dirs(data)
            )
            return lambda: {
                "files_linked": n_link,
                "files_rewritten": 0,
                "dv_rows": self._dv_rows(txn.vdir),
            }

        return self._transact(
            name, attempt, "MoR delete", "DELETE", max_retries
        )

    def update_where_mor(
        self,
        name: str,
        predicate: str,
        assignments: dict[str, str],
        max_retries: int = 3,
        post_scan=None,
    ) -> dict:
        """Merge-on-read UPDATE (Delta's deletion-vector UPDATE shape):
        matching LIVE rows' positions go to the commit's deletion
        vectors and their UPDATED versions are written as new data
        files into the same version — every pre-existing file is
        hardlinked, so write amplification is O(matched rows), not
        O(touched files).
        ``assignments`` maps column -> SQL expression (cast back to the
        column's original type, same schema-enforcement rule as the
        COW update). Partition-column reassignment is refused (it
        would move rows across hive directories). The commit carries
        protocol-v3 ``deletionVector`` descriptors like
        ``delete_where_mor``."""
        data0 = self.current_data_dir(name)
        if data0 is not None:
            bad = set(
                self._partition_cols(self._partition_dirs(data0))
            ) & set(assignments)
            if bad:
                raise ValueError(
                    f"update_where_mor cannot reassign partition columns "
                    f"{sorted(bad)}"
                )
        self._assert_appendable(name, "UPDATE (merge-on-read)")

        def attempt(txn: _Attempt):
            data, snap = self._current(name)
            if data is None:
                raise ValueError(f"unknown table {name!r}")
            rt = self._row_tracking(name)
            live = self._apply_dv(data, merge_schema=rt, snap=snap)
            rt_cols, logical_cols = self._rt_split(live, rt)
            part_cols = self._partition_cols(self._partition_dirs(data))
            # ONE scan finds the matched rows WITH their positions;
            # everything downstream (deleted positions, rewritten
            # rows, constraint validation, CDF pre/post images)
            # derives from this persisted O(matched) intermediate.
            # The per-consumer form re-ran the live scan + DV
            # anti-join up to 4x per UPDATE (round-12 optimization,
            # guide §1.2).
            matched = self._tag_positions(live.where(predicate)).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            txn.releases.append(lambda: matched.unpersist(False))
            # Row tracking: the rewritten rows carry their OLD ids in
            # the materialized columns, so identity survives the
            # tombstone-and-rewrite (Delta's exact mechanism). The
            # position tags double as the row-id join key — no second
            # scan.
            if rt:
                updated = self._rt_ids(name, matched, logical_cols, live.columns)
            else:
                updated = matched.drop("__pos_f", "__pos_ri")
            for col, expr_sql in assignments.items():
                updated = updated.withColumn(
                    col,
                    F.expr(expr_sql).cast(live.schema[col].dataType),
                )
            updated = updated.select(*logical_cols, *rt_cols)
            # Materialize-then-fork (round-13, VERDICT r12 item 2,
            # guide §2.6): collecting the positions fills the shared
            # `matched` cache — the scan its first consumer was paying
            # anyway — then the validation probe and the cdc stage
            # run as overlapped cache readers alongside the hardlink
            # pass and the rewrite write. The round-12
            # fork-without-materialize attempt lost exactly because
            # the forks raced to fill this cache.
            txn.deleted = self._positions(matched)
            txn.jobs.append(
                self._validate_async(name, updated.select(*logical_cols))
            )
            if post_scan is not None:
                post_scan()
            if self.cdf:
                txn.cdc = self._stage_cdc_async(
                    name,
                    matched.select(*logical_cols)
                    .withColumn("_change_type", F.lit("update_preimage"))
                    .unionByName(
                        updated.select(*logical_cols).withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    ),
                )
            n_link = sum(
                self._link_files(txn.vdir, rel, files)
                for rel, files in self._partition_dirs(data)
            )
            self._write_appended(txn.vdir, updated, part_cols)
            return lambda: {
                "files_linked": n_link,
                "files_rewritten": 0,
                "dv_rows": self._dv_rows(txn.vdir),
            }

        return self._transact(
            name, attempt, "MoR update", "UPDATE", max_retries
        )

    def merge_mor(
        self,
        name: str,
        batch: DataFrame,
        key: str | Sequence[str],
        max_retries: int = 3,
        post_scan=None,
    ) -> dict:
        """Merge-on-read MERGE via deletion vectors (Delta's low-shuffle
        MERGE shape, completing the DV DML trio with
        :meth:`delete_where_mor` / :meth:`update_where_mor`): the
        positions of live rows whose key appears in ``batch`` go to the
        commit's deletion vectors and ALL batch rows (matched
        replacements + inserts) are written as NEW files into the same
        version — every pre-existing file is hardlinked, so write
        amplification is O(batch rows), never O(touched files).
        Semantically identical to
        :meth:`merge` / ``merge_upsert`` (``prev ANTI batch-keys UNION
        batch``), but a 100-row upsert against a 100 TB table writes
        100 rows + DV bytes instead of rewriting every touched file.

        Unlike ``update_where_mor``, a matched row MAY move partitions:
        the old position is tombstoned in its hive dir and the
        replacement lands in the batch row's dir — a partition move
        without any rewrite. Batch columns must equal the table's
        (MoR appends raw files next to hardlinked old ones, so the
        on-disk schemas must agree — use :meth:`merge` for
        ``sync_all_columns`` schema evolution); values are cast to the
        table's column types. OCC transaction with the same
        ``post_scan`` fault-injection window as the other DML paths.
        The commit carries protocol-v3 ``deletionVector`` descriptors
        like the other MoR ops."""
        self._assert_appendable(name, "MERGE (merge-on-read)")
        keys = [key] if isinstance(key, str) else list(key)
        batch = self._apply_generated(name, batch)

        def attempt(txn: _Attempt):
            data, snap = self._current(name)
            if data is None:
                raise ValueError(f"unknown table {name!r}")
            rt = self._row_tracking(name)
            live = self._apply_dv(data, merge_schema=rt, snap=snap)
            rt_cols, logical_cols = self._rt_split(live, rt)
            batch_eff = (
                self._identity_merge_batch(name, live, batch, keys)
                if self.identity_columns(name)
                else batch
            )
            missing = set(logical_cols) - set(batch_eff.columns)
            extra = set(batch_eff.columns) - set(logical_cols)
            if missing or extra:
                raise ValueError(
                    f"merge_mor requires identical column sets "
                    f"(missing={sorted(missing)}, extra="
                    f"{sorted(extra)}); use merge() for schema "
                    f"evolution"
                )
            aligned = batch_eff.select(
                *[
                    F.col(c).cast(live.schema[c].dataType).alias(c)
                    for c in logical_cols
                ]
            )
            part_cols = self._partition_cols(self._partition_dirs(data))
            # ONE live scan: the semi-join against the batch keys
            # finds every matched row WITH its position, the logical
            # columns (CDF preimages) and — on row-tracked tables —
            # the materialized id columns. The deleted positions, the
            # CDF classification (matched keys stand in for "batch
            # keys present in live") and the inherited row ids all
            # derive from this persisted O(matched) intermediate; the
            # per-consumer form re-scanned live + DV anti-join up to
            # 4x per MERGE (round-12 optimization, guide §1.2). The
            # batch side is persisted too — it feeds the key
            # broadcast, the CDF post/insert images and the data
            # write.
            aligned = aligned.persist(StorageLevel.MEMORY_AND_DISK)
            matched = self._tag_positions(live).join(
                F.broadcast(aligned.select(*keys).distinct()),
                on=keys,
                how="left_semi",
            ).persist(StorageLevel.MEMORY_AND_DISK)
            txn.releases += [
                lambda: matched.unpersist(False),
                lambda: aligned.unpersist(False),
            ]
            # Materialize-then-fork (round-13, VERDICT r12 item 2,
            # guide §2.6): collecting the positions fills BOTH caches
            # (computing `matched` builds the broadcast over
            # `aligned`, so the batch cache fills as a side effect);
            # the validation probe and cdc stage then overlap the
            # hardlink pass and the data write as pure cache readers.
            # CHECK constraints gate the NEW rows only — the
            # hardlinked side was validated when it committed.
            txn.deleted = self._positions(matched)
            txn.jobs.append(self._validate_async(name, aligned))
            if post_scan is not None:
                post_scan()
            # batch keys that matched a live row — O(matched),
            # broadcastable; "batch ∩ live" == "batch ∩ matched" by
            # construction, so CDF classification needs no further
            # live scan.
            mkeys = matched.select(*keys).distinct()
            if self.cdf:
                ct = "_change_type"
                txn.cdc = self._stage_cdc_async(
                    name,
                    matched.select(*logical_cols)
                    .withColumn(ct, F.lit("update_preimage"))
                    .unionByName(
                        aligned.join(
                            F.broadcast(mkeys), keys, "left_semi"
                        ).withColumn(ct, F.lit("update_postimage"))
                    )
                    .unionByName(
                        aligned.join(
                            F.broadcast(mkeys), keys, "left_anti"
                        ).withColumn(ct, F.lit("insert"))
                    ),
                )
            # Row tracking: matched batch rows INHERIT the live row's
            # id via the materialized columns (O(matched) map,
            # broadcast onto the batch); inserts carry NULL and read
            # back as fresh baseRowId+index ids.
            if rt:
                # One id per key: the live side may hold duplicate
                # keys (e.g. appended dups) — a left join against
                # per-row ids would emit the batch row once per
                # duplicate, breaking the merge_upsert contract. The
                # replacement row inherits the smallest (oldest)
                # matched row id, deterministically.
                matched_ids = (
                    self._rt_ids(name, matched, keys, live.columns)
                    .groupBy(*keys)
                    .agg(*[F.min(F.col(c)).alias(c) for c in rt_cols])
                )
                to_write = aligned.join(
                    F.broadcast(matched_ids), keys, "left"
                ).select(*logical_cols, *rt_cols)
            else:
                to_write = aligned
            n_link = sum(
                self._link_files(txn.vdir, rel, files)
                for rel, files in self._partition_dirs(data)
            )
            self._write_appended(txn.vdir, to_write, part_cols)
            return lambda: {
                "files_linked": n_link,
                "files_rewritten": 0,
                "dv_rows": self._dv_rows(txn.vdir),
            }

        return self._transact(
            name, attempt, "MoR merge", "MERGE", max_retries
        )

    def purge_dv(self, name: str, max_retries: int = 3) -> bool:
        """Materialize outstanding deletion vectors: rewrite the table
        through the DV-aware reader (restoring the recorded layout)
        so the new version's adds are plain files with no
        ``deletionVector`` — what Delta does when OPTIMIZE or a
        rewrite touches DV'd files. Returns True if a purge happened.
        OCC with retry."""

        def attempt(txn: _Attempt):
            if not self._has_dv(name):
                return txn.no_commit(False)
            layout = self.layout(name)
            if self._row_tracking(name):
                # Row tracking: the rewrite must MATERIALIZE every
                # row's id into the new files (coalesce of
                # materialized-or-virtual), or the fresh baseRowId
                # ranges of the rewritten files would re-mint ids —
                # Delta preserves ids through OPTIMIZE the same way.
                data, snap = self._current(name)
                df = self._rt_attach_ids(
                    name, self._apply_dv(data, merge_schema=True, snap=snap)
                )
            else:
                df = self.read(name)
            assert df is not None
            finish = self._stage_overwrite(
                txn,
                name,
                df,
                partition_by=tuple(layout.get("partition_by") or ()),
                cluster_by=tuple(layout.get("cluster_by") or ()),
                zorder_by=tuple(layout.get("zorder_by") or ()),
                zorder_depth=bool(layout.get("zorder_depth")),
                # Materializing ALREADY-COMMITTED logical deletes
                # moves no rows: like OPTIMIZE, the log commit must
                # carry dataChange=false on both sides or the change
                # feed would re-report every row.
                operation="OPTIMIZE",
            )

            def done() -> bool:
                finish()
                return True

            return done

        return self._transact(
            name, attempt, "purge_dv", "OPTIMIZE", max_retries
        )

    def restore(
        self, name: str, version: int | str, max_retries: int = 3
    ) -> dict:
        """Delta ``RESTORE TABLE t TO VERSION AS OF v``: make the
        table's content equal an EARLIER committed version's, via a
        NEW commit — history above the restore point is preserved
        (the restore is itself just another version; time travel to
        the pre-restore state still works within retention), which is
        what distinguishes RESTORE from rolling back the log.

        ``version`` is a retained version dir name (``v_...``, one of
        :meth:`versions`) or an index into :meth:`versions` (negative
        = from the end, like ``read``); anything else raises
        ValueError. Every file of the target version (data files and
        hive subdirs) is HARDLINKED into the new version dir: zero
        data movement, cost O(|files|) metadata ops, exactly how
        Delta's RESTORE re-adds the old snapshot's files by reference.
        The log reconciles automatically: the restored files are
        re-added with the target version's adds (stats and deletion
        vectors reused by inode — no footer re-reads) and the
        abandoned version's files removed, with ``dataChange: true``
        (rows DID change — streams and the change feed correctly see
        the restore as delete-all + insert-all of the delta, Delta's
        own RESTORE semantics).

        OCC transaction: presents the version current at its start;
        a concurrent commit in the window conflicts and the restore
        re-reads and retries (the target is named, so retry is safe).

        Scale: restoring a 100 TB table touches ZERO data bytes —
        |files| hardlinks/manifest entries. The expensive mistake
        this removes at scale is "full-refresh back to yesterday":
        RESTORE is a metadata operation, the refresh is a rewrite."""
        self._assert_appendable(name, "RESTORE")
        vs = self.versions(name)
        if isinstance(version, int):
            if not vs:
                raise ValueError(f"unknown table {name!r}")
            version = vs[version]
        if version not in vs:
            raise ValueError(
                f"table {name!r}: unknown version {version!r} (never "
                "committed, or GC'd past the retention window)"
            )
        src = os.path.join(self.path(name), version)

        def attempt(txn: _Attempt):
            txn.source = self._dir_snapshot(src)[1]
            n_link = 0
            for root, _dirs, files in os.walk(src):
                rel = os.path.relpath(root, src)
                out = txn.vdir if rel == "." else os.path.join(txn.vdir, rel)
                os.makedirs(out, exist_ok=True)
                for f in files:
                    os.link(os.path.join(root, f), os.path.join(out, f))
                    n_link += 1
            return lambda: {"restored_to": version, "files_linked": n_link}

        return self._transact(
            name, attempt, "restore", "RESTORE", max_retries
        )

    # -------------------------------------------------- commit protocol

    def _write_version(
        self,
        name: str,
        df: DataFrame,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        zorder_by: Sequence[str] = (),
        n_files: int | None = None,
        zorder_depth: bool = False,
    ) -> str:
        """Write a new UNCOMMITTED version directory; return its name.

        ``cluster_by`` is the single-key clustering pass (S7):
        range-partition + sort-within-partitions on the cluster keys,
        so parquet min/max stats give data skipping on the FIRST key
        (later keys span nearly their full range in every file).

        ``zorder_by`` is true multi-column Z-ORDER (reference
        ``OPTIMIZE ... ZORDER BY (order_id, customer_id, order_date)``,
        orders_cleaned.sql:15): rows are range-partitioned and sorted
        on the interleaved Morton z-value of ALL the named columns
        (functions/zorder.py), so every file is a locality
        hyper-rectangle and min/max skipping works on each column —
        the q416 cert measures 2nd-key pruning beating the composite
        sort. Mutually exclusive with cluster_by.

        Partitioned writes first hash-repartition on the partition
        columns so each hive partition directory is written by one
        task (one well-sized file per directory instead of
        tasks x partitions small files), then sort within by the
        cluster keys (or z-value) for row-group stat skipping inside
        each partition. ``n_files`` pins the file count for layout
        tests; production leaves it None (AQE-sized).
        """
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are exclusive")
        zcol = "__zval"
        if zorder_by:
            from product_analytics_spark.functions.zorder import morton_zvalue

            df = df.withColumn(
                zcol,
                morton_zvalue(df, list(zorder_by), equal_depth=zorder_depth),
            )
            cluster_by = (zcol,)
        if partition_by:
            # n_files pins the TASK count here (ADVICE r8: it used to be
            # silently ignored on partitioned writes); each hive dir
            # still gets whole files since tasks are keyed on the
            # partition columns. Without n_files the count is
            # size-adaptive (round-12, guide §2.5/§6):
            # ceil(est bytes / 128 MB) clamped to the shuffle-partition
            # conf, floored at the table's current hive-dir count — an
            # explicit count because a keyed repartition with NO count
            # has a coalescable shuffle origin and AQE collapses a
            # small write to ONE task writing every hive directory
            # serially (measured 1.1 s/write on an ~80-partition
            # table); the dir floor keeps the write spread while each
            # directory still receives whole files (a partition value
            # hashes to exactly one task).
            parts = [
                n_files
                if n_files
                else self._n_write_tasks(
                    df, floor=self._existing_dir_floor(name)
                )
            ]
            df = df.repartition(*parts, *partition_by).sortWithinPartitions(
                *partition_by, *cluster_by
            )
        elif cluster_by:
            parts = [n_files] if n_files else []
            df = df.repartitionByRange(*parts, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        elif n_files:
            df = df.repartition(n_files)
        if zorder_by:
            df = df.drop(zcol)
        version = f"v_{uuid.uuid4().hex[:12]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.path(name), version))
        return version

    def _commit_lock(self, name: str):
        """Short mutex around the compare-and-commit critical section
        (held for microseconds — the version data is already on disk
        before _commit runs): an exclusive ``fcntl.flock`` on a
        PERSISTENT lock file. The kernel releases the lock when the
        holder's fd closes — including on crash — so there is no
        staleness heuristic at all, and therefore none of the
        lease-breaking races an age-judged O_EXCL file has (ADVICE r8:
        the rename-back window let a second waiter slip in). The lock
        file itself is never unlinked: unlink+recreate would let two
        waiters lock DIFFERENT inodes under the same path. On object
        stores the table format's log-entry putIfAbsent plays this
        role natively."""
        return self._flock(
            os.path.join(self.path(name), "_COMMIT_LOCK"), deadline_s=10.0
        )

    @staticmethod
    def _flock(lock: str, deadline_s: float):
        """Exclusive ``fcntl.flock`` on a persistent lock file (see
        ``_commit_lock`` doc for why flock and why the file is never
        unlinked). Distinct lock FILES are independent; the same file
        from two fds — even in one process — conflicts, so holders
        must never nest the SAME lock."""
        import contextlib
        import fcntl
        import time

        @contextlib.contextmanager
        def _held():
            fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
            try:
                deadline = time.time() + deadline_s
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except OSError:
                        if time.time() > deadline:
                            raise TimeoutError(f"lock busy: {lock}")
                        time.sleep(0.01)
                try:
                    yield
                finally:
                    fcntl.flock(fd, fcntl.LOCK_UN)
            finally:
                os.close(fd)

        return _held()

    def _commit(
        self,
        name: str,
        version: str,
        expected_version=UNCHECKED,
        operation: str = "WRITE",
        txn: _Attempt | None = None,
    ) -> None:
        """Commit the written version dir ``version``, then
        garbage-collect versions that fell off the retention window
        and the deletion-vector files only they referenced.
        Inside the commit lock the order is: OCC check, the log commit
        (``_delta_commit``, reconciled against ``version``'s dir — its
        putIfAbsent is the commit point; ``txn``, the attempt that
        wrote it, if any), the retained list. A refused log commit
        therefore leaves the table as it was.

        Optimistic concurrency: with ``expected_version`` set (the
        version the transaction READ — ``current_version()`` at its
        start, None for first-write), the log must still name it
        inside the locked section, or ConcurrentWriteError is raised
        and NOTHING commits — the Delta/Iceberg conflict check. The
        default stays last-writer-wins (dbt full-refresh semantics)."""
        table = self.path(name)
        with self._commit_lock(name):
            if expected_version is not UNCHECKED:
                cur = self.current_version(name)
                if cur != expected_version:
                    raise ConcurrentWriteError(
                        f"table {name!r}: committed version moved "
                        f"{expected_version!r} -> {cur!r} since this "
                        "transaction's snapshot read; re-read and retry"
                    )
            self._delta_commit(
                name, os.path.join(table, version), operation=operation, txn=txn
            )
            # Read under the lock, so the list ends with this commit.
            committed = self._retained(table)
        # GC deletes ONLY previously COMMITTED versions that fell off
        # the retention window. A bare "every v_ dir not retained"
        # sweep (the old rule) could destroy a CONCURRENT writer's
        # uncommitted version dir — under last-writer-wins that writer
        # then commits a log entry naming a deleted directory (data
        # loss). Uncommitted dirs belong to in-flight writers; crashed
        # writers' orphans are vacuumed by age instead (not
        # ``DeltaLog.vacuum``, which deletes untracked files at once).
        retained = committed[-self.retain_versions :]
        gone = committed[: -self.retain_versions]
        for v, _lv in gone:
            shutil.rmtree(os.path.join(table, v), ignore_errors=True)
        entries = os.listdir(table)
        self._vacuum_orphans(table, {v for v, _lv in retained}, entries)
        if gone and any(e.startswith("deletion_vector_") for e in entries):
            self._gc_dv_files(table, gone, retained)

    #: age after which an uncommitted version dir is presumed to belong
    #: to a CRASHED writer and may be vacuumed (in-flight writers finish
    #: in seconds-to-minutes; Delta's VACUUM uses hours for the same
    #: reason — err far on the side of not touching live work).
    ORPHAN_TTL_S = 3600.0

    def _vacuum_orphans(
        self, table: str, retained: set[str], entries: list[str]
    ) -> None:
        """Delete version dirs among ``entries`` (the table dir's
        listing) that are neither retained nor recently modified — the
        leftovers of writers that crashed between _write_version and
        _commit. Age-gated so a concurrent IN-FLIGHT writer's
        uncommitted dir is never swept."""
        import time

        now = time.time()
        for entry in entries:
            if not entry.startswith("v_") or entry in retained:
                continue
            p = os.path.join(table, entry)
            try:
                if now - os.path.getmtime(p) > self.ORPHAN_TTL_S:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass

    @staticmethod
    def _gc_dv_files(table: str, gone, retained) -> None:
        """Delete the deletion-vector files the log snapshots of the
        GC'd versions ``gone`` reference and no ``retained`` version's
        snapshot does (both (version dir, log version) pairs from
        ``_retained``). A file no commit has named is never touched:
        an in-flight writer may be about to commit it."""
        from product_analytics_spark.sources import delta_log as dl
        from product_analytics_spark.sources import deletion_vectors as dvs

        log = dl.DeltaLog(table)

        def referenced(runs) -> set[str]:
            return {
                dvs.dv_file_path(table, a["deletionVector"])
                for _v, lv in runs
                for a in log.snapshot(lv).files.values()
                if (a.get("deletionVector") or {}).get("storageType") == "u"
            }

        try:
            stale = referenced(gone)
            if stale:
                stale -= referenced(retained)
        except dl.DeltaProtocolError:
            return  # a snapshot the log can no longer rebuild: keep all
        for p in stale:
            try:
                os.unlink(p)
            except OSError:
                pass

    def _transact(
        self,
        name: str,
        attempt,
        what: str,
        operation: str,
        max_retries: int = 3,
        expected=_READ,
        materialize_dv: bool = False,
    ):
        """The one optimistic transaction every writer commits through
        (Delta's one transaction around one log commit). Per attempt
        the loop reads the snapshot version the commit will present
        (``expected``: read fresh by default; ``overwrite`` passes its
        caller's, ``UNCHECKED`` is last-writer-wins), allocates a
        fresh ``v_<uuid>`` (``txn.vdir``) and calls ``attempt(txn)``.
        The attempt plans against the snapshot, writes the version
        dir, registers its overlapped futures and cache releases on
        ``txn`` and returns a zero-arg callable that yields the
        writer's result once the commit landed (or ends through
        ``txn.no_commit``). The loop then joins the futures, adopts
        the cdc stage and commits ``operation``.

        Every failure first settles the futures and discards staged
        change files; the releases run last on every exit. Then:

        * an attempt whose version the log already names has
          committed — it is never deleted or retried;
        * otherwise its uncommitted dir is removed, and
          ConstraintViolationError re-raises unchanged;
        * ConcurrentWriteError, or any failure while the log moved
          off the snapshot (a concurrent commit may have GC'd the
          files the attempt was reading — ``snapshot GC'd under
          <what>``), is a conflict: retry, up to ``max_retries``;
        * anything else is a genuine error and re-raises unchanged.

        ``materialize_dv`` (the raw-file rewriters): purge outstanding
        deletion vectors before each attempt — those paths read data
        files directly, so committing without applying the DVs would
        resurrect MoR-deleted rows."""
        last_err: ConcurrentWriteError | None = None
        for _ in range(max_retries):
            if materialize_dv and self._has_dv(name):
                self.purge_dv(name)
            txn = _Attempt(
                self.path(name),
                self.current_version(name) if expected is _READ else expected,
            )
            try:
                done = attempt(txn)
                if txn.version is not None:
                    for fut in filter(None, txn.jobs):
                        fut.result()
                    self._adopt_cdc(name, txn.cdc)
                    self._commit(
                        name, txn.version,
                        expected_version=txn.expected,
                        operation=operation,
                        txn=txn,
                    )
            except Exception as exc:
                # Settle every overlapped job first (ADVICE r12): none
                # may run on beside the cleanup or the retry, and their
                # own errors never shadow the one being handled.
                self._abort_cdc(name, txn.cdc)
                for fut in filter(None, txn.jobs):
                    try:
                        fut.result()
                    except Exception:  # noqa: BLE001 — the primary error wins
                        pass
                cur = self.current_version(name)
                if txn.version is not None:
                    if cur == txn.version:
                        raise
                    shutil.rmtree(txn.vdir, ignore_errors=True)
                if isinstance(exc, ConcurrentWriteError):
                    last_err = exc
                    continue
                if (
                    isinstance(exc, ConstraintViolationError)
                    or txn.expected is UNCHECKED
                    or cur == txn.expected
                ):
                    raise
                last_err = ConcurrentWriteError(
                    f"table {name!r}: snapshot GC'd under {what}"
                )
                continue
            finally:
                for release in txn.releases:
                    release()
            return done()
        assert last_err is not None
        raise last_err

    # ------------------------------------------- Delta transaction log

    def _cdc_pending(self, name: str) -> list[str]:
        """This THREAD's staged-but-uncommitted change-file rel paths
        for ``name`` (see ``__init__`` — thread-local so concurrent
        DML writers never pop each other's stage)."""
        d = getattr(self._cdc_local, "pending", None)
        if d is None:
            d = {}
            self._cdc_local.pending = d
        return d.setdefault(name, [])

    def _stage_cdc(self, name: str, cdc_df: DataFrame) -> None:
        """Materialize a DML's row-level changes for its upcoming
        commit: write ``cdc_df`` (table columns + ``_change_type``)
        under ``<table>/_change_data/`` — Delta's CDF layout — and
        remember the file paths so ``_delta_commit`` can reference
        them with ``cdc`` actions in the SAME log commit. Zero-row
        part files are dropped (a no-match DML emits no cdc action).
        If the transaction later loses its OCC race, ``_discard_cdc``
        unlinks the staged files; a crash in between leaves orphans
        no commit references, which ``DeltaLog.vacuum`` collects."""
        if not self.cdf:
            return
        self._cdc_pending(name).extend(self._stage_cdc_files(name, cdc_df))

    def _stage_cdc_async(self, name: str, cdc_df: DataFrame):
        """Run the change-file write as an OVERLAPPED Spark job
        (guide §2.6 — the cdc write and the DML's version write are
        independent consumers of the same pinned inputs, so their
        jobs back-fill each other's task tails instead of running
        back to back). Returns a Future of the staged rel paths, or
        None when CDF is off. A writer hands it to its ``_transact``
        attempt (``txn.cdc``), which settles it on every exit:
        ``_adopt_cdc`` before the commit (the commit adopts the
        files), ``_abort_cdc`` otherwise (waits, then unlinks).
        Pending-list bookkeeping stays in the CALLER's thread —
        ``_cdc_pending`` is thread-local."""
        if not self.cdf:
            return None
        return _submit_inheritable(self._stage_cdc_files, name, cdc_df)

    def _adopt_cdc(self, name: str, fut) -> None:
        """Settle an async cdc stage into THIS thread's pending list
        (call before the commit that references the files)."""
        if fut is not None:
            self._cdc_pending(name).extend(fut.result())

    def _abort_cdc(self, name: str, fut) -> None:
        """Failure-path settle: wait for an in-flight cdc stage (never
        leave its write racing the caller's cleanup), adopt whatever
        it staged, then discard it all."""
        if fut is not None:
            try:
                self._adopt_cdc(name, fut)
            except Exception:  # noqa: BLE001 — the stage itself failed
                pass
        self._discard_cdc(name)

    def _validate_async(self, name: str, df: DataFrame):
        """Run the fused CHECK/invariant probe as an OVERLAPPED job
        (guide §2.6): the probe and the version write scan the same
        pinned input, so running them back to back serialized two
        full-parallel jobs. Returns a Future (or None when the table
        declares no rules); a writer registers it on its ``_transact``
        attempt (``txn.jobs``), which joins it before the commit — a
        violation then still refuses the write before anything
        becomes visible, with the just-written uncommitted version
        dir dropped like a lost commit."""
        if not (self.constraints(name) or self.invariants(name)):
            return None
        return _submit_inheritable(self._validate_constraints, name, df)

    def _stage_cdc_files(self, name: str, cdc_df: DataFrame) -> list[str]:
        """Write ``cdc_df`` under ``_change_data/`` and return the
        staged rel paths — no pending bookkeeping (thread-safe body
        shared by ``_stage_cdc`` and ``_stage_cdc_async``)."""
        import pyarrow.parquet as pq

        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)
        tmp = os.path.join(table, f"_cdc_tmp_{uuid.uuid4().hex[:8]}")
        # Right-size the change files (round-12, guide §6): the change
        # set inherits its producer's partitioning (32 near-empty
        # shuffle partitions for a small DML), so the write emitted
        # up to 32 tiny files, each paying a task + a pyarrow
        # metadata probe + a rename below. coalesce (narrow, no extra
        # shuffle) to ceil(est bytes / 128 MB) — one file for a
        # cert-sized change set, many for a real churn batch.
        cdc_df.coalesce(self._n_write_tasks(cdc_df)).write.parquet(tmp)
        dest = os.path.join(table, dl.CDC_DIR)
        os.makedirs(dest, exist_ok=True)
        tag = uuid.uuid4().hex[:12]
        staged: list[str] = []
        try:
            i = 0
            for f in sorted(os.listdir(tmp)):
                if not f.endswith(".parquet") or f.startswith((".", "_")):
                    continue
                src = os.path.join(tmp, f)
                if pq.ParquetFile(src).metadata.num_rows == 0:
                    continue
                rel = f"{dl.CDC_DIR}/cdc-{tag}-{i:05d}.parquet"
                os.rename(src, os.path.join(table, rel))
                staged.append(rel)
                i += 1
        except Exception:
            # Mid-loop failure: unlink what was already renamed in so
            # nothing orphan-able outlives the raise.
            for rel in staged:
                try:
                    os.unlink(os.path.join(table, rel))
                except OSError:
                    pass
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(tmp, ignore_errors=True)
        return staged

    def _discard_cdc(self, name: str) -> None:
        """Drop this thread's staged change files (the DML attempt
        lost its OCC race or failed) — both the on-disk files and the
        pending list, so the retry stages fresh ones."""
        pending = self._cdc_pending(name)
        for rel in pending:
            try:
                os.unlink(os.path.join(self.path(name), rel))
            except OSError:
                pass
        pending.clear()

    def _delta_commit(
        self,
        name: str,
        data: str,
        operation: str = "WRITE",
        txn: _Attempt | None = None,
    ) -> None:
        """Emit one protocol-conformant ``_delta_log`` commit
        reconciling the log's live file set against the data dir
        ``data`` — the version being committed, or the current one for
        appends and metadata-only commits. Called inside the commit
        lock; the log's putIfAbsent is the commit point, so a refused
        log commit moves nothing:

        * adds    = files on disk the log doesn't know (stats from one
                    footer read each — or REUSED, deletion vector
                    included, from the prior add when the file is a
                    hardlink of a live file (or of a file of
                    ``txn.source``): same inode ⇒ same content ⇒ same
                    stats, zero re-reads for the untouched side of a
                    DML);
        * removes = live log paths no longer in the data dir (the old
                    version's files — still on disk for time travel
                    until GC, exactly Delta's remove-then-VACUUM).

        ``txn.deleted`` (a MoR DML's new positions by scanned file)
        moves to the adds that hardlink those files: one new
        deletion-vector file holds each such file's old positions ∪
        its new ones; every other add keeps its descriptor.

        metaData (Spark schemaString + partitionColumns) is emitted on
        the first commit and re-emitted when the data files' arrow
        schema fingerprint changes (schema evolution).

        A version that lost every row (a COW delete of all rows of a
        partitioned table, whose empty partitioned write leaves no
        file) gets one zero-row file shaped like the table's first
        live file, in the same hive dir — the zero-row file Spark
        itself writes for an empty flat table. So every committed
        version keeps a live add that names its dir. A new table's
        empty partitioned first write (Spark writes no file for it)
        gets one zero-row file of ``txn.written``, the DataFrame
        written, at the version root, and its metaData schema from it
        rather than from the files."""
        import hashlib
        import json

        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)
        txn = txn or _Attempt(table, UNCHECKED)  # an append or metadata commit
        written = txn.written
        log = dl.DeltaLog(table, owner=self.commit_owner)
        latest = log.latest_version()
        prev = log.snapshot(latest) if latest is not None else None

        parts = self._partition_dirs(data)
        empty_first = not parts and prev is None and written is not None
        if empty_first:
            written.limit(0).coalesce(1).write.mode("append").parquet(data)
            parts = self._partition_dirs(data)
        elif not parts and prev is not None and prev.files:
            import pyarrow.parquet as pq

            src = min(prev.files)
            sub = os.path.dirname(
                src.split("/", 1)[1] if self._version_of(src) else src
            )
            os.makedirs(os.path.join(data, sub), exist_ok=True)
            pq.write_table(
                pq.read_schema(os.path.join(table, src)).empty_table(),
                os.path.join(data, sub, "part-00000-empty.parquet"),
            )
            parts = self._partition_dirs(data)
        part_cols = self._partition_cols(parts)
        disk: dict[str, str] = {}  # rel path from TABLE root -> abs
        for _rel, files in parts:
            for f in files:
                disk[os.path.relpath(f, table).replace(os.sep, "/")] = f

        old_by_ino: dict[int, dict] = {}
        for snap in [s for s in (prev, txn.source) if s is not None]:
            for rel, add in snap.files.items():
                try:
                    old_by_ino[os.stat(os.path.join(table, rel)).st_ino] = add
                except OSError:
                    pass
        deleted_by_ino = {
            os.stat(dl.resolve_path(table, f)).st_ino: ris
            for f, ris in txn.deleted.items()
        }

        actions: list[dict] = []
        new_adds: list[dict] = []
        gained: dict[str, tuple] = {}  # rel -> (add, its old rel, new positions)
        first_abs = next(iter(disk.values()), None)
        for rel in sorted(disk):
            if prev is not None and rel in prev.files:
                continue  # already live (append case)
            abs_p = disk[rel]
            try:
                ino = os.stat(abs_p).st_ino
            except OSError:
                ino = None
            old = old_by_ino.get(ino)
            if old is not None and "stats" in old:
                add = dict(old)
                add["path"] = rel
                add["partitionValues"] = dl._partition_values(rel)
            else:
                add = dl.make_add(table, abs_p)
            if ino in deleted_by_ino:
                gained[rel] = (add, (old or {}).get("path"), deleted_by_ino.pop(ino))
            new_adds.append(add)
        if deleted_by_ino:
            raise dl.DeltaProtocolError(
                f"table {name!r}: deleted rows of {len(deleted_by_ino)} "
                "file(s) not in the committed version"
            )

        if gained:
            from product_analytics_spark.sources import (
                deletion_vectors as dvs,
            )

            # the old positions as the DML's scan decoded them
            old_positions = self._dv_positions(table, prev)[0]
            descriptors = dvs.write_dv_file(
                table,
                {
                    rel: sorted(set(new).union(old_positions.get(old_rel, ())))
                    for rel, (_add, old_rel, new) in gained.items()
                },
            )
            for rel, (add, _old_rel, _new) in gained.items():
                add["deletionVector"] = descriptors[rel]
                # stats still describe the PHYSICAL file, so bounds
                # are wide over the live rows: declare tightBounds
                # false (Delta's exact contract for DV'd files;
                # min/max pruning stays sound — conservative).
                if "stats" in add:
                    st = json.loads(add["stats"])
                    st["tightBounds"] = False
                    add["stats"] = json.dumps(
                        st, separators=(",", ":"), sort_keys=True
                    )

        # Row tracking: allocate fresh baseRowId ranges for files the
        # snapshot hasn't seen. Hardlinked COW/MoR copies INHERIT
        # their range via the inode-reuse add copy above (same inode
        # ⇒ same rows ⇒ same ids); only genuinely new files draw from
        # the high-water mark, which advances in the same commit's
        # domainMetadata action (Delta PROTOCOL.md "Row Tracking").
        rt_enabled = prev is not None and prev.row_tracking_enabled()
        rt_domain_action = None
        if rt_enabled:
            rt_hwm = prev.row_id_high_water_mark()
            rt_hwm0 = rt_hwm
            this_version = (latest + 1) if latest is not None else 0
            for add in new_adds:
                if add.get("baseRowId") is not None:
                    continue
                s = add.get("stats")
                if not s:
                    raise dl.DeltaProtocolError(
                        "row tracking requires per-file numRecords "
                        f"stats; add {add.get('path')!r} has none"
                    )
                n = int(json.loads(s)["numRecords"])
                add["baseRowId"] = rt_hwm + 1
                add["defaultRowCommitVersion"] = this_version
                rt_hwm += n
            if rt_hwm != rt_hwm0:
                rt_domain_action = {
                    "domainMetadata": {
                        "domain": dl.ROW_TRACKING_DOMAIN,
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": rt_hwm},
                            separators=(",", ":"),
                        ),
                        "removed": False,
                    }
                }

        # Schema fingerprint from ONE data file's arrow schema (cheap,
        # no Spark job); full Spark schemaString only when it changes.
        rt_marker = self._row_tracking(name)
        rt_phys_cols = ()
        if rt_marker:
            rt_phys_cols = (
                dl.MATERIALIZED_ROW_ID_COL,
                dl.MATERIALIZED_ROW_COMMIT_COL,
            )
        schema_hash = None
        if first_abs is not None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            # remove_metadata(): Spark embeds its schema JSON in the
            # parquet key-value metadata and that varies by write path
            # — only names/types should fingerprint the schema. The
            # materialized row-id columns are PHYSICAL, not logical —
            # excluded, or the fingerprint would flap per-file.
            sch_obj = pq.read_schema(first_abs).remove_metadata()
            if rt_phys_cols:
                sch_obj = pa.schema(
                    [f for f in sch_obj if f.name not in rt_phys_cols]
                )
            schema_hash = hashlib.sha1(str(sch_obj).encode()).hexdigest()
        prev_conf = (prev.metadata.get("configuration") or {}) if prev else {}
        dv_enabled = bool(gained) or (
            prev_conf.get("delta.enableDeletionVectors") == "true"
        )
        cdf_enabled = self.cdf or (
            prev_conf.get("delta.enableChangeDataFeed") == "true"
        )
        cons = self.constraints(name)
        prev_cons = {
            k[len("delta.constraints."):]: v
            for k, v in prev_conf.items()
            if k.startswith("delta.constraints.")
        }
        gens = self.generated_columns(name)
        idents = self.identity_columns(name)
        props = self.table_properties(name)
        invs = self.invariants(name)
        # The spec's persisted-rule form for delta.invariants field
        # metadata (Delta PROTOCOL.md "Column Invariants").
        invs_json = {
            c: json.dumps(
                {"expression": {"expression": e}}, separators=(",", ":")
            )
            for c, e in invs.items()
        }
        prev_gens: dict[str, str] = {}
        prev_idents: dict[str, dict] = {}
        prev_invs: dict[str, str] = {}
        if prev is not None and (prev.metadata or {}).get("schemaString"):
            for fpath, f in dl.walk_schema_fields(
                json.loads(prev.metadata["schemaString"])["fields"]
            ):
                fmd = f.get("metadata") or {}
                ge = fmd.get("delta.generationExpression")
                if ge:
                    prev_gens[fpath] = ge
                iv = fmd.get(dl.INVARIANTS_META_KEY)
                if iv:
                    prev_invs[fpath] = iv
                if "delta.identity.start" in fmd:
                    prev_idents[fpath] = {
                        "start": fmd.get("delta.identity.start"),
                        "step": fmd.get("delta.identity.step"),
                        "high_water_mark": fmd.get(
                            "delta.identity.highWaterMark"
                        ),
                    }
        need_meta = (
            prev is None
            or not prev.metadata
            or (
                schema_hash is not None
                and prev_conf.get("engine.arrowSchemaHash")
                not in (None, schema_hash)
            )
            or (
                dv_enabled
                and prev_conf.get("delta.enableDeletionVectors") != "true"
            )
            or (
                cdf_enabled
                and prev_conf.get("delta.enableChangeDataFeed") != "true"
            )
            or prev_cons != cons
            or prev_gens != gens
            or prev_invs != invs_json
            or any(prev_conf.get(k) != v for k, v in props.items())
            or prev_idents
            != {
                c: {
                    "start": s.get("start"),
                    "step": s.get("step"),
                    "high_water_mark": s.get("high_water_mark"),
                }
                for c, s in idents.items()
            }
        )
        # Legacy writer-version floors: 3 = checkConstraints,
        # 4 = generatedColumns (Delta PROTOCOL.md) — a protocol-aware
        # writer must enforce these features or refuse the table.
        need_writer = 2
        if cons:
            need_writer = 3
        if gens:
            need_writer = max(need_writer, 4)
        if idents:
            # identityColumns is the legacy writer-version-6 feature
            need_writer = max(need_writer, 6)
        if prev is None:
            proto = dict(
                dl.PROTOCOL_DV_ACTION if gained else dl.PROTOCOL_ACTION
            )
            if proto["minWriterVersion"] < need_writer:
                proto["minWriterVersion"] = need_writer
            actions.append({"protocol": proto})
        elif gained and (
            (prev.protocol or {}).get("minReaderVersion", 1) < 3
            or "deletionVectors"
            not in ((prev.protocol or {}).get("writerFeatures") or [])
        ):
            # first DV on an existing table: in-place protocol upgrade
            # to the deletionVectors table feature (reader 3 / writer
            # 7). MERGED into the existing protocol — a blind replace
            # would forget previously-declared features (rowTracking,
            # domainMetadata) and readers would stop enforcing them.
            actions.append(
                {
                    "protocol": dl.merge_protocol(
                        prev.protocol or dl.PROTOCOL_ACTION,
                        dl.PROTOCOL_DV_ACTION,
                    )
                }
            )
        elif need_writer > (prev.protocol or {}).get("minWriterVersion", 2):
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": (prev.protocol or {}).get(
                            "minReaderVersion", 1
                        ),
                        "minWriterVersion": need_writer,
                    }
                }
            )
        if need_meta:
            if prev_conf.get("delta.columnMapping.mode") in (
                "name", "id",
            ) or prev_conf.get("delta.enableTypeWidening") == "true":
                # Under column mapping the files carry PHYSICAL names,
                # and under type widening the files carry MIXED
                # physical widths; re-deriving the schema from them
                # would silently undo a logical rename or a widening
                # (and drop the delta.typeChanges history). Schema
                # changes on such tables need explicit DDL (Delta's
                # rule too) — keep the previous logical schemaString.
                schema_json = prev.metadata["schemaString"]
            else:
                # NOT routed through the _read_version_dir memo
                # (round-13, examined and left): this branch runs
                # exactly when the files' schema may have CHANGED
                # (fingerprint drift), and append writes into the
                # live data dir in place — a memoized schema here
                # could be the pre-append one. Fresh inference is the
                # correct ~80 ms.
                reader = self.spark.read
                if rt_marker:
                    reader = reader.option("mergeSchema", "true")
                if empty_first:
                    # the zero-row first version (above): the files'
                    # schema is the written one, made nullable as a
                    # parquet read makes it
                    schema_json = _nullable(written.schema).json()
                else:
                    schema_json = reader.parquet(data).schema.json()
            if rt_phys_cols:
                # the materialized row-id columns live in the FILES,
                # never in the logical schema (Delta hides them too)
                sch = json.loads(schema_json)
                sch["fields"] = [
                    f
                    for f in sch["fields"]
                    if f["name"] not in rt_phys_cols
                ]
                schema_json = json.dumps(sch, separators=(",", ":"))
            if gens or idents or invs_json:
                # generation expressions, identity specs, and column
                # invariants live in the FIELD metadata, not
                # configuration
                sch = json.loads(schema_json)
                # invariants may target NESTED fields (dotted paths):
                # the rule lives in the inner field's metadata, per
                # Delta's persistence of nested-column invariants
                for ipath, rule in invs_json.items():
                    if "." not in ipath:
                        continue
                    tgt = dl.schema_field_at(sch, ipath)
                    if tgt is not None:
                        tmd = dict(tgt.get("metadata") or {})
                        tmd[dl.INVARIANTS_META_KEY] = rule
                        tgt["metadata"] = tmd
                for f in sch["fields"]:
                    md = dict(f.get("metadata") or {})
                    if f["name"] in gens:
                        md["delta.generationExpression"] = gens[f["name"]]
                    if f["name"] in invs_json:
                        md[dl.INVARIANTS_META_KEY] = invs_json[f["name"]]
                    if f["name"] in idents:
                        spec = idents[f["name"]]
                        md["delta.identity.start"] = spec.get("start")
                        md["delta.identity.step"] = spec.get("step")
                        md["delta.identity.highWaterMark"] = spec.get(
                            "high_water_mark"
                        )
                        md["delta.identity.allowExplicitInsert"] = False
                    if md:
                        f["metadata"] = md
                schema_json = json.dumps(sch, separators=(",", ":"))
            table_id = (
                prev.metadata.get("id") if prev and prev.metadata else None
            )
            meta = dl.make_metadata(
                schema_json, part_cols, table_id=table_id
            )
            # start from the PREVIOUS configuration so table
            # properties written by out-of-band upgrades (row
            # tracking, column mapping) survive a metaData
            # re-emission; constraint keys are rebuilt from the
            # current declarations
            conf = {
                k: v
                for k, v in prev_conf.items()
                if not k.startswith("delta.constraints.")
            }
            if schema_hash:
                conf["engine.arrowSchemaHash"] = schema_hash
            if dv_enabled:
                conf["delta.enableDeletionVectors"] = "true"
            if cdf_enabled:
                conf["delta.enableChangeDataFeed"] = "true"
            for cn, ce in cons.items():
                conf[f"delta.constraints.{cn}"] = ce
            # declared table properties (delta.appendOnly, ...) win
            # over whatever a previous commit recorded
            for pk, pv in props.items():
                conf[pk] = pv
            meta["configuration"] = conf
            actions.append({"metaData": meta})
        # OPTIMIZE/compaction rearranges bytes without changing rows:
        # Delta marks BOTH sides dataChange=false so streams and the
        # change feed skip the commit entirely.
        rearrange_only = operation == "OPTIMIZE"
        if rearrange_only:
            for a in new_adds:
                a["dataChange"] = False
        if prev is not None:
            for rel in sorted(set(prev.files) - set(disk)):
                rm = dl.make_remove(rel)
                if rearrange_only:
                    rm["dataChange"] = False
                actions.append({"remove": rm})
        actions.extend({"add": a} for a in new_adds)
        if rt_domain_action is not None:
            actions.append(rt_domain_action)
        # Change Data Feed: reference this thread's staged change
        # files in the SAME commit (Delta "Add CDC File" action).
        # When cdc actions are present, table_changes reads them
        # ALONE and ignores the COW add/remove churn.
        if self.cdf:
            for rel in self._cdc_pending(name):
                p = os.path.join(table, rel)
                try:
                    sz = os.path.getsize(p)
                except OSError:
                    # A staged change file vanished between _stage_cdc
                    # and this commit (e.g. an aggressive VACUUM swept
                    # the not-yet-referenced file). Committing anyway
                    # would silently drop these rows from the feed —
                    # downstream incrementals would miss changes with
                    # no error anywhere (ADVICE r9). Fail the commit
                    # loudly instead; the caller retries and restages.
                    raise dl.DeltaProtocolError(
                        f"staged change file {rel!r} vanished before "
                        f"commit of table {name!r} — refusing to commit "
                        "a change feed with silently missing rows "
                        "(was VACUUM run concurrently? use "
                        "cdc_grace_s)"
                    ) from None
                actions.append(
                    {
                        "cdc": {
                            "path": rel,
                            "partitionValues": {},
                            "size": sz,
                            "dataChange": False,
                        }
                    }
                )
        if prev is not None and not any(
            k in a for a in actions for k in ("add", "remove", "metaData", "cdc")
        ):
            return  # nothing changed — no empty commits
        log.commit(
            actions,
            version=0 if latest is None else latest + 1,
            operation=operation,
        )
        # Only a landed commit adopts the staged change files: after a
        # refused one they stay pending, so the writer's abort unlinks
        # them instead of leaving orphans for VACUUM.
        self._cdc_pending(name).clear()

    def delta_snapshot(self, name: str, version: int | None = None):
        """The table's Delta snapshot (live file set + metadata) at a
        log version."""
        from product_analytics_spark.sources import delta_log as dl

        return dl.DeltaLog(self.path(name)).snapshot(version)

    def scan_files(
        self,
        name: str,
        conjuncts: Sequence[tuple] = (),
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Data-skipping scan plan from the transaction log ALONE
        (zero parquet footer opens — the log's per-file stats decide):
        returns (kept relative paths, total live files). ``conjuncts``
        are (column, op, literal) with op in =, <, <=, >, >=,
        between."""
        snap = self.delta_snapshot(name, version)
        kept = snap.plan_files(list(conjuncts))
        return kept, len(snap.files)

    def read_pruned(
        self,
        name: str,
        conjuncts: Sequence[tuple] = (),
        version: int | None = None,
    ) -> DataFrame:
        """Read only the files the log-stats planner keeps (Delta's
        data-skipping scan): prune via ``scan_files``, then load
        exactly those files. The caller still applies the row-level
        filter — file pruning is a superset guarantee, same contract
        as Delta/Iceberg. Partition columns come back as string
        literals from the log's partitionValues. Files with
        ``deletionVector`` descriptors have their tombstoned
        positions anti-joined out (``dl.apply_dv_filter``, decoded
        from the roaring-bitmap files), so pruned reads never
        resurrect MoR-deleted rows."""
        from product_analytics_spark.sources import delta_log as dl

        snap = self.delta_snapshot(name, version)
        kept = snap.plan_files(list(conjuncts))
        table = self.path(name)
        part_cols = (snap.metadata or {}).get("partitionColumns") or []
        if not kept:
            schema = _logged_schema(snap.metadata or {}) or self.spark.read.parquet(
                self.current_data_dir(name)
            ).schema
            return self.spark.createDataFrame([], schema)
        pos_df = dl.dv_positions_df(self.spark, table, snap.dv_positions(table))
        if not part_cols:
            df = self.spark.read.parquet(
                *[os.path.join(table, p) for p in kept]
            )
            return dl.apply_dv_filter(df, pos_df)
        groups: dict[tuple, list[str]] = {}
        for p in kept:
            pv = snap.files[p].get("partitionValues") or {}
            key = tuple(pv.get(c) for c in part_cols)
            groups.setdefault(key, []).append(p)
        out = None
        for key in sorted(groups, key=lambda k: tuple(str(x) for x in k)):
            df = self.spark.read.parquet(
                *[os.path.join(table, p) for p in groups[key]]
            )
            df = dl.apply_dv_filter(df, pos_df)
            for c, v in zip(part_cols, key):
                df = df.withColumn(c, F.lit(v).cast("string"))
            out = df if out is None else out.unionByName(df)
        return out

    # ---------------------------------------------------------- sinks

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        zorder_by: Sequence[str] = (),
        n_files: int | None = None,
        zorder_depth: bool | str = False,
        expected_version=UNCHECKED,
        operation: str = "WRITE",
        _validate: bool = True,
        _generated_applied: bool = False,
    ) -> None:
        """Atomic full replace: write a version dir, commit it to the log.

        ``zorder_by`` lays the files out on the multi-column Morton
        curve (see ``_write_version``) — the ``OPTIMIZE ZORDER BY``
        write path. ``expected_version`` (optional) turns the commit
        into an optimistic transaction: pass ``current_version(name)``
        from the transaction's snapshot read and the commit refuses
        (ConcurrentWriteError, uncommitted version cleaned up) if
        another writer got there first — a blind overwrite would drop
        that writer's rows.

        ``zorder_depth="auto"`` lets the skew advisor pick the lane
        scheme (functions/zorder.choose_equal_depth): any skewed
        z-order key flips the write to equal-DEPTH quantile lanes; the
        RESOLVED boolean is what gets recorded in the layout, so a
        later ``optimize()`` reclusters with the same scheme."""
        return self._transact(
            name,
            lambda txn: self._stage_overwrite(
                txn,
                name,
                df,
                partition_by,
                cluster_by,
                zorder_by,
                n_files,
                zorder_depth,
                operation,
                _validate,
                _generated_applied,
            ),
            "overwrite",
            operation,
            max_retries=1,
            expected=expected_version,
        )

    def _stage_overwrite(
        self,
        txn: _Attempt,
        name: str,
        df: DataFrame,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        zorder_by: Sequence[str] = (),
        n_files: int | None = None,
        zorder_depth: bool | str = False,
        operation: str = "WRITE",
        validate: bool = True,
        generated_applied: bool = False,
    ):
        """``overwrite``'s attempt body, shared by ``merge`` and
        ``purge_dv``: write ``df`` as ``txn``'s version (validation
        overlapped on ``txn``); returns the post-commit step that
        records the layout and advances the identity high-water
        mark."""
        if operation != "OPTIMIZE" and self.current_data_dir(name) is not None:
            # Replacing an EXISTING table's rows removes data —
            # forbidden on an append-only table (PROTOCOL.md). The
            # initial write and rearrange-only rewrites (purge_dv's
            # OPTIMIZE) are not removals.
            self._assert_appendable(name, "overwrite")
        ident = self.identity_columns(name)
        ident_supplied = bool(ident) and next(iter(ident)) in df.columns
        if ident and not ident_supplied:
            # first write / explicit refresh omitting the identity
            # column: allocate. A df CARRYING the column passes —
            # overwrite is also the engine's own rewrite primitive
            # (merge/purge_dv/optimize) and those rows already own
            # their ids; the user-facing insert paths (append/merge)
            # enforce GENERATED ALWAYS refusal.
            df = self._apply_identity(name, df)
        # generated_applied (round-13, guide §1.2 — the constraint-
        # validation induction, applied to generated columns): merge
        # computes/validates the BATCH's generated columns up front,
        # and the kept prev-side rows were computed-or-validated by
        # their own commits, so re-probing the whole merged relation
        # here was a redundant full-scan job per merge.
        if not generated_applied:
            df = self._apply_generated(name, df)
        # Validation rides ALONGSIDE the version write (guide §2.6 —
        # _validate_async); the commit loop joins it before the
        # commit, so a violating write still commits nothing and
        # leaves nothing.
        if validate:
            txn.jobs.append(self._validate_async(name, df))
        if zorder_by and zorder_depth == "auto":
            from product_analytics_spark.functions.zorder import (
                choose_equal_depth,
            )

            zorder_depth = choose_equal_depth(df, list(zorder_by))
        txn.written = df
        txn.version = self._write_version(
            name,
            df,
            partition_by=partition_by,
            cluster_by=cluster_by,
            zorder_by=zorder_by,
            n_files=n_files,
            zorder_depth=zorder_depth,
        )
        version = txn.version

        def finish() -> None:
            # Record the layout declaration only AFTER the commit
            # succeeds (ADVICE r8): a transaction that loses the OCC
            # race committed nothing, so it must not redefine the
            # clustering a later optimize() applies either.
            self._record_layout(
                name, partition_by, cluster_by, zorder_by,
                zorder_depth=zorder_depth,
            )
            if ident_supplied:
                # A full refresh carrying ids above the HWM must
                # advance it, or later appends would allocate
                # duplicates of existing keys (ADVICE r9).
                self._advance_identity_hwm(name, version)

        return finish

    def append(self, name: str, df: DataFrame, partition_by: Sequence[str] = ()) -> None:
        """S5: plain append materialization.

        Appends land in the current committed data dir (or the plain
        table dir on first write). Appends are NOT atomic — matching
        dbt's default incremental behavior; use merge/overwrite for
        transactional semantics.
        """
        self._assert_coordinator_routed(name)
        df = self._apply_identity(name, df)
        df = self._apply_generated(name, df)
        self._validate_constraints(name, df)
        if (
            self.table_properties(name).get(
                "delta.autoOptimize.optimizeWrite"
            )
            == "true"
        ):
            # optimizeWrite (delta.io auto optimize): shuffle the
            # incoming batch so each hive partition receives ONE
            # writer task — one file per partition per append instead
            # of one per (task × partition). At 100 TB the property
            # is what keeps a 200-task micro-batch from minting 200
            # small files per partition every trigger.
            df = (
                df.repartition(*[F.col(c) for c in partition_by])
                if partition_by
                else df.coalesce(1)
            )
        data = self.current_data_dir(name) or self.path(name)
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data)
        # An append IS a commit in Delta terms: add actions for the
        # new files (reconciled: disk minus log-live), no removes.
        with self._commit_lock(name):
            self._delta_commit(
                name, self.current_data_dir(name) or data, operation="WRITE"
            )
        self._maybe_auto_compact(name)

    def _assert_coordinator_routed(self, name: str) -> None:
        """Coordinated-commits FAIL-FAST for the in-place append
        path (found by the q476 composition capstone): ``append``
        writes parquet into the CURRENT data dir before the log
        commit, so letting ``DeltaLog.commit`` refuse afterwards
        leaves orphaned data files that the next writer's
        disk-minus-log reconcile silently ADOPTS — committing rows a
        writer was just told it could not commit. Check the table's
        coordinator declaration BEFORE any byte lands."""
        from product_analytics_spark.sources import delta_log as dl

        try:
            conf = (
                self.delta_snapshot(name).metadata or {}
            ).get("configuration") or {}
        except Exception:  # noqa: BLE001 — no log yet: nothing declared
            return
        declared = conf.get(dl.COMMIT_COORDINATOR_PROP)
        if declared and (
            getattr(self.commit_owner, "coordinator_name", None)
            != declared
        ):
            raise dl.DeltaProtocolError(
                f"table {name!r} commits are owned by coordinator "
                f"{declared!r} ({dl.COMMIT_COORDINATOR_PROP}): "
                "configure SnapshotStore(commit_owner=...) with that "
                "coordinator; nothing written"
            )

    def _maybe_auto_compact(self, name: str) -> None:
        """``delta.autoOptimize.autoCompact`` (delta.io auto
        optimize): after an append, any partition that accumulated
        ``engine.autoCompact.minNumFiles`` (default 8) or more files
        is compacted INLINE through the partition-scoped
        :meth:`optimize` — the cold partitions ride along by
        hardlink, and the compaction commit is rearrange-only
        (``dataChange: false``), so change feeds and streams see
        nothing. This is the writer-side half of small-file hygiene:
        the scheduled OPTIMIZE job stops being load-bearing for
        tables whose writers keep themselves tidy."""
        props = self.table_properties(name)
        if props.get("delta.autoOptimize.autoCompact") != "true":
            return
        try:
            min_files = int(
                props.get("engine.autoCompact.minNumFiles") or 8
            )
        except (TypeError, ValueError):
            min_files = 8
        data = self.current_data_dir(name)
        if data is None:
            return
        parts = self._partition_dirs(data)
        hot = [rel for rel, fs in parts if len(fs) >= max(2, min_files)]
        if not hot:
            return
        if "." in hot:
            self.optimize(name)  # flat table: whole-table compaction
            return
        for rel in hot:
            self.optimize(
                name, where=dict(self._partition_literals(rel))
            )

    def merge(
        self,
        name: str,
        batch: DataFrame,
        key: str | Sequence[str],
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        isolated: bool = False,
        max_retries: int = 3,
        post_scan=None,
    ) -> DataFrame:
        """S4: MERGE batch into the named snapshot on ``key``;
        returns the merged snapshot DataFrame (freshly readable).

        The merged relation lazily reads the OLD version's files;
        writing the new version before the log commit means the
        read and the write never race — the commit happens only after
        the new version is fully on disk.

        ``isolated=True`` makes the read-merge-commit an optimistic
        TRANSACTION: the commit presents the version this merge read,
        and if another writer committed in between the merge re-reads
        and retries (up to ``max_retries``) instead of silently
        clobbering the other writer's rows — the Delta MERGE
        commit-retry loop. Default stays last-writer-wins (dbt
        incremental semantics, q17's contract).

        ``post_scan`` (optional zero-arg callable) is the same
        fault-injection point the DML/compaction paths expose: fired
        after each attempt's snapshot read and before its commit, so
        interleaving certs (q425) can land a concurrent commit inside
        the exact window the OCC check must catch.
        """
        self._assert_appendable(name, "MERGE")
        # Generated columns: a batch that omits them gets them
        # computed HERE (absent-vs-null matters — after the upsert
        # union the distinction is gone and validation would reject
        # the nulls).
        batch = self._apply_generated(name, batch)
        keys_l = [key] if isinstance(key, str) else list(key)

        def attempt(txn: _Attempt):
            prev = self.read(name)
            batch_eff = (
                self._identity_merge_batch(name, prev, batch, keys_l)
                if self.identity_columns(name)
                else batch
            )
            merged = merge_upsert(prev, batch_eff, key)
            # CHECK/invariant validation on the NEW rows only (round-12
            # optimization, guide §1.2): the kept prev-side rows were
            # validated by their own commits, and add_constraint /
            # set_invariant validate EXISTING data at declaration time,
            # so induction covers them — the old form re-scanned the
            # whole merged table once PER RULE per merge. The batch is
            # aligned to the merged schema first (batch rows acquire
            # typed NULLs for prev-only columns in the union, and an
            # invariant on such a column must still see them).
            if prev is not None and (
                self.constraints(name) or self.invariants(name)
            ):
                val_df = batch_eff
                have = set(batch_eff.columns)
                for fld in prev.schema.fields:
                    if fld.name not in have:
                        val_df = val_df.withColumn(
                            fld.name,
                            F.lit(None).cast(fld.dataType),
                        )
                # Overlapped with the cdc stage + version write below
                # (guide §2.6); joined before the commit, so a
                # violating batch still commits nothing.
                txn.jobs.append(self._validate_async(name, val_df))
            if post_scan is not None:
                post_scan()
            if self.cdf and prev is not None:
                # Change feed for MERGE: matched keys emit pre+post
                # image (the replaced row and its replacement),
                # unmatched batch rows emit inserts — exactly what
                # merge_upsert's prev-ANTI-batch ∪ batch does.
                bkeys = batch_eff.select(*keys_l).distinct()
                pkeys = prev.select(*keys_l).distinct()
                ct = "_change_type"
                # Overlapped cdc write (guide §2.6): runs while the
                # merged version is written below — independent
                # consumers of the same immutable prev files + pinned
                # batch (identity ids localCheckpoint'd in
                # _identity_merge_batch). The commit adopts the staged
                # files.
                txn.cdc = self._stage_cdc_async(
                    name,
                    prev.join(bkeys, keys_l, "left_semi")
                    .withColumn(ct, F.lit("update_preimage"))
                    .unionByName(
                        batch_eff.join(pkeys, keys_l, "left_semi").withColumn(
                            ct, F.lit("update_postimage")
                        ),
                        allowMissingColumns=True,
                    )
                    .unionByName(
                        batch_eff.join(pkeys, keys_l, "left_anti").withColumn(
                            ct, F.lit("insert")
                        ),
                        allowMissingColumns=True,
                    ),
                )
            finish = self._stage_overwrite(
                txn,
                name,
                merged,
                partition_by=partition_by,
                cluster_by=cluster_by,
                validate=prev is None,
                # The batch's generated columns were computed/validated
                # at the top of this merge and the kept prev-side rows
                # by their own commits (round-13, guide §1.2) — skip
                # the full-relation re-probe. Only safe when prev
                # actually CARRIES every declared column (a
                # declare-after-data table that was never rewritten
                # must still fail the probe on its NULL prev side).
                generated_applied=(
                    prev is None
                    or all(
                        c in prev.columns
                        for c in self.generated_columns(name)
                    )
                ),
            )

            def done() -> DataFrame:
                finish()
                out = self.read(name)
                assert out is not None
                return out

            return done

        # A concurrent commit may GC the snapshot this merge's plan
        # lazily reads (retention window): with isolation on, the loop
        # classifies that as the same conflict surfaced during the
        # write. Without it the merge is last-writer-wins, one attempt.
        return self._transact(
            name,
            attempt,
            "merge",
            "WRITE",
            max_retries if isolated else 1,
            expected=_READ if isolated else UNCHECKED,
        )

    # ----------------------------------------------------- compaction

    def _partition_dirs(self, data: str) -> list[tuple[str, list[str]]]:
        """Every directory under ``data`` that holds parquet files, as
        (relative subdir, sorted file paths) pairs in deterministic
        order. Flat tables yield one ``(".", files)`` pair; hive-
        partitioned tables yield one pair per leaf partition directory
        (``order_year=1996/order_month=3``). Hidden/metadata entries
        (``_SUCCESS``, ``.crc``, sidecars) are skipped."""
        out: list[tuple[str, list[str]]] = []
        for root, dirs, files in os.walk(data):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            pq = sorted(
                os.path.join(root, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            if pq:
                out.append((os.path.relpath(root, data), pq))
        return sorted(out)

    def plan_compaction(
        self, name: str, target_bytes: int = 128 << 20
    ) -> list[list[str]]:
        """Bin-pack the current version's parquet files into
        target-size rewrite groups — the q199 planner applied to the
        REAL file manifest: files in deterministic (path) order,
        group = cumulative-size-before div target (≤2x worst-case
        overshoot, the bound file compactors accept). Pure metadata:
        |files| rows, no data read.

        Partitioned tables are planned PER PARTITION DIRECTORY — a
        group never mixes files from two hive partitions, because the
        partition-column values live in the directory name, not the
        files, so a cross-partition rewrite would lose them (exactly
        what Delta OPTIMIZE does: compaction is within-partition)."""
        data = self.current_data_dir(name)
        if data is None:
            return []
        plan: list[list[str]] = []
        for _rel, files in self._partition_dirs(data):
            groups: dict[int, list[str]] = {}
            before = 0
            for f in files:
                groups.setdefault(before // target_bytes, []).append(f)
                before += os.path.getsize(f)
            plan.extend(groups[g] for g in sorted(groups))
        return plan

    @staticmethod
    def _parallel_jobs(thunks, max_workers: int = 4) -> None:
        """Run independent Spark write jobs concurrently (round-12,
        guide §2.6 — overlap independent jobs): a maintenance rewrite
        of N partition directories / bin-pack groups is N independent
        actions whose tails otherwise serialize (each job's last task
        leaves the rest of local[32] idle). 2-4 jobs in flight
        back-fill those tails; results are unchanged because each
        thunk writes a distinct output directory of the same
        uncommitted version. On failure every in-flight thunk still
        completes before the first exception propagates, so the
        caller's cleanup (rmtree of the version dir) never races a
        live write task."""
        thunks = list(thunks)
        if len(thunks) <= 1:
            for t in thunks:
                t()
            return
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import SparkSession
        from pyspark.util import inheritable_thread_target

        # inheritable_thread_target (ADVICE r12, same fix as the async
        # cdc/validation threads): pool threads running Spark actions
        # must inherit the submitter's JVM-thread locals (job group /
        # scheduler pool) and release their pinned py4j connection per
        # task instead of parking a JVM thread until pool GC. Given the
        # session, the wrapper also carries the session's job tags.
        session = SparkSession.getActiveSession()
        wrap = (
            inheritable_thread_target(session)
            if session is not None
            else inheritable_thread_target
        )
        with ThreadPoolExecutor(
            max_workers=min(max_workers, len(thunks))
        ) as tp:
            futs = [tp.submit(wrap(t)) for t in thunks]
            for f in futs:
                f.result()

    def compact(
        self,
        name: str,
        target_bytes: int = 128 << 20,
        max_retries: int = 3,
        post_scan=None,
    ) -> dict:
        """Execute the compaction plan (OPTIMIZE's rewrite half): each
        planned group is rewritten as ONE file into a fresh version
        dir, then the log commits it atomically — readers switch from
        N small files to |groups| files in one rename, with the prior
        version retained per the retention window (time travel to the
        pre-compaction layout still works).

        Contents are hash-identical by construction: the groups
        partition the file list, and each rewrite is a plain scan →
        coalesce(1) → write of exactly those files. For hive-
        partitioned tables each group is rewritten into the SAME
        relative partition subdirectory inside the new version, so the
        directory-encoded partition columns survive the rewrite and
        read-back re-infers them unchanged. Returns
        {files_before, files_after, groups} so callers can assert the
        file-count drop.

        Optimistic transaction: the commit presents the version whose
        file manifest was planned; if a writer (merge/overwrite/DML)
        committed in between, the stale rewrite is discarded and the
        compaction REPLANS against the new manifest (up to
        ``max_retries``) — blind commit would resurrect rows the
        concurrent writer deleted or drop rows it merged (lost
        update). Delta's OPTIMIZE resolves the same conflict the same
        way: rewrite-only transactions retry cheaply.

        ``post_scan`` (optional zero-arg callable) is a fault-injection
        point fired after each attempt's manifest plan and before its
        commit — interleaving tests use it to land a concurrent commit
        inside the window the OCC check must catch."""

        def attempt(txn: _Attempt):
            # The attempt covers the SCAN phase too (plan_compaction's
            # getsize walk), not just the rewrite: with a small
            # retention window a concurrent commit can GC the scanned
            # version mid-plan, and that must surface as a conflict
            # retry, not a raw OSError (ADVICE r8).
            plan = self.plan_compaction(name, target_bytes)
            if post_scan is not None:
                post_scan()
            if not plan:
                return txn.no_commit(
                    {"files_before": 0, "files_after": 0, "groups": 0}
                )
            data = self.current_data_dir(name)
            assert data is not None  # plan non-empty ⇒ data exists
            rt = self._row_tracking(name)
            rt_base = self._rt_base_df(name) if rt else None
            vdir = txn.vdir

            def _rewrite_group(group: list[str]) -> None:
                rel = os.path.relpath(os.path.dirname(group[0]), data)
                out_dir = vdir if rel == "." else os.path.join(vdir, rel)
                reader = self.spark.read
                if rt:
                    reader = reader.option("mergeSchema", "true")
                df = reader.parquet(*group)
                if rt:
                    # materialize ids so the merged file keeps them
                    # (fresh baseRowIds on the new file lose to the
                    # materialized column via coalesce at read)
                    df = self._rt_attach_ids(name, df, base_df=rt_base)
                # Groups of one directory share out_dir, and two
                # concurrent append jobs into one directory race on
                # the commit protocol's shared _temporary/0 staging
                # dir — write each group into its own staging dir and
                # rename the parquet in (the _stage_cdc pattern;
                # rename is same-fs atomic).
                tmp = os.path.join(vdir, f"_grp_{uuid.uuid4().hex[:8]}")
                df.coalesce(1).write.parquet(tmp)
                os.makedirs(out_dir, exist_ok=True)
                for f in sorted(os.listdir(tmp)):
                    if f.endswith(".parquet") and not f.startswith((".", "_")):
                        os.rename(
                            os.path.join(tmp, f), os.path.join(out_dir, f)
                        )
                shutil.rmtree(tmp, ignore_errors=True)

            # independent per-group rewrites overlap (guide §2.6)
            self._parallel_jobs(
                [(lambda g: lambda: _rewrite_group(g))(group) for group in plan]
            )
            return lambda: {
                "files_before": sum(len(g) for g in plan),
                "files_after": sum(
                    len(fs) for _r, fs in self._partition_dirs(vdir)
                ),
                "groups": len(plan),
            }

        return self._transact(
            name, attempt, "compaction", "OPTIMIZE", max_retries,
            materialize_dv=True,
        )

    def optimize(
        self,
        name: str,
        target_bytes: int = 128 << 20,
        max_retries: int = 3,
        where: dict | None = None,
    ) -> dict:
        """Delta's ``OPTIMIZE [ZORDER BY …]`` proper: compaction that
        RESTORES the table's declared clustering. Appends and COW
        rewrites degrade a clustered layout over time (new files carry
        arbitrary key ranges, so footer-stat skipping decays);
        ``compact`` alone bin-packs file bytes but concatenates key
        ranges. optimize() instead rewrites each partition directory
        as a whole: re-sorts on the recorded layout keys
        (``zorder_by`` → recomputed Morton z-value; else
        ``cluster_by``), range-partitioned into ceil(bytes/target)
        files — tight per-file min/max again. Falls back to plain
        ``compact`` when the table never declared clustering.

        Optimistic transaction like compact: the commit presents the
        scanned version; a concurrent writer forces a re-scan.
        Returns {files_before, files_after, reclustered}.

        ``where`` ({partition col -> value}) is ``OPTIMIZE t WHERE
        p = v``: only matching hive partition dirs are rewritten;
        everything else is carried into the new version by HARDLINK
        (zero bytes moved, same inodes) — at 100 TB you compact the
        hot day's partition, never the table.

        Scale: this is the maintenance job real lakehouses schedule —
        cost is one shuffle of the rewritten partitions' bytes on the
        cluster key; without ``where``, untouched partition dirs
        rewrite too, where Delta would skip dirs already within
        tolerance (the planner hook to add when partition counts make
        it matter)."""
        # Liquid clustering: keys declared IN THE LOG
        # (``delta.clustering`` domainMetadata, set_clustering) take
        # precedence over the engine-local _LAYOUT declaration — any
        # engine maintaining the table reclusters the same way, which
        # is the point of putting them in the log (Delta's successor
        # to ZORDER post-hooks).
        from product_analytics_spark.sources import delta_log as dl

        try:
            liquid_keys = self.delta_snapshot(name).clustering_columns()
        except dl.DeltaProtocolError:
            liquid_keys = []
        layout = self.layout(name)
        keys = liquid_keys or list(
            layout.get("zorder_by") or layout.get("cluster_by") or ()
        )
        if not keys and where is None:
            out = self.compact(name, target_bytes, max_retries=max_retries)
            out["reclustered"] = False
            return out
        # single clustering column = plain range sort (morton
        # interleave needs >= 2 dimensions to mean anything)
        zorder = bool(layout.get("zorder_by")) or (
            bool(liquid_keys) and len(keys) >= 2
        )
        zdepth = bool(layout.get("zorder_depth"))

        def attempt(txn: _Attempt):
            # Scan phase inside the attempt: getsize/walk over a
            # snapshot a concurrent commit may GC mid-scan must become
            # a conflict retry, not a raw OSError (ADVICE r8).
            data = self.current_data_dir(name)
            if data is None:
                raise ValueError(f"unknown table {name!r}")
            parts = self._partition_dirs(data)
            if not parts:
                return txn.no_commit(
                    {"files_before": 0, "files_after": 0, "reclustered": False}
                )
            rt = self._row_tracking(name)
            rt_base = self._rt_base_df(name) if rt else None
            vdir = txn.vdir

            def _recluster_dir(rel: str, files: list[str]) -> None:
                out_dir = vdir if rel == "." else os.path.join(vdir, rel)
                n_files = max(
                    1,
                    -(-sum(os.path.getsize(f) for f in files) // target_bytes),
                )
                reader = self.spark.read
                if rt:
                    reader = reader.option("mergeSchema", "true")
                df = reader.parquet(*files)
                if rt:
                    # recluster preserves row identity by
                    # materializing ids into the rewritten files
                    df = self._rt_attach_ids(name, df, base_df=rt_base)
                if zorder:
                    from product_analytics_spark.functions.zorder import (
                        morton_zvalue,
                    )

                    df = df.withColumn(
                        "__zval",
                        morton_zvalue(df, keys, equal_depth=zdepth),
                    )
                    sort_keys = ["__zval"]
                else:
                    sort_keys = keys
                if sort_keys:
                    df = df.repartitionByRange(
                        n_files, *sort_keys
                    ).sortWithinPartitions(*sort_keys)
                else:
                    # no declared clustering (WHERE-scoped compaction
                    # of an unclustered table): plain bin-pack
                    df = df.repartition(n_files)
                if zorder:
                    df = df.drop("__zval")
                df.write.mode("append").parquet(out_dir)

            rewrites = []
            for rel, files in parts:
                if where is not None and not all(
                    (k, str(v)) in self._partition_literals(rel)
                    for k, v in where.items()
                ):
                    # OPTIMIZE ... WHERE: partitions outside the
                    # predicate are carried by HARDLINK — zero bytes
                    # moved, same inodes (Delta skips untouched
                    # partitions the same way; at 100 TB you compact
                    # the hot day's partition, never the table)
                    self._link_files(vdir, rel, files)
                    continue
                rewrites.append(
                    (lambda r, fs: lambda: _recluster_dir(r, fs))(
                        rel, list(files)
                    )
                )
            # per-directory stats pass + sorted rewrite are independent
            # jobs — overlap them (guide §2.6); the per-directory
            # z-value/lane stats are unchanged, so file layouts and
            # skipping stats stay identical.
            self._parallel_jobs(rewrites)
            return lambda: {
                "files_before": sum(len(fs) for _r, fs in parts),
                "files_after": sum(
                    len(fs) for _r, fs in self._partition_dirs(vdir)
                ),
                "reclustered": bool(keys),
            }

        return self._transact(
            name, attempt, "optimize", "OPTIMIZE", max_retries,
            materialize_dv=True,
        )

    # ------------------------------------------- copy-on-write DML

    @classmethod
    def _partition_cols(cls, parts) -> list[str]:
        """Hive partition columns of a ``_partition_dirs`` listing, in
        first-seen order ([] for a flat table)."""
        return list(
            dict.fromkeys(
                c for rel, _fs in parts for c, _v in cls._partition_literals(rel)
            )
        )

    @staticmethod
    def _link_files(vdir: str, rel: str, files: Sequence[str]) -> int:
        """Hardlink ``files`` (same basenames) into the ``rel`` subdir
        of version dir ``vdir``, creating it even when ``files`` is
        empty: an untouched data file carried into a new version costs
        one metadata op, zero bytes. Returns the link count."""
        out_dir = vdir if rel == "." else os.path.join(vdir, rel)
        os.makedirs(out_dir, exist_ok=True)
        for f in files:
            os.link(f, os.path.join(out_dir, os.path.basename(f)))
        return len(files)

    def _write_appended(
        self, vdir: str, df: DataFrame, part_cols: Sequence[str]
    ) -> None:
        """Append ``df`` as new files of version dir ``vdir``
        (hive-partitioned by ``part_cols`` when given) — the MoR DMLs'
        O(changed rows) data write."""
        if part_cols:
            # size-adaptive keyed repartition: keep the partitioned
            # write parallel under AQE coalescing without 32-task
            # overhead on an O(matched)-row rewrite (same rationale as
            # _write_version, round-12).
            df = df.repartition(self._n_write_tasks(df), *part_cols)
        writer = df.write.mode("append")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(vdir)

    @staticmethod
    def _partition_literals(rel: str) -> list[tuple[str, str]]:
        """Decode a hive-relative path ('event_type=click/…') into
        (column, string-value) pairs; flat tables ('.') decode to []."""
        if rel == ".":
            return []
        out = []
        for seg in rel.split(os.sep):
            col, _, val = seg.partition("=")
            out.append((col, val))
        return out

    def _rewrite_where(
        self,
        name: str,
        predicate: str,
        transform,
        max_retries: int = 3,
        post_scan=None,
        cdc_build=None,
    ) -> dict:
        """Copy-on-write rewrite — the kernel under DELETE and UPDATE
        (Delta/Iceberg COW semantics): only files that CONTAIN a
        matching row are rewritten; every untouched file is HARDLINKED
        into the new version (zero data movement), and the log commit
        flips readers atomically.

        Touched files are discovered by Spark itself: one filtered
        scan projecting input_file_name() — partition pruning and
        parquet row-group stats make this the cheap metadata-shaped
        pass it is at any scale, and the driver receives a FILE
        MANIFEST (|files| rows), not data (the documented
        driver-scalar collect pattern). Each touched hive directory is
        rewritten with its partition values injected as literals (the
        dir name carries them, so predicates over partition columns
        work), transformed, then written back into the same relative
        subdir with the partition columns dropped again.

        ``transform(df, pred_col)`` receives the file's rows plus the
        evaluated predicate column and returns the replacement rows.
        Returns {files_total, files_rewritten, files_linked,
        rows_before, rows_after}.

        Optimistic transaction: the commit presents the version whose
        files were scanned and hardlinked; if a writer committed in
        between (merge/overwrite/compact), this rewrite is discarded
        and the DML re-scans the NEW version (up to ``max_retries``) —
        committing blind would resurrect that writer's deleted rows or
        drop its merged ones (the lost-update VERDICT r7 flagged).

        ``post_scan`` (optional zero-arg callable) is a fault-injection
        point fired after each attempt's touched-file scan and before
        its commit — interleaving certs (q413) land a concurrent merge
        there to exercise the conflict-and-retry path deterministically.
        """
        self._assert_appendable(name, "DELETE/UPDATE (COW rewrite)")

        def attempt(txn: _Attempt):
            # Scan phase inside the attempt (ADVICE r8): the
            # full.count() and input_file_name() collect read a
            # snapshot a concurrent commit can GC mid-scan under a
            # small retention window — that must take the
            # version-moved ⇒ retry path, not surface as a raw
            # Spark/OS error.
            vdir = txn.vdir
            data = self.current_data_dir(name)
            if data is None:
                raise ValueError(f"unknown table {name!r}")
            parts = self._partition_dirs(data)
            all_files = [f for _rel, fs in parts for f in fs]
            manifest_local = {os.path.normpath(f) for f in all_files}
            # basePath == the dir itself ⇒ identical to a plain
            # dir read; route through the schema memo.
            full = self._read_version_dir(data)
            # ONE scan yields both the row count and the touched-
            # file manifest (round-12 optimization, guide §1.2:
            # these were two full passes). collect_set over the
            # conditional file name is |touched files|-sized —
            # still the documented driver-scalar manifest collect,
            # never data. input_file_name() is PROJECTED first:
            # the analyzer refuses non-deterministic expressions
            # as direct aggregate arguments
            # (AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION);
            # over the projected attribute the aggregate is legal.
            agg_row = (
                full.select(
                    F.when(
                        F.expr(predicate), F.input_file_name()
                    ).alias("__f")
                )
                .select(
                    F.count(F.lit(1)).alias("__n"),
                    F.collect_set("__f").alias("__files"),
                )
                .collect()[0]
            )
            rows_before = agg_row["__n"]
            touched = set(agg_row["__files"])

            def _local(p: str) -> str:
                # input_file_name() yields a percent-encoded file:
                # URI; decode it or paths/hive values with encoded
                # chars (space, %, #, non-ASCII) never match the
                # os.walk manifest and their files silently escape
                # the rewrite.
                from urllib.parse import unquote, urlparse

                parsed = urlparse(p)
                return unquote(parsed.path) if parsed.scheme else unquote(p)

            touched_local = {os.path.normpath(_local(p)) for p in touched}
            if post_scan is not None:
                post_scan()
            stray = touched_local - manifest_local
            if stray:
                raise RuntimeError(
                    f"COW rewrite of {name!r}: {len(stray)} scanned "
                    f"file(s) missing from the on-disk manifest (URI "
                    f"decode mismatch?): {sorted(stray)[:3]}"
                )
            if cdc_build is not None and self.cdf:
                # Change feed BEFORE the rewrite: ``cdc_build`` reads
                # the matching rows of THIS attempt's snapshot
                # (``full`` carries the hive partition columns via
                # basePath), so the staged change files pair with
                # this attempt's commit; a lost race discards them.
                # Overlapped with the hardlink pass + rewrite write
                # below (guide §2.6) — both read the same immutable
                # snapshot files; joined before the commit.
                txn.cdc = self._stage_cdc_async(
                    name, cdc_build(full, F.expr(predicate))
                )
            touched_by_rel: list[tuple[str, list[str]]] = []
            n_link = n_rewrite = 0
            for rel, files in parts:
                dir_touched = [
                    f for f in files if os.path.normpath(f) in touched_local
                ]
                n_link += self._link_files(
                    vdir,
                    rel,
                    [f for f in files if os.path.normpath(f) not in touched_local],
                )
                if dir_touched:
                    touched_by_rel.append((rel, dir_touched))
                    n_rewrite += len(dir_touched)
            # ONE rewrite pass over every touched file (round-12,
            # guide §1.2/§6): the per-directory loop paid one
            # schema resolution, one constraint probe and one
            # write JOB per touched hive dir, serially — a
            # partitioned table whose predicate touched every
            # partition serialized 3×|dirs| tiny jobs. One
            # hive-aware read (partition columns attached by the
            # scan; type inference disabled so they arrive as the
            # same STRINGS the literal injection produced), one
            # transform, one validation probe, one partitioned
            # write clustered by the partition key (1 file per
            # touched dir, matching the old per-dir output).
            if touched_by_rel and touched_by_rel[0][0] == ".":
                df = self.spark.read.parquet(*touched_by_rel[0][1])
                replaced = transform(df, F.expr(predicate))
                # COW UPDATE can mint violating rows — gate the
                # rewritten rows (DELETE only removes, but the
                # check is one fused predicate either way).
                # Overlapped with the rewrite write (guide §2.6);
                # joined before the commit below.
                txn.jobs.append(self._validate_async(name, replaced))
                replaced.write.mode("append").parquet(vdir)
            elif touched_by_rel:
                part_cols = [
                    c
                    for c, _v in self._partition_literals(
                        touched_by_rel[0][0]
                    )
                ]
                all_touched = sorted(
                    f for _rel, fs in touched_by_rel for f in fs
                )
                # Partition values must arrive as the same STRINGS
                # the literal injection produced ("03" stays "03",
                # never int 3). The old form toggled the session
                # conf partitionColumnTypeInference.enabled, a
                # cross-thread mutation of shared SQLConf while
                # the overlapped cdc job may still run (ADVICE
                # r12). An explicit read schema with STRING
                # partition columns is the per-reader equivalent:
                # user-specified partition types take the raw
                # unescaped directory value (verified identical
                # rows + schema to the conf-off read).
                from pyspark.sql import types as T

                part_set = set(part_cols)
                rd_schema = T.StructType(
                    [
                        T.StructField(f.name, T.StringType(), True)
                        if f.name in part_set
                        else f
                        for f in full.schema.fields
                    ]
                )
                df = (
                    self.spark.read.schema(rd_schema)
                    .option("basePath", data)
                    .parquet(*all_touched)
                )
                replaced = transform(df, F.expr(predicate))
                # Overlapped validation (guide §2.6), joined
                # before the commit.
                txn.jobs.append(self._validate_async(name, replaced))
                (
                    replaced.repartition(
                        max(len(touched_by_rel), 1), *part_cols
                    )
                    .write.mode("append")
                    .partitionBy(*part_cols)
                    .parquet(vdir)
                )

            def done() -> dict:
                # rows_after from the committed version's parquet
                # footers (round-13, guide §1.2): this was a full
                # count JOB per DML (`self.read(name).count()`). The
                # committed version is exactly ``vdir`` (hardlinks +
                # rewritten files, no deletion vector — outstanding ones
                # were purged before the scan), so the footers'
                # num_rows sum IS the live row count — O(|files|)
                # driver metadata reads, zero jobs.
                import pyarrow.parquet as pq

                rows_after = 0
                for _rel, fs in self._partition_dirs(vdir):
                    for f in fs:
                        rows_after += pq.ParquetFile(f).metadata.num_rows
                return {
                    "files_total": len(all_files),
                    "files_rewritten": n_rewrite,
                    "files_linked": n_link,
                    "rows_before": rows_before,
                    "rows_after": rows_after,
                }

            return done

        return self._transact(
            name, attempt, "COW rewrite", "DML", max_retries,
            materialize_dv=True,
        )

    def delete_where(self, name: str, predicate: str, post_scan=None) -> dict:
        """Copy-on-write DELETE (Delta ``DELETE FROM t WHERE``): drop
        matching rows, rewriting ONLY the files that contain one —
        with a partition-column predicate the scan prunes to the
        matching hive dirs, so whole untouched partitions survive as
        hardlinks. Time travel to the pre-delete version still works
        within the retention window. Commits are optimistic (see
        ``_rewrite_where``); ``post_scan`` is the fault-injection hook."""
        return self._rewrite_where(
            name,
            predicate,
            lambda df, pred: df.where(~pred),
            post_scan=post_scan,
            cdc_build=lambda df, pred: df.where(pred).withColumn(
                "_change_type", F.lit("delete")
            ),
        )

    def update_where(
        self,
        name: str,
        predicate: str,
        assignments: dict[str, str],
        post_scan=None,
    ) -> dict:
        """Copy-on-write UPDATE (Delta ``UPDATE t SET ... WHERE``):
        ``assignments`` maps column -> SQL expression, applied only to
        matching rows (CASE WHEN predicate THEN expr ELSE old END) in
        the files that contain one. Updating a PARTITION column would
        move rows across directories — raise loudly rather than
        silently corrupting the layout (Delta requires a
        delete+insert for that too)."""
        data = self.current_data_dir(name)
        if data is not None:
            bad = set(
                self._partition_cols(self._partition_dirs(data))
            ) & set(assignments)
            if bad:
                raise ValueError(
                    f"update_where cannot reassign partition columns {sorted(bad)}; "
                    "delete + re-append moves rows across partitions"
                )

        def _apply(df: DataFrame, pred) -> DataFrame:
            for col, expr_sql in assignments.items():
                # Cast back to the column's ORIGINAL type: SQL literal
                # arithmetic widens (double + 1000.0 -> wider DECIMAL),
                # and a rewritten file whose column type drifted from
                # the hardlinked files' would poison every later read
                # (schema enforcement — Delta does the same cast).
                df = df.withColumn(
                    col,
                    F.when(pred, F.expr(expr_sql))
                    .otherwise(F.col(col))
                    .cast(df.schema[col].dataType),
                )
            return df

        def _cdc(df: DataFrame, pred) -> DataFrame:
            pre = df.where(pred)
            post = pre
            for col, expr_sql in assignments.items():
                # Same cast-back-to-original-type rule as _apply: the
                # postimage must show exactly what landed on disk.
                post = post.withColumn(
                    col, F.expr(expr_sql).cast(df.schema[col].dataType)
                )
            return pre.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                post.withColumn("_change_type", F.lit("update_postimage"))
            )

        return self._rewrite_where(
            name, predicate, _apply, post_scan=post_scan, cdc_build=_cdc
        )
