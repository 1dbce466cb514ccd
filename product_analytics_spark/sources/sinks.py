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
sources/delta_log.py) is its one commit record, and a table version is
a log version. Every writer stages the files it creates in a fresh
``<table>/v_<uuid>/`` and commits one log entry naming only what
changed: adds for the staged files, removes for the live files it
replaced, and for a merge-on-read DML a remove and an add of the same
path carrying the file's new deletion vector. An untouched file keeps
its add, so one version's files may sit in several ``v_`` dirs. The
log's putIfAbsent of the next entry is the commit point: a crash
before it leaves the log on the prior version. Reads, the retained
version list, time travel, the conflict check and GC all take the log
version and its snapshot.

Every writer runs through one optimistic transaction,
``SnapshotStore._transact``: snapshot read, staging-dir allocation,
settling the overlapped cdc/validation jobs, the commit, telling a
conflict from a failure, cleanup and retry live there once. Inside
the commit lock the order is: OCC check, log commit — so a refused
log commit leaves the table exactly as it was.

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
#: ``_Attempt.removes`` for a full replace: the commit removes every
#: file live when it lands.
_REPLACE_ALL = object()
#: the ``_metadata.file_path`` / ``row_index`` columns ``dl._dv_tag``
#: adds to a scan
_DV_TAGS = ("__dv_f", "__dv_ri")


def _logged_schema(meta: dict):
    """The Spark schema a log metaData action records for its files
    (``_table_schema``). None — read the footers instead — where the
    log does not describe the files' physical columns:

    * row-tracked tables: rewritten files carry the materialized
      row-id columns;
    * column-mapping tables: the files carry physical names;
    * type-widening tables: the files carry mixed physical widths."""
    conf = meta.get("configuration") or {}
    if (
        conf.get("delta.columnMapping.mode") in ("name", "id")
        or conf.get("delta.enableTypeWidening") == "true"
        or conf.get("delta.enableRowTracking") == "true"
    ):
        return None
    return _table_schema(meta)


def _table_schema(meta: dict):
    """The logical Spark schema of a log metaData action, without the
    field metadata the log adds (``delta.*`` keys: generation
    expressions, invariants, identity specs, column mapping), which
    the files' own footers never carry. None without a schemaString."""
    import json

    from pyspark.sql.types import StructType

    if not meta.get("schemaString"):
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


def _base_dir(table: str, rel: str, add: dict) -> str:
    """The directory a live file's hive path starts from — its ``v_``
    staging dir, the table root, or (an absolute-URI add of a shallow
    clone) the source's: the file's dir above its partition segments."""
    from product_analytics_spark.sources import delta_log as dl

    d = os.path.dirname(dl.resolve_path(table, rel))
    for _ in add.get("partitionValues") or ():
        d = os.path.dirname(d)
    return d


#: the hive directory value of a null partition value
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _wider_part_type(a, b):
    """The one type Spark's partition inference gives a column whose
    values it types ``a`` and ``b`` (``findWiderTypeForPartitionColumn``):
    integral numbers widen to long or decimal, with a double to double,
    a date with a timestamp to the timestamp; anything else (a decimal
    with a double included) is a string."""
    from pyspark.sql import types as T

    if a == b:
        return a
    num = (T.IntegerType, T.LongType, T.DecimalType, T.DoubleType)
    if isinstance(a, num) and isinstance(b, num):
        dec = [t for t in (a, b) if isinstance(t, T.DecimalType)]
        if T.DoubleType() in (a, b):
            return T.StringType() if dec else T.DoubleType()
        if dec:
            digits = max(
                t.precision if t in dec else 10 if t == T.IntegerType() else 20
                for t in (a, b)
            )
            return T.DecimalType(min(38, digits), 0)
        return T.LongType()
    times = (T.DateType, T.TimestampType, T.TimestampNTZType)
    if isinstance(a, times) and isinstance(b, times):
        return b if isinstance(a, T.DateType) else a
    return T.StringType()


def _typed(spark: SparkSession, reader, schema):
    """``reader.schema(schema)`` in two py4j calls: PySpark's own first
    resolves the active session, four calls more on every store read."""
    jschema = spark._jsparkSession.parseDataType(schema.json())
    reader._jreader = reader._jreader.schema(jschema)
    return reader


def _renamed(df: DataFrame, names: dict) -> DataFrame:
    """``df`` with each column ``c`` renamed to ``names.get(c, c)``."""
    if not names or all(names.get(c, c) == c for c in df.columns):
        return df
    return df.select(
        *[F.col(f"`{c}`").alias(names.get(c, c)) for c in df.columns]
    )


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
    """One attempt of :meth:`SnapshotStore._transact`: the log snapshot
    it reads, the version it presents at commit, the staging dir it
    writes, the actions it asks the commit for and the work the loop
    settles on every exit."""

    def __init__(self, table: str, expected=UNCHECKED, snap=None):
        self.table = table
        self.expected = expected
        #: the log snapshot the attempt plans against (None before the
        #: first commit)
        self.snap = snap
        #: the staging dir whose files the commit adds; a writer that
        #: lets ``_write_version`` allocate stores that name here
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
        #: (``_metadata.file_path``): the commit re-adds each such file
        #: with its old positions ∪ these in a new deletion vector
        self.deleted: dict[str, list[int]] = {}
        #: live paths the commit removes, or ``_REPLACE_ALL``
        self.removes = ()
        #: add actions the commit re-adds unchanged (``restore``'s)
        self.adds: list[dict] = []
        #: ``restore``'s target snapshot: its metaData comes back too
        self.source = None
        #: set once the log commit landed; then the live files after it
        self.committed = False
        self.live: dict[str, dict] = {}

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
        """``retain_versions`` — how many data versions (log versions
        whose commit adds or removes files) stay readable (≥1) through
        ``read(name, version=...)``, Delta time travel within the
        window; each commit deletes the files only versions that fell
        off the window reference (VACUUM analog).

        Every commit is one protocol-conformant Delta Lake
        ``_delta_log/`` entry (sources/delta_log.py) with per-file
        ``stats`` collected from the footer at write time, so readers
        and scan planning (``scan_files``/``read_pruned``) open no
        parquet footer. A commit names only the files it changes: an
        untouched file keeps its add and stats. ``delta_log`` is
        accepted for older callers; ``False`` raises, since the log is
        the store's only commit record.

        ``cdf=True`` enables the Change Data Feed: every DML path
        (COW and MoR) writes its row-level changes to
        ``_change_data/cdc-*.parquet`` and references them with ``cdc``
        actions in the same commit (``delta.enableChangeDataFeed``);
        ``delta_log.table_changes`` reads them back."""
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
                self._delta_commit(name, operation=operation)

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
        the constraints in force when it committed. Enforcement is one
        predicate fused into the write's scan; the validating ALTER
        scan is the one full pass, same as Delta."""
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

    def versions(self, name: str) -> list[int]:
        """The retained versions, oldest→newest: the log versions of
        the last ``retain_versions`` data commits (commits that add or
        remove files; a metaData-only commit changes no rows). Each is
        a valid ``read(name, version=...)`` / ``restore`` target."""
        from product_analytics_spark.sources import delta_log as dl

        return self._window(dl.DeltaLog(self.path(name))._commits())[0]

    def _window(self, commits, head=None):
        """(retained data versions oldest→newest, the remove actions of
        each one's commit), reading the commits of ``commits`` (a
        ``DeltaLog._commits`` listing) newest first until
        ``retain_versions`` data commits are found. ``head`` is the
        (version, actions) of a commit the caller holds: not re-read."""
        import json

        kept: list[int] = []
        removes: dict[int, list[dict]] = {}
        for v, path in reversed(commits):
            if head is not None and v == head[0]:
                actions = head[1]
            else:
                with open(path, encoding="utf-8") as fh:
                    actions = [json.loads(ln) for ln in fh if ln.strip()]
            if not any(a.get("add") or a.get("remove") for a in actions):
                continue
            kept.append(v)
            removes[v] = [a["remove"] for a in actions if a.get("remove")]
            if len(kept) == self.retain_versions:
                break
        return kept[::-1], removes

    def _snapshot(self, name: str, version: int | None = None):
        """The log snapshot of ``name`` at ``version`` (default: the
        latest); None before the first commit."""
        from product_analytics_spark.sources import delta_log as dl

        log = dl.DeltaLog(self.path(name))
        commits = log._commits()
        return log.snapshot(version, commits=commits) if commits else None

    def current_version(self, name: str) -> int | None:
        """The latest log version — the snapshot identity an optimistic
        transaction reads and later presents as ``expected_version``
        at commit, so ANY concurrent commit conflicts with it. None
        before the first commit."""
        from product_analytics_spark.sources import delta_log as dl

        return dl.DeltaLog(self.path(name)).latest_version()

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def read(self, name: str, version: int | None = None) -> DataFrame | None:
        """Prior snapshot ({{ this }}) or None on first run.

        ``version`` time-travels within the retention window (Delta's
        ``VERSION AS OF``): one of :meth:`versions`; None for anything
        else (a GC'd or metaData-only version). Requires the store to
        have been created with ``retain_versions > 1`` for anything
        but the current version to still exist.

        Rows the version's log snapshot marks deleted (the deletion
        vectors the MoR DMLs commit) are filtered out by a broadcast
        anti-join on (``_metadata.file_path``, ``_metadata.row_index``)
        — the merge-on-read half of the DELETE cost model (q290)."""
        if version is not None and version not in self.versions(name):
            return None
        return self._live(name, self._snapshot(name, version))

    def _live(self, name: str, snap) -> DataFrame | None:
        """``read`` of the log snapshot ``snap`` (None: no table). The
        materialized row-id columns are PHYSICAL, not logical — plain
        reads never expose them (Delta hides them the same way);
        ``read_row_ids`` is the id-aware reader."""
        from product_analytics_spark.sources import delta_log as dl

        if snap is None:
            return None
        rt = self._row_tracking(name)
        df = self._scan(name, snap, merge_schema=rt)
        if not rt:
            return df
        return df.drop(dl.MATERIALIZED_ROW_ID_COL, dl.MATERIALIZED_ROW_COMMIT_COL)

    # ------------------------------------------ deletion vectors (MoR)

    def _has_dv(self, name: str, snap=None) -> bool:
        """Whether a live file of ``name`` carries a deletion vector:
        in log snapshot ``snap`` when the caller holds it, else in the
        latest one."""
        if snap is None:
            snap = self._snapshot(name)
        return snap is not None and any(
            a.get("deletionVector") for a in snap.files.values()
        )

    @staticmethod
    def _mor_result(txn: _Attempt) -> dict:
        """A committed MoR DML's result: no file rewritten, every file
        of its snapshot kept, and the deleted rows the live deletion
        vectors record."""
        return {
            "files_kept": len(txn.snap.files),
            "files_rewritten": 0,
            "dv_rows": sum(
                int((a.get("deletionVector") or {}).get("cardinality") or 0)
                for a in txn.live.values()
            ),
        }

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

    def _rt_attach_ids(self, name: str, tagged: DataFrame, snap):
        """Add the stable ``_pa_row_id_m`` / ``_pa_row_commit_m``
        columns (see ``_rt_ids``) to a ``dl._dv_tag``-tagged scan of
        ``snap``'s files, dropping the tags."""
        from product_analytics_spark.sources import delta_log as dl

        logical = [
            c
            for c in tagged.columns
            if c not in (dl.MATERIALIZED_ROW_ID_COL, dl.MATERIALIZED_ROW_COMMIT_COL)
            and c not in _DV_TAGS
        ]
        return self._rt_ids(
            tagged, logical, tagged.columns,
            dl.row_id_base_df(self.spark, self.path(name), snap),
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

    @staticmethod
    def _rt_ids(
        tagged: DataFrame,
        cols: Sequence[str],
        source_cols: Sequence[str],
        base_df: DataFrame,
    ) -> DataFrame:
        """``cols`` of a ``dl._dv_tag``-tagged relation plus its stable
        row ids: materialized values (from a prior rewrite; present
        when ``source_cols``, the untagged relation's columns, carry
        them) win; otherwise ``baseRowId + row_index`` from the
        snapshot's broadcast file map ``base_df``
        (``dl.row_id_base_df``). The one id-inheritance join the scan
        tagger and the MoR DMLs share."""
        from product_analytics_spark.sources import delta_log as dl

        rt_id, rt_cv = (
            dl.MATERIALIZED_ROW_ID_COL,
            dl.MATERIALIZED_ROW_COMMIT_COL,
        )

        def materialized(c: str):
            return (
                F.col(c) if c in source_cols else F.lit(None).cast("long")
            )

        return tagged.join(
            F.broadcast(base_df),
            F.col("__dv_f") == F.col("__rt_p"),
            "left",
        ).select(
            *cols,
            F.coalesce(materialized(rt_id), F.col("__rt_base") + F.col("__dv_ri"))
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
        """Floor for a partitioned write's task count: the live
        partition count (log metadata), so a many-partition table never
        collapses to one task writing every directory serially
        (1.1 s/write at ~80 dirs); 8 for a fresh table."""
        snap = self._snapshot(name)
        if snap is None or not snap.files:
            return 8
        return len(self._partitions(snap))

    @staticmethod
    def _partitions(snap) -> dict[tuple, list[str]]:
        """The live adds' paths by partition (sorted (column, value)
        pairs of ``partitionValues``; one ``()`` group for a flat
        table), in sorted order — every file layout pass (compaction,
        OPTIMIZE, the write-task floor, auto-compaction) plans from
        these, never from a directory listing."""
        out: dict[tuple, list[str]] = {}
        for rel in sorted(snap.files):
            pv = snap.files[rel].get("partitionValues") or {}
            out.setdefault(tuple(sorted(pv.items())), []).append(rel)
        return dict(sorted(out.items()))

    @staticmethod
    def _part_cols(snap) -> list[str]:
        """Partition columns of log snapshot ``snap``: the live adds'
        ``partitionValues`` keys, else the metaData's ([] when flat)."""
        if snap is None:
            return []
        for add in snap.files.values():
            return list(add.get("partitionValues") or {})
        return list((snap.metadata or {}).get("partitionColumns") or [])

    def _scan(
        self, name: str, snap, merge_schema: bool = False, tagged: bool = False
    ) -> DataFrame:
        """The rows of log snapshot ``snap``: ``_grouped_read`` of its
        adds, typed with the data columns the log records
        (``_data_schema``; footer inference, a one-task job per scan,
        stays for row-tracked ``mergeSchema`` reads and the tables
        ``_data_schema`` leaves to it), then one anti-join of the
        deletion-vector positions above the union, under the logical
        column names. A version with no file reads as an empty frame
        typed from the logged schema. Plans are memoized per (table,
        log version, ``merge_schema``, ``tagged``): the DML certs
        re-read one version many times per op (q428: 66×). ``tagged``
        keeps each row's ``__dv_f`` / ``__dv_ri`` (``dl._dv_tag``) —
        the positions a MoR DML hands its commit."""
        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)

        def build():
            if not snap.files:
                return self.spark.createDataFrame(
                    [], _table_schema(snap.metadata or {})
                )
            schema = None if merge_schema else self._data_schema(snap)

            def configure(reader):
                if merge_schema:
                    return reader.option("mergeSchema", "true")
                return reader if schema is None else _typed(self.spark, reader, schema)

            has_dv = self._has_dv(name, snap)
            out = self._grouped_read(
                table, snap, sorted(snap.files), configure, has_dv or tagged
            )
            if has_dv:
                out = dl._dv_anti_join(
                    out, self._dv_positions(table, snap)[1], keep_tags=tagged
                )
            return _renamed(
                out, {p: c for c, p in snap.column_mapping().items()}
            )

        key = (
            "scan", os.path.abspath(table), (snap.metadata or {}).get("id"),
            snap.version, bool(merge_schema), bool(tagged),
        )
        return cache.memo("version_dirs", key, build, spark=self.spark)

    def _grouped_read(
        self, table: str, snap, rels, configure, tag: bool = False, raw: bool = False
    ):
        """The files ``rels`` of log snapshot ``snap``, grouped by the
        dir their hive path starts from (``_base_dir``): one scan per
        group of its file list (``configure(reader)`` sets schema or
        options) with ``basePath`` set to that dir, so the partition
        columns come from the paths; a flat table's files are one scan
        whatever dirs they sit in. A partition column gets one type
        across the groups — the wider of the types path discovery gives
        each (``_wider_part_type``: how one inferred read of all the
        values types it), or the raw hive strings with ``raw`` — and a
        group typed otherwise is re-read with the column as its raw
        strings, then cast. ``tag`` adds each scan's ``dl._dv_tag``
        columns (``_metadata`` does not survive a union). The groups
        are unioned by name."""
        import functools

        from pyspark.sql import types as T

        from product_analytics_spark.sources import delta_log as dl

        groups: dict[str, list[str]] = {}
        valued: dict[str, set] = {}  # partition columns with a non-null value
        for rel in rels:
            pv = snap.files[rel].get("partitionValues") or {}
            key = _base_dir(table, rel, snap.files[rel]) if pv else ""
            groups.setdefault(key, []).append(dl.resolve_path(table, rel))
            valued.setdefault(key, set()).update(
                c for c, v in pv.items() if v not in (None, _NULL_PART)
            )
        frames = {}
        for base in sorted(groups):
            reader = configure(self.spark.read)
            if base:
                reader = reader.option("basePath", base)
            frames[base] = reader.parquet(*groups[base])
        want, schemas = {}, {}
        if raw or len(frames) > 1:
            schemas = {b: df.schema for b, df in frames.items()}
            for c in self._part_cols(snap):
                typed = [schemas[b][c].dataType for b in frames if c in valued[b]]
                want[c] = (
                    functools.reduce(_wider_part_type, typed)
                    if typed and not raw
                    else T.StringType()
                )
        out = None
        for base, df in frames.items():
            stale = {c: t for c, t in want.items() if schemas[base][c].dataType != t}
            if stale:
                raw_schema = T.StructType(
                    [
                        T.StructField(f.name, T.StringType()) if f.name in stale else f
                        for f in schemas[base]
                    ]
                )
                df = (
                    _typed(self.spark, self.spark.read, raw_schema)
                    .option("basePath", base)
                    .parquet(*groups[base])
                    .withColumns({c: F.col(c).cast(t) for c, t in stale.items()})
                )
            if tag:
                df = dl._dv_tag(df)
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    def _data_schema(self, snap):
        """The data columns log snapshot ``snap`` records:
        ``_logged_schema`` of its metaData. Partition columns are left
        out: Spark's path discovery (no Spark job) types them from the
        hive values exactly as an inferred read does, and an append can
        add values the logged type would not parse. None — infer from
        the footers — where ``_logged_schema`` is None."""
        from pyspark.sql.types import StructType

        meta = snap.metadata or {}
        schema = _logged_schema(meta)
        if schema is None:
            return None
        parts = set(meta.get("partitionColumns") or ())
        return StructType([f for f in schema.fields if f.name not in parts])

    @staticmethod
    def _to_physical(snap, df: DataFrame) -> DataFrame:
        """``df`` with its logical column names replaced by the physical
        ones log snapshot ``snap`` maps them to (column mapping): what a
        writer puts in the files."""
        return df if snap is None else _renamed(df, snap.column_mapping())

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
    def _positions(matched: DataFrame) -> dict[str, list[int]]:
        """Row indexes of ``dl._dv_tag``-tagged rows by scanned file:
        the positions a MoR DML hands its commit (``txn.deleted``).
        O(matched) rows reach the driver."""
        out: dict[str, list[int]] = {}
        for f, ri in matched.select(*_DV_TAGS).collect():
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
        NO data file is rewritten or copied — the commit re-adds each
        file holding a matching LIVE row with that row's (file,
        row_index) position added to its deletion vector, which every
        reader applies as a broadcast anti-join; every other file keeps
        its add. This is
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
            snap = txn.snap
            if snap is None:
                raise ValueError(f"unknown table {name!r}")
            # positions of matching rows among LIVE rows only.
            # With CDF on, the matched rows feed BOTH the change
            # file and the positions — one persisted O(matched)
            # intermediate instead of two full scans of the live
            # relation (round-12 optimization, guide §1.2: every
            # extra consumer re-ran the scan + DV anti-join).
            matched = self._scan(name, snap, tagged=True).where(predicate)
            if self.cdf:
                matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
                txn.releases.append(lambda: matched.unpersist(False))
            if post_scan is not None:
                post_scan()
            # Materialize-then-fork (round-13, VERDICT r12 item 2,
            # guide §2.6): collecting the positions fills the
            # persisted `matched` cache, so the cdc stage then
            # overlaps the commit as a pure cache reader.
            txn.deleted = self._positions(matched)
            if self.cdf:
                txn.cdc = self._stage_cdc_async(
                    name,
                    self._to_physical(
                        txn.snap,
                        matched.drop(*_DV_TAGS).withColumn(
                            "_change_type", F.lit("delete")
                        ),
                    ),
                )
            return lambda: self._mor_result(txn)

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
        files — every pre-existing file keeps its add, so write
        amplification is O(matched rows), not O(touched files).
        ``assignments`` maps column -> SQL expression (cast back to the
        column's original type, same schema-enforcement rule as the
        COW update). Partition-column reassignment is refused (it
        would move rows across hive directories). The commit carries
        protocol-v3 ``deletionVector`` descriptors like
        ``delete_where_mor``."""
        bad = set(self._part_cols(self._snapshot(name))) & set(assignments)
        if bad:
            raise ValueError(
                f"update_where_mor cannot reassign partition columns "
                f"{sorted(bad)}"
            )
        self._assert_appendable(name, "UPDATE (merge-on-read)")

        from product_analytics_spark.sources import delta_log as dl

        def attempt(txn: _Attempt):
            snap = txn.snap
            if snap is None:
                raise ValueError(f"unknown table {name!r}")
            rt = self._row_tracking(name)
            tagged = self._scan(name, snap, merge_schema=rt, tagged=True)
            live = tagged.drop(*_DV_TAGS)
            rt_cols, logical_cols = self._rt_split(live, rt)
            part_cols = self._part_cols(snap)
            # ONE scan finds the matched rows WITH their positions;
            # everything downstream (deleted positions, rewritten
            # rows, constraint validation, CDF pre/post images)
            # derives from this persisted O(matched) intermediate.
            # The per-consumer form re-ran the live scan + DV
            # anti-join up to 4x per UPDATE (round-12 optimization,
            # guide §1.2).
            matched = tagged.where(predicate).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            txn.releases.append(lambda: matched.unpersist(False))
            # Row tracking: the rewritten rows carry their OLD ids in
            # the materialized columns, so identity survives the
            # tombstone-and-rewrite (Delta's exact mechanism). The
            # position tags double as the row-id join key — no second
            # scan.
            if rt:
                updated = self._rt_ids(
                    matched, logical_cols, live.columns,
                    dl.row_id_base_df(self.spark, self.path(name), snap),
                )
            else:
                updated = matched.drop(*_DV_TAGS)
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
            # run as overlapped cache readers alongside the rewrite
            # write. The round-12
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
                    self._to_physical(
                        txn.snap,
                        matched.select(*logical_cols)
                        .withColumn("_change_type", F.lit("update_preimage"))
                        .unionByName(
                            updated.select(*logical_cols).withColumn(
                                "_change_type", F.lit("update_postimage")
                            )
                        ),
                    ),
                )
            self._write_appended(txn.vdir, self._to_physical(snap, updated), part_cols)
            return lambda: self._mor_result(txn)

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
        MERGE shape, with :meth:`delete_where_mor` /
        :meth:`update_where_mor`): the positions of live rows whose key
        appears in ``batch`` go to the commit's deletion vectors and
        ALL batch rows are written as NEW files — every pre-existing
        file keeps its add, so write amplification is O(batch rows).
        Semantically identical to :meth:`merge` (``prev ANTI batch-keys
        UNION batch``). A matched row MAY move partitions: the old
        position is tombstoned and the replacement lands in the batch
        row's dir. Batch columns must equal the table's (the new files
        sit beside the old ones; use :meth:`merge` for
        ``sync_all_columns``); values are cast to the table's types.
        OCC transaction with the same ``post_scan`` window as the other
        DML paths."""
        self._assert_appendable(name, "MERGE (merge-on-read)")
        keys = [key] if isinstance(key, str) else list(key)
        batch = self._apply_generated(name, batch)

        from product_analytics_spark.sources import delta_log as dl

        def attempt(txn: _Attempt):
            snap = txn.snap
            if snap is None:
                raise ValueError(f"unknown table {name!r}")
            rt = self._row_tracking(name)
            tagged = self._scan(name, snap, merge_schema=rt, tagged=True)
            live = tagged.drop(*_DV_TAGS)
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
            part_cols = self._part_cols(snap)
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
            matched = tagged.join(
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
            # data write as pure cache readers.
            # CHECK constraints gate the NEW rows only — the
            # kept side was validated when it committed.
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
                    self._to_physical(
                        txn.snap,
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
                    self._rt_ids(
                        matched, keys, live.columns,
                        dl.row_id_base_df(self.spark, self.path(name), snap),
                    )
                    .groupBy(*keys)
                    .agg(*[F.min(F.col(c)).alias(c) for c in rt_cols])
                )
                to_write = aligned.join(
                    F.broadcast(matched_ids), keys, "left"
                ).select(*logical_cols, *rt_cols)
            else:
                to_write = aligned
            self._write_appended(txn.vdir, self._to_physical(snap, to_write), part_cols)
            return lambda: self._mor_result(txn)

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
            if not self._has_dv(name, txn.snap):
                return txn.no_commit(False)
            layout = self.layout(name)
            if self._row_tracking(name):
                # Row tracking: the rewrite must MATERIALIZE every
                # row's id into the new files (coalesce of
                # materialized-or-virtual), or the fresh baseRowId
                # ranges of the rewritten files would re-mint ids —
                # Delta preserves ids through OPTIMIZE the same way.
                df = self._rt_attach_ids(
                    name,
                    self._scan(name, txn.snap, merge_schema=True, tagged=True),
                    txn.snap,
                )
            else:
                df = self._live(name, txn.snap)
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
        self, name: str, version: int, max_retries: int = 3
    ) -> dict:
        """Delta ``RESTORE TABLE t TO VERSION AS OF v``: make the
        table's content equal an EARLIER committed version's, via a
        NEW commit — history above the restore point is preserved (the
        pre-restore state stays time-travelable within retention).

        ``version`` is a retained log version (one of
        :meth:`versions`); anything else raises ValueError. The commit
        re-adds the target snapshot's adds that are not live (same
        paths, stats, deletion vectors and row ids — the retention
        window keeps their files) and removes the live paths the
        target lacks, both with ``dataChange: true``; the target's
        metaData comes back when its schema differs. Zero data bytes
        move: O(|files|) log actions, exactly how Delta's RESTORE
        re-adds the old snapshot's files by reference.

        OCC transaction: presents the version current at its start;
        a concurrent commit in the window conflicts and the restore
        re-reads and retries (the target is named, so retry is safe)."""
        self._assert_appendable(name, "RESTORE")

        def attempt(txn: _Attempt):
            if version not in self.versions(name):
                raise ValueError(
                    f"table {name!r}: unknown version {version!r} (never "
                    "committed, metaData-only, or GC'd past the retention "
                    "window)"
                )
            target = self._snapshot(name, version)
            live = txn.snap.files
            readd = {
                p: a
                for p, a in target.files.items()
                if p not in live
                or live[p].get("deletionVector") != a.get("deletionVector")
            }
            txn.removes = sorted((set(live) - set(target.files)) | (set(readd) & set(live)))
            txn.adds = [dict(readd[p], dataChange=True) for p in sorted(readd)]
            txn.source = target
            return lambda: {"restored_to": version, "files_kept": len(target.files)}

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
        """Write a new UNCOMMITTED staging directory; return its name.

        ``cluster_by`` is the single-key clustering pass (S7):
        range-partition + sort-within-partitions on the cluster keys,
        so parquet min/max stats skip on the FIRST key. ``zorder_by``
        is multi-column Z-ORDER (reference ``OPTIMIZE ... ZORDER BY``,
        orders_cleaned.sql:15): rows are range-partitioned and sorted on
        the Morton z-value of ALL the named columns
        (functions/zorder.py), so min/max skipping works on each column
        (q416). Mutually exclusive with cluster_by.

        Partitioned writes first hash-repartition on the partition
        columns (one well-sized file per partition directory), then
        sort within by the cluster keys (or z-value). ``n_files`` pins
        the file count for layout tests; None is AQE-sized."""
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
        version: str | None = None,
        expected_version=UNCHECKED,
        operation: str = "WRITE",
        txn: _Attempt | None = None,
    ):
        """Commit the attempt ``txn`` — or, without one, the staged dir
        ``version`` as a full replace — then ``_gc``. Inside the commit
        lock: the OCC check, then the log commit (``_delta_commit``;
        its putIfAbsent is the commit point, so a refused log commit
        leaves the table as it was). Returns the committed (version,
        actions), None when there was nothing to commit.

        With ``expected_version`` set (the log version the transaction
        READ, None for first-write) the log must still be at it inside
        the lock, or ConcurrentWriteError is raised and NOTHING commits
        — the Delta/Iceberg conflict check. The default stays
        last-writer-wins (dbt full-refresh semantics)."""
        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)
        if txn is None:
            txn = _Attempt(table)
            txn.version, txn.removes = version, _REPLACE_ALL
        with self._commit_lock(name):
            commits = dl.DeltaLog(table)._commits()
            if expected_version is not UNCHECKED:
                cur = commits[-1][0] if commits else None
                if cur != expected_version:
                    raise ConcurrentWriteError(
                        f"table {name!r}: committed version moved "
                        f"{expected_version!r} -> {cur!r} since this "
                        "transaction's snapshot read; re-read and retry"
                    )
            head = self._delta_commit(
                name, txn, operation=operation, commits=commits
            )
        if head is not None:
            self._gc(table, commits + [(head[0], None)], head, txn.live)
        return head

    #: age after which an uncommitted staging dir is presumed to belong
    #: to a CRASHED writer and may be swept (in-flight writers finish in
    #: minutes; Delta's VACUUM waits hours for the same reason).
    ORPHAN_TTL_S = 3600.0

    def _gc(self, table: str, commits, head, live: dict) -> None:
        """File-level GC after the commit ``head`` ((version, actions),
        the last of ``commits``; ``live`` its live adds), from the log.
        A data commit moves the retention window (``_window``) by one
        data version, so the files only versions older than the window
        reference are those the window's first commit removed, less
        what a retained version still names (live now, or removed by a
        later retained commit). Those data files and the deletion-vector
        files only their removes name are deleted, then the ``v_`` dirs
        no retained file is left in. A ``v_`` dir no retained version
        references and older than ``ORPHAN_TTL_S`` — a writer that
        crashed before its commit — is swept too; the age gate keeps a
        concurrent IN-FLIGHT writer's staged dir. Only table-relative
        paths are deleted: an absolute-URI add (a shallow clone)
        references another table's file."""
        import time

        from product_analytics_spark.sources import delta_log as dl
        from product_analytics_spark.sources import deletion_vectors as dvs

        def top(rel: str) -> str | None:
            d = rel.split("/", 1)[0]
            return d if d.startswith("v_") and "/" in rel else None

        def dv_file(action) -> str | None:
            dv = action.get("deletionVector") or {}
            return dvs.dv_file_path(table, dv) if dv.get("storageType") == "u" else None

        live_dirs, now, sweep = {top(p) for p in live}, time.time(), set()
        for entry in os.listdir(table):
            try:
                if entry.startswith("v_") and entry not in live_dirs and (
                    now - os.path.getmtime(os.path.join(table, entry))
                    > self.ORPHAN_TTL_S
                ):
                    sweep.add(entry)
            except OSError:
                pass
        data_commit = any(a.get("add") or a.get("remove") for a in head[1])
        if not (data_commit or sweep):
            return
        kept, removes = self._window(commits, head=head)
        # every action, not one per path: a path's DV may differ
        # between retained versions, and one DV file holds many paths'
        retained = [*live.values(), *(rm for v in kept[1:] for rm in removes[v])]
        refs = {a["path"] for a in retained}
        ref_dvs = {dv_file(a) for a in retained}
        for rm in removes[kept[0]] if data_commit else ():
            p = rm["path"]
            if dl.resolve_path(table, p) != os.path.join(table, p):
                continue  # absolute URI: another table's file
            dv = dv_file(rm)
            if dv is not None and dv not in ref_dvs:
                self._unlink(dv)
            if p not in refs:
                d, f = os.path.split(os.path.join(table, p))
                self._unlink(os.path.join(d, f), os.path.join(d, f".{f}.crc"))
                sweep.add(top(p))
        for d in sweep - {top(p) for p in refs} - {None}:
            shutil.rmtree(os.path.join(table, d), ignore_errors=True)

    @staticmethod
    def _unlink(*paths: str) -> None:
        for p in paths:
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
        the loop reads the log snapshot (``txn.snap``) and the version
        the commit presents (``expected``: that snapshot's by default,
        ``UNCHECKED`` is last-writer-wins), allocates a staging dir
        ``v_<uuid>`` (``txn.vdir``) and calls ``attempt(txn)``, which
        stages its new files, names the live files it replaces
        (``txn.removes``), registers its futures and cache releases on
        ``txn`` and returns a zero-arg callable yielding the writer's
        result once the commit landed (or ends through
        ``txn.no_commit``). The loop joins the futures, adopts the cdc
        stage and commits ``operation``.

        Every failure first settles the futures and discards staged
        change files; the releases run last on every exit. Then:

        * an attempt whose log commit landed (``txn.committed``) is
          never deleted or retried;
        * otherwise its staging dir is removed, and
          ConstraintViolationError re-raises unchanged;
        * ConcurrentWriteError, or any failure while the log moved
          off the snapshot (a concurrent commit may have GC'd the
          files the attempt was reading — ``snapshot GC'd under
          <what>``), is a conflict: retry, up to ``max_retries``;
        * anything else is a genuine error and re-raises unchanged.

        ``materialize_dv`` (the raw-file rewriters): purge outstanding
        deletion vectors before each attempt, or the rewrite would
        resurrect MoR-deleted rows."""
        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)
        log = dl.DeltaLog(table)
        last_err: ConcurrentWriteError | None = None
        for _ in range(max_retries):
            commits = log._commits()
            snap = log.snapshot(commits=commits) if commits else None
            if materialize_dv and self._has_dv(name, snap):
                self.purge_dv(name)
                commits = log._commits()
                snap = log.snapshot(commits=commits)
            txn = _Attempt(
                table, snap and snap.version if expected is _READ else expected, snap
            )
            try:
                done = attempt(txn)
                head = None
                if txn.version is not None:
                    for fut in filter(None, txn.jobs):
                        fut.result()
                    self._adopt_cdc(name, txn.cdc)
                    head = self._commit(
                        name,
                        txn.version,
                        expected_version=txn.expected,
                        operation=operation,
                        txn=txn,
                    )
                    if head is None:  # nothing changed: nothing to keep
                        shutil.rmtree(txn.vdir, ignore_errors=True)
                        txn.live = dict(snap.files) if snap else {}
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
                if txn.committed:
                    raise
                if txn.version is not None:
                    shutil.rmtree(txn.vdir, ignore_errors=True)
                if isinstance(exc, ConcurrentWriteError):
                    last_err = exc
                    continue
                if (
                    isinstance(exc, ConstraintViolationError)
                    or txn.expected is UNCHECKED
                    or self.current_version(name) == txn.expected
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
        txn: _Attempt | None = None,
        operation: str = "WRITE",
        commits=None,
    ):
        """Emit one protocol-conformant ``_delta_log`` commit of the
        attempt ``txn`` (None: a metaData-only commit) on top of the
        log's latest version (``commits``: the caller's listing of the
        log). Called inside the commit lock; the log's putIfAbsent is
        the commit point, so a refused log commit moves nothing. The
        commit names only what changed:

        * adds    = the files the attempt staged in ``txn.vdir`` (stats
                    from one footer read each), plus ``txn.adds`` as
                    they are (``restore``'s re-adds);
        * removes = ``txn.removes``: every live file for a full
                    replace (``_REPLACE_ALL``), else the named paths;
        * ``txn.deleted`` (a MoR DML's new positions by scanned file):
                    each such file is removed and re-added under the
                    same path, stats and row ids copied, with one new
                    deletion-vector file holding its old positions ∪
                    its new ones. Every other live file keeps its add.

        metaData (Spark schemaString + partitionColumns) is emitted on
        the first commit and re-emitted when the staged files' arrow
        schema fingerprint changes (schema evolution) or ``restore``
        brings an earlier schema back. A new table whose first write
        staged no file (an empty partitioned write) takes its schema
        from ``txn.written``, the DataFrame written. Returns the
        committed (version, actions) and sets ``txn.committed`` and
        ``txn.live``; None when nothing changed."""
        import hashlib
        import json

        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)
        if txn is None:  # a metaData-only commit stages nothing
            txn = _Attempt(table)
            txn.version = None
        written = txn.written
        log = dl.DeltaLog(table, owner=self.commit_owner)
        if commits is None:
            commits = log._commits()
        latest = commits[-1][0] if commits else None
        prev = log.snapshot(latest, commits=commits) if latest is not None else None
        live = prev.files if prev is not None else {}

        staged: list[str] = []
        if txn.version is not None:
            for root, dirs, files in os.walk(txn.vdir):
                dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
                staged += (
                    os.path.join(root, f)
                    for f in sorted(files)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                )
        new_adds = [dl.make_add(table, f) for f in staged]
        removed = set(live) if txn.removes is _REPLACE_ALL else set(txn.removes)
        if removed - set(live):
            raise dl.DeltaProtocolError(
                f"table {name!r}: commit removes {len(removed - set(live))} "
                "file(s) not in the committed version"
            )
        new_adds += (dict(a) for a in txn.adds)

        gained: dict[str, list[int]] = {}
        if txn.deleted:
            from product_analytics_spark.sources import (
                deletion_vectors as dvs,
            )

            by_uri = {dl.file_uri(dl.resolve_path(table, rel)): rel for rel in live}
            unknown = set(txn.deleted) - set(by_uri)
            if unknown:
                raise dl.DeltaProtocolError(
                    f"table {name!r}: deleted rows of {len(unknown)} "
                    "file(s) not in the committed version"
                )
            # the old positions as the DML's scan decoded them
            old_positions = self._dv_positions(table, prev)[0]
            for f, ris in txn.deleted.items():
                rel = by_uri[f]
                gained[rel] = sorted(set(ris).union(old_positions.get(rel, ())))
            descriptors = dvs.write_dv_file(table, gained)
            for rel in sorted(gained):
                add = dict(live[rel], dataChange=True)
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
                new_adds.append(add)
            removed |= set(gained)
        new_adds.sort(key=lambda a: a["path"])
        source_meta = txn.source.metadata if txn.source is not None else None
        if staged:
            part_cols = list(new_adds[0].get("partitionValues") or {})
        else:
            part_cols = list(
                ((source_meta or (prev.metadata if prev else None)) or {}).get(
                    "partitionColumns"
                )
                or ()
            )
        actions: list[dict] = []

        # Row tracking: allocate fresh baseRowId ranges for files the
        # snapshot hasn't seen. Re-added files (a MoR DML's new
        # deletion vector, restore) carry their old add's range; only
        # genuinely new files draw from the high-water mark, which advances in the same commit's
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
        if source_meta is not None:
            schema_hash = (source_meta.get("configuration") or {}).get(
                "engine.arrowSchemaHash"
            )
        elif staged:
            import pyarrow as pa
            import pyarrow.parquet as pq

            # remove_metadata(): Spark embeds its schema JSON in the
            # parquet key-value metadata and that varies by write path
            # — only names/types should fingerprint the schema. The
            # materialized row-id columns are PHYSICAL, not logical —
            # excluded, or the fingerprint would flap per-file.
            sch_obj = pq.read_schema(staged[0]).remove_metadata()
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
        reshaped = prev is None or not prev.metadata or (
            schema_hash is not None
            and prev_conf.get("engine.arrowSchemaHash") not in (None, schema_hash)
        ) or bool(
            staged
            and part_cols != list(prev.metadata.get("partitionColumns") or ())
        )
        need_meta = (
            reshaped
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
            elif source_meta is not None:
                # restore: the target version's schema comes back
                schema_json = _table_schema(source_meta).json()
            elif not reshaped:
                # the files' schema is unchanged: the logged one, less
                # the field metadata re-derived below
                schema_json = _table_schema(prev.metadata).json()
            elif not staged:
                # a new table whose first write staged no file: the
                # files' schema is the written one, made nullable as a
                # parquet read makes it
                schema_json = _nullable(written.schema).json()
            else:
                # this branch runs exactly when the files' schema may
                # have CHANGED (fingerprint drift): infer it from the
                # staged files
                reader = self.spark.read
                if rt_marker:
                    reader = reader.option("mergeSchema", "true")
                schema_json = reader.parquet(txn.vdir).schema.json()
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
        for rel in sorted(removed):
            rm = dl.make_remove(rel)
            if live[rel].get("deletionVector"):
                # (path, deletion vector) names a file's state: the
                # remove retires this one, GC frees its DV file
                rm["deletionVector"] = live[rel]["deletionVector"]
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
            return None  # nothing changed — no empty commits
        version = log.commit(
            actions,
            version=0 if latest is None else latest + 1,
            operation=operation,
        )
        txn.committed = True
        txn.live = {p: a for p, a in live.items() if p not in removed}
        txn.live.update((a["path"], a) for a in new_adds)
        # Only a landed commit adopts the staged change files: after a
        # refused one they stay pending, so the writer's abort unlinks
        # them instead of leaving orphans for VACUUM.
        self._cdc_pending(name).clear()
        return version, actions

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
        as Delta/Iceberg. The kept files are read as ``_grouped_read``
        groups, partition columns as the raw strings of their hive
        values. Files with ``deletionVector`` descriptors have their
        tombstoned positions anti-joined out once above the groups'
        union (``dl._dv_anti_join``), so pruned reads never resurrect
        MoR-deleted rows."""
        from product_analytics_spark.sources import delta_log as dl

        snap = self.delta_snapshot(name, version)
        kept = snap.plan_files(list(conjuncts))
        if not kept:
            schema = _logged_schema(snap.metadata or {}) or self._scan(name, snap).schema
            return self.spark.createDataFrame([], schema)
        table, has_dv = self.path(name), self._has_dv(name, snap)
        out = self._grouped_read(table, snap, kept, lambda r: r, has_dv, raw=True)
        if not has_dv:
            return out
        return dl._dv_anti_join(out, self._dv_positions(table, snap)[1])

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
        """Atomic full replace: stage the files, commit them to the log.

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
        if operation != "OPTIMIZE" and txn.snap is not None:
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
        txn.removes = _REPLACE_ALL
        txn.version = self._write_version(
            name,
            self._to_physical(txn.snap, df),
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

        The new rows are staged in their own ``v_`` dir and committed
        through :meth:`_transact` as adds only (last-writer-wins: an
        append conflicts with nobody), so an append is atomic — a
        refused log commit leaves no row readable and no file on
        disk."""
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

        def attempt(txn: _Attempt):
            # a partitioned table's appends take its partitioning
            parts = list(partition_by) or self._part_cols(txn.snap)
            writer = self._to_physical(txn.snap, df).write.mode("append")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(txn.vdir)
            txn.written = df
            return lambda: None

        self._transact(name, attempt, "append", "WRITE", 1, expected=UNCHECKED)
        self._maybe_auto_compact(name)

    def _maybe_auto_compact(self, name: str) -> None:
        """``delta.autoOptimize.autoCompact`` (delta.io auto
        optimize): after an append, any partition that accumulated
        ``engine.autoCompact.minNumFiles`` (default 8) or more files
        is compacted INLINE through the partition-scoped
        :meth:`optimize` — the cold partitions keep their adds, and
        the compaction commit is rearrange-only
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
        snap = self._snapshot(name)
        if snap is None:
            return
        hot = [
            pv for pv, fs in self._partitions(snap).items()
            if len(fs) >= max(2, min_files)
        ]
        if not hot:
            return
        if hot == [()]:
            self.optimize(name)  # flat table: whole-table compaction
            return
        for pv in hot:
            self.optimize(name, where=dict(pv))

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
            prev = self._live(name, txn.snap)
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
                    self._to_physical(
                        txn.snap,
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

    def plan_compaction(
        self, name: str, target_bytes: int = 128 << 20
    ) -> list[list[str]]:
        """Bin-pack the current version's files into target-size
        rewrite groups (absolute paths) — the q199 planner over the
        log's adds: files in path order, group = cumulative size
        before div target (≤2x worst-case overshoot), from the adds'
        ``size`` alone (no data read, no listing). A group never mixes
        two hive partitions: their values live in the directory name,
        so a cross-partition rewrite would lose them (Delta OPTIMIZE
        is within-partition too)."""
        from product_analytics_spark.sources import delta_log as dl

        snap = self._snapshot(name)
        table = self.path(name)
        return [
            [dl.resolve_path(table, rel) for rel in group]
            for group in self._bin_pack(snap, target_bytes)
        ]

    @classmethod
    def _bin_pack(cls, snap, target_bytes: int) -> list[list[str]]:
        """``plan_compaction``'s groups, as add paths of ``snap``."""
        plan: list[list[str]] = []
        if snap is None:
            return plan
        for rels in cls._partitions(snap).values():
            groups: dict[int, list[str]] = {}
            before = 0
            for rel in rels:
                groups.setdefault(before // target_bytes, []).append(rel)
                before += int(snap.files[rel].get("size") or 0)
            plan.extend(groups[g] for g in sorted(groups))
        return plan

    @staticmethod
    def _hive_dir(vdir: str, table: str, rel: str, add: dict) -> str:
        """Where a rewrite of the live file ``rel`` lands in the staging
        dir ``vdir``: the same hive subdir it sits in (the dir-encoded
        partition values survive the rewrite)."""
        from product_analytics_spark.sources import delta_log as dl

        sub = os.path.relpath(
            os.path.dirname(dl.resolve_path(table, rel)),
            _base_dir(table, rel, add),
        )
        return vdir if sub == "." else os.path.join(vdir, sub)

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
        caller's cleanup (rmtree of the staging dir) never races a
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

    def _raw_read(self, name: str, snap, rels: list[str]) -> DataFrame:
        """The files ``rels`` of ``snap`` as they are on disk (no
        deletion vector applied: the rewriters purge them first), one
        scan. On a row-tracked table each row's id is materialized, so
        a rewrite keeps it (a fresh baseRowId on the new file loses to
        the materialized column at read) — Delta preserves ids through
        OPTIMIZE the same way."""
        from product_analytics_spark.sources import delta_log as dl

        table = self.path(name)
        paths = [dl.resolve_path(table, rel) for rel in rels]
        if not self._row_tracking(name):
            return self.spark.read.parquet(*paths)
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        return self._rt_attach_ids(name, dl._dv_tag(df), snap)

    def compact(
        self,
        name: str,
        target_bytes: int = 128 << 20,
        max_retries: int = 3,
        post_scan=None,
    ) -> dict:
        """Execute the compaction plan (OPTIMIZE's rewrite half): each
        planned group is rewritten as ONE file into the attempt's
        staging dir (a hive-partitioned group into its own partition
        subdir, so the dir-encoded values survive), and the log commit
        removes the group's files and adds the rewrites atomically; the
        retention window keeps the pre-compaction version readable.
        Contents are identical by construction: the groups partition
        the file list and each rewrite is scan → coalesce(1) → write.
        Returns {files_before, files_after, groups}.

        Optimistic transaction: if a writer committed after the plan,
        the rewrite is discarded and compaction REPLANS against the new
        manifest (up to ``max_retries``) — a blind commit would
        resurrect rows that writer deleted or drop rows it merged;
        Delta's OPTIMIZE retries the same way. ``post_scan`` fires
        after each attempt's plan, before its commit, so tests can land
        a concurrent commit inside the window the check must catch."""

        def attempt(txn: _Attempt):
            snap, table = txn.snap, self.path(name)
            plan = self._bin_pack(snap, target_bytes)
            if post_scan is not None:
                post_scan()
            if not plan:
                return txn.no_commit(
                    {"files_before": 0, "files_after": 0, "groups": 0}
                )
            vdir = txn.vdir

            def _rewrite_group(group: list[str]) -> None:
                out_dir = self._hive_dir(vdir, table, group[0], snap.files[group[0]])
                df = self._raw_read(name, snap, group)
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
            txn.removes = [rel for group in plan for rel in group]
            return lambda: {
                "files_before": len(txn.removes),
                "files_after": sum(p.startswith(txn.version + "/") for p in txn.live),
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
        RESTORES the table's declared clustering (appends and COW
        rewrites add files with arbitrary key ranges, so stat skipping
        decays; ``compact`` alone concatenates key ranges). Each
        partition is rewritten as a whole, re-sorted on the layout keys
        (``zorder_by`` → Morton z-value, else ``cluster_by``) and
        range-partitioned into ceil(bytes/target) files. Falls back to
        ``compact`` when the table never declared clustering.
        Optimistic like compact. Returns {files_before, files_after,
        reclustered}.

        ``where`` ({partition col -> value}) is ``OPTIMIZE t WHERE
        p = v``: only matching hive partitions are rewritten; every
        other file keeps its add (zero bytes moved, nothing logged)."""
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
            snap, table = txn.snap, self.path(name)
            if snap is None:
                raise ValueError(f"unknown table {name!r}")
            if not snap.files:
                return txn.no_commit(
                    {"files_before": 0, "files_after": 0, "reclustered": False}
                )
            vdir = txn.vdir

            def _recluster(rels: list[str]) -> None:
                out_dir = self._hive_dir(vdir, table, rels[0], snap.files[rels[0]])
                n_files = max(
                    1,
                    -(-sum(int(snap.files[r].get("size") or 0) for r in rels)
                      // target_bytes),
                )
                df = self._raw_read(name, snap, rels)
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

            # OPTIMIZE ... WHERE: partitions outside the predicate keep
            # their adds — zero bytes moved, nothing logged (Delta skips
            # untouched partitions the same way; at 100 TB you compact
            # the hot day's partition, never the table)
            parts = [
                rels
                for pv, rels in self._partitions(snap).items()
                if where is None
                or all((k, str(v)) in pv for k, v in where.items())
            ]
            # per-partition stats pass + sorted rewrite are independent
            # jobs — overlap them (guide §2.6); the per-partition
            # z-value/lane stats are unchanged, so file layouts and
            # skipping stats stay identical.
            self._parallel_jobs(
                [(lambda rs: lambda: _recluster(rs))(rels) for rels in parts]
            )
            txn.removes = [rel for rels in parts for rel in rels]
            return lambda: {
                "files_before": len(snap.files),
                "files_after": len(txn.live),
                "reclustered": bool(keys),
            }

        return self._transact(
            name, attempt, "optimize", "OPTIMIZE", max_retries,
            materialize_dv=True,
        )

    # ------------------------------------------- copy-on-write DML

    def _write_appended(
        self, vdir: str, df: DataFrame, part_cols: Sequence[str]
    ) -> None:
        """Append ``df`` as new files of staging dir ``vdir``
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
        matching row are rewritten; every untouched file keeps its add
        (zero data movement, nothing logged), and the log commit
        removes the touched files and adds their rewrites atomically.

        Touched files are discovered by Spark itself: one filtered
        scan projecting input_file_name() that also counts the rows —
        partition pruning and row-group stats keep it cheap, and the
        driver receives a FILE MANIFEST (|files| rows), never data.
        The touched files are read back in one hive-aware read (their
        partition values as the STRINGS the hive dirs hold),
        transformed, validated and written in one partitioned write
        into the staging dir.

        ``transform(df, pred_col)`` receives the file's rows plus the
        evaluated predicate column and returns the replacement rows.
        Returns {files_total, files_rewritten, files_kept,
        rows_before, rows_after}.

        Optimistic transaction: the commit presents the log version
        whose files were scanned; if a writer committed in between,
        this rewrite is discarded and the DML re-scans the NEW version
        (up to ``max_retries``) — committing blind would resurrect
        that writer's deleted rows or drop its merged ones.
        ``post_scan`` (optional zero-arg callable) fires after each
        attempt's touched-file scan and before its commit — the
        interleaving certs (q413) land a concurrent merge there."""
        self._assert_appendable(name, "DELETE/UPDATE (COW rewrite)")

        import json
        from urllib.parse import unquote, urlparse

        from pyspark.sql import types as T

        from product_analytics_spark.sources import delta_log as dl

        def local(uri: str) -> str:
            # input_file_name() yields a percent-encoded file: URI;
            # undecoded, hive values with encoded chars (space, %, #,
            # non-ASCII) would escape the rewrite
            parsed = urlparse(uri)
            return os.path.normpath(unquote(parsed.path if parsed.scheme else uri))

        def attempt(txn: _Attempt):
            # The scan runs inside the attempt: a concurrent commit may
            # GC the snapshot mid-scan, which must retry (ADVICE r8).
            snap, table = txn.snap, self.path(name)
            if snap is None:
                raise ValueError(f"unknown table {name!r}")
            manifest = {
                os.path.normpath(dl.resolve_path(table, rel)): rel
                for rel in snap.files
            }
            full = self._scan(name, snap)
            # input_file_name() is projected first: the analyzer
            # refuses it as a direct aggregate argument
            agg_row = (
                full.select(
                    F.when(F.expr(predicate), F.input_file_name()).alias("__f")
                )
                .select(
                    F.count(F.lit(1)).alias("__n"),
                    F.collect_set("__f").alias("__files"),
                )
                .collect()[0]
            )
            scanned = {local(u) for u in agg_row["__files"]}
            if post_scan is not None:
                post_scan()

            def result(rows_after: int) -> dict:
                n = len(snap.files)
                return {
                    "files_total": n,
                    "files_rewritten": len(scanned),
                    "files_kept": n - len(scanned),
                    "rows_before": agg_row["__n"],
                    "rows_after": rows_after,
                }

            if not scanned:
                # no row matches: nothing to write, but the commit still
                # checks that no writer committed rows under the scan
                return lambda: result(agg_row["__n"])
            stray = scanned - set(manifest)
            if stray:
                raise RuntimeError(
                    f"COW rewrite of {name!r}: {len(stray)} scanned "
                    f"file(s) missing from the snapshot's manifest (URI "
                    f"decode mismatch?): {sorted(stray)[:3]}"
                )
            if cdc_build is not None and self.cdf:
                # the change feed of THIS attempt's snapshot, staged
                # beside the rewrite (guide §2.6); a lost race discards
                # it with the attempt
                txn.cdc = self._stage_cdc_async(
                    name,
                    self._to_physical(txn.snap, cdc_build(full, F.expr(predicate))),
                )
            txn.removes = touched = sorted(manifest[f] for f in scanned)
            part_cols = self._part_cols(snap)
            physical = snap.column_mapping()
            rd_schema = None  # flat: the footers' schema
            if part_cols:
                # partition values as the STRINGS the hive dirs hold
                # ("03" stays "03"): a string type takes the raw value
                rd_schema = T.StructType(
                    [
                        T.StructField(f.name, T.StringType(), True)
                        if f.name in part_cols
                        else T.StructField(
                            physical.get(f.name, f.name), f.dataType, f.nullable
                        )
                        for f in full.schema.fields
                    ]
                )
            df = self._grouped_read(
                table, snap, touched,
                lambda r: r if rd_schema is None else _typed(self.spark, r, rd_schema),
            )
            replaced = transform(
                _renamed(df, {p: c for c, p in physical.items()}),
                F.expr(predicate),
            )
            # COW UPDATE can mint violating rows: validate them
            # beside the write; joined before the commit
            txn.jobs.append(self._validate_async(name, replaced))
            out = self._to_physical(snap, replaced)
            if part_cols:
                n_parts = len(
                    {
                        tuple(sorted(snap.files[r]["partitionValues"].items()))
                        for r in touched
                    }
                )
                out = out.repartition(n_parts, *part_cols).write.partitionBy(
                    *part_cols
                )
            else:
                out = out.write
            out.mode("append").parquet(txn.vdir)

            # rows_after from the committed adds' log stats: no live file
            # carries a deletion vector (purged before the scan)
            return lambda: result(
                sum(json.loads(a["stats"])["numRecords"] for a in txn.live.values())
            )

        return self._transact(
            name, attempt, "COW rewrite", "DML", max_retries,
            materialize_dv=True,
        )

    def delete_where(self, name: str, predicate: str, post_scan=None) -> dict:
        """Copy-on-write DELETE (Delta ``DELETE FROM t WHERE``): drop
        matching rows, rewriting ONLY the files that contain one —
        with a partition-column predicate the scan prunes to the
        matching hive dirs, so whole untouched partitions keep their
        adds. Time travel to the pre-delete version still works
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
        bad = set(self._part_cols(self._snapshot(name))) & set(assignments)
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
                # the kept files' would poison every later read
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
