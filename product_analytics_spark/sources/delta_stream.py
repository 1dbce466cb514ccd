"""Streaming FROM the Delta transaction log: a Spark 4 Python
DataSource (``spark.readStream.format("delta_tail")``) that tails a
``_delta_log`` table and emits each commit's ADDED rows — the public
Delta streaming-source contract, implemented over the pure-Python log
(``sources/delta_log.py``).

Semantics (delta.io streaming source):

* **offset = log version.** ``{"version": v}`` means "versions below
  v are consumed"; each micro-batch covers the commit range
  ``[start, end)``.
* **one lister, two listings per trigger.** What a commit changed
  comes from ``delta_log.commit_changes``, the lister the batch
  ``table_changes`` reads through. ``latestOffset`` lists
  ``_delta_log`` once: plainly for the latest version, or, when
  rate-limited, through the lister, which also reads each pending
  commit's JSON until the budget is spent. ``partitions`` calls the
  lister over its range: one listing, one snapshot (its metadata) and
  one JSON read per commit; a snapshot built cold, without a
  ``_last_checkpoint`` pointer, adds one listing for checkpoint
  discovery. A trigger therefore lists the log twice (three times
  cold) whatever the number of pending commits. The reader takes one
  snapshot when it is built: the schema it serves.
* **one InputPartition per added file.** Partition PLANNING happens
  on the driver from the commit JSON alone (paths + partitionValues
  + schema snippets travel in the partition value); row READING
  happens on executors, one task per file — a 1000-file commit fans
  out across the cluster exactly like Delta's own source.
* **appends stream; changes don't.** A commit whose actions include
  a ``remove`` with ``dataChange`` (COW DML, RESTORE) or an ``add``
  carrying a ``deletionVector`` is NOT an append. With
  ``skip_change_commits=true`` (Delta's ``skipChangeCommits``) such
  commits are skipped whole; otherwise the source raises — silently
  streaming a rewritten file would double-emit every untouched row
  it carries. OPTIMIZE/compaction commits (``dataChange: false``
  adds) are invisible either way, per the protocol.
* **replay-safe.** Offsets are versions; re-planning ``[s, e)``
  yields the same files and the same rows — checkpoint restart
  re-emits the identical micro-batch, the exactly-once-by-replay
  contract the q437 cert drives end to end.

Reference: the incremental models chain Delta tables into downstream
models (dbt_project.yml:39 ``file_format: delta``); on Databricks the
chain runs as a streaming read of exactly this shape. At 100 TB the
log tail IS the change queue: per trigger the source reads the
pending commits' JSON files and schedules O(files added since the
watermark) tasks — never a table scan.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


@dataclass
class _AddFilePartition(InputPartition):
    """Everything an executor needs to read one added file — no log
    access on the executor side. In change-feed mode (``cdf``) the
    emitted rows append ``_change_type`` (the constant
    ``change_type``, or the file's own column for cdc change files)
    and ``_commit_version``."""

    abs_path: str
    fields: list  # [(name, type_str, partition_value_or_None), ...]
    version: int = 0
    empty: bool = False
    cdf: bool = False
    change_type: str | None = None  # None in cdf mode = read from file


def _snapshot_schema(table_dir: str):
    from product_analytics_spark.sources import delta_log as dl

    snap = dl.DeltaLog(table_dir).snapshot()
    if not snap.metadata:
        raise dl.DeltaProtocolError(f"no metaData in {table_dir}")
    schema = json.loads(snap.metadata["schemaString"])
    part_cols = snap.metadata.get("partitionColumns") or []
    # logical -> physical under column mapping: the stream is served
    # under the LATEST logical names while the files (and cdc files)
    # keep their stable physical names — same rule as the batch
    # table_changes reader
    mapping = snap.column_mapping()
    return schema, part_cols, mapping


def _py_value(raw: str | None, type_str: str):
    """Partition literal (string in the log) -> Python value of the
    declared type — the reader-side cast every Delta reader does."""
    if raw is None:
        return None
    t = str(type_str)
    if t in ("byte", "short", "integer", "long"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    return raw  # string/date/... stay strings for this source


class DeltaTailStreamReader(DataSourceStreamReader):
    """See module doc. Options: ``path`` (table dir, required),
    ``starting_version`` (default 0), ``skip_change_commits``
    (default true), ``read_change_feed`` (default false — Delta's
    ``readChangeFeed``: emit the Change Data Feed instead of raw
    appends; rows carry ``_change_type`` + ``_commit_version``,
    change files come from the commits' ``cdc`` actions, append
    commits derive inserts, and nothing is skipped)."""

    def __init__(self, options):
        self.table_dir = options.get("path")
        if not self.table_dir:
            raise ValueError("delta_tail requires .option('path', table_dir)")
        self.start_version = int(options.get("starting_version", "0"))
        self.skip_change = (
            str(options.get("skip_change_commits", "true")).lower() == "true"
        )
        self.read_cdf = (
            str(options.get("read_change_feed", "false")).lower() == "true"
        )
        # Admission control (Delta's maxFilesPerTrigger +
        # maxBytesPerTrigger): cap the number of data files / total
        # data BYTES one micro-batch plans. 0/absent = unlimited.
        # At 100 TB a restarted stream facing 10k pending commits
        # must page through them in bounded batches, not plan one
        # giant scan that outlives its executors. The byte budget
        # (from the adds' ``size``) is the robust twin: a file-count
        # cap under-admits small-file tables and over-admits
        # compacted ones — 100 files can be 10 MB or 12 GB.
        self.max_files = int(options.get("max_files_per_trigger", "0"))
        self.max_bytes = int(options.get("max_bytes_per_trigger", "0"))
        #: last batch-end version this reader instance planned or
        #: committed — the reference point rate limiting caps from.
        #: None until the first initialOffset/partitions call (a
        #: restart learns it from the engine's first partitions()
        #: call; that first batch is admitted uncapped, like Delta's
        #: best-effort contract).
        self._pos: int | None = None
        #: rows are served under the schema the source declared when
        #: the query started, as Delta's streaming source does
        self._schema, self._part_cols, self._mapping = _snapshot_schema(
            self.table_dir
        )

    # ---------------------------------------------------- offsets

    def initialOffset(self):
        self._pos = self.start_version
        return {"version": self.start_version}

    def _commit_cost(self, change) -> tuple[int, int]:
        """(data files, data bytes) ``partitions`` would load for one
        :class:`~product_analytics_spark.sources.delta_log.CommitChanges`
        under the current mode, so byte budgets price what is served:
        in cdf mode the commit's change files (its cdc files alone
        when it has any — pricing a COW rewrite's adds would make a
        tiny logical change look like the whole rewritten table — else
        its dataChange adds and removes; a remove without ``size``
        prices 0 bytes but counts against the file cap); in append
        mode its dataChange adds, and ZERO for a change commit that
        ``skip_change_commits`` drops (burning budget on files never
        read would split batches around skipped commits)."""
        if change.rewrites and self.skip_change and not self.read_cdf:
            return 0, 0
        return len(change.files), sum(f.size for f in change.files)

    def latestOffset(self):
        from product_analytics_spark.sources import delta_log as dl

        log = dl.DeltaLog(self.table_dir)
        if (self.max_files <= 0 and self.max_bytes <= 0) or self._pos is None:
            latest = log.latest_version()
            nxt = self.start_version if latest is None else latest + 1
            return {"version": max(nxt, self.start_version)}
        admitted = self._pos
        fbudget = self.max_files if self.max_files > 0 else None
        bbudget = self.max_bytes if self.max_bytes > 0 else None
        for change in dl.commit_changes(log, self._pos, feed=self.read_cdf):
            nf, nb = self._commit_cost(change)
            over = (
                (fbudget is not None and nf > fbudget)
                or (bbudget is not None and nb > bbudget)
            )
            if over and admitted > self._pos:
                break  # cap reached (always admit >= 1 commit)
            if fbudget is not None:
                fbudget -= nf
            if bbudget is not None:
                bbudget -= nb
            admitted += 1
            if (fbudget is not None and fbudget <= 0) or (
                bbudget is not None and bbudget <= 0
            ):
                break
        return {"version": admitted}

    # -------------------------------------------------- planning

    def _fields(self, pv: dict) -> list:
        return [
            (
                f["name"],
                str(f["type"]),
                pv.get(f["name"]) if f["name"] in self._part_cols else None,
                self._mapping.get(f["name"], f["name"]),  # physical name
            )
            for f in self._schema["fields"]
        ]

    def partitions(self, start, end):
        from product_analytics_spark.sources import delta_log as dl

        s, e = int(start["version"]), int(end["version"])
        # learn/advance the rate-limit reference point (a restarted
        # reader first hears its true position here)
        self._pos = max(self._pos, e) if self._pos is not None else e
        out: list[_AddFilePartition] = []
        if e > s:
            changes = dl.commit_changes(
                dl.DeltaLog(self.table_dir), s, e - 1, feed=self.read_cdf
            )
            for change in changes:
                if change.rewrites and not self.read_cdf:
                    if self.skip_change:
                        continue  # skipChangeCommits: drop the whole commit
                    raise dl.DeltaProtocolError(
                        f"commit {change.version} is not an append (COW "
                        "rewrite / DV DML / RESTORE); set "
                        "skip_change_commits=true or start above it"
                    )
                out.extend(
                    _AddFilePartition(
                        dl.resolve_path(self.table_dir, f.path),
                        self._fields(f.partition_values),
                        version=change.version,
                        cdf=self.read_cdf,
                        # cdc files carry their own _change_type
                        change_type=(
                            f.kind if self.read_cdf and f.kind != "cdc"
                            else None
                        ),
                    )
                    for f in change.files
                )
        return out or [_AddFilePartition("", [], empty=True)]

    # --------------------------------------------------- reading

    def read(self, partition: _AddFilePartition) -> Iterator:
        # Runs on an EXECUTOR: one parquet file, no log access.
        if partition.empty:
            return
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.abs_path)
        cols = {}
        nrows = tbl.num_rows
        for name, type_str, pv, phys in partition.fields:
            if pv is not None or phys not in tbl.column_names:
                val = _py_value(pv, type_str)
                cols[name] = [val] * nrows
            else:
                cols[name] = tbl.column(phys).to_pylist()
        names = [f[0] for f in partition.fields]
        if partition.cdf:
            if partition.change_type is not None:
                ct = [partition.change_type] * nrows
            else:  # cdc change file: the column is IN the file
                ct = tbl.column("_change_type").to_pylist()
            ver = partition.version
            for i in range(nrows):
                yield tuple(cols[n][i] for n in names) + (ct[i], ver)
            return
        for i in range(nrows):
            yield tuple(cols[n][i] for n in names)

    def commit(self, end):
        # offsets are durable in the engine's checkpoint; track the
        # committed position for rate-limit admission
        try:
            v = int(end["version"])
        except (TypeError, KeyError, ValueError):
            return
        self._pos = max(self._pos, v) if self._pos is not None else v


class DeltaTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_tail"

    def schema(self):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema, _parts, _mapping = _snapshot_schema(self.options.get("path"))
        st = StructType.fromJson(schema)
        if str(self.options.get("read_change_feed", "false")).lower() == "true":
            st = StructType(
                st.fields
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
        return st

    def streamReader(self, schema) -> DeltaTailStreamReader:
        return DeltaTailStreamReader(self.options)


def register_delta_tail(spark) -> None:
    spark.dataSource.register(DeltaTailDataSource)
