"""Jar-less Delta tables as a first-class Spark data source (PySpark 4
Python data-source API) — batch AND streaming:

    spark.dataSource.register(DeltaLogDataSource)
    spark.read.format("deltalog").load(path)                 # snapshot
    spark.read.format("deltalog").option("versionAsOf", 3)...
    spark.readStream.format("deltalog").load(path)           # incremental

Why a second batch path when ``DeltaLogTable.read`` exists: the data
source serves the STREAMING half — commit-offset incremental reads of a
real ``_delta_log`` (Delta's own streaming-source semantics:
``startingVersion`` / ``startingTimestamp``, ``ignoreDeletes``,
``ignoreChanges``, ``skipChangeCommits``, ``maxFilesPerTrigger`` /
``maxBytesPerTrigger`` rate limits, batch + streaming
``readChangeFeed``) — and gives
the batch path Catalyst filter pushdown (pushFilters -> stats +
partition-value pruning BEFORE partition planning, so a selective scan
of a large table plans only the surviving files). Deletion vectors are
applied as per-file positional masks INSIDE the Arrow read (no join at
all on this path): only the O(1) DV *descriptor* rides each pickled
partition and positions decode on the executor — the driver never
materializes a position list, so a MOR-heavy foreign table with 100M+
deleted positions plans in O(files) driver memory
(tools/dv_read_ladder.py --source measures this). Partition values
attach as constant Arrow columns.

Streaming semantics mirror delta-spark's source contract:
- appends (add actions with dataChange=true) stream through;
- dataChange=false commits (compaction / re-layout) are invisible;
- delete-only commits refuse unless ``ignoreDeletes=true``;
- commits that rewrite files (remove + add, or an add carrying a NEW
  deletion vector) refuse unless ``ignoreChanges=true``, which replays
  the rewritten file's LIVE rows — the same at-least-once caveat Delta
  documents;
- ``skipChangeCommits=true`` (delta-spark ≥2.3, the documented
  replacement for ``ignoreChanges``) instead SKIPS change commits
  wholesale: no rows from a commit that deletes or rewrites data — not
  even rows its adds appended — so the stream never duplicates;
  mutually exclusive with ``ignoreChanges`` / ``ignoreDeletes``;
- without ``startingVersion`` the FIRST batch serves the current
  snapshot (delta-spark's ``isStartingVersion`` initialization), then
  later batches are incremental — replaying from version 0 would fail
  on tables whose early commits were cleaned up or whose rewritten
  data files were vacuumed, and would re-emit superseded rows;
- ``startingVersion`` (number or ``latest``) positions the first batch
  explicitly; a number that predates the earliest retained JSON commit
  refuses with a clear error instead of a FileNotFoundError deep in
  commit replay;
- a schema-bearing metaData commit NEWER than the stream's construction
  head fails the query loudly with a restart pointer (delta-spark's
  contract); restarts resolve at the new head and replay clean;
- ``schemaTrackingLocation`` (r14): persist a schema log under the
  checkpoint and stream ACROSS non-additive schema changes — a change
  commit records the evolved schema to the log and fails ONCE; the
  restart resolves its schema FROM the log, sets the schema epoch to
  the change commit, and replays the pending range clean (one schema
  generation per restart — delta-spark's evolution ladder; see
  io/schema_track.py).

- ``withEventTimeOrder`` (r14, best-effort): admit the initial
  snapshot in EVENT-TIME order so a rate-limited backfill feeds the
  watermark oldest-first. delta-spark reads the watermark column from
  the query plan; the Python DataSource API cannot see the plan, so
  the column must be NAMED via ``eventTimeOrderColumn`` (refused
  otherwise, with this citation). Ordering keys on file min-stats
  (stats-missing files last); the admission-order marker rides the
  snapshot offsets, so flipping the option mid-snapshot refuses
  (delta-spark's rule). Commit-phase ordering is unchanged (commits
  are already admitted in commit order, as delta-spark does).

Registered as ``deltalog`` so a cluster that HAS delta-spark keeps the
``delta`` name for the jar; io/read.py routes streaming format="delta"
reads here when the jar is absent.

Reuses snaplog_source's executor kernel (_arrow_batches: arrow-batched
column-pruned reads, NULL-fill for additive evolution, positional DV
masks, constant partition columns) — one read path to keep correct.
"""

from __future__ import annotations

import json
import os
import re
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
)

from dc43_spark.io.delta_log import (
    DeltaLogTable,
    DeltaProtocolError,
    _as_map,
    _decode_path,
    _parse_partition_value,
)
from dc43_spark.io.tablecore import file_may_match, normalize_filters
from dc43_spark.io.snaplog_source import (
    _FilePartition,
    _arrow_batches,
    _filters_to_tuples,
)


def _typed_partition_values(
    raw: dict, types: dict
) -> dict:
    return {
        c: _parse_partition_value(types.get(c, "string"), v)
        for c, v in raw.items()
    }


def _norm_dv(dv) -> dict | None:
    """Raw ``add.deletionVector`` action map -> the normalized descriptor
    ``decode_dv_descriptor`` accepts, or None when absent. The descriptor
    is O(1) (storage type + path/inline blob ref + offset/size) — it is
    what rides the pickled partition; the positions it denotes are only
    ever expanded executor-side inside ``_arrow_batches``."""
    if not dv or not dv.get("pathOrInlineDv"):
        return None
    return {
        "storageType": dv.get("storageType", "u"),
        "pathOrInlineDv": dv["pathOrInlineDv"],
        "offset": dv.get("offset") or 0,
        "sizeInBytes": dv.get("sizeInBytes"),
        "cardinality": dv.get("cardinality"),
    }


def _file_partition(table: DeltaLogTable, snap, f, types: dict) -> _FilePartition:
    """One live Delta file -> the shared executor partition shape:
    typed partition constants, the file's DV *descriptor* (positions
    decode on the executor — never driver-side, a MOR-heavy table can
    carry 100M+ deleted positions), and the logical->physical mapping
    when column mapping is active."""
    dv = _norm_dv(f.dv)
    mapping = None
    if snap.column_mapping:
        mapping = {
            fld.name: (fld.metadata or {}).get(
                "delta.columnMapping.physicalName", fld.name
            )
            for fld in snap.schema.fields
        }
    extra = _typed_partition_values(
        {c: f.partition_values.get(c) for c in snap.partition_columns}, types
    ) or None
    return _FilePartition(
        os.path.join(table.path, f.path),
        extra,
        dv_descriptor=(table.path, dv) if dv is not None else None,
        mapping=mapping,
    )


def _parse_start_ts(raw: str) -> float:
    """``startingTimestamp`` value -> unix seconds: numeric, or an ISO
    8601 / ``YYYY-MM-DD`` string (delta-spark accepts both)."""
    try:
        return float(raw)
    except ValueError:
        pass
    from datetime import datetime

    try:
        return datetime.fromisoformat(str(raw)).timestamp()
    except ValueError:
        raise ValueError(
            f"unparseable startingTimestamp {raw!r}; pass unix seconds "
            "or an ISO 8601 timestamp"
        ) from None


def _starting_position(table: DeltaLogTable, options: dict) -> tuple:
    """Resolve ``startingVersion`` / ``startingTimestamp`` (mutually
    exclusive) -> ``(starting_version, snapshot_start)`` — delta-spark's
    stream-start semantics: no option = serve the CURRENT snapshot
    first; ``latest`` = new data only; a timestamp starts at the first
    retained commit at-or-after it (ICT-preferring, like every other
    timestamp read), or new-data-only when it postdates the head."""
    sv = options.get("startingversion")
    st = options.get("startingtimestamp")
    if sv is not None and st is not None:
        raise ValueError(
            "pass startingVersion OR startingTimestamp, not both"
        )
    if st is not None:
        ts = _parse_start_ts(st)
        for v in table._versions():
            if table._commit_timestamp(v) >= ts:
                return v, False
        head = table.version()
        return (0 if head is None else head + 1), False
    if sv is None:
        head = table.version()
        if head is None:
            return 0, False  # empty dir: nothing to snapshot yet
        return head + 1, True
    if str(sv).lower() == "latest":
        head = table.version()
        return (0 if head is None else head + 1), False
    return int(sv), False


class DeltaLogPlainBatchReader(DataSourceReader):
    """Snapshot scan, one partition per live file. Subclassed by the
    pushdown variant; split in two because merely DEFINING pushFilters
    trips Spark's [DATA_SOURCE_PUSHDOWN_DISABLED] guard when
    ``spark.sql.python.filterPushdown.enabled`` is off (same split as
    the snaplog source)."""

    def __init__(self, path: str, options: dict):
        self._table = DeltaLogTable(None, path)
        v = options.get("versionasof")
        ts = options.get("timestampasof")
        self._snap = self._table.snapshot(
            int(v) if v is not None else None,
            timestamp=float(ts) if ts is not None else None,
        )
        self._pushed: list = []

    def partitions(self):
        snap = self._snap
        types = {f.name: f.dataType.typeName() for f in snap.schema.fields}
        files = list(snap.files)
        if self._pushed:
            groups = normalize_filters(self._pushed[0])
            files = [f for f in files if file_may_match(f, groups)]
        return [_file_partition(self._table, snap, f, types) for f in files]

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _arrow_batches(partition, self._snap.schema)


class DeltaLogBatchReader(DeltaLogPlainBatchReader):
    """Pushdown variant: stats/partition pruning via pushed filters."""

    def pushFilters(self, filters):
        supported = _filters_to_tuples(filters)
        if supported:
            self._pushed = [supported]  # one AND-group
        return iter(filters)  # Spark re-applies everything: row-exact



class DeltaLogStreamReader(DataSourceStreamReader):
    """Commit-offset incremental reads of a Delta log (the source half
    of Delta's streaming contract).

    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (delta-spark's
    rate-limit options) cap each microbatch's ADMITTED files/bytes: the
    owed initial snapshot is served in file-index chunks (offsets carry
    ``{"snapshot": true, "index": k}`` — at 100 TB the first batch would
    otherwise be millions of files), and incremental progress admits
    whole commits until either budget is spent (at least one file /
    one commit per batch, delta-spark's own floor). The cap needs a
    consumed base, which the reader learns exactly the way Spark's own
    ``_SimpleStreamReaderWrapper`` does: lazily from ``initialOffset``
    on a fresh stream (the engine calls ``latestOffset`` FIRST), and
    from the ``partitions``/``commit`` callbacks afterwards — on
    restart the engine replans the offset log's last batch through
    ``partitions`` before asking for a new offset (the documented
    contract the built-in wrapper relies on too), so the base is never
    stale.

    Engine caveat: under ``Trigger.AvailableNow`` the Python-source API
    captures ONE capped target per run, so a rate-limited run processes
    one batch's budget and terminates (repeated runs converge) —
    delta-spark's multi-batch availableNow needs admission-control
    hooks the Python API doesn't expose. For backfill drains use
    ``dc43_spark.streaming.drain.drain(start_run)``, which loops capped
    availableNow runs on one checkpoint until caught up (exactly-once
    via the offset log), or a processing-time trigger."""

    def __init__(self, path: str, schema: T.StructType, options: dict):
        self._table = DeltaLogTable(None, path)
        self._schema = schema
        self._ignore_deletes = (
            str(options.get("ignoredeletes", "")).lower() == "true"
        )
        self._ignore_changes = (
            str(options.get("ignorechanges", "")).lower() == "true"
        )
        self._skip_change_commits = (
            str(options.get("skipchangecommits", "")).lower() == "true"
        )
        if self._skip_change_commits and (
            self._ignore_changes or self._ignore_deletes
        ):
            raise ValueError(
                "skipChangeCommits is mutually exclusive with "
                "ignoreChanges/ignoreDeletes: skip drops change commits "
                "wholesale, ignore* replays their rewritten rows — pick "
                "one semantics"
            )
        self._max_files = int(options.get("maxfilespertrigger", 0) or 0)
        self._max_bytes = int(options.get("maxbytespertrigger", 0) or 0)
        if self._max_files < 0 or self._max_bytes < 0:
            raise ValueError(
                "maxFilesPerTrigger/maxBytesPerTrigger must be positive"
            )
        # withEventTimeOrder (r14, best-effort variant of delta-spark's
        # option): admit the initial snapshot in EVENT-TIME order (file
        # min-stats of the named column) so a rate-limited backfill's
        # watermark sees oldest events first. delta-spark reads the
        # watermark column from the query plan; the Python DataSource
        # API cannot (SPARK plan state is invisible here), so the column
        # must be NAMED explicitly — refusing beats silently ignoring
        self._etime_order = (
            str(options.get("witheventtimeorder", "")).lower() == "true"
        )
        self._etime_col = options.get("eventtimeordercolumn")
        if self._etime_order and not self._etime_col:
            raise ValueError(
                "withEventTimeOrder needs eventTimeOrderColumn=<column>: "
                "the Python DataSource API cannot see the query's "
                "watermark column (delta-spark reads it from the plan), "
                "so the event-time column must be named explicitly"
            )
        if self._etime_col and not self._etime_order:
            raise ValueError(
                "eventTimeOrderColumn requires withEventTimeOrder=true"
            )
        # excludeRegex (delta-spark's streaming option): files whose
        # RELATIVE path matches are invisible to the stream — snapshot
        # admission, incremental adds, and both rate-limit budgets all
        # skip them consistently. A bad pattern raises re.error at
        # construction (loud), never mid-stream.
        pat = options.get("excluderegex")
        self._exclude = re.compile(pat) if pat else None
        self._base: Optional[dict] = None  # last known consumed offset
        self._snap0_sizes: Optional[list] = None  # admission-ordered bytes
        self._commit_adds: dict = {}  # version -> (n data adds, bytes)
        # schema-change detection: the stream's schema is the one in
        # effect at construction head; newer metaData commits fail loudly
        head = self._table.version()
        self._schema_epoch = -1 if head is None else head
        self._schema_fp: Optional[tuple] = None  # lazy baseline
        # schemaTrackingLocation (r14): epoch/fingerprint come from the
        # tracking log instead, enabling restarts ACROSS schema changes
        _apply_tracked_schema(self, options)
        # delta-spark's default (no option): initialize from the LATEST
        # snapshot (isStartingVersion) — the first batch is the
        # snapshot's live files, not a replay of history that may be
        # vacuumed; startingVersion/startingTimestamp position the first
        # batch explicitly (see _starting_position)
        self._starting, self._snapshot_start = _starting_position(
            self._table, options
        )

    def initialOffset(self) -> dict:
        if self._snapshot_start:
            # "snapshot at version N still owed": the first planned batch
            # serves snapshot(N)'s files plus any commits N+1..end; once
            # the batch commits, the stored offset is a plain version and
            # the stream is purely incremental. The admission-order
            # marker rides the offset so a restart that flips
            # withEventTimeOrder mid-snapshot refuses instead of
            # misaligning file-index chunks (delta-spark's rule)
            self._base = {"version": self._starting - 1, "snapshot": True,
                          "index": 0}
            if self._etime_order:
                self._base["order"] = f"etime:{self._etime_col}"
            return dict(self._base)
        self._base = {"version": self._starting - 1}
        return dict(self._base)

    def _ordered_snapshot_files(self, snap) -> list:
        """Initial-snapshot ADMISSION order — the contract between the
        file-index offsets and the served chunks. Path-sorted by
        default; under ``withEventTimeOrder`` ascending by each file's
        min event-time stat (stats-missing files last, path tiebreak),
        so a rate-limited backfill feeds the watermark oldest-first —
        delta-spark's option, best-effort via footer stats (the same
        stats the writer records for data skipping)."""
        files = sorted(snap.files, key=lambda f: f.path)
        if self._exclude is not None:
            files = [f for f in files if not self._exclude.search(f.path)]
        if not self._etime_order:
            return files
        col = self._etime_col

        def _min_stat(f):
            return (f.stats.get(col) or {}).get("min")

        with_stat = [f for f in files if _min_stat(f) is not None]
        without = [f for f in files if _min_stat(f) is None]
        with_stat.sort(key=lambda f: (_min_stat(f), f.path))
        return with_stat + without

    def _snapshot_sizes(self, version: int) -> list:
        if self._snap0_sizes is None:
            self._snap0_sizes = [
                f.size or 0
                for f in self._ordered_snapshot_files(
                    self._table.snapshot(version)
                )
            ]
        return self._snap0_sizes

    def _commit_add_stats(self, v: int) -> tuple:
        if v not in self._commit_adds:
            n = b = 0
            for a in self._table._commit_lines(v):
                if "add" in a and a["add"].get("dataChange", True):
                    if self._exclude is not None and self._exclude.search(
                        _decode_path(a["add"]["path"])
                    ):
                        continue  # excluded files charge no budget either
                    n += 1
                    b += int(a["add"].get("size") or 0)
            self._commit_adds[v] = (n, b)
        return self._commit_adds[v]

    def latestOffset(self) -> dict:
        return _capped_latest_offset(self)

    def partitions(self, start: dict, end: dict):
        snap = self._table.snapshot(max(end["version"], 0)) if end[
            "version"
        ] >= 0 else None
        types = (
            {f.name: f.dataType.typeName() for f in snap.schema.fields}
            if snap is not None
            else {}
        )
        mapping = None
        if snap is not None and snap.column_mapping:
            mapping = {
                fld.name: (fld.metadata or {}).get(
                    "delta.columnMapping.physicalName", fld.name
                )
                for fld in snap.schema.fields
            }
        parts: list = []
        if start.get("snapshot") and start["version"] >= 0:
            # owed initial batch: the snapshot's live files (each under
            # its own DV mask / typed partition constants), exactly what
            # delta-spark's isStartingVersion start serves. Under
            # maxFilesPerTrigger the offsets carry a FILE INDEX into the
            # admission-ordered live list and each batch serves one
            # [i, j) chunk; without the option i=0 and j=every file.
            marker = (
                f"etime:{self._etime_col}" if self._etime_order else None
            )
            if start.get("order") != marker:
                raise ValueError(
                    "withEventTimeOrder cannot change while the initial "
                    "snapshot is pending: the checkpoint recorded "
                    f"order={start.get('order')!r} but this reader is "
                    f"configured {marker!r} — restart with the original "
                    "setting or use a fresh checkpoint (delta-spark's "
                    "rule; the file-index offsets are positions in the "
                    "admission order)"
                )
            snap0 = self._table.snapshot(start["version"])
            types0 = {f.name: f.dataType.typeName() for f in snap0.schema.fields}
            files0 = self._ordered_snapshot_files(snap0)
            i = start.get("index", 0)
            j = (
                end.get("index", len(files0))
                if end.get("snapshot")
                else len(files0)
            )
            for f in files0[i:j]:
                parts.append(_file_partition(self._table, snap0, f, types0))
        self._base = dict(end)
        if end.get("snapshot"):
            return parts  # snapshot chunk only; commits come later
        first_needed = start["version"] + 1
        if first_needed <= end["version"]:
            retained = self._table._versions()
            if not retained or first_needed < retained[0]:
                raise DeltaProtocolError(
                    f"commits {first_needed}..{end['version']} of "
                    f"{self._table.path} are no longer retained (earliest "
                    f"JSON commit: {retained[0] if retained else 'none'}); "
                    "omit startingVersion to initialize from the current "
                    "snapshot instead of replaying cleaned-up history"
                )
        for v in range(start["version"] + 1, end["version"] + 1):
            adds, removes = [], []
            for action in self._table._commit_lines(v):
                if "add" in action:
                    adds.append(action["add"])
                elif "remove" in action:
                    removes.append(action["remove"])
                elif "metaData" in action:
                    _check_schema_epoch(self, action, v)
            data_adds = [a for a in adds if a.get("dataChange", True)]
            data_removes = [r for r in removes if r.get("dataChange", True)]
            if not data_adds and not data_removes:
                continue  # txn/metaData/protocol/compaction-only commit
            rewrites = bool(data_removes) and bool(data_adds)
            dv_adds = [
                a for a in data_adds
                if (a.get("deletionVector") or {}).get("pathOrInlineDv")
            ]
            if self._skip_change_commits and (data_removes or dv_adds):
                # delta-spark's skipChangeCommits: a commit that deletes
                # or rewrites data contributes NOTHING — its adds are
                # rewritten carriers of old rows, so emitting them would
                # duplicate; appends folded into the same commit are
                # dropped too (delta-spark's documented behavior)
                continue
            if (rewrites or dv_adds) and not self._ignore_changes:
                raise ValueError(
                    f"commit v{v} rewrites or deletion-vectors files; a "
                    "Delta stream is append-only — set ignoreChanges=true "
                    "to replay rewritten rows (Delta's contract) or read "
                    "the table in batch"
                )
            if data_removes and not data_adds and not (
                self._ignore_deletes or self._ignore_changes
            ):
                raise ValueError(
                    f"commit v{v} deletes data; set ignoreDeletes=true to "
                    "skip delete-only commits (Delta's contract)"
                )
            for a in data_adds:
                f_path = _decode_path(a["path"])
                if self._exclude is not None and self._exclude.search(f_path):
                    continue  # excludeRegex: the file is invisible
                dv = _norm_dv(a.get("deletionVector"))
                raw_pv = {
                    c: (a.get("partitionValues") or {}).get(c)
                    for c in (snap.partition_columns if snap else ())
                }
                parts.append(
                    _FilePartition(
                        os.path.join(self._table.path, f_path),
                        _typed_partition_values(raw_pv, types) or None,
                        dv_descriptor=(
                            (self._table.path, dv) if dv is not None else None
                        ),
                        mapping=mapping,
                    )
                )
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _arrow_batches(partition, self._schema)

    def commit(self, end: dict) -> None:
        # offsets live in the stream checkpoint (the log is immutable);
        # remembering the consumed offset lets maxFilesPerTrigger cap
        # the NEXT latestOffset from the right base
        self._base = dict(end)


def _schema_tracking(options: dict, table: DeltaLogTable):
    """``(log, latest_entry)`` for delta-spark's
    ``schemaTrackingLocation`` option — ``(None, None)`` when absent.
    An empty log initializes with the table's construction-head schema
    (entry 0, delta-spark's baseline), so the first entry always exists
    before the stream serves a batch; ownership (table path + metaData
    id) validates against reuse for a different table. See
    io/schema_track.py for the evolution ladder."""
    loc = options.get("schematrackinglocation")
    if not loc:
        return None, None
    from dc43_spark.io.delta_log import _raw_protocol_meta
    from dc43_spark.io.schema_track import SchemaTrackingLog

    log = SchemaTrackingLog(loc)
    head = table.version()
    if head is None:
        raise ValueError(
            "schemaTrackingLocation needs an existing Delta table "
            f"(no log at {table.path})"
        )
    _p, meta = _raw_protocol_meta(table, head)
    log.validate_owner(table.path, meta.get("id"))
    entry = log.latest()
    if entry is None:
        fp = _meta_fingerprint(meta)
        entry = log.append({
            "delta_commit_version": head,
            "schema_json": fp[0],
            "partition_columns": list(fp[1]),
            "table_id": meta.get("id"),
            "table_path": os.path.abspath(table.path),
        })
    return log, entry


def _apply_tracked_schema(reader, options: dict) -> None:
    """Wire a stream reader's schema epoch/fingerprint to the tracking
    log when ``schemaTrackingLocation`` is set: the epoch becomes the
    tracked entry's commit version (NOT the table head), so a restart
    after a recorded evolution replays the change commit cleanly and
    commits before it serve under the evolved schema through the same
    executor kernel historical reads use (NULL-fill / physical-name
    mapping / widening casts)."""
    log, entry = _schema_tracking(options, reader._table)
    reader._schema_log = log
    if entry is not None:
        reader._schema_epoch = entry["delta_commit_version"]
        reader._schema_fp = (
            entry["schema_json"],
            tuple(entry.get("partition_columns") or ()),
        )


def _meta_fingerprint(meta: dict) -> tuple:
    """Normalized (schemaString, partitionColumns) for schema-change
    detection — config-only metaData commits (property toggles, feature
    enables) share the fingerprint and never trip the check."""
    return (
        json.dumps(json.loads(meta.get("schemaString") or "null"),
                   sort_keys=True),
        tuple(meta.get("partitionColumns") or ()),
    )


def _check_schema_epoch(reader, action: dict, v: int) -> None:
    """delta-spark's mid-stream schema-change contract: a metaData
    commit NEWER than the schema the stream started with fails the query
    loudly (the fixed source schema would silently drop new columns /
    misread non-additive changes). Restarting re-resolves the schema at
    the new head, where the change commit is at-or-below the epoch and
    replays clean — no failure loop. Historical metaData actions inside
    a startingVersion replay (v <= epoch) are the lineage of the current
    schema and pass through."""
    if v <= reader._schema_epoch:
        return
    fp = _meta_fingerprint(action["metaData"])
    if reader._schema_fp is None:
        if reader._schema_epoch < 0:
            # stream started on an empty table: the CREATE's metaData IS
            # the baseline
            reader._schema_fp = fp
            return
        from dc43_spark.io.delta_log import _raw_protocol_meta

        _p, base = _raw_protocol_meta(reader._table, reader._schema_epoch)
        reader._schema_fp = _meta_fingerprint(base)
        if reader._schema_fp == fp:
            return
    if fp != reader._schema_fp:
        log = getattr(reader, "_schema_log", None)
        if log is not None:
            meta = action["metaData"]
            log.append({
                "delta_commit_version": v,
                "schema_json": fp[0],
                "partition_columns": list(fp[1]),
                "table_id": meta.get("id"),
                "table_path": os.path.abspath(reader._table.path),
            })
            raise ValueError(
                f"detected a schema change in commit v{v} of "
                f"{reader._table.path}; the evolved schema was persisted "
                "to the schema tracking log — restart the streaming "
                "query to continue from this commit under the new schema "
                "(delta-spark's schemaTrackingLocation contract)"
            )
        raise ValueError(
            f"detected a schema change in commit v{v} of "
            f"{reader._table.path}; the stream's source schema is fixed "
            "at start — restart the streaming query to pick up the new "
            "schema (delta-spark's contract)"
        )


def _capped_latest_offset(reader) -> dict:
    """The rate-limited ``latestOffset`` walk shared by the plain and
    CDF stream readers: chunk the still-owed initial snapshot by file
    index, then admit WHOLE commits until either budget is spent (at
    least one file / one commit per batch, delta-spark's floor). The
    reader supplies ``_table``, ``_base``, ``_max_files`` /
    ``_max_bytes``, ``_snapshot_sizes(version)`` and
    ``_commit_add_stats(version) -> (files, bytes)``."""
    head = reader._table.version()
    full = {"version": -1 if head is None else head}
    if not (reader._max_files or reader._max_bytes) or head is None:
        return full
    if reader._base is None:
        # fresh stream: the engine asks for the latest offset BEFORE
        # the initial one — seed the base the way Spark's own
        # _SimpleStreamReaderWrapper does (on restart partitions()
        # already re-seeded it from the offset log's last batch)
        reader.initialOffset()
    base = reader._base
    # inf sentinel keeps the dual-budget arithmetic uniform
    files_left = reader._max_files or float("inf")
    bytes_left = reader._max_bytes or float("inf")
    snapshot_pending = False
    if base.get("snapshot"):
        sizes = reader._snapshot_sizes(base["version"])
        n = len(sizes)
        i = base.get("index", 0)
        if i < n:
            j = i
            while j < n:
                # stop BEFORE exceeding either budget, but always
                # admit at least one file per batch
                if j > i and (files_left < 1 or bytes_left < sizes[j]):
                    break
                files_left -= 1
                bytes_left -= sizes[j]
                j += 1
            if j < n:
                out = {"version": base["version"], "snapshot": True,
                       "index": j}
                if "order" in base:  # withEventTimeOrder marker rides
                    out["order"] = base["order"]
                return out
            snapshot_pending = True  # leftover budget admits commits
    start_v = base["version"]
    end_v = start_v
    v = start_v + 1
    while v <= head:
        nf, nb = reader._commit_add_stats(v)
        # whole commits only; stop before exceeding either budget.
        # The at-least-one floor applies only when the batch is
        # otherwise empty — a batch that just drained the snapshot
        # tail already carries files
        if (end_v != start_v or snapshot_pending) and (
            files_left < max(nf, 1) or bytes_left < nb
        ):
            break
        end_v = v
        files_left -= max(nf, 1)
        bytes_left -= nb
        v += 1
    if end_v == start_v:
        if snapshot_pending:
            # the batch that drains the snapshot's tail also CLOSES
            # the snapshot phase (plain-version offset), even when no
            # commit fits the leftover budget
            return {"version": start_v}
        return dict(base)  # caught up: offset unchanged, no batch
    return {"version": end_v}


class DeltaLogCDFStreamReader(DataSourceStreamReader):
    """Streaming CHANGE DATA FEED over a real Delta log (delta-spark's
    ``readChangeFeed`` stream) — row-level changes instead of raw rows,
    with ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``.

    Per-commit rules mirror the batch ``table_changes`` kernel: ``cdc``
    actions are AUTHORITATIVE (their files carry ``_change_type``,
    incl. update pre/post images); otherwise NEW adds derive inserts
    (under the add's own DV), deletion-vector growth derives deletes for
    exactly the newly-deleted positions (``kept_positions`` — the rows
    AT those indexes are the pre-images), full-file removes derive
    deletes of the file's prior live rows, and any other rewrite refuses
    loudly. Without ``startingVersion`` the first batch is the current
    snapshot's live rows as inserts (delta-spark's CDF stream start).

    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` rate-limit the feed
    exactly like the plain stream (r13 — delta-spark applies its rate
    limits to CDF streams too): the owed initial snapshot chunks by
    file index, then WHOLE commits admit per batch — a commit's change
    rows are never split (its cdc files / derived add+remove files
    count against the budget, at-least-one floor)."""

    def __init__(self, path: str, schema: T.StructType, options: dict):
        self._table = DeltaLogTable(None, path)
        self._schema = schema
        if str(options.get("witheventtimeorder", "")).lower() == "true":
            raise ValueError(
                "withEventTimeOrder orders the PLAIN stream's initial "
                "snapshot; the change-feed stream serves commit-ordered "
                "change rows — drop the option"
            )
        if options.get("excluderegex"):
            raise ValueError(
                "excludeRegex applies to the PLAIN stream's files; "
                "silently dropping files from a CHANGE FEED would "
                "corrupt its row-level change semantics — filter the "
                "feed's rows downstream instead"
            )
        self._max_files = int(options.get("maxfilespertrigger", 0) or 0)
        self._max_bytes = int(options.get("maxbytespertrigger", 0) or 0)
        if self._max_files < 0 or self._max_bytes < 0:
            raise ValueError(
                "maxFilesPerTrigger/maxBytesPerTrigger must be positive"
            )
        self._base: Optional[dict] = None
        self._snap0_sizes: Optional[list] = None
        self._commit_adds: dict = {}  # version -> (change files, bytes)
        head = self._table.version()
        self._schema_epoch = -1 if head is None else head
        self._schema_fp: Optional[tuple] = None  # lazy baseline
        # schemaTrackingLocation (r14): epoch/fingerprint come from the
        # tracking log instead, enabling restarts ACROSS schema changes
        _apply_tracked_schema(self, options)
        self._starting, self._snapshot_start = _starting_position(
            self._table, options
        )

    def initialOffset(self) -> dict:
        if self._snapshot_start:
            self._base = {"version": self._starting - 1, "snapshot": True,
                          "index": 0}
        else:
            self._base = {"version": self._starting - 1}
        return dict(self._base)

    def _snapshot_sizes(self, version: int) -> list:
        if self._snap0_sizes is None:
            self._snap0_sizes = [
                f.size or 0
                for f in sorted(
                    self._table.snapshot(version).files,
                    key=lambda f: f.path,
                )
            ]
        return self._snap0_sizes

    def _commit_add_stats(self, v: int) -> tuple:
        """(files, bytes) a commit contributes to the FEED: its cdc
        files when present (authoritative), else the derived change
        carriers — dataChange adds plus removed files (each derived
        delete re-reads the removed file)."""
        if v not in self._commit_adds:
            cdc_n = cdc_b = n = b = 0
            for a in self._table._commit_lines(v):
                if "cdc" in a:
                    cdc_n += 1
                    cdc_b += int(a["cdc"].get("size") or 0)
                elif "add" in a and a["add"].get("dataChange", True):
                    n += 1
                    b += int(a["add"].get("size") or 0)
                elif "remove" in a and a["remove"].get("dataChange", True):
                    n += 1
                    b += int(a["remove"].get("size") or 0)
            self._commit_adds[v] = (cdc_n, cdc_b) if cdc_n else (n, b)
        return self._commit_adds[v]

    def latestOffset(self) -> dict:
        return _capped_latest_offset(self)

    def _dv(self, dv) -> tuple | None:
        """``dv_descriptor`` partition field for a raw action DV map —
        the descriptor rides the partition; positions decode on the
        executor (never driver-side)."""
        d = _norm_dv(dv)
        return (self._table.path, d) if d is not None else None

    def partitions(self, start: dict, end: dict):
        t = self._table
        if end["version"] < 0:
            return []
        snap = t.snapshot(max(end["version"], 0))
        types = {f.name: f.dataType.typeName() for f in snap.schema.fields}
        mapping = None
        if snap.column_mapping:
            mapping = {
                fld.name: (fld.metadata or {}).get(
                    "delta.columnMapping.physicalName", fld.name
                )
                for fld in snap.schema.fields
            }

        def _pvals(raw) -> dict:
            pv = _as_map(raw)  # checkpoint adds carry MAPs as tuple lists
            return _typed_partition_values(
                {c: pv.get(c) for c in snap.partition_columns}, types
            )

        parts: list = []
        first_needed = start["version"] + 1
        if start.get("snapshot") and start["version"] >= 0:
            snap0 = t.snapshot(start["version"])
            ts0 = snap0.timestamp
            types0 = {f.name: f.dataType.typeName() for f in snap0.schema.fields}
            # rate-limited streams serve the snapshot in file-index
            # chunks (path-sorted for determinism, like the plain
            # stream); an uncapped offset carries no index and the
            # defaults span every file
            files0 = sorted(snap0.files, key=lambda f: f.path)
            i = start.get("index", 0)
            j = (
                end.get("index", len(files0))
                if end.get("snapshot")
                else len(files0)
            )
            for f in files0[i:j]:
                parts.append(_FilePartition(
                    os.path.join(t.path, f.path),
                    {
                        **_typed_partition_values(
                            {c: f.partition_values.get(c)
                             for c in snap0.partition_columns}, types0
                        ),
                        "_change_type": "insert",
                        "_commit_version": start["version"],
                        "_commit_timestamp": ts0,
                    },
                    dv_descriptor=self._dv(f.dv),
                    mapping=mapping,
                ))
        self._base = dict(end)
        if end.get("snapshot"):
            return parts  # snapshot chunk only; commits come later
        if first_needed <= end["version"]:
            retained = t._versions()
            if not retained or first_needed < retained[0]:
                raise DeltaProtocolError(
                    f"commits {first_needed}..{end['version']} of {t.path} "
                    "are no longer retained; omit startingVersion to start "
                    "from the current snapshot"
                )
        state = (
            t._collect_state(start["version"])[0]
            if first_needed > 0 and first_needed <= end["version"]
            else {}
        )
        for v in range(first_needed, end["version"] + 1):
            ts = t._commit_timestamp(v)
            stamp = {"_commit_version": v, "_commit_timestamp": ts}
            cdc_entries, adds, removes, ordered = [], [], [], []
            for action in t._commit_lines(v):
                if "cdc" in action:
                    cdc_entries.append(action["cdc"])
                elif "add" in action:
                    adds.append(action["add"])
                    ordered.append(("add", action["add"]))
                elif "remove" in action:
                    removes.append(action["remove"])
                    ordered.append(("remove", action["remove"]))
                elif "metaData" in action:
                    _check_schema_epoch(self, action, v)
            data_adds = [a for a in adds if a.get("dataChange", True)]
            data_removes = [r for r in removes if r.get("dataChange", True)]
            if cdc_entries:
                for e in cdc_entries:
                    parts.append(_FilePartition(
                        os.path.join(t.path, _decode_path(e["path"])),
                        {**_pvals(e.get("partitionValues")), **stamp},
                        mapping=mapping,
                    ))
            else:
                removed_paths = {_decode_path(r["path"]) for r in data_removes}
                for a in data_adds:
                    p = _decode_path(a["path"])
                    prior = state.get(p)
                    if prior is None:
                        parts.append(_FilePartition(
                            os.path.join(t.path, p),
                            {**_pvals(a.get("partitionValues")),
                             "_change_type": "insert", **stamp},
                            dv_descriptor=self._dv(a.get("deletionVector")),
                            mapping=mapping,
                        ))
                        continue
                    # DV supersession: deletes are new−old positions,
                    # RESTORE re-inserts are old−new — both diffs are
                    # computed EXECUTOR-side from the two descriptors
                    # (kept_dv_diff); the driver only compares the O(1)
                    # descriptors for identity
                    new_d = _norm_dv(a.get("deletionVector"))
                    old_d = _norm_dv(prior.get("deletionVector"))
                    if new_d is not None and new_d != old_d:
                        parts.append(_FilePartition(
                            os.path.join(t.path, p),
                            {**_pvals(prior.get("partitionValues")),
                             "_change_type": "delete", **stamp},
                            kept_dv_diff=(t.path, new_d, old_d),
                            mapping=mapping,
                        ))
                    if old_d is not None and old_d != new_d:
                        # a RESTORE may have uncovered previously-deleted
                        # rows (empty diff -> zero-row batch, harmless)
                        parts.append(_FilePartition(
                            os.path.join(t.path, p),
                            {**_pvals(a.get("partitionValues")),
                             "_change_type": "insert", **stamp},
                            kept_dv_diff=(t.path, old_d, new_d),
                            mapping=mapping,
                        ))
                    removed_paths.discard(p)
                    continue
                for p in sorted(removed_paths):
                    prior = state.get(p)
                    if prior is None:
                        continue  # tombstone for an already-absent path
                    parts.append(_FilePartition(
                        os.path.join(t.path, p),
                        {**_pvals(prior.get("partitionValues")),
                         "_change_type": "delete", **stamp},
                        dv_descriptor=self._dv(prior.get("deletionVector")),
                        mapping=mapping,
                    ))
            # advance IN ACTION ORDER: remove+add of the same path (DV
            # supersession) must leave the add standing
            for kind, act in ordered:
                if kind == "add":
                    state[_decode_path(act["path"])] = act
                else:
                    state.pop(_decode_path(act["path"]), None)
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _arrow_batches(partition, self._schema)

    def commit(self, end: dict) -> None:
        # offsets live in the stream checkpoint (the log is immutable);
        # the remembered offset is the rate limit's cap base
        self._base = dict(end)


class DeltaLogCdfBatchReader(DataSourceReader):
    """Batch CHANGE DATA FEED (delta-spark's
    ``read.option("readChangeFeed", "true")`` with ``startingVersion`` /
    ``endingVersion``): every change row in the version range, planned
    by the SAME per-commit kernel the CDF stream uses (cdc actions
    authoritative, derived adds/DV-growth/removes otherwise). Previously
    this option silently fell through to the snapshot reader and failed
    with a bare schema-mismatch error."""

    def __init__(self, path: str, schema: T.StructType, options: dict):
        self._table = DeltaLogTable(None, path)
        versions = self._table._versions()
        head = self._table.version()
        if head is None:
            raise FileNotFoundError(f"no Delta log at {path}")
        sv = options.get("startingversion")
        ev = options.get("endingversion")
        sts = options.get("startingtimestamp")
        ets = options.get("endingtimestamp")
        if (sv is not None and sts is not None) or (
            ev is not None and ets is not None
        ):
            raise ValueError(
                "pass version OR timestamp bounds for the change feed, "
                "not both"
            )
        if sts is not None:
            ts = _parse_start_ts(sts)
            sv = next(
                (v for v in versions if self._table._commit_timestamp(v) >= ts),
                head + 1,
            )
        if ets is not None:
            ts = _parse_start_ts(ets)
            before = [
                v for v in versions if self._table._commit_timestamp(v) <= ts
            ]
            ev = before[-1] if before else -1
        self._start = int(sv) if sv is not None else (
            versions[0] if versions else 0
        )
        self._end = int(ev) if ev is not None else head
        if self._start < 0 or self._end > head or self._start > self._end:
            raise ValueError(
                f"change range [{self._start}, {self._end}] outside table "
                f"versions [0, {head}]"
            )
        self._schema = schema
        self._inner = DeltaLogCDFStreamReader(
            path, schema, {"startingversion": str(self._start)}
        )

    def partitions(self):
        return self._inner.partitions(
            {"version": self._start - 1}, {"version": self._end}
        )

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _arrow_batches(partition, self._schema)


class DeltaLogDataSource(DataSource):
    """``spark.dataSource.register(DeltaLogDataSource)`` then
    ``.format("deltalog")``. Options: ``versionAsOf`` / ``timestampAsOf``
    (batch), ``startingVersion`` / ``ignoreDeletes`` / ``ignoreChanges``
    / ``skipChangeCommits`` / ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` (streaming; the rate limits chunk the initial
    snapshot by file index and admit whole commits per batch, on the
    plain AND change-feed streams) / ``excludeRegex`` (plain-stream
    file exclusion) / ``withEventTimeOrder`` + ``eventTimeOrderColumn``
    (event-time-ordered initial snapshot) / ``schemaTrackingLocation``
    (streaming schema evolution, r14)."""

    @classmethod
    def name(cls) -> str:
        return "deltalog"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("deltalog source needs a path: .load(<table dir>)")
        return path

    def schema(self) -> T.StructType:
        t = DeltaLogTable(None, self._path())
        if self.options.get("schematrackinglocation"):
            # streaming schema tracking: the query's schema is the
            # LOG's latest entry (the evolved schema after a recorded
            # change), not the table head's
            _log, entry = _schema_tracking(dict(self.options), t)
            base = T.StructType.fromJson(json.loads(entry["schema_json"]))
            if str(self.options.get("readchangefeed", "")).lower() == "true":
                return T.StructType([
                    *base.fields,
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                    T.StructField("_commit_timestamp", T.DoubleType()),
                ])
            return base
        v = self.options.get("versionasof")
        ts = self.options.get("timestampasof")
        base = t.snapshot(
            int(v) if v is not None else None,
            timestamp=float(ts) if ts is not None else None,
        ).schema
        if str(self.options.get("readchangefeed", "")).lower() == "true":
            return T.StructType([
                *base.fields,
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.DoubleType()),
            ])
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
            return DeltaLogCdfBatchReader(
                self._path(), schema, dict(self.options)
            )
        session = SparkSession.getActiveSession()
        enabled = (
            session is not None
            and session.conf.get(
                "spark.sql.python.filterPushdown.enabled", "false"
            ).lower()
            == "true"
        )
        cls = DeltaLogBatchReader if enabled else DeltaLogPlainBatchReader
        return cls(self._path(), dict(self.options))

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        if str(self.options.get("readchangefeed", "")).lower() == "true":
            return DeltaLogCDFStreamReader(
                self._path(), schema, dict(self.options)
            )
        return DeltaLogStreamReader(self._path(), schema, dict(self.options))
