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
(tools/ladder.py dv_read_source measures this). Partition values
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

Shares the snaplog source's kernel (io/sourcecore.py): the executor
read (arrow-batched column-pruned reads, NULL-fill for additive
evolution, positional DV masks, constant partition columns), the
rate-limited admission, the schema-change check and the schema
tracking bootstrap — one stream contract to keep correct.
"""

from __future__ import annotations

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
    _raw_protocol_meta,
)
from dc43_spark.io.sourcecore import (
    CommitStreamReader,
    FilePartition,
    arrow_batches,
    change_bounds,
    filters_to_tuples,
    normalized_schema_json,
    option_flag,
    pushdown_enabled,
    refuse_batch_schema_tracking,
    starting_version,
    with_cdc_fields,
)
from dc43_spark.io.tablecore import file_may_match, normalize_filters


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
    ever expanded executor-side inside ``arrow_batches``."""
    if not dv or not dv.get("pathOrInlineDv"):
        return None
    return {
        "storageType": dv.get("storageType", "u"),
        "pathOrInlineDv": dv["pathOrInlineDv"],
        "offset": dv.get("offset") or 0,
        "sizeInBytes": dv.get("sizeInBytes"),
        "cardinality": dv.get("cardinality"),
    }


def _dv_field(table: DeltaLogTable, dv) -> tuple | None:
    """``dv_descriptor`` partition field for a raw action DV map — the
    descriptor rides the partition; positions decode on the executor
    (never driver-side, a MOR-heavy table can carry 100M+ deleted
    positions)."""
    d = _norm_dv(dv)
    return (table.path, d) if d is not None else None


def _physical_mapping(snap) -> dict | None:
    """logical -> physical column names when column mapping is active."""
    if snap is None or not snap.column_mapping:
        return None
    return {
        fld.name: (fld.metadata or {}).get(
            "delta.columnMapping.physicalName", fld.name
        )
        for fld in snap.schema.fields
    }


def _column_types(snap) -> dict:
    return {f.name: f.dataType.typeName() for f in snap.schema.fields}


def _file_partition(table: DeltaLogTable, snap, f, types: dict) -> FilePartition:
    """One live Delta file -> the shared executor partition shape:
    typed partition constants, the file's DV *descriptor* and the
    logical->physical mapping when column mapping is active."""
    extra = _typed_partition_values(
        {c: f.partition_values.get(c) for c in snap.partition_columns}, types
    ) or None
    return FilePartition(
        os.path.join(table.path, f.path),
        extra,
        dv_descriptor=_dv_field(table, f.dv),
        mapping=_physical_mapping(snap),
    )


def change_partitions(
    table: DeltaLogTable, first: int, last: int, *, snap=None,
    commit_actions=None,
) -> list:
    """The change feed of commits ``first..last`` as executor partitions:
    the ONE encoding of the protocol's per-commit CDF rules, which
    ``table_changes`` (compiled by ``sourcecore.changes_frame``), the
    batch ``readChangeFeed`` reader and the change-feed stream share.

    - ``cdc`` actions are AUTHORITATIVE: their files carry
      ``_change_type`` (incl. update pre/post images); the commit's
      add/remove actions are storage bookkeeping.
    - Otherwise an add of a NEW path derives inserts under its own DV; a
      re-add whose DV changed derives deletes for the newly-deleted
      positions (new−old) and inserts for the positions a RESTORE
      uncovered (old−new), both ``kept_dv_diff`` masks decoded on the
      executor; a full-file remove derives deletes of the file's rows
      under its PRIOR DV. Two adds of one path in a commit (legal under
      last-wins reconciliation) count once, the last.

    Constants are typed under ``snap`` (default: the snapshot at
    ``last``); raw actions key partition values by PHYSICAL names on
    mapped tables, so they map back to logical names first.
    ``commit_actions(v)`` reads a commit (the stream hooks its
    schema-change check in). Driver cost: one state reconstruction at
    ``first - 1`` plus an O(actions) replay of the range."""
    if last < first:
        return []
    snap = table.snapshot(last) if snap is None else snap
    commit_actions = commit_actions or table._commit_lines
    types = _column_types(snap)
    mapping = _physical_mapping(snap)
    logical = {p: c for c, p in (mapping or {}).items()}

    def _part(rel: str, raw_pv, stamp: dict, change=None, **mask):
        pv = {logical.get(k, k): x for k, x in _as_map(raw_pv).items()}
        extra = {
            **_typed_partition_values(
                {c: pv.get(c) for c in snap.partition_columns}, types
            ),
            **stamp,
        }
        if change is not None:
            extra["_change_type"] = change
        return FilePartition(
            os.path.join(table.path, rel), extra, mapping=mapping, **mask
        )

    # running raw-add state, advanced commit by commit
    state = table._collect_state(first - 1)[0] if first > 0 else {}
    parts: list = []
    for v in range(first, last + 1):
        stamp = {
            "_commit_version": v,
            "_commit_timestamp": table._commit_timestamp(v),
        }
        cdc_entries, ordered = [], []
        for action in commit_actions(v):
            if "cdc" in action:
                cdc_entries.append(action["cdc"])
            elif "add" in action or "remove" in action:
                kind = "add" if "add" in action else "remove"
                act = action[kind]
                ordered.append((kind, _decode_path(act["path"]), act))
        if cdc_entries:
            for e in cdc_entries:
                parts.append(_part(
                    _decode_path(e["path"]), e.get("partitionValues"), stamp
                ))
        else:
            changed = [
                (kind, p, act) for kind, p, act in ordered
                if act.get("dataChange", True)
            ]
            data_adds = {p: a for kind, p, a in changed if kind == "add"}
            removed = {p for kind, p, _r in changed if kind == "remove"}
            for p, a in data_adds.items():
                prior = state.get(p)
                if prior is None:
                    parts.append(_part(
                        p, a.get("partitionValues"), stamp, "insert",
                        dv_descriptor=_dv_field(table, a.get("deletionVector")),
                    ))
                    continue
                # DV supersession: the driver compares only the O(1)
                # descriptors; both diffs decode on the executor
                new_d = _norm_dv(a.get("deletionVector"))
                old_d = _norm_dv(prior.get("deletionVector"))
                if new_d is not None and new_d != old_d:
                    parts.append(_part(
                        p, prior.get("partitionValues"), stamp, "delete",
                        kept_dv_diff=(table.path, new_d, old_d),
                    ))
                if old_d is not None and old_d != new_d:
                    # a RESTORE may have uncovered previously-deleted
                    # rows (an empty diff reads zero rows, harmless)
                    parts.append(_part(
                        p, a.get("partitionValues"), stamp, "insert",
                        kept_dv_diff=(table.path, old_d, new_d),
                    ))
                removed.discard(p)
            for p in sorted(removed):
                prior = state.get(p)
                if prior is None:
                    continue  # tombstone for an already-absent path
                parts.append(_part(
                    p, prior.get("partitionValues"), stamp, "delete",
                    dv_descriptor=_dv_field(table, prior.get("deletionVector")),
                ))
        # advance IN ACTION ORDER: remove+add of the same path (DV
        # supersession) must leave the add standing
        for kind, p, act in ordered:
            if kind == "add":
                state[p] = act
            else:
                state.pop(p, None)
    return parts


def _starting_position(table: DeltaLogTable, options: dict) -> tuple:
    """``(starting_version, snapshot_start)`` — delta-spark's stream
    start: ``startingVersion`` / ``startingTimestamp`` position the
    first batch; without either, serve the CURRENT snapshot first."""
    start = starting_version(table, options, table._commit_timestamp)
    if start is not None:
        return start, False
    head = table.version()
    if head is None:
        return 0, False  # empty dir: nothing to snapshot yet
    return head + 1, True


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
        types = _column_types(snap)
        files = list(snap.files)
        if self._pushed:
            groups = normalize_filters(self._pushed[0])
            files = [f for f in files if file_may_match(f, groups)]
        return [_file_partition(self._table, snap, f, types) for f in files]

    def read(self, partition: FilePartition) -> Iterator:
        yield from arrow_batches(partition, self._snap.schema)


class DeltaLogBatchReader(DeltaLogPlainBatchReader):
    """Pushdown variant: stats/partition pruning via pushed filters."""

    def pushFilters(self, filters):
        supported = filters_to_tuples(filters)
        if supported:
            self._pushed = [supported]  # one AND-group
        return iter(filters)  # Spark re-applies everything: row-exact


def _meta_fingerprint(meta: dict) -> tuple:
    """Normalized (schemaString, partitionColumns) for schema-change
    detection — config-only metaData commits (property toggles, feature
    enables) share the fingerprint and never trip the check."""
    return (
        normalized_schema_json(meta.get("schemaString")),
        tuple(meta.get("partitionColumns") or ()),
    )


class _DeltaStreamReader(CommitStreamReader):
    """What the plain and change-feed Delta streams share: delta-spark's
    start (see ``_starting_position``), the owed snapshot's admission
    order and sizes, the retained-history check and the metaData
    fingerprint (schema tracking validates ownership by table path plus
    ``metaData.id``)."""

    FORMAT = "Delta"
    TRACKING_VERSION_KEY = "delta_commit_version"
    # plain-stream options (excludeRegex, withEventTimeOrder); the
    # change-feed stream refuses them and keeps these defaults
    _exclude: re.Pattern | None = None
    _etime_order = False
    _etime_col: str | None = None

    def __init__(self, path: str, schema: T.StructType, options: dict):
        table = DeltaLogTable(None, path)
        super().__init__(table, schema, options)
        self._snap0_sizes: list | None = None  # admission-ordered bytes
        self._starting, self._snapshot_start = _starting_position(
            table, options
        )

    @staticmethod
    def _schema_at(table: DeltaLogTable, v: int) -> tuple:
        _p, meta = _raw_protocol_meta(table, v)
        return _meta_fingerprint(meta), meta.get("id")

    @staticmethod
    def _tracking_fields(fp: tuple, table_id) -> dict:
        return {
            "schema_json": fp[0],
            "partition_columns": list(fp[1]),
            "table_id": table_id,
        }

    def _order_marker(self) -> str | None:
        return f"etime:{self._etime_col}" if self._etime_order else None

    def initialOffset(self) -> dict:
        self._base = {"version": self._starting - 1}
        if self._snapshot_start:
            # "snapshot at version N still owed": the first planned batch
            # serves snapshot(N)'s files plus any commits N+1..end; once
            # the batch commits, the stored offset is a plain version and
            # the stream is purely incremental. The admission-order
            # marker rides the offset so a restart that flips
            # withEventTimeOrder mid-snapshot refuses instead of
            # misaligning file-index chunks (delta-spark's rule)
            self._base.update(snapshot=True, index=0)
            if self._etime_order:
                self._base["order"] = self._order_marker()
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

    def _snapshot_chunk(self, start: dict, end: dict) -> tuple:
        """``(snapshot, files)`` of the owed initial snapshot this batch
        serves: under the rate limits the offsets carry a FILE INDEX
        into the admission-ordered live list and each batch serves one
        ``[i, j)`` chunk; without them i=0 and j=every file."""
        marker = self._order_marker()
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
        files0 = self._ordered_snapshot_files(snap0)
        i = start.get("index", 0)
        j = end.get("index", len(files0)) if end.get("snapshot") else len(files0)
        return snap0, files0[i:j]

    def _require_retained(self, first: int, last: int) -> None:
        if first > last:
            return
        retained = self._table._versions()
        if not retained or first < retained[0]:
            raise DeltaProtocolError(
                f"commits {first}..{last} of {self._table.path} are no "
                "longer retained (earliest JSON commit: "
                f"{retained[0] if retained else 'none'}); omit "
                "startingVersion to initialize from the current snapshot "
                "instead of replaying cleaned-up history"
            )

    def _commit_actions(self, v: int) -> list:
        """Commit ``v``'s actions, after the schema-change check on its
        metaData action."""
        actions = self._table._commit_lines(v)
        for action in actions:
            if "metaData" in action:
                meta = action["metaData"]
                self._check_schema(v, _meta_fingerprint(meta), meta.get("id"))
        return actions


class DeltaLogStreamReader(_DeltaStreamReader):
    """Commit-offset incremental reads of a Delta log (the source half
    of Delta's streaming contract). Under ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` the owed initial snapshot is served in
    file-index chunks (offsets carry ``{"snapshot": true, "index": k}``
    — at 100 TB the first batch would otherwise be millions of files)
    before whole commits are admitted."""

    def __init__(self, path: str, schema: T.StructType, options: dict):
        self._change_options(options, ignore_deletes=True)
        # withEventTimeOrder (best-effort variant of delta-spark's
        # option): admit the initial snapshot in EVENT-TIME order (file
        # min-stats of the named column) so a rate-limited backfill's
        # watermark sees oldest events first. delta-spark reads the
        # watermark column from the query plan; the Python DataSource
        # API cannot (SPARK plan state is invisible here), so the column
        # must be NAMED explicitly — refusing beats silently ignoring
        self._etime_order = option_flag(options, "witheventtimeorder")
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
        super().__init__(path, schema, options)

    def _commit_add_stats(self, v: int) -> tuple:
        n = b = 0
        for a in self._table._commit_lines(v):
            if "add" in a and a["add"].get("dataChange", True):
                if self._exclude is not None and self._exclude.search(
                    _decode_path(a["add"]["path"])
                ):
                    continue  # excluded files charge no budget either
                n += 1
                b += int(a["add"].get("size") or 0)
        return n, b

    def partitions(self, start: dict, end: dict):
        snap = self._table.snapshot(end["version"]) if end[
            "version"
        ] >= 0 else None
        types = _column_types(snap) if snap is not None else {}
        mapping = _physical_mapping(snap)
        parts: list = []
        if start.get("snapshot") and start["version"] >= 0:
            # owed initial batch: the snapshot's live files (each under
            # its own DV mask / typed partition constants), exactly what
            # delta-spark's isStartingVersion start serves
            snap0, files0 = self._snapshot_chunk(start, end)
            types0 = _column_types(snap0)
            for f in files0:
                parts.append(_file_partition(self._table, snap0, f, types0))
        self._base = dict(end)
        if end.get("snapshot"):
            return parts  # snapshot chunk only; commits come later
        self._require_retained(start["version"] + 1, end["version"])
        for v in range(start["version"] + 1, end["version"] + 1):
            adds, removes = [], []
            for action in self._commit_actions(v):
                if "add" in action:
                    adds.append(action["add"])
                elif "remove" in action:
                    removes.append(action["remove"])
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
                raw_pv = {
                    c: (a.get("partitionValues") or {}).get(c)
                    for c in (snap.partition_columns if snap else ())
                }
                parts.append(
                    FilePartition(
                        os.path.join(self._table.path, f_path),
                        _typed_partition_values(raw_pv, types) or None,
                        dv_descriptor=_dv_field(
                            self._table, a.get("deletionVector")
                        ),
                        mapping=mapping,
                    )
                )
        return parts


class DeltaLogCDFStreamReader(_DeltaStreamReader):
    """Streaming CHANGE DATA FEED over a real Delta log (delta-spark's
    ``readChangeFeed`` stream) — row-level changes instead of raw rows,
    with ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``.

    Commits plan through ``change_partitions``, the per-commit rules
    ``table_changes`` and the batch reader share. Without
    ``startingVersion`` the first batch is the current snapshot's live
    rows as inserts (delta-spark's CDF stream start).

    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` rate-limit the feed
    exactly like the plain stream (delta-spark applies its rate limits
    to CDF streams too): the owed initial snapshot chunks by file index
    (path order), then WHOLE commits admit per batch — a commit's change
    rows are never split (its cdc files / derived add+remove files
    count against the budget, at-least-one floor)."""

    def __init__(self, path: str, schema: T.StructType, options: dict):
        if option_flag(options, "witheventtimeorder"):
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
        super().__init__(path, schema, options)

    def _commit_add_stats(self, v: int) -> tuple:
        """(files, bytes) a commit contributes to the FEED: its cdc
        files when present (authoritative), else the derived change
        carriers — dataChange adds plus removed files (each derived
        delete re-reads the removed file)."""
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
        return (cdc_n, cdc_b) if cdc_n else (n, b)

    def partitions(self, start: dict, end: dict):
        t = self._table
        if end["version"] < 0:
            return []
        snap = t.snapshot(end["version"])
        parts: list = []
        if start.get("snapshot") and start["version"] >= 0:
            # owed initial batch: the snapshot's live rows as inserts
            snap0, files0 = self._snapshot_chunk(start, end)
            types0 = _column_types(snap0)
            for f in files0:
                part = _file_partition(t, snap0, f, types0)
                part.extra = {
                    **(part.extra or {}),
                    "_change_type": "insert",
                    "_commit_version": start["version"],
                    "_commit_timestamp": snap0.timestamp,
                }
                parts.append(part)
        self._base = dict(end)
        if end.get("snapshot"):
            return parts  # snapshot chunk only; commits come later
        self._require_retained(start["version"] + 1, end["version"])
        return parts + change_partitions(
            t, start["version"] + 1, end["version"], snap=snap,
            commit_actions=self._commit_actions,
        )


class DeltaLogCdfBatchReader(DataSourceReader):
    """Batch CHANGE DATA FEED (delta-spark's
    ``read.option("readChangeFeed", "true")`` with ``startingVersion`` /
    ``endingVersion`` or ``startingTimestamp`` / ``endingTimestamp``):
    every change row in the range, planned by ``change_partitions``."""

    def __init__(self, path: str, schema: T.StructType, options: dict):
        self._table = DeltaLogTable(None, path)
        self._start, self._end = change_bounds(
            self._table, options, self._table._commit_timestamp
        )
        self._schema = schema

    def partitions(self):
        return change_partitions(self._table, self._start, self._end)

    def read(self, partition: FilePartition) -> Iterator:
        yield from arrow_batches(partition, self._schema)


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
        # under schemaTrackingLocation the query's schema is the LOG's
        # latest entry (the evolved schema after a recorded change)
        base = _DeltaStreamReader.tracked_schema(dict(self.options), t)
        if base is None:
            v = self.options.get("versionasof")
            ts = self.options.get("timestampasof")
            base = t.snapshot(
                int(v) if v is not None else None,
                timestamp=float(ts) if ts is not None else None,
            ).schema
        return with_cdc_fields(base, self.options)

    def reader(self, schema: T.StructType) -> DataSourceReader:
        refuse_batch_schema_tracking(self.options)
        if option_flag(self.options, "readchangefeed"):
            return DeltaLogCdfBatchReader(
                self._path(), schema, dict(self.options)
            )
        cls = DeltaLogBatchReader if pushdown_enabled() else DeltaLogPlainBatchReader
        return cls(self._path(), dict(self.options))

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        if option_flag(self.options, "readchangefeed"):
            return DeltaLogCDFStreamReader(
                self._path(), schema, dict(self.options)
            )
        return DeltaLogStreamReader(self._path(), schema, dict(self.options))
