"""Snaplog: a minimal snapshot-log table format over parquet.

The reference executes MERGE and time-travel through Delta Lake
(dc43-integrations spark/io/merge.py:43-127, locators.py:490-509); this
container has no delta-spark and an offline package index, so the r1-r6
fallback was a whole-target outer-join rewrite — semantically complete
but the one remaining scale-killer shape in the repo (a 1-row upsert
rewrote 100 TB). Snaplog replaces it with the same transactional core
those formats share, reduced to what a single filesystem needs:

Layout::

    <table>/
      _snaplog/
        00000000000000000000.json                commit 0 (add/remove actions)
        00000000000000000001.json                commit 1
        00000000000000000010.checkpoint.parquet  full live-file listing
                                                 (columnar; legacy .json
                                                 checkpoints stay readable)
      data/part-...-<uuid>.parquet            immutable data files

Every commit is a JSON manifest of ``add`` (new file entries with row
counts and per-column min/max/null-count footer stats) and ``remove``
(logically deleted file names) actions. Data files are immutable and
invisible until their commit lands, so readers never observe partial
writes and historic snapshots stay readable until ``vacuum``.

**Commit protocol (optimistic concurrency).** The manifest is written to
a temp file in the log directory, then ``os.link()``-ed to
``_snaplog/<version>.json``. ``link`` is atomic and fails with
``FileExistsError`` when another writer claimed the version, so two
concurrent committers can never both win. The loser's fate depends on
the operation: blind appends retry against the new snapshot (they
conflict with nothing); merge / overwrite / compact raise
``SnapshotConflictError`` because their read snapshot is stale —
write-serializable, the same conflict class Delta raises for
concurrent table rewrites.

**Snapshot reconstruction.** A full live-file checkpoint is written
every ``checkpoint_interval`` commits; ``snapshot(v)`` loads the newest
checkpoint <= v and replays only the commits after it, so reads are
O(files + interval) no matter how long the table's history grows.
Checkpoints are COLUMNAR parquet (Delta's move, for Delta's reason) and
snapshots are LAZY: stats pruning runs vectorized over the arrow
columns and per-file Python objects are built only for files that
survive — a selective read on a 100k-file table plans in ~44 ms where
the eager JSON form took ~1.4 s (measured: tools/ladder.py
metadata, SCALE.md).

**Copy-on-write MERGE.** Two-level file pruning picks the rewrite set:
(1) driver-side min/max stats intersection against the source key range
(zero data read — footer stats came free at commit time), then (2) an
exact, fully distributed semi-join of the surviving files' rows against
the source keys via the ``_metadata.file_path`` hidden column. Only
files that actually contain matched keys are rewritten; untouched files
carry over by reference. A 1-row upsert into a key-clustered 100 TB
table reads and rewrites one file. The only driver materialisations are
the distinct matched-file list (bounded by file count) and the footer
stats of newly added files.

**Data skipping + row-level ops.** ``read(filters=...)`` takes
pyarrow-style DNF predicates (``[("c", ">=", 10), ...]`` = AND;
list-of-lists = OR of ANDs), prunes the snapshot's file list against
the footer min/max/null stats driver-side (zero data IO), and applies
the same predicate as a residual Spark filter for row exactness —
pruning can only skip files that provably contain no match, never
change results. ``delete(filters)`` and ``update(filters, set=...)``
reuse MERGE's two-level pruning (stats intersection, then an exact
``_metadata.file_path`` scan) so a selective delete/update on a
clustered 100 TB table rewrites only the files that actually hold
matching rows.

**Change data feed.** With ``change_feed=True``, merge/delete/update
write their row-level changes (Delta CDF vocabulary: insert /
update_preimage / update_postimage / delete) to ``_change_data/``
inside the same commit; appends/overwrites need no extra storage —
their changes derive from the add/remove file actions. Compaction
commits carry ``data_change=false`` and the feed skips them.
``table_changes(from, to)`` reads a version range;
``changes_since(offset)`` is the incremental-consumer loop (apply the
frame, persist the returned head as the next offset) — downstream
pipelines reprocess only changed rows instead of re-reading 100 TB.

100 TB notes: commit manifests are O(files changed), not O(table);
checkpoints bound log replay; ``compact`` and ``vacuum`` keep file
counts and dead storage bounded; all heavy work (pruning semi-join,
merge join, rewrites) is declarative DataFrame code under AQE. Mutual
exclusion is behind the ``CommitClaimer`` protocol: the default
``LinkCommitClaimer`` uses POSIX/HDFS atomic ``os.link``; an object
store plugs in its conditional put (S3 If-None-Match, GCS
x-goog-if-generation-match:0, ADLS If-None-Match:*) without touching
the table logic.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from . import bloom as _bloom
from dc43_spark.io.mergecore import (
    MergePlan,
    SourceCheck,
    any_clause_ok,
    change_rows,
    initial_write,
    materialized_source,
    merged_rows,
    source_key_stats,
    tagged_join,
)
from dc43_spark.io.sourcecore import changes_frame
from dc43_spark.io.tablecore import (  # noqa: F401 (HttpCommitClaimer: re-export)
    CommitClaimer,
    Done,
    FileEntry,
    HttpCommitClaimer,
    LinkCommitClaimer,
    commit_loop,
    commit_name,
    cond_may_match,
    file_may_match,
    filters_to_column,
    json_safe,
    normalize_filters,
    stage_concurrently,
    stage_parquet,
    vectorized_cond,
)
from dc43_spark.localdf import local_df

LOG_DIR = "_snaplog"
DATA_DIR = "data"
CDC_DIR = "_change_data"
DV_DIR = "_deletes"
BLOOM_DIR = "_index/bloom"
CHANGE_TYPE_COL = "_change_type"
_VERSION_WIDTH = 20


class SnapshotConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's read snapshot."""


class ConstraintViolationError(ValueError):
    """Incoming rows violate the table's CHECK constraints. Carries the
    per-constraint violation counts in ``.counts``."""

    def __init__(self, message: str, counts: dict):
        super().__init__(message)
        self.counts = dict(counts)


class _FileBlock:
    """Columnar live-file listing backing a checkpoint-based snapshot.

    The driver-side scale problem with eager snapshots is not parse
    speed but PYTHON OBJECT COUNT: 100k files x ~5 stat columns is
    ~500k dicts + 100k dataclasses (~1.5 s) before a single filter is
    evaluated. This block keeps the checkpoint columnar (arrow-backed,
    columns converted lazily on first touch) and materializes a
    ``FileEntry`` ONLY for files that survive pruning — a selective
    read converts the path column plus the filtered columns' stats and
    builds entries for the handful of matching files, never the table.
    """

    def __init__(self, cols: dict, stat_names: Sequence[str], json_stats: Sequence[str] = (), tbl=None):
        self._cols = dict(cols)  # name -> python list (lazy-filled from tbl)
        self._tbl = tbl  # pyarrow.Table or None (fully materialized)
        self.stat_names = list(stat_names)
        self._json_stats = set(json_stats)  # stat cols stored JSON-encoded

    def __len__(self) -> int:
        if self._tbl is not None:
            return self._tbl.num_rows
        return len(self._cols["path"])

    def col(self, name: str) -> list:
        got = self._cols.get(name)
        if got is None:
            got = self._tbl.column(name).to_pylist()
            if name.startswith("s_") and name.split("_", 2)[2] in self._json_stats:
                got = [None if v is None else json.loads(v) for v in got]
            self._cols[name] = got
        return got

    def stat(self, col: str):
        """(mins, maxs, nulls) lists for ``col``, or None if the table
        never recorded stats for it. ``mins[i] is None`` = no stats for
        that file on that column."""
        if col not in self.stat_names:
            return None
        return (self.col(f"s_min_{col}"), self.col(f"s_max_{col}"), self.col(f"s_nulls_{col}"))

    def cell(self, name: str, i: int):
        """One value WITHOUT converting the whole column (arrow scalar
        access) — materializing a handful of pruned survivors must not
        cost O(files)."""
        got = self._cols.get(name)
        if got is not None:
            return got[i]
        if self._tbl is None or name not in self._tbl.column_names:
            return None
        v = self._tbl.column(name)[i].as_py()
        if (
            v is not None
            and name.startswith("s_")
            and name.split("_", 2)[2] in self._json_stats
        ):
            v = json.loads(v)
        return v

    def entry(self, i: int) -> FileEntry:
        st = {}
        for c in self.stat_names:
            mn = self.cell(f"s_min_{c}", i)
            if mn is not None:
                st[c] = {
                    "min": mn,
                    "max": self.cell(f"s_max_{c}", i),
                    "nulls": self.cell(f"s_nulls_{c}", i) or 0,
                }
        raw = self.cell("partition", i)
        part = (raw if isinstance(raw, dict) else json.loads(raw)) if raw else {}
        return FileEntry(
            self.cell("path", i), self.cell("rows", i), self.cell("bytes", i), st, part
        )

    def entries(self, indices: Sequence[int]) -> list:
        """Materialize many entries: bulk-convert the columns first when
        the selection is a large fraction of the block (amortized lists
        beat per-scalar arrow access), per-cell otherwise."""
        if self._tbl is not None and len(indices) >= max(1024, len(self) // 8):
            for name in self._tbl.column_names:
                if not name.startswith("__arrow_"):
                    self.col(name)
        return [self.entry(i) for i in indices]

    def may_match(self, i: int, groups: list) -> bool:
        """DNF stats test for file ``i`` without building its entry."""
        for g in groups:
            ok = True
            for col, op, val in g:
                tri = self.stat(col)
                if tri is None or tri[0][i] is None:
                    continue  # no stats -> cannot exclude on this condition
                if not cond_may_match({"min": tri[0][i], "max": tri[1][i]}, op, val):
                    ok = False
                    break
            if ok:
                return True
        return False

    def _stat_arrow(self, col: str):
        """(mins, maxs, nulls) as arrow arrays for vectorized pruning,
        or None when the column can't vectorize (JSON-mixed types)."""
        if col not in self.stat_names or col in self._json_stats:
            return None
        key = f"__arrow_{col}"
        got = self._cols.get(key)
        if got is None:
            import pyarrow as pa

            if self._tbl is not None:
                got = tuple(
                    self._tbl.column(f"s_{p}_{col}").combine_chunks()
                    for p in ("min", "max", "nulls")
                )
            else:
                try:
                    got = tuple(
                        pa.array(self.col(f"s_{p}_{col}"))
                        for p in ("min", "max", "nulls")
                    )
                except (pa.ArrowInvalid, pa.ArrowTypeError):
                    got = False  # mixed python types -> scalar path
            self._cols[key] = got
        return got or None

    def prune_mask(self, groups: list):
        """Vectorized DNF stats mask over ALL block rows (True = the
        file may match) via pyarrow.compute — C++ speed instead of a
        100k-iteration Python loop. Returns None when any condition
        can't vectorize (type mismatch, mixed-type stats); the caller
        then falls back to the exact per-file loop."""
        import pyarrow as pa
        import pyarrow.compute as pc

        try:
            group_masks = []
            for g in groups:
                m = None
                for col, op, val in g:
                    arrs = self._stat_arrow(col)
                    if arrs is None:
                        continue  # column can't exclude anything
                    c = vectorized_cond(arrs, op, val)
                    if c is None:
                        continue
                    # null stats cell = unknown = cannot exclude
                    c = pc.fill_null(c, True)
                    m = c if m is None else pc.and_(m, c)
                if m is None:
                    return None  # a group keeps everything -> no pruning
                group_masks.append(m)
            mask = group_masks[0]
            for m in group_masks[1:]:
                mask = pc.or_(mask, m)
            return mask
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError, TypeError):
            return None

    def range_mask(self, keys: Sequence[str], key_ranges: dict):
        """Vectorized merge-key range intersection (see range_match)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        try:
            keep = None
            for k in keys:
                rng = key_ranges.get(k)
                arrs = self._stat_arrow(k)
                if rng is None or arrs is None:
                    continue
                lo, hi, src_has_null = rng
                if lo is None or hi is None:
                    continue
                mins, maxs, nulls = arrs
                excl = pc.fill_null(
                    pc.or_(pc.less(maxs, lo), pc.greater(mins, hi)), False
                )
                if src_has_null:
                    # files holding target NULLs can match a source NULL
                    # key anywhere — never excluded on this key
                    nz = pc.fill_null(nulls, 0)
                    excl = pc.and_(excl, pc.equal(nz, 0))
                k_keep = pc.invert(excl)
                keep = k_keep if keep is None else pc.and_(keep, k_keep)
            return keep  # None = nothing prunable -> keep all
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError, TypeError):
            return False  # signal: fall back to the scalar loop

    def range_match(self, i: int, keys: Sequence[str], key_ranges: dict) -> bool:
        """Merge-key [lo, hi] intersection test (_prune_entries_by_stats)."""
        for k in keys:
            rng = key_ranges.get(k)
            tri = self.stat(k)
            if rng is None or tri is None or tri[0][i] is None:
                continue
            lo, hi, src_has_null = rng
            if src_has_null and (tri[2][i] or 0) > 0:
                continue
            if lo is None or hi is None:
                continue
            try:
                if tri[1][i] < lo or tri[0][i] > hi:
                    return False
            except TypeError:
                continue
        return True

    def prune_indices(self, indices: Sequence[int], groups: list) -> list:
        mask = self.prune_mask(groups)
        if mask is None:
            return [i for i in indices if self.may_match(i, groups)]
        m = mask.to_pylist()
        return [i for i in indices if m[i]]

    def range_indices(
        self, indices: Sequence[int], keys: Sequence[str], key_ranges: dict
    ) -> list:
        mask = self.range_mask(keys, key_ranges)
        if mask is None:
            return list(indices)
        if mask is False:
            return [i for i in indices if self.range_match(i, keys, key_ranges)]
        m = mask.to_pylist()
        return [i for i in indices if m[i]]

    @classmethod
    def from_entries(cls, entries: Sequence[FileEntry]) -> "_FileBlock":
        stat_names = sorted({c for e in entries for c in e.stats})
        cols = {
            "path": [e.path for e in entries],
            "rows": [e.rows for e in entries],
            "bytes": [e.bytes for e in entries],
            "partition": [e.partition or None for e in entries],
        }
        for c in stat_names:
            cols[f"s_min_{c}"] = [e.stats.get(c, {}).get("min") for e in entries]
            cols[f"s_max_{c}"] = [e.stats.get(c, {}).get("max") for e in entries]
            cols[f"s_nulls_{c}"] = [e.stats.get(c, {}).get("nulls") for e in entries]
        return cls(cols, stat_names)


@dataclass(frozen=True)
class Snapshot:
    """Live state of the table at one version.

    Stored as a lazily-materialized delta over the nearest checkpoint:
    ``base`` (columnar checkpoint listing), ``removed`` (base paths the
    tail commits dropped) and ``added`` (tail-commit file entries).
    ``.files`` materializes the full sorted tuple on first access and
    caches it; the pruning entry points (``prune`` / ``prune_ranges`` /
    ``file_paths`` / ``rows`` / ``num_files``) answer WITHOUT building
    per-file Python objects for anything pruning rejects, which is what
    keeps a selective read on a 100k-file table sub-second driver-side.
    """

    version: int
    timestamp: float
    schema_json: Optional[str]
    # active deletion-vector files (merge-on-read deletes): (file rel
    # path, rows). Empty unless delete(strategy="merge_on_read") ran
    # since the last materialize.
    dvs: tuple[FileEntry, ...] = ()
    # hive-style partition columns this snapshot's files are laid out by
    # (Delta's partitionBy): () = unpartitioned. Scans of a partitioned
    # snapshot reconstruct the columns from the directory structure.
    partition_by: tuple = ()
    base: Optional[_FileBlock] = None
    removed: frozenset = frozenset()
    added: tuple[FileEntry, ...] = ()
    # bloom sidecar rel paths visible at this version (checkpoint's
    # consolidated sidecar + tail commits'), newest last. Empty unless
    # the table configured bloom_columns.
    bloom: tuple = ()
    # CHECK constraints active at this version: name -> SQL boolean
    # expression (Delta's CHECK constraint semantics: a row violates
    # only when the expression is strictly FALSE; NULL passes). The
    # full map rides in each constraint-changing commit, so time travel
    # sees the constraint set AS OF that version.
    constraints: dict = field(default_factory=dict)
    # column mapping (Delta's columnMapping mode=name): logical column
    # name -> PHYSICAL name as stored in the parquet files. Only
    # non-identity entries are recorded; an empty map means logical ==
    # physical everywhere (every table until its first RENAME COLUMN).
    # Physical names are frozen at first write and never change, so
    # every file of every version stays readable under any mapping.
    column_mapping: dict = field(default_factory=dict)
    # physical names retired by DROP COLUMN: old files still hold their
    # data, so re-adding a column under a retired name is refused — it
    # would resurrect the dropped values in pre-drop files.
    retired: tuple = ()
    # named refs (Iceberg's tags): tag name -> pinned version. The full
    # map rides in each ref-changing commit (like constraints), so refs
    # are versioned, conflict-checked, and time travel sees the ref set
    # AS OF any version. vacuum retains every head-tagged version.
    refs: dict = field(default_factory=dict)
    # generated columns (Delta's GENERATED ALWAYS AS): column -> SQL
    # expression. Writes compute the column when absent and VALIDATE it
    # when provided (one aggregate pass, null-safe equality); the full
    # map rides in metadata commits like constraints, so time travel and
    # restore see the generation rules as of any version.
    generated: dict = field(default_factory=dict)

    def physical(self, name: str) -> str:
        """Physical (in-file) column name for a logical name."""
        return self.column_mapping.get(name, name)

    @functools.cached_property
    def _live_idx(self) -> list:
        """Base indices still live after the tail delta (adds override
        same-path base entries; UUID part names make that near-impossible
        in practice, but the replay semantics require it)."""
        if self.base is None:
            return []
        skip = self.removed | {e.path for e in self.added}
        if not skip:
            return range(len(self.base))
        return [i for i, p in enumerate(self.base.col("path")) if p not in skip]

    @functools.cached_property
    def files(self) -> tuple[FileEntry, ...]:
        entries = self.base.entries(self._live_idx) if self.base else []
        entries.extend(self.added)
        return tuple(sorted(entries, key=lambda f: f.path))

    @property
    def num_files(self) -> int:
        if "files" in self.__dict__:
            return len(self.files)
        return len(self._live_idx) + len(self.added)

    def file_paths(self) -> list:
        """Live relative paths without materializing entries."""
        if "files" in self.__dict__:
            return [f.path for f in self.files]
        out = [self.base.col("path")[i] for i in self._live_idx] if self.base else []
        out.extend(e.path for e in self.added)
        return out

    def prune(self, groups: list) -> list:
        """Live files that MAY match the DNF filter ``groups`` —
        vectorized (arrow compute) over the checkpoint base, per-entry
        over the small tail; only survivors materialize."""
        out = (
            self.base.entries(self.base.prune_indices(self._live_idx, groups))
            if self.base
            else []
        )
        out.extend(e for e in self.added if file_may_match(e, groups))
        out.sort(key=lambda f: f.path)
        return out

    def prune_ranges(self, keys: Sequence[str], key_ranges: dict) -> list:
        """Live files whose stats envelope intersects the merge-key
        ranges (level-1 merge pruning) — same lazy shape as ``prune``."""
        out = (
            self.base.entries(
                self.base.range_indices(self._live_idx, keys, key_ranges)
            )
            if self.base
            else []
        )
        out.extend(_prune_entries_by_stats(self.added, keys, key_ranges))
        out.sort(key=lambda f: f.path)
        return out

    @property
    def rows(self) -> int:
        # NOTE: overstates by the deletion-vector'd rows while dvs exist
        if "files" in self.__dict__ or self.base is None:
            return sum(f.rows for f in self.files)
        rows = self.base.col("rows")
        return sum(rows[i] for i in self._live_idx) + sum(e.rows for e in self.added)


@dataclass
class CommitInfo:
    version: int
    timestamp: float
    operation: str
    added: int
    removed: int


@dataclass
class MergeStats:
    """COW accounting — the proof the merge did NOT rewrite the world."""

    files_total: int
    candidates_after_stats: int
    files_rewritten: int
    files_added: int
    strategy: str = "copy-on-write"


def _typed_partition_value(raw: Optional[str], dtype):
    """Directory-name string -> python value of the column's Spark type
    (the same JSON-scalar family json_safe produces for footer stats);
    None (the NULL partition) stays None."""
    import datetime

    if raw is None or dtype is None:
        return raw
    s = dtype.simpleString()
    try:
        if s in ("bigint", "int", "smallint", "tinyint"):
            return int(raw)
        if s in ("double", "float"):
            return float(raw)
        if s == "boolean":
            return raw.lower() == "true"
        if s == "date":
            return datetime.date.fromisoformat(raw).isoformat()
        return raw
    except ValueError:
        return raw


def _partition_stats(partition: dict, rows: int) -> dict:
    """Exact min==max stats envelopes from partition values — every row
    of the file carries the value, so pruning on them is EXACT for every
    filter op (incl. != / not in, where a real range could not prune)."""
    out = {}
    for col, v in partition.items():
        if v is None:
            continue  # all-NULL partition: no envelope; files stay candidates
        out[col] = {"min": v, "max": v, "nulls": 0}
    return out


# ---------------- hidden partitioning (Iceberg's partition transforms)

_XFORM_RE = re.compile(r"^\s*(years|months|days|hours)\s*\(\s*([A-Za-z_]\w*)\s*\)\s*$")
_BUCKET_RE = re.compile(r"^\s*bucket\s*\(\s*(\d+)\s*,\s*([A-Za-z_]\w*)\s*\)\s*$")
_TRUNC_RE = re.compile(r"^\s*truncate\s*\(\s*(\d+)\s*,\s*([A-Za-z_]\w*)\s*\)\s*$")
_EPOCH = None  # datetime.date(1970, 1, 1), built lazily


@dataclass(frozen=True)
class PartitionField:
    """One entry of a partition spec: a plain column (``kind='identity'``)
    or an Iceberg-style transform (``years/months/days/hours(col)``,
    ``bucket(N, col)``, ``truncate(W, col)``). Transform entries derive a
    HIDDEN partition column named ``name`` from ``source``; queries keep
    filtering on the SOURCE column and pruning translates automatically
    (Iceberg's hidden-partitioning contract, the fix for Hive's
    'forgot the partition predicate = full scan' failure mode)."""

    spec: str
    name: str
    source: str
    kind: str
    arg: Optional[int] = None

    @property
    def hidden(self) -> bool:
        return self.kind != "identity"

    @property
    def monotonic(self) -> bool:
        """Order-preserving transform: a range on the source maps to a
        range on the partition value (bucket is the only non-monotone)."""
        return self.kind in ("years", "months", "days", "hours", "truncate")


def parse_partition_spec(spec_strings: Sequence[str]) -> list[PartitionField]:
    out = []
    for s in spec_strings:
        m = _XFORM_RE.match(s)
        if m:
            kind, src = m.group(1), m.group(2)
            out.append(PartitionField(s, f"_pt_{kind}_{src}", src, kind))
            continue
        m = _BUCKET_RE.match(s)
        if m:
            n, src = int(m.group(1)), m.group(2)
            if n <= 0:
                raise ValueError(f"bucket count must be positive in {s!r}")
            out.append(PartitionField(s, f"_pt_bucket{n}_{src}", src, "bucket", n))
            continue
        m = _TRUNC_RE.match(s)
        if m:
            w, src = int(m.group(1)), m.group(2)
            if w <= 0:
                raise ValueError(f"truncate width must be positive in {s!r}")
            out.append(PartitionField(s, f"_pt_trunc{w}_{src}", src, "truncate", w))
            continue
        if not re.fullmatch(r"[A-Za-z_]\w*", s.strip()):
            raise ValueError(
                f"unsupported partition spec {s!r}: use a column name or "
                "years/months/days/hours(col), bucket(n, col), truncate(w, col)"
            )
        s = s.strip()
        out.append(PartitionField(s, s, s, "identity"))
    return out


def partition_sources(spec_strings: Sequence[str]) -> set:
    """Every column a partition spec depends on (identity + transform
    sources) — the set rename/drop must refuse."""
    return {f.source for f in parse_partition_spec(spec_strings)}


def _transform_column(f: PartitionField, src_type: str):
    """The Spark expression deriving ``f``'s hidden partition value.
    Epoch-anchored ints for time transforms (Iceberg's encoding), all in
    the session's calendar frame — the SAME frame filter literals are
    interpreted in, so driver-side translation agrees by construction."""
    c = F.col(f.source)
    if f.kind == "years":
        return F.year(c) - 1970
    if f.kind == "months":
        return (F.year(c) - 1970) * 12 + F.month(c) - 1
    if f.kind == "days":
        return F.datediff(c.cast("date"), F.lit("1970-01-01"))
    if f.kind == "hours":
        return (
            F.datediff(c.cast("date"), F.lit("1970-01-01")) * 24 + F.hour(c)
        )
    if f.kind == "bucket":
        canon = c.cast("long") if src_type in _bloom.INTEGRAL_TYPES else c
        return F.pmod(F.xxhash64(canon), F.lit(f.arg))
    if f.kind == "truncate":
        if src_type == "string":
            return F.substring(c, 1, f.arg)
        return (c - F.pmod(c, F.lit(f.arg))).cast(src_type)
    raise AssertionError(f.kind)


def _as_datetime(val):
    import datetime

    if isinstance(val, datetime.datetime):
        return val
    if isinstance(val, datetime.date):
        return datetime.datetime(val.year, val.month, val.day)
    if isinstance(val, str):
        try:
            return datetime.datetime.fromisoformat(val)
        except ValueError:
            return None
    return None


def transform_literal(f: PartitionField, val):
    """Driver-side twin of ``_transform_column`` for ONE filter literal;
    None = not translatable (the filter simply doesn't prune on this
    hidden column — conservative)."""
    if val is None:
        return None
    if f.kind in ("years", "months", "days", "hours"):
        dt = _as_datetime(val)
        if dt is None:
            return None
        if f.kind == "years":
            return dt.year - 1970
        if f.kind == "months":
            return (dt.year - 1970) * 12 + dt.month - 1
        import datetime

        days = (dt.date() - datetime.date(1970, 1, 1)).days
        return days if f.kind == "days" else days * 24 + dt.hour
    if f.kind == "bucket":
        if isinstance(val, bool):
            return None
        if isinstance(val, int):
            if not (-(1 << 63) <= val < (1 << 63)):
                return None
            h = _bloom.xxh64_long(val)
        elif isinstance(val, str):
            h = _bloom.xxh64(val.encode("utf-8"))
        else:
            return None
        signed = ((h + (1 << 63)) & ((1 << 64) - 1)) - (1 << 63)
        return signed % f.arg  # == Spark's pmod for positive modulus
    if f.kind == "truncate":
        if isinstance(val, bool):
            return None
        if isinstance(val, int):
            return val - (val % f.arg)
        if isinstance(val, str):
            return val[: f.arg]
        return None
    return None


def augment_groups_for_partitions(groups: list, spec_strings: Sequence[str]) -> list:
    """Add derivable hidden-partition conditions to a DNF filter: a
    predicate on the SOURCE column implies one on the transform value
    (equality for any transform; ranges for monotonic ones, widened to
    inclusive bounds). Purely additive — every original condition stays,
    so results remain row-exact and a failed translation just skips."""
    fields = [f for f in parse_partition_spec(spec_strings) if f.hidden]
    if not fields or not groups:
        return groups
    by_src: dict = {}
    for f in fields:
        by_src.setdefault(f.source, []).append(f)
    out = []
    for g in groups:
        g2 = list(g)
        for col, op, val in g:
            for f in by_src.get(col, ()):
                if op in ("=", "=="):
                    t = transform_literal(f, val)
                    if t is not None:
                        g2.append((f.name, "=", t))
                elif op == "in":
                    ts = [transform_literal(f, v) for v in val]
                    if ts and all(t is not None for t in ts):
                        g2.append((f.name, "in", ts))
                elif f.monotonic and op in ("<", "<="):
                    t = transform_literal(f, val)
                    if t is not None:
                        g2.append((f.name, "<=", t))  # floor: inclusive
                elif f.monotonic and op in (">", ">="):
                    t = transform_literal(f, val)
                    if t is not None:
                        g2.append((f.name, ">=", t))
        out.append(g2)
    return out


_INT_CHAIN = ("tinyint", "smallint", "int", "bigint")
_DECIMAL_RE = re.compile(r"decimal\((\d+),(\d+)\)")


def _widened(old: str, new: str) -> Optional[str]:
    """The wider of two primitive types under the LOSSLESS widening
    chains (Delta's type widening: byte->short->int->long,
    byte/short/int/float->double, decimal precision growth at equal
    scale) — or None when neither losslessly widens the other. Spark 4's
    parquet reader upcasts narrower files under the wider read schema,
    so evolving the SNAPSHOT schema is sufficient; no file rewrites."""
    if old == new:
        return old
    if old in _INT_CHAIN and new in _INT_CHAIN:
        return new if _INT_CHAIN.index(new) > _INT_CHAIN.index(old) else old
    pair = {old, new}
    if "double" in pair:
        other = (pair - {"double"}).pop()
        return "double" if other in ("float", "tinyint", "smallint", "int") else None
    mo, mn = _DECIMAL_RE.fullmatch(old), _DECIMAL_RE.fullmatch(new)
    if mo and mn and mo.group(2) == mn.group(2):
        return old if int(mo.group(1)) >= int(mn.group(1)) else new
    return None


def _widen_conflicts(old: dict, new: dict) -> tuple[dict, list]:
    """Shared columns whose simpleString types differ -> ({col: wider
    simpleString} for losslessly widenable ones, [hard conflicts])."""
    widen: dict = {}
    hard: list = []
    for n in sorted(old.keys() & new.keys()):
        if old[n] == new[n]:
            continue
        w = _widened(old[n], new[n])
        if w is None:
            hard.append(n)
        else:
            widen[n] = w
    return widen, hard


def _checkpoint_name(version: int, fmt: str = "json") -> str:
    return f"{version:0{_VERSION_WIDTH}d}.checkpoint.{fmt}"


# ---------------- merge key-range file pruning

def _prune_entries_by_stats(
    files: Sequence[FileEntry], keys: Sequence[str], key_ranges: dict
) -> list[FileEntry]:
    """Keep files whose [min,max] intersects the source key range on
    EVERY key column; files without stats stay candidates. A source
    NULL key matches target NULLs ANYWHERE (the merge join is
    null-safe), so when the source carries one, files with a nonzero
    null count survive regardless of their envelope."""
    out = []
    for f in files:
        keep = True
        for k in keys:
            rng = key_ranges.get(k)
            st = f.stats.get(k)
            if rng is None or st is None:
                continue  # no information -> can't prune
            lo, hi, src_has_null = rng
            if src_has_null and st.get("nulls", 0) > 0:
                continue  # a NULL-NULL match is possible in this file
            if lo is None or hi is None:
                continue
            try:
                if st["max"] < lo or st["min"] > hi:
                    keep = False
                    break
            except TypeError:  # incomparable types -> keep
                continue
        if keep:
            out.append(f)
    return out


@dataclass
class RewriteStats:
    """File-granular accounting for DELETE/UPDATE — the proof the op did
    NOT rewrite the world (MergeStats' row-level sibling)."""

    files_total: int
    candidates_after_stats: int
    files_rewritten: int
    files_added: int
    rows_before: int
    rows_after: int


@dataclass(frozen=True)
class ReadInfo:
    """What a pinned-snapshot operation READ, for logical conflict
    detection at commit time (Delta's OptimisticTransaction model: a
    conflict is a semantic overlap with an intermediate commit, not
    merely a moved head). ``paths`` is the stats-candidate file set the
    op scanned — sound as a read set because stats pruning only drops
    files PROVABLY free of matching rows. Exactly one of
    ``key_ranges`` (merge: {key: (lo, hi, has_null)}) / ``groups``
    (delete/update: DNF filter) describes the read predicate used to
    test concurrently-ADDED files; both None with ``reads_rest=True``
    means the op read the whole table (every add conflicts).
    ``reads_rest=False`` marks pure layout ops (compact, materialize)
    whose result is unaffected by files they did not touch.

    ``isolation`` mirrors Delta's two levels: under the default
    ``write_serializable``, a concurrent BLIND APPEND never conflicts
    (the relaxation Delta ships as its default — writes stay
    serializable, snapshot reads may observe the append's rows even
    though the pinned op did not); ``serializable`` also conflicts on
    blind appends whose file stats may satisfy the read predicate."""

    paths: frozenset
    key_ranges: Optional[tuple] = None  # (keys, {k: (lo, hi, has_null)})
    groups: Optional[list] = None  # DNF [(col, op, val), ...] groups
    reads_rest: bool = True
    isolation: str = "write_serializable"


#: operations whose commits never read the table (their adds are
#: source-only data). Everything else's adds are derived from a
#: table read and conflict with overlapping readers at BOTH levels.
_BLIND_OPS = ("append",)


def _check_isolation(isolation: str) -> str:
    if isolation not in ("write_serializable", "serializable"):
        raise ValueError(
            "isolation must be write_serializable|serializable, "
            f"got {isolation!r}"
        )
    return isolation


class SnaplogTable:
    """Handle on one snaplog table directory (create lazily on first write)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        checkpoint_interval: int = 10,
        checkpoint_format: str = "parquet",
        claimer: Optional[CommitClaimer] = None,
        change_feed: bool = False,
        bloom_columns: Optional[Sequence[str]] = None,
        bloom_bits_per_key: int = 10,
        optimize_write: bool = False,
        auto_compact: bool = False,
        auto_compact_min_files: int = 16,
        auto_compact_target_mb: int = 128,
    ) -> None:
        self.spark = spark
        self.path = os.path.abspath(path.rstrip("/"))
        self.checkpoint_interval = checkpoint_interval
        if checkpoint_format not in ("parquet", "json"):
            raise ValueError(
                f"checkpoint_format must be parquet|json, got {checkpoint_format!r}"
            )
        self.checkpoint_format = checkpoint_format
        self.claimer = claimer or LinkCommitClaimer()
        # Delta-parity default OFF (delta.enableChangeDataFeed): when on,
        # merge/delete/update additionally write their row-level changes
        # to _change_data/ — one extra bounded write per row-level commit.
        # The flag PERSISTS as a table property on this handle's first
        # commit, so independently-constructed handles (e.g. the governed
        # merge path) keep writing CDC instead of silently punching holes
        # in the feed.
        self._change_feed_opt = change_feed
        # Bloom data skipping (Delta's bloom filter index analogue, see
        # io/bloom.py): configured ONCE, persisted as a table property so
        # every later handle keeps the index complete; tables without it
        # pay zero build or probe cost.
        self._bloom_columns_opt = tuple(bloom_columns or ())
        self.bloom_bits_per_key = bloom_bits_per_key
        self._bloom_sidecars: dict[str, _bloom.BloomSidecar] = {}
        # Delta's delta.autoOptimize.{optimizeWrite,autoCompact} twins —
        # the small-file fixes for high-frequency ingest. Both persist as
        # table properties so every later handle keeps the layout policy.
        self._optimize_write_opt = optimize_write
        self._auto_compact_opt = auto_compact
        self._auto_compact_min_files = auto_compact_min_files
        self._auto_compact_target_mb = auto_compact_target_mb

    # ---------------- layout helpers

    @property
    def log_dir(self) -> str:
        return os.path.join(self.path, LOG_DIR)

    @property
    def cdc_dir(self) -> str:
        return os.path.join(self.path, CDC_DIR)

    @property
    def dv_dir(self) -> str:
        return os.path.join(self.path, DV_DIR)

    @property
    def _properties_file(self) -> str:
        # name is non-numeric, so _versions() never mistakes it for a commit
        return os.path.join(self.log_dir, "properties.json")

    def _stored_properties(self) -> dict:
        """Persisted table properties, mtime-cached per handle: the
        feed/bloom/optimize flags are consulted several times per write,
        and on an object store every uncached read is a GET. Another
        handle's property write bumps the mtime and invalidates."""
        try:
            mtime = os.path.getmtime(self._properties_file)
        except OSError:
            self._props_cache = None
            return {}
        cached = getattr(self, "_props_cache", None)
        if cached is not None and cached[0] == mtime:
            return cached[1]
        try:
            with open(self._properties_file) as fh:
                props = json.load(fh)
        except (OSError, ValueError):
            return {}
        self._props_cache = (mtime, props)
        return props

    @property
    def change_feed(self) -> bool:
        """Change feed on? True when THIS handle enabled it or any past
        handle persisted it as a table property."""
        if self._change_feed_opt:
            return True
        return bool(self._stored_properties().get("change_feed"))

    @property
    def bloom_columns(self) -> tuple:
        """Columns with per-file bloom indexes — this handle's option
        plus whatever a past handle persisted, so independently
        constructed writers keep the index complete."""
        stored = tuple(self._stored_properties().get("bloom_columns", ()))
        return self._bloom_columns_opt or stored

    @property
    def optimize_write(self) -> bool:
        """Partition-aligned shuffle before staging writes (Delta's
        optimizeWrite): an N-input-partition append to a partitioned
        table lands one file per touched partition value instead of up
        to N per value."""
        if self._optimize_write_opt:
            return True
        return bool(self._stored_properties().get("optimize_write"))

    @property
    def auto_compact(self) -> bool:
        """Best-effort bin-packing of small files in the partitions a
        write/merge just touched, as a follow-up data_change=false commit
        (Delta's autoCompact)."""
        if self._auto_compact_opt:
            return True
        return bool(self._stored_properties().get("auto_compact"))

    @property
    def auto_compact_min_files(self) -> int:
        if self._auto_compact_opt:
            return self._auto_compact_min_files
        return int(
            self._stored_properties().get(
                "auto_compact_min_files", self._auto_compact_min_files
            )
        )

    @property
    def auto_compact_target_mb(self) -> int:
        if self._auto_compact_opt:
            return self._auto_compact_target_mb
        return int(
            self._stored_properties().get(
                "auto_compact_target_mb", self._auto_compact_target_mb
            )
        )

    def _persist_properties(self) -> None:
        stored = self._stored_properties()
        want = dict(stored)
        if self._change_feed_opt:
            want["change_feed"] = True
        if self._bloom_columns_opt and not stored.get("bloom_columns"):
            want["bloom_columns"] = list(self._bloom_columns_opt)
            want["bloom_bits_per_key"] = self.bloom_bits_per_key
        if self._optimize_write_opt and not stored.get("optimize_write"):
            want["optimize_write"] = True
        if self._auto_compact_opt and not stored.get("auto_compact"):
            want["auto_compact"] = True
            want["auto_compact_min_files"] = self._auto_compact_min_files
            want["auto_compact_target_mb"] = self._auto_compact_target_mb
        if not want or want == stored:
            return
        tmp = self._properties_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(want, fh)
        os.replace(tmp, self._properties_file)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.path, DATA_DIR)

    @staticmethod
    def is_snaplog(path: Optional[str]) -> bool:
        return bool(path) and os.path.isdir(os.path.join(path, LOG_DIR))

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir) and self._versions() != []

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and not name.endswith(".checkpoint.json"):
                stem = name[: -len(".json")]
                if stem.isdigit():
                    out.append(int(stem))
        return sorted(out)

    def version(self) -> Optional[int]:
        vs = self._versions()
        return vs[-1] if vs else None

    def _read_commit(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, commit_name(version))) as fh:
            return json.load(fh)

    # ---------------- snapshots

    def _checkpoint_versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = set()
        for name in os.listdir(self.log_dir):
            for ext in (".checkpoint.json", ".checkpoint.parquet"):
                if name.endswith(ext):
                    stem = name[: -len(ext)]
                    if stem.isdigit():
                        out.add(int(stem))
        return sorted(out)

    def snapshot(
        self,
        version: Optional[int] = None,
        *,
        timestamp: Optional[float] = None,
    ) -> Snapshot:
        """Live file set at a version (default: latest) or the last commit
        at/before a unix ``timestamp``. Checkpoint + tail replay."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version or timestamp, not both")
            version = None
            for v in versions:
                if self._read_commit(v)["timestamp"] <= timestamp:
                    version = v
            if version is None:
                raise ValueError(
                    f"no commit at or before timestamp {timestamp} in {self.path}"
                )
        if version is None:
            version = versions[-1]
        if version not in versions:
            raise FileNotFoundError(
                f"version {version} not in {self.path} (have {versions[0]}..{versions[-1]})"
            )

        start = 0
        base: Optional[_FileBlock] = None
        cp_ts = 0.0
        removed: set = set()
        added: dict[str, FileEntry] = {}  # tail adds, path-unique, ordered
        dvs: list[FileEntry] = []
        schema_json: Optional[str] = None
        partition_by: tuple = ()
        bloom: list = []
        constraints: dict = {}
        column_mapping: dict = {}
        retired: tuple = ()
        refs: dict = {}
        generated: dict = {}
        cps = [c for c in self._checkpoint_versions() if c <= version]
        if cps:
            (
                base,
                dvs,
                schema_json,
                partition_by,
                cp_ts,
                bloom,
                constraints,
                column_mapping,
                retired,
                refs,
                generated,
            ) = self._load_checkpoint(cps[-1])
            bloom = list(bloom)
            constraints = dict(constraints)
            column_mapping = dict(column_mapping)
            retired = tuple(retired)
            refs = dict(refs)
            generated = dict(generated)
            start = cps[-1] + 1
        ts = 0.0
        for v in range(start, version + 1):
            commit = self._read_commit(v)
            ts = commit["timestamp"]
            for name in commit.get("remove", []):
                # a tail add being removed never reaches the snapshot; a
                # base entry is tombstoned (the base block is immutable)
                if added.pop(name, None) is None:
                    removed.add(name)
            for e in commit.get("add", []):
                added[e["path"]] = FileEntry(
                    e["path"], e["rows"], e["bytes"], e.get("stats", {}),
                    e.get("partition", {}),
                )
                removed.discard(e["path"])  # re-add of a removed path wins
            if commit.get("dv_clear"):
                dvs = []
            for e in commit.get("dv_add", []):
                dvs.append(FileEntry(e["path"], e["rows"], 0, {}))
            schema_json = commit.get("schema_json") or schema_json
            if "partition_by" in commit:
                partition_by = tuple(commit["partition_by"])
            bloom.extend(commit.get("bloom", []))
            if "constraints" in commit:  # full replacement map
                constraints = dict(commit["constraints"])
            if "column_mapping" in commit:  # full replacement map
                column_mapping = dict(commit["column_mapping"])
            if "retired" in commit:  # full replacement list
                retired = tuple(commit["retired"])
            if "refs" in commit:  # full replacement map
                refs = dict(commit["refs"])
            if "generated" in commit:  # full replacement map
                generated = dict(commit["generated"])
        if start > version and cps:  # snapshot == checkpoint version
            ts = cp_ts
        return Snapshot(
            version=version,
            timestamp=ts,
            schema_json=schema_json,
            dvs=tuple(dvs),
            partition_by=partition_by,
            base=base,
            removed=frozenset(removed),
            added=tuple(added.values()),
            bloom=tuple(bloom),
            constraints=constraints,
            column_mapping=column_mapping,
            retired=retired,
            refs=refs,
            generated=generated,
        )

    def history(self) -> list[CommitInfo]:
        out = []
        for v in self._versions():
            c = self._read_commit(v)
            out.append(
                CommitInfo(
                    version=v,
                    timestamp=c["timestamp"],
                    operation=c.get("operation", "?"),
                    added=len(c.get("add", [])),
                    removed=len(c.get("remove", [])),
                )
            )
        return out

    # ---------------- reads

    def describe_detail(self) -> dict:
        """Delta's ``DESCRIBE DETAIL``: one dict of table facts, all
        driver-side metadata (num_files/size come from the manifest
        listing, never a filesystem walk of the data)."""
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        first = self._read_commit(self._versions()[0])
        schema = self._logical_schema(snap)
        files = snap.files
        return {
            "format": "snaplog",
            "location": self.path,
            "version": current,
            "created_at": first["timestamp"],
            "last_modified": snap.timestamp,
            "num_files": len(files),
            "size_bytes": sum(f.bytes for f in files),
            "num_rows": snap.rows,
            "partition_columns": list(snap.partition_by),
            "columns": [f.name for f in schema.fields] if schema else [],
            "column_mapping": dict(snap.column_mapping),
            "retired_columns": list(snap.retired),
            "constraints": dict(snap.constraints),
            "generated_columns": dict(snap.generated),
            "tags": dict(snap.refs),
            "bloom_columns": list(self.bloom_columns),
            "change_feed": self.change_feed,
            "optimize_write": self.optimize_write,
            "auto_compact": self.auto_compact,
            "active_deletion_vectors": len(snap.dvs),
            "checkpoint_versions": self._checkpoint_versions(),
            "checkpoint_interval": self.checkpoint_interval,
        }

    # ---------------- named refs (Iceberg's tags)

    @property
    def tags(self) -> dict:
        """Active ``tag name -> version`` map at the head (empty when the
        table has none or does not exist yet)."""
        try:
            return dict(self.snapshot().refs)
        except FileNotFoundError:
            return {}

    def create_tag(
        self, name: str, version: Optional[int] = None, *, replace: bool = False
    ) -> int:
        """Pin a version under a NAME (Iceberg's tags): ``read(tag=...)``
        / ``restore(tag=...)`` resolve it, and ``vacuum`` retains every
        head-tagged version's files regardless of age — a release or an
        audit snapshot survives retention sweeps until untagged. The full
        ref map rides in a metadata-only commit (data_change=false, the
        change feed skips it), so tags are versioned, conflict-checked
        against concurrent writers, and time travel sees the ref set as
        of any version. Default ``version`` = the current head."""
        if not re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_.\-]*", name):
            raise ValueError(
                f"tag name {name!r} must be alphanumeric/._- (no leading "
                "separator)"
            )
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        versions = self._versions()
        target = current if version is None else int(version)
        if target not in versions:
            raise ValueError(
                f"cannot tag version {target} of {self.path} "
                f"(have {versions[0]}..{versions[-1]})"
            )
        snap = self.snapshot(current)
        refs = dict(snap.refs)
        if name in refs and not replace:
            raise ValueError(
                f"tag {name!r} already pins v{refs[name]} on {self.path}; "
                "pass replace=True to move it"
            )
        refs[name] = target
        return self._commit(
            "set_refs",
            expected_version=current,
            data_change=False,
            refs=refs,
            schema_json=snap.schema_json,
        )

    def delete_tag(self, name: str) -> int:
        """Remove a tag (metadata-only commit); its version's files fall
        back under normal vacuum retention."""
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        refs = dict(snap.refs)
        if name not in refs:
            raise ValueError(f"no tag {name!r} on {self.path} (have {sorted(refs)})")
        del refs[name]
        return self._commit(
            "set_refs",
            expected_version=current,
            data_change=False,
            refs=refs,
            schema_json=snap.schema_json,
        )

    def _resolve_tag(self, tag: str) -> int:
        refs = self.tags
        if tag not in refs:
            raise ValueError(f"no tag {tag!r} on {self.path} (have {sorted(refs)})")
        return refs[tag]

    # ---------------- generated columns (Delta's GENERATED ALWAYS AS)

    @property
    def generated_columns(self) -> dict:
        """Active ``column -> SQL expression`` map at the head (empty
        when the table has none or does not exist yet)."""
        try:
            return dict(self.snapshot().generated)
        except FileNotFoundError:
            return {}

    def set_generated_column(self, name: str, expr: str) -> int:
        """Declare ``name`` GENERATED ALWAYS AS ``expr`` (Delta's
        generated columns): every later write COMPUTES the column when
        the incoming DataFrame lacks it and VALIDATES it (null-safe
        equality, one aggregate pass) when provided — a writer supplying
        non-matching values fails, so the invariant holds table-wide.
        If the column already exists, current rows are validated first.
        The full map rides in a metadata-only commit (constraints
        pattern): versioned, conflict-checked, visible to time travel,
        carried by RESTORE/CLONE/publish. Combine with
        ``partition_by=[name]`` for Delta's partition-by-derived-column
        (or use hidden partitioning, which needs no schema column)."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"generated column name {name!r} must be an identifier")
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        gen = dict(snap.generated)
        if name in gen:
            raise ValueError(
                f"column {name!r} is already generated as ({gen[name]}) on "
                f"{self.path}; drop it first"
            )
        schema = self._logical_schema(snap)
        if schema is not None and name in [f.name for f in schema.fields]:
            self._validate_generated(
                self.read(version_as_of=current),
                {name: str(expr)},
                "set_generated_column",
            )
        gen[name] = str(expr)
        return self._commit(
            "set_generated",
            expected_version=current,
            data_change=False,
            generated=gen,
            schema_json=snap.schema_json,
        )

    def drop_generated_column(self, name: str) -> int:
        """Remove the generation rule (metadata-only; the column and its
        data stay — only the compute/validate behavior stops)."""
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        gen = dict(snap.generated)
        if name not in gen:
            raise ValueError(
                f"no generated column {name!r} on {self.path} (have {sorted(gen)})"
            )
        del gen[name]
        return self._commit(
            "set_generated",
            expected_version=current,
            data_change=False,
            generated=gen,
            schema_json=snap.schema_json,
        )

    def _validate_generated(self, df: DataFrame, gen: dict, operation: str) -> None:
        """ONE aggregate pass counting rows where a PROVIDED generated
        column disagrees with its expression (null-safe: NULL == NULL
        passes, NULL vs value fails — ``<=>`` semantics)."""
        checks = {n: e for n, e in gen.items() if n in df.columns}
        if not checks:
            return
        row = df.agg(
            *[
                F.sum(
                    (~F.expr(f"`{n}` <=> ({e})")).cast("long")
                ).alias(n)
                for n, e in sorted(checks.items())
            ]
        ).collect()[0]
        bad = {n: int(row[n]) for n in sorted(checks) if row[n]}
        if bad:
            detail = "; ".join(
                f"{n} != ({checks[n]}) -> {c} row(s)" for n, c in bad.items()
            )
            raise ValueError(
                f"{operation} on {self.path} violates generated column(s): {detail}"
            )

    def _apply_generated(self, df: DataFrame, gen: dict, operation: str) -> DataFrame:
        """Compute absent generated columns, validate provided ones."""
        if not gen:
            return df
        self._validate_generated(df, gen, operation)
        for n, e in sorted(gen.items()):
            if n not in df.columns:
                df = df.withColumn(n, F.expr(e))
        return df

    # ---------------- CHECK constraints (Delta's table constraints)

    @property
    def check_constraints(self) -> dict:
        """Active ``name -> SQL boolean expression`` map at the head
        (empty when the table has none or does not exist yet)."""
        try:
            return dict(self.snapshot().constraints)
        except FileNotFoundError:
            return {}

    def _enforce_constraints(self, df: DataFrame, constraints: dict, operation: str) -> None:
        """ONE aggregate pass counting rows where any constraint
        expression is strictly FALSE (SQL CHECK semantics: NULL passes).
        Partial aggregation makes this a map-side count + one tiny
        shuffle regardless of batch size. Raises with per-constraint
        counts so the writer sees every broken rule at once, not just
        the first."""
        if not constraints:
            return
        row = df.agg(
            *[
                F.sum(
                    F.when(F.expr(e) == F.lit(False), 1).otherwise(0)
                ).alias(n)
                for n, e in sorted(constraints.items())
            ]
        ).first()
        bad = {n: int(row[n]) for n in sorted(constraints) if row[n]}
        if bad:
            raise ConstraintViolationError(
                f"{operation} on {self.path} violates CHECK constraint(s): "
                + "; ".join(
                    f"{n} [{constraints[n]}] -> {c} row(s)"
                    for n, c in bad.items()
                ),
                counts=bad,
            )

    def add_check_constraint(self, name: str, expr: str) -> int:
        """Register a CHECK constraint (Delta's ``ALTER TABLE ADD
        CONSTRAINT``): every subsequent append/overwrite/merge/update
        batch must satisfy ``expr`` (a Spark SQL boolean expression;
        a row violates only when it evaluates to FALSE — NULL passes,
        use an explicit ``IS NOT NULL`` constraint for required
        columns). EXISTING rows are validated first with one scan, so a
        registered constraint is an invariant of the whole table, not
        just of future writes. The full constraint map rides in a
        metadata-only commit — versioned, conflict-checked, and visible
        to time travel (old versions keep their old constraint set)."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"constraint name {name!r} must be an identifier")
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        cons = dict(snap.constraints)
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists on {self.path} "
                f"({cons[name]}); drop it first"
            )
        self._enforce_constraints(
            self.read(version_as_of=current), {name: expr}, "add_check_constraint"
        )
        cons[name] = str(expr)
        return self._commit(
            "set_constraints",
            expected_version=current,
            data_change=False,  # no logical rows changed
            constraints=cons,
            schema_json=snap.schema_json,
        )

    def drop_check_constraint(self, name: str) -> int:
        """Remove a CHECK constraint by name (metadata-only commit)."""
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        cons = dict(snap.constraints)
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r} on {self.path} (have {sorted(cons)})"
            )
        del cons[name]
        return self._commit(
            "set_constraints",
            expected_version=current,
            data_change=False,
            constraints=cons,
            schema_json=snap.schema_json,
        )

    def apply_contract_constraints(self, contract, *, include_optional: bool = False) -> dict:
        """Register every row-level expectation of an ODCS contract as a
        CHECK constraint in ONE commit (the engine-side bridge between
        the contracts surface and the table format: after this, the
        TABLE enforces the contract on every writer, governed or not).
        Metric-only expectations (unique/query) stay with the validation
        engine — they are not row predicates. Returns the {name: expr}
        map that was added; no-ops (already-registered names with the
        same expression) are skipped, and a name collision with a
        DIFFERENT expression raises."""
        from dc43_spark.expectations.compiler import (
            expectation_specs,
            row_predicates,
        )

        preds = row_predicates(
            expectation_specs(contract), include_optional=include_optional
        )
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        cons = dict(snap.constraints)
        added: dict = {}
        for key, expr in sorted(preds.items()):
            name = re.sub(r"\W", "_", key)
            if name in cons:
                if cons[name] != expr:
                    raise ValueError(
                        f"constraint {name!r} exists with a different "
                        f"expression ({cons[name]} != {expr})"
                    )
                continue
            added[name] = expr
        if not added:
            return {}
        self._enforce_constraints(
            self.read(version_as_of=current), added, "apply_contract_constraints"
        )
        cons.update(added)
        self._commit(
            "set_constraints",
            expected_version=current,
            data_change=False,
            constraints=cons,
            schema_json=snap.schema_json,
        )
        return added

    # ---------------- column mapping (Delta's columnMapping mode=name)

    def _mapping_base(self, op: str) -> tuple[int, Snapshot, T.StructType]:
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        schema = self._logical_schema(snap)
        if schema is None:
            raise ValueError(f"{op}: table {self.path} has no recorded schema")
        return current, snap, schema

    def _refuse_referenced(self, snap: Snapshot, name: str, op: str) -> None:
        if name in partition_sources(snap.partition_by):
            raise ValueError(
                f"{op} {name!r} on {self.path}: the partition spec "
                f"{list(snap.partition_by)} depends on it; overwrite with "
                "a new partition_by instead"
            )
        if name in self.bloom_columns:
            raise ValueError(
                f"{op} {name!r} on {self.path}: the column has a bloom "
                "index keyed by this name"
            )
        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_])")
        holding = sorted(
            n for n, e in snap.constraints.items() if pat.search(e)
        )
        if holding:
            raise ValueError(
                f"{op} {name!r} on {self.path}: CHECK constraint(s) "
                f"{holding} reference it; drop them first"
            )
        gen_holding = sorted(
            n
            for n, e in snap.generated.items()
            if n == name or pat.search(e)
        )
        if gen_holding:
            raise ValueError(
                f"{op} {name!r} on {self.path}: generated column(s) "
                f"{gen_holding} depend on it; drop them first"
            )

    def rename_column(self, old: str, new: str) -> int:
        """Delta's ``ALTER TABLE RENAME COLUMN`` via column mapping: a
        metadata-only commit that binds the NEW logical name to the
        column's frozen physical (in-file) name — zero files rewritten
        at any table size. Reads alias physical -> logical at scan time;
        writes stage under physical names; stats/bloom pruning and merge
        key envelopes translate through the mapping. Time travel and
        RESTORE see each version's own names. Refused for partition and
        bloom-indexed columns and for columns referenced by CHECK
        constraints (drop those first)."""
        current, snap, schema = self._mapping_base("rename_column")
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} on {self.path} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists on {self.path}")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"new column name {new!r} must be an identifier")
        self._refuse_referenced(snap, old, "rename_column")
        phys = snap.physical(old)
        if new == phys and old != phys:
            # renaming back to the original physical name: mapping entry
            # simply disappears (logical == physical again)
            pass
        elif new in set(snap.retired) | set(snap.column_mapping.values()):
            raise ValueError(
                f"rename_column: {new!r} is a retired/occupied physical "
                f"slot on {self.path}; pick another name"
            )
        mapping = dict(snap.column_mapping)
        mapping.pop(old, None)
        if new != phys:
            mapping[new] = phys
        evolved = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        return self._commit(
            "rename_column",
            schema_json=evolved.json(),
            expected_version=current,
            data_change=False,
            column_mapping=mapping,
        )

    def drop_column(self, name: str) -> int:
        """Delta's ``ALTER TABLE DROP COLUMN`` under column mapping: a
        metadata-only commit removing the column from the logical schema
        — the physical column stays in existing files (time travel keeps
        reading it) but every scan of the live table prunes it for free
        (explicit-schema reads never touch unrequested parquet columns).
        The physical name is RETIRED: re-adding a column under it is
        refused, since by-name resolution would resurrect the dropped
        values from pre-drop files. Same referential guards as rename."""
        current, snap, schema = self._mapping_base("drop_column")
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no column {name!r} on {self.path} (have {names})")
        if len(names) == 1:
            raise ValueError(f"cannot drop the only column of {self.path}")
        self._refuse_referenced(snap, name, "drop_column")
        mapping = dict(snap.column_mapping)
        phys = snap.physical(name)
        mapping.pop(name, None)
        evolved = T.StructType([f for f in schema.fields if f.name != name])
        return self._commit(
            "drop_column",
            schema_json=evolved.json(),
            expected_version=current,
            data_change=False,
            column_mapping=mapping,
            retired=[*snap.retired, phys],
        )

    def read(
        self,
        *,
        version_as_of: Optional[int] = None,
        timestamp_as_of: Optional[float] = None,
        filters=None,
        tag: Optional[str] = None,
    ) -> DataFrame:
        """Snapshot-pinned scan: one declarative multi-path parquet read, so
        Catalyst keeps pushdown/pruning across the pinned file set.

        ``filters`` (pyarrow DNF: ``[(col, op, val), ...]`` = AND,
        list-of-lists = OR of ANDs; ops ``= == != < <= > >= in "not in"``)
        adds manifest-level DATA SKIPPING: files whose footer min/max
        envelope provably excludes the predicate never enter the scan —
        on a clustered table a selective read opens one file, not the
        table. The same predicate is re-applied as a Spark filter, so
        results are row-exact whatever the pruning caught; ``df.
        inputFiles()`` is the observable proof of the skip.

        ``tag`` pins the version a head tag names (exclusive with the
        other pins; the tag map is always read at head — tags are
        pointers, not snapshot content)."""
        if tag is not None:
            if version_as_of is not None or timestamp_as_of is not None:
                raise ValueError("pass tag OR version_as_of/timestamp_as_of")
            version_as_of = self._resolve_tag(tag)
        snap = self.snapshot(version_as_of, timestamp=timestamp_as_of)
        pred = None
        if filters is not None:
            groups = normalize_filters(filters)
            # stats and blooms are keyed by PHYSICAL names; the residual
            # predicate runs after the scan aliases back to logical
            pgroups = self._phys_groups(groups, snap)
            # hidden partitioning: filters on a transform's SOURCE column
            # gain the derived partition-value conditions (Iceberg's
            # hidden-partition pruning; partition values ride in stats)
            pgroups = augment_groups_for_partitions(pgroups, snap.partition_by)
            # lazy prune: only the filtered columns' stats are touched
            # and only surviving files materialize (see Snapshot.prune)
            files = snap.prune(pgroups)
            # bloom pass: equality probes on indexed high-cardinality
            # columns drop the stats survivors whose blooms prove the
            # key absent (no-op unless the table has bloom_columns)
            files = self._bloom_prune(files, pgroups, snap)
            pred = filters_to_column(groups)
        else:
            files = list(snap.files)
        df = self._scan(files, snap)
        return df.filter(pred) if pred is not None else df

    @staticmethod
    def _logical_schema(snap: Snapshot) -> Optional[T.StructType]:
        if not snap.schema_json:
            return None
        return T.StructType.fromJson(json.loads(snap.schema_json))

    @staticmethod
    def _physical_schema(snap: Snapshot) -> Optional[T.StructType]:
        """The snapshot schema under IN-FILE names (identity unless a
        rename happened — physical names are frozen at first write)."""
        schema = SnaplogTable._logical_schema(snap)
        if schema is None or not snap.column_mapping:
            return schema
        return T.StructType(
            [
                T.StructField(snap.physical(f.name), f.dataType, f.nullable, f.metadata)
                for f in schema.fields
            ]
        )

    @staticmethod
    def _to_physical_df(df: DataFrame, snap: Snapshot) -> DataFrame:
        """Rename logical -> physical columns before staging, so every
        file on disk speaks physical names regardless of renames."""
        if not snap.column_mapping:
            return df
        return df.select(
            *[F.col(c).alias(snap.physical(c)) for c in df.columns]
        )

    @staticmethod
    def _phys_groups(groups: list, snap: Snapshot) -> list:
        """DNF filter with logical column names -> physical (stats in
        manifests and parquet footers are keyed by physical names)."""
        if not snap.column_mapping:
            return groups
        return [
            [(snap.physical(c), op, v) for c, op, v in g] for g in groups
        ]

    def _scan(
        self, files: Sequence[FileEntry], snap: Snapshot, *, keep_meta: bool = False
    ) -> DataFrame:
        """One multi-path parquet scan pinned to ``files``, under the
        SNAPSHOT's recorded schema: no footer schema inference at
        planning (O(1) instead of O(files)), and files written before an
        additive schema evolution read their missing columns as NULL —
        by-name resolution, Delta's contract. Active deletion vectors
        (merge-on-read deletes) are subtracted by a broadcast anti-join
        on the hidden (file, row_index) identity — zero cost when none
        exist.

        Columns are read under their PHYSICAL names and aliased back to
        logical ones when the table has a column mapping (renames).
        ``keep_meta`` materialises ``_metadata`` through that projection
        so level-2 pruning can keep addressing ``_metadata.file_path``
        whether or not a mapping is active."""
        paths = [os.path.join(self.path, f.path) for f in files]
        schema = self._logical_schema(snap)
        if not paths:
            if schema is not None:
                return local_df(self.spark, [], schema)
            raise ValueError(f"empty snaplog snapshot v{snap.version} has no schema")
        df = self._raw_scan(paths, snap)
        if snap.dvs:
            df = self._subtract_dvs(df, self._read_dvs(snap.dvs))
        if snap.column_mapping and schema is not None:
            sel = [
                F.col(p.name).alias(l.name)
                for p, l in zip(self._physical_schema(snap).fields, schema.fields)
            ]
            if keep_meta:
                sel.append(F.col("_metadata"))
            df = df.select(*sel)
        return df

    # ---------------- commit machinery

    def _stage_files(
        self,
        df: DataFrame,
        *,
        dest_dir: Optional[str] = None,
        partition_by: Sequence[str] = (),
        align_partitions: bool = False,
    ) -> list[FileEntry]:
        """Write ``df`` into data/ (or ``dest_dir``, e.g. the change-data
        dir) via a staging dir; files stay invisible (no manifest
        references them) until the commit lands. With ``partition_by``
        the hive-style ``col=val/...`` layout is preserved under data/ and
        each entry records its typed partition values (folded into stats
        as exact min==max envelopes — see FileEntry).

        ``align_partitions`` (Delta's optimizeWrite): ONE hash shuffle on
        the partition values before the write, so each touched partition
        value lands in a single task and writes a single file — without
        it, an append arriving in N input partitions fans out to up to
        N files PER partition value, the classic small-file generator on
        high-frequency partitioned ingest."""
        dest_root = dest_dir or self.data_dir
        part_names: Sequence[str] = ()
        if partition_by:
            fields = parse_partition_spec(partition_by)
            types = {fld.name: fld.dataType.typeName() for fld in df.schema.fields}
            for f in fields:
                if f.hidden and f.name not in df.columns:
                    if f.source not in types:
                        raise ValueError(
                            f"partition transform {f.spec!r} references "
                            f"column {f.source!r} not in the DataFrame"
                        )
                    df = df.withColumn(
                        f.name, _transform_column(f, types[f.source])
                    )
                elif not f.hidden and f.name not in types:
                    raise ValueError(
                        f"partition column {f.name!r} not in the DataFrame"
                    )
            part_names = [f.name for f in fields]
            if align_partitions:
                df = df.repartition(*[F.col(n) for n in part_names])
        os.makedirs(dest_root, exist_ok=True)
        staged = stage_parquet(
            df, self.path, os.path.relpath(dest_root, self.path), part_names
        )
        types = {f.name: f.dataType for f in df.schema.fields}
        entries = []
        for e in staged:
            partition = {
                c: _typed_partition_value(v, types.get(c))
                for c, v in e.partition.items()
            }
            stats = {**e.stats, **_partition_stats(partition, e.rows)}
            entries.append(FileEntry(e.path, e.rows, e.bytes, stats, partition))
        return entries

    def _load_checkpoint(self, version: int):
        """-> (base _FileBlock, dvs, schema_json, partition_by, timestamp,
        bloom_files, constraints, column_mapping). Parquet preferred
        (columnar, lazily converted); legacy JSON checkpoints stay
        readable and are columnarized on load."""
        pq_path = os.path.join(self.log_dir, _checkpoint_name(version, "parquet"))
        if os.path.exists(pq_path):
            import pyarrow.parquet as pq

            tbl = pq.read_table(pq_path)
            md = {
                k.decode(): v.decode()
                for k, v in (tbl.schema.metadata or {}).items()
            }
            import pyarrow.compute as pc

            dvs = []
            is_dv = pc.equal(tbl.column("kind"), "dv")
            if pc.any(is_dv).as_py():
                dv_rows = tbl.filter(is_dv)
                dvs = [
                    FileEntry(p, r, 0, {})
                    for p, r in zip(
                        dv_rows.column("path").to_pylist(),
                        dv_rows.column("rows").to_pylist(),
                    )
                ]
                tbl = tbl.filter(pc.invert(is_dv))
            base = _FileBlock(
                {},
                json.loads(md.get("stat_cols", "[]")),
                json.loads(md.get("json_stat_cols", "[]")),
                tbl=tbl,
            )
            return (
                base,
                dvs,
                md.get("schema_json") or None,
                tuple(json.loads(md.get("partition_by", "[]"))),
                float(md.get("timestamp", "0")),
                tuple(json.loads(md.get("bloom_files", "[]"))),
                json.loads(md.get("constraints", "{}")),
                json.loads(md.get("column_mapping", "{}")),
                tuple(json.loads(md.get("retired", "[]"))),
                json.loads(md.get("refs", "{}")),
                json.loads(md.get("generated", "{}")),
            )
        with open(os.path.join(self.log_dir, _checkpoint_name(version))) as fh:
            cp = json.load(fh)
        entries = [
            FileEntry(
                e["path"], e["rows"], e["bytes"], e.get("stats", {}),
                e.get("partition", {}),
            )
            for e in cp["files"]
        ]
        return (
            _FileBlock.from_entries(entries),
            [FileEntry(e["path"], e["rows"], 0, {}) for e in cp.get("dvs", [])],
            cp.get("schema_json"),
            tuple(cp.get("partition_by", ())),
            cp.get("timestamp", 0.0),
            tuple(cp.get("bloom_files", ())),
            cp.get("constraints", {}),
            cp.get("column_mapping", {}),
            tuple(cp.get("retired", ())),
            cp.get("refs", {}),
            cp.get("generated", {}),
        )

    def _maybe_checkpoint(self, version: int) -> None:
        if version == 0 or version % self.checkpoint_interval != 0:
            return
        snap = self.snapshot(version)
        bloom_files = self._consolidate_blooms(version, snap)
        if self.checkpoint_format == "parquet":
            self._write_parquet_checkpoint(version, snap, bloom_files)
            return
        record = {
            "version": version,
            "timestamp": snap.timestamp,
            "schema_json": snap.schema_json,
            "partition_by": list(snap.partition_by),
            "files": [
                self._entry_record(f)
                for f in snap.files
            ],
            "dvs": [{"path": f.path, "rows": f.rows} for f in snap.dvs],
        }
        if bloom_files:
            record["bloom_files"] = bloom_files
        if snap.constraints:
            record["constraints"] = snap.constraints
        if snap.column_mapping:
            record["column_mapping"] = snap.column_mapping
        if snap.retired:
            record["retired"] = list(snap.retired)
        if snap.refs:
            record["refs"] = snap.refs
        if snap.generated:
            record["generated"] = snap.generated
        fd, tmp = tempfile.mkstemp(dir=self.log_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, os.path.join(self.log_dir, _checkpoint_name(version)))

    def _consolidate_blooms(self, version: int, snap: Snapshot) -> list:
        """Merge the snapshot's bloom sidecars into ONE, keeping only
        LIVE files' blooms, so the per-snapshot sidecar count is bounded
        by the checkpoint interval and probe-time index loads stay
        O(live files). Cost O(live blooms), same class as the
        checkpoint write itself. Old sidecars stay on disk for older
        snapshots until vacuum."""
        if not snap.bloom:
            return []
        live = set(snap.file_paths())
        merged: dict = {}
        for rel in snap.bloom:  # oldest first: later sidecars override
            abs_p = os.path.join(self.path, rel)
            if not os.path.exists(abs_p):
                continue
            for row in _bloom.BloomSidecar(abs_p).read_all():
                if row["path"] in live:
                    merged[(row["path"], row["col"])] = row
        if not merged:
            return []
        name = f"{BLOOM_DIR}/cp-{version:0{_VERSION_WIDTH}d}-{uuid.uuid4().hex}.parquet"
        _bloom.write_sidecar(os.path.join(self.path, name), list(merged.values()))
        return [name]

    def _write_parquet_checkpoint(
        self, version: int, snap: Snapshot, bloom_files: Sequence[str] = ()
    ) -> None:
        """Columnar checkpoint: one row per live file (+ one per active
        deletion vector), per-stat-column native min/max/nulls columns,
        table-level facts in the parquet key-value metadata. ~6x smaller
        than the JSON form and, far more importantly, loadable WITHOUT
        building per-file Python objects (see _FileBlock)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = list(snap.files)
        stat_cols = sorted({c for f in files for c in f.stats})
        cols: dict = {
            "kind": ["file"] * len(files) + ["dv"] * len(snap.dvs),
            "path": [f.path for f in files] + [d.path for d in snap.dvs],
            "rows": pa.array(
                [f.rows for f in files] + [d.rows for d in snap.dvs], pa.int64()
            ),
            "bytes": pa.array(
                [f.bytes for f in files] + [0] * len(snap.dvs), pa.int64()
            ),
            "partition": [
                json.dumps(f.partition) if f.partition else None for f in files
            ]
            + [None] * len(snap.dvs),
        }
        json_cols = []
        pad = [None] * len(snap.dvs)
        for c in stat_cols:
            triples = {
                "min": [f.stats.get(c, {}).get("min") for f in files],
                "max": [f.stats.get(c, {}).get("max") for f in files],
                "nulls": [f.stats.get(c, {}).get("nulls") for f in files],
            }
            try:
                for part in ("min", "max", "nulls"):
                    cols[f"s_{part}_{c}"] = pa.array(triples[part] + pad)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                # mixed scalar types across files (possible after type
                # widening): JSON-encode this column, decode lazily
                json_cols.append(c)
                for part in ("min", "max", "nulls"):
                    cols[f"s_{part}_{c}"] = pa.array(
                        [
                            None if v is None else json.dumps(v)
                            for v in triples[part]
                        ]
                        + pad,
                        pa.string(),
                    )
        tbl = pa.table(cols).replace_schema_metadata(
            {
                "snaplog_version": str(version),
                "timestamp": repr(snap.timestamp),
                "schema_json": snap.schema_json or "",
                "partition_by": json.dumps(list(snap.partition_by)),
                "stat_cols": json.dumps(stat_cols),
                "json_stat_cols": json.dumps(json_cols),
                "bloom_files": json.dumps(list(bloom_files)),
                "constraints": json.dumps(snap.constraints),
                "column_mapping": json.dumps(snap.column_mapping),
                "retired": json.dumps(list(snap.retired)),
                "refs": json.dumps(snap.refs),
                "generated": json.dumps(snap.generated),
            }
        )
        fd, tmp = tempfile.mkstemp(dir=self.log_dir, suffix=".tmp")
        os.close(fd)
        pq.write_table(tbl, tmp, compression="zstd")
        os.replace(tmp, os.path.join(self.log_dir, _checkpoint_name(version, "parquet")))

    @staticmethod
    def _entry_record(f: FileEntry) -> dict:
        rec = {"path": f.path, "rows": f.rows, "bytes": f.bytes, "stats": f.stats}
        if f.partition:
            rec["partition"] = f.partition
        return rec

    # ---------------- bloom data skipping (see io/bloom.py)

    @property
    def bloom_dir(self) -> str:
        return os.path.join(self.path, BLOOM_DIR)

    def _build_bloom_sidecar(self, add: Sequence[FileEntry]) -> Optional[str]:
        """One parquet sidecar holding a bloom per (new file, bloom
        column). Hashing runs JVM-side (``xxhash64`` under whole-stage
        codegen over ONLY the commit's files); Python sees int64 hash
        columns per file via Arrow and folds them into bit arrays with
        numpy — zero row-at-a-time work. Cost O(rows in ``add``)."""
        paths = [os.path.join(self.path, f.path) for f in add]
        scan = self.spark.read.parquet(*paths)
        fields = {f.name: f.dataType.typeName() for f in scan.schema.fields}
        cols: list[str] = []
        sel = [F.col("_metadata.file_path").alias("_bf_file")]
        for c in self.bloom_columns:
            t = fields.get(c)
            if t is None:
                continue  # files written before the evolution adding c
            if t in _bloom.INTEGRAL_TYPES:
                canon = F.col(c).cast("long")  # one integer canon
            elif t == "string":
                canon = F.col(c)
            else:
                raise ValueError(
                    f"bloom column {c!r} has unsupported type {t} "
                    "(integral or string only)"
                )
            i = len(cols)
            sel.append(F.xxhash64(canon).alias(f"__h1_{i}"))
            sel.append(
                F.xxhash64(canon, F.lit(1).cast("long")).alias(f"__h2_{i}")
            )
            cols.append(c)
        if not cols:
            return None
        bits_per_key = self.bloom_bits_per_key
        colnames = list(cols)

        def build(pdf):
            import pandas as pd

            from dc43_spark.io import bloom as B

            out = []
            path = pdf["_bf_file"].iloc[0]
            for i, c in enumerate(colnames):
                h1 = pdf[f"__h1_{i}"].to_numpy()
                h2 = pdf[f"__h2_{i}"].to_numpy()
                m, k = B.bloom_params(len(h1), bits_per_key)
                out.append((path, c, len(h1), m, k, B.build_bits(h1, h2, m, k)))
            return pd.DataFrame(out, columns=["path", "col", "n", "m", "k", "bits"])

        rows = (
            scan.select(*sel)
            .groupBy("_bf_file")
            .applyInPandas(
                build, "path string, col string, n long, m long, k int, bits binary"
            )
            .collect()  # bounded: (files in commit) x (bloom cols) rows
        )
        from urllib.parse import urlparse

        rel_rows = []
        for r in rows:
            p = urlparse(r["path"]).path if r["path"].startswith("file:") else r["path"]
            rel_rows.append(
                {
                    "path": os.path.relpath(p, self.path),
                    "col": r["col"],
                    "n": r["n"],
                    "m": r["m"],
                    "k": r["k"],
                    "bits": bytes(r["bits"]),
                }
            )
        name = f"{BLOOM_DIR}/{uuid.uuid4().hex}.parquet"
        _bloom.write_sidecar(os.path.join(self.path, name), rel_rows)
        return name

    def _bloom_lookup(self, snap: Snapshot):
        """(path, col) -> (m, k, bits) | None over the snapshot's
        sidecars, newest first, lazily opened and cached per handle."""
        readers = []
        for rel in reversed(snap.bloom):
            rd = self._bloom_sidecars.get(rel)
            if rd is None:
                abs_p = os.path.join(self.path, rel)
                if not os.path.exists(abs_p):
                    continue  # vacuumed under an old snapshot
                rd = self._bloom_sidecars.setdefault(rel, _bloom.BloomSidecar(abs_p))
            readers.append(rd)

        def lookup(path: str, col: str):
            for rd in readers:
                hit = rd.get(path, col)
                if hit is not None:
                    return hit
            return None

        return lookup

    def _bloom_prune(
        self, files: list, groups: list, snap: Snapshot
    ) -> list:
        """Drop stats-surviving files whose blooms prove the equality
        probes absent. Runs AFTER min/max pruning, so cost is O(stats
        survivors) — and only when the filter has =/in conditions."""
        if not snap.bloom or not files or not _bloom.bloomable_conditions(groups):
            return files
        lookup = self._bloom_lookup(snap)
        return [
            f for f in files if _bloom.group_may_match(lookup, groups, f.path)
        ]

    def _commit(
        self,
        operation: str,
        *,
        add: Sequence[FileEntry] = (),
        remove: Sequence[str] = (),
        schema_json: Optional[str] = None,
        expected_version: Optional[int] = None,
        retry_append: bool = False,
        txn: Optional[dict] = None,
        cdc: "Optional[Sequence[FileEntry]]" = None,
        data_change: bool = True,
        dv_add: Sequence[FileEntry] = (),
        dv_clear: bool = False,
        recheck=None,
        partition_by: Optional[Sequence[str]] = None,
        read_info: Optional[ReadInfo] = None,
        constraints: Optional[dict] = None,
        bloom: Optional[Sequence[str]] = None,
        column_mapping: Optional[dict] = None,
        retired: Optional[Sequence[str]] = None,
        refs: Optional[dict] = None,
        generated: Optional[dict] = None,
    ) -> Optional[int]:
        """Write one commit through ``tablecore.commit_loop``.
        ``expected_version`` pins the read snapshot (merge/overwrite/
        compact; None = the table must not exist yet); ``retry_append``
        drops the pin so blind appends chase the head; ``txn`` ({'app_id',
        'version'}) rides in the manifest for idempotent-writer tracking
        (Delta's txnAppId shape); ``cdc`` lists row-level change files
        under _change_data/ (read by ``table_changes``);
        ``data_change=False`` marks layout-only commits (compaction) that
        the change feed must skip — Delta's dataChange=false action flag.

        ``read_info`` upgrades the ``expected_version`` pin from physical
        to LOGICAL conflict detection (Delta's OptimisticTransaction
        checkAndRetry): when the head moved past the pin, the intermediate
        commits are checked for semantic overlap — removed files this op
        read or also removes, added files whose stats may satisfy this
        op's read predicate, schema/partition changes, deletion-vector
        activity — and if every intermediate commit is disjoint, the
        commit REBASES onto the new head instead of raising. Disjoint
        concurrent merges, appends racing compactions, and partition-local
        writers all land without aborting each other.

        ``recheck`` (appends only): a zero-arg callable re-deriving the
        commit's schema_json against the CURRENT head, re-invoked on every
        attempt (or returning a ``Done`` to commit nothing). Without it,
        an append racing a concurrent schema evolution would land at a
        later version still carrying the pre-evolution schema — and since
        ``snapshot()`` takes the last non-null schema_json, that stale
        record would roll the table schema back and silently NULL the
        evolved column on reads."""
        record = {
            "operation": operation,
            "add": [self._entry_record(f) for f in add],
            "remove": list(remove),
        }
        if bloom is not None:
            # caller-supplied sidecar list (deep clone carries the
            # source's consolidated sidecars instead of rebuilding)
            if bloom:
                record["bloom"] = list(bloom)
        elif add and self.bloom_columns:
            # per-file bloom sidecar for the commit's NEW data files —
            # O(rows added), JVM-hashed (see _build_bloom_sidecar); a
            # conflict-aborted commit leaves an orphan sidecar that
            # vacuum sweeps
            bloom_rel = self._build_bloom_sidecar(add)
            if bloom_rel:
                record["bloom"] = [bloom_rel]
        if schema_json:
            record["schema_json"] = schema_json
        if partition_by is not None:
            record["partition_by"] = list(partition_by)
        if txn:
            record["txn"] = dict(txn)
        if cdc is not None:
            # present-but-empty means "feed on, zero change rows" — WITHOUT
            # it a no-op merge would make table_changes claim the feed was
            # off for that commit and wedge every CDC consumer
            record["cdc"] = [{"path": f.path, "rows": f.rows} for f in cdc]
        if not data_change:
            record["data_change"] = False
        if constraints is not None:
            # the FULL constraint map (not a delta): snapshot replay and
            # time travel take the last map seen, like schema_json
            record["constraints"] = dict(constraints)
        if column_mapping is not None:
            record["column_mapping"] = dict(column_mapping)  # full map
        if retired is not None:
            record["retired"] = list(retired)  # full list
        if refs is not None:
            record["refs"] = dict(refs)  # full map, like constraints
        if generated is not None:
            record["generated"] = dict(generated)  # full map
        if dv_add:
            record["dv_add"] = [{"path": f.path, "rows": f.rows} for f in dv_add]
        if dv_clear:
            record["dv_clear"] = True
        pin = expected_version
        tried = None  # the version the previous attempt tried to claim

        def attempt():
            nonlocal pin, tried
            if tried is not None and read_info is None and not retry_append:
                # a pin without a logical check cannot rebase: the lost
                # claim is the conflict
                raise SnapshotConflictError(
                    f"concurrent commit claimed v{tried} of {self.path} "
                    f"during {operation}"
                )
            current = self.version()
            if not retry_append and current != pin:
                if read_info is None or pin is None:
                    raise SnapshotConflictError(
                        f"{operation} read snapshot v{pin} of {self.path} "
                        f"is stale: table is now at v{current}"
                    )
                # logical check: disjoint intermediate commits -> rebase
                self._check_rebase(pin, current, record, read_info, operation)
                pin = current
            if recheck is not None:
                fresh = recheck()
                if isinstance(fresh, Done):
                    return fresh
                if fresh:
                    record["schema_json"] = fresh
                else:
                    record.pop("schema_json", None)
            version = 0 if current is None else current + 1
            record["version"] = version
            # in-commit monotonic timestamps (Delta's ICT): clamp to
            # strictly-after the head commit so timestampAsOf resolution
            # (newest version with ts <= t) stays correct even when
            # writers' clocks skew — a later version NEVER carries an
            # earlier timestamp. Cost: one head-manifest read per commit.
            now = time.time()
            if current is not None:
                try:
                    prev_ts = float(self._read_commit(current)["timestamp"])
                except (OSError, KeyError, ValueError, TypeError):
                    prev_ts = 0.0
                if now <= prev_ts:
                    now = prev_ts + 1e-3
            record["timestamp"] = now
            tried = version
            return version, json.dumps(record)

        def after_claim(version: int) -> None:
            self._persist_properties()
            self._maybe_checkpoint(version)

        return commit_loop(
            attempt, claimer=self.claimer, log_dir=self.log_dir,
            path=self.path, error=SnapshotConflictError,
            after_claim=after_claim,
        )

    def _check_rebase(
        self,
        base: int,
        current: int,
        record: dict,
        info: ReadInfo,
        operation: str,
    ) -> None:
        """Raise SnapshotConflictError iff any commit in (base, current]
        semantically overlaps this operation; returning means the commit
        may safely rebase onto ``current``. Rules (Delta's conflict
        matrix):

        - metadata: a schema or partition-spec change vs the base
          snapshot always conflicts (the op computed under the old one).
        - delete/delete: an intermediate commit removed a file this op
          also removes (two rewrites of the same file).
        - delete/read: an intermediate commit removed a file this op
          READ — its outputs would resurrect or lose those rows.
        - deletion vectors: any intermediate dv_add conflicts (the
          manifest doesn't say which data files the vectors target, so
          disjointness is unprovable — conservative).
        - append/read: intermediate ADDS whose stats (plus exact
          partition values) may satisfy this op's read predicate
          conflict — except blind appends under write_serializable
          (Delta's default relaxation), and dataChange=false re-layouts
          of files this op provably did not read (their rows were
          already proven non-matching when their source files were
          stats-pruned from the read set)."""
        base_snap = self.snapshot(base)
        my_removes = set(record.get("remove", ()))
        try:
            base_schema = json.loads(base_snap.schema_json or "null")
        except ValueError:
            base_schema = None
        for v in range(base + 1, current + 1):
            c = self._read_commit(v)
            op = c.get("operation", "?")
            where = f"{operation} on {self.path}: concurrent {op} at v{v}"
            sj = c.get("schema_json")
            if sj:
                try:
                    their_schema = json.loads(sj)
                except ValueError:
                    their_schema = object()
                if their_schema != base_schema:
                    raise SnapshotConflictError(
                        f"{where} changed the table schema"
                    )
            pb = c.get("partition_by")
            if pb is not None and tuple(pb) != base_snap.partition_by:
                raise SnapshotConflictError(
                    f"{where} changed the partition spec "
                    f"{list(base_snap.partition_by)} -> {list(pb)}"
                )
            cons = c.get("constraints")
            if cons is not None and cons != base_snap.constraints:
                raise SnapshotConflictError(
                    f"{where} changed the CHECK constraints"
                )
            cm = c.get("column_mapping")
            if cm is not None and cm != base_snap.column_mapping:
                raise SnapshotConflictError(
                    f"{where} renamed or dropped columns"
                )
            gen = c.get("generated")
            if gen is not None and gen != dict(base_snap.generated):
                # rows staged under the old rules would land computed /
                # validated against expressions the table no longer has
                # (the append path's _recheck aborts on this too)
                raise SnapshotConflictError(
                    f"{where} changed the generated-column rules"
                )
            their_removed = set(c.get("remove", ()))
            both = sorted(their_removed & my_removes)
            if both:
                raise SnapshotConflictError(
                    f"{where} also rewrote/removed {both[:3]}"
                )
            read_hit = sorted(their_removed & info.paths)
            if read_hit:
                raise SnapshotConflictError(
                    f"{where} removed files this operation read: {read_hit[:3]}"
                )
            if c.get("dv_add"):
                raise SnapshotConflictError(
                    f"{where} added deletion vectors"
                )
            adds = c.get("add", ())
            if not adds or not info.reads_rest:
                continue
            if c.get("data_change") is False and not (
                their_removed & (info.paths | my_removes)
            ):
                continue  # re-layout of rows this op provably never read
            if op in _BLIND_OPS and info.isolation != "serializable":
                continue
            entries = []
            for e in adds:
                stats = dict(e.get("stats", {}))
                for k, pv in (e.get("partition") or {}).items():
                    # exact per-file partition values beat stats envelopes
                    if pv is not None and k not in stats:
                        stats[k] = {"min": pv, "max": pv, "nulls": 0}
                entries.append(
                    FileEntry(e["path"], e["rows"], e["bytes"], stats,
                              e.get("partition", {}))
                )
            if info.key_ranges is not None:
                keys, ranges = info.key_ranges
                hits = _prune_entries_by_stats(entries, keys, ranges)
            elif info.groups is not None:
                hits = [f for f in entries if file_may_match(f, info.groups)]
            else:
                hits = entries  # whole-table read: every add overlaps
            if hits:
                raise SnapshotConflictError(
                    f"{where} added files that may hold rows matching this "
                    f"operation's read predicate: "
                    f"{[f.path for f in hits[:3]]}"
                )

    # ---------------- idempotent-writer tracking (Delta txnAppId shape)

    def last_txn_version(self, app_id: str) -> Optional[int]:
        """Highest transaction version committed under ``app_id``, or None.
        Scans the commit manifests (never deleted — checkpoints bound
        REPLAY, not retention), so the cost is O(commits); writers that
        care cache the result across a session like the streaming sink
        does."""
        best: Optional[int] = None
        for v in self._versions():
            txn = self._read_commit(v).get("txn")
            if txn and txn.get("app_id") == app_id:
                tv = int(txn["version"])
                best = tv if best is None or tv > best else best
        return best

    def write_txn(
        self,
        df: DataFrame,
        *,
        app_id: str,
        version: int,
        merge_schema: bool = False,
    ) -> Optional[int]:
        """Idempotent append: a (app_id, version) pair lands AT MOST once —
        the txn marker commits atomically WITH the data files, so a replay
        of an already-committed version is skipped (returns None) and a
        crash before the commit leaves only invisible staged files (vacuum
        sweeps them). The txn check re-runs in every claim attempt, so
        even two RACING writers with the same (app_id, version) — not
        just sequential replays — land exactly one copy. This is the
        exactly-once primitive the streaming sink builds on."""
        last = self.last_txn_version(app_id)
        if last is not None and version <= last:
            return None
        current = self.version()
        return self._append(
            df,
            self.snapshot(current) if current is not None else None,
            label="write_txn",
            merge_schema=merge_schema,
            txn={"app_id": app_id, "version": int(version)},
            optimize_write=self.optimize_write,
            skip_replayed=True,
        )[0]

    # ---------------- writes

    def _check_append_schema(
        self, df: DataFrame, merge_schema: bool = False
    ) -> Optional[str]:
        """Appends must match the table schema by field name+type —
        reads resolve every file under the SNAPSHOT schema, so a
        divergent type would null-corrupt silently. Returns the
        schema_json the commit should record.

        ``merge_schema`` (Delta's mergeSchema + type widening) relaxes
        this: the append may introduce NEW columns (recorded in the
        evolved union schema; older files read them as NULL), may omit
        existing ones (the new files read those as NULL), and may WIDEN
        a shared column along a lossless chain (byte->short->int->long,
        ->double, decimal precision growth — see ``_widened``); the
        snapshot schema takes the wider type and Spark's parquet reader
        upcasts the narrower files, no rewrite. A narrower append into
        an already-wider column is likewise admitted (its files upcast
        under the snapshot schema). LOSSY type changes always raise —
        that rewrite needs ``overwrite``."""
        current = self.version()
        if current is None:
            return df.schema.json()
        existing = self.snapshot(current).schema_json
        if not existing:
            return df.schema.json()
        table = T.StructType.fromJson(json.loads(existing))
        old = {f.name: f.dataType.simpleString() for f in table.fields}
        new = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        widen, hard = _widen_conflicts(old, new)
        if hard:
            raise ValueError(
                f"append type mismatch on {self.path} for column(s) "
                f"{hard}: table has "
                f"{[(n, old[n]) for n in hard]}, append has "
                f"{[(n, new[n]) for n in hard]}; overwrite to change "
                "a column's type"
            )
        if widen and not merge_schema:
            raise ValueError(
                f"append would widen column(s) "
                f"{[(n, old[n], '->', widen[n]) for n in widen]} on "
                f"{self.path}; pass merge_schema=True to allow type widening"
            )
        if old.keys() == new.keys() and not any(
            widen.get(n, old[n]) != old[n] for n in old
        ):
            return existing
        if old.keys() != new.keys() and not merge_schema:
            raise ValueError(
                f"append schema mismatch on {self.path}: table has "
                f"{sorted(old.keys() - new.keys())} not in append, append "
                f"has {sorted(new.keys() - old.keys())} not in table; pass "
                "merge_schema=True for additive evolution or overwrite"
            )
        snap = self.snapshot(current)
        revived = sorted(
            (new.keys() - old.keys())
            & (set(snap.retired) | set(snap.column_mapping.values()))
        )
        if revived:
            raise ValueError(
                f"column name(s) {revived} on {self.path} are retired "
                "physical slots (a DROP/RENAME's in-file name): re-adding "
                "them would resurrect old values from pre-drop files; use "
                "a different name or overwrite the table"
            )
        df_fields = {f.name: f for f in df.schema.fields}
        evolved = T.StructType(
            [
                *[
                    df_fields[f.name]
                    if widen.get(f.name) not in (None, old[f.name])
                    else f
                    for f in table.fields
                ],
                *[f for f in df.schema.fields if f.name not in old],
            ]
        )
        return evolved.json()

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        *,
        merge_schema: bool = False,
        txn: Optional[dict] = None,
        partition_by: Optional[Sequence[str]] = None,
        optimize_write: Optional[bool] = None,
    ) -> int:
        """Transactional append/overwrite; returns the committed version.
        ``merge_schema=True`` allows additive column evolution on append
        (see ``_check_append_schema``). ``txn`` stamps the manifest (see
        ``merge``); for skip-on-replay idempotence use ``write_txn``.

        ``partition_by`` (Delta's partitionBy) lays files out hive-style
        (``data/col=val/...``) and records each file's partition values
        in the manifest — exact pruning for read filters, merge key
        ranges, and the data source's pushed filters, with zero reliance
        on footer stats. The spec is a TABLE property: set it on the
        first write (or change it with overwrite, which replaces every
        file); appends inherit it automatically and raise on an explicit
        mismatch.

        ``optimize_write`` overrides the table/handle policy for this one
        write (see the constructor and ``_stage_files``); after the
        commit, ``auto_compact`` (if enabled) bin-packs small files in
        the touched partitions as a best-effort follow-up commit."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"snaplog write mode must be append|overwrite, got {mode!r}")
        if CHANGE_TYPE_COL in df.columns:
            raise ValueError(
                f"column name {CHANGE_TYPE_COL!r} is reserved for the change feed"
            )
        if partition_by:
            missing = sorted(
                c for c in partition_sources(partition_by) if c not in df.columns
            )
            if missing:
                raise ValueError(f"partition_by columns not in DataFrame: {missing}")
            clash = sorted(
                f.name
                for f in parse_partition_spec(partition_by)
                if f.hidden and f.name in df.columns
            )
            if clash:
                raise ValueError(
                    f"DataFrame columns {clash} collide with hidden "
                    "partition-transform names; rename them"
                )
        # ONE head snapshot load serves generated-column rules, constraint
        # enforcement, and (overwrite) the remove set — at a 100k-file
        # table, snapshot reconstruction is the driver cost of a write
        current = self.version()
        head = self.snapshot(current) if current is not None else None
        ow = optimize_write if optimize_write is not None else self.optimize_write
        if mode == "append":
            version, added = self._append(
                df, head, label="append", merge_schema=merge_schema, txn=txn,
                partition_by=partition_by, optimize_write=ow,
            )
            self._maybe_auto_compact(added)
            return version
        gen = head.generated if head is not None else {}
        if gen:
            # compute absent generated columns / validate provided ones
            df = self._apply_generated(df, gen, "write(overwrite)")
        # constraints are a TABLE invariant: they survive overwrite
        # (Delta's semantics) — drop them explicitly to relax
        self._enforce_constraints(df, head.constraints if head else {}, "overwrite")
        remove = head.file_paths() if head else []
        spec = tuple(partition_by or ())
        added = self._stage_files(df, partition_by=spec, align_partitions=ow)
        version = self._commit(
            "overwrite",
            add=added,
            remove=remove,
            schema_json=df.schema.json(),
            expected_version=current,
            txn=txn,
            dv_clear=True,  # removed files take their vectors with them
            partition_by=spec,
            # every file is replaced: logical == physical again and
            # no retired slot survives
            column_mapping={} if head and head.column_mapping else None,
            retired=[] if head and head.retired else None,
        )
        self._maybe_auto_compact(added)
        return version

    def _append(
        self,
        df: DataFrame,
        head: "Optional[Snapshot]",
        *,
        label: str,
        merge_schema: bool = False,
        txn: Optional[dict] = None,
        partition_by: Optional[Sequence[str]] = None,
        optimize_write: Optional[bool] = None,
        skip_replayed: bool = False,
    ) -> tuple:
        """The append of ``write`` and ``write_txn``: validate against the
        ``head`` snapshot (None = no table yet), stage, and commit at
        whatever the head is by then. Every claim attempt re-checks the
        head: an append that loses the race to a schema evolution records
        the EVOLVED union schema; one that loses to a re-partition,
        constraint change, rename/drop or generated-column change aborts
        (its files were staged and validated under the old rules). With
        ``skip_replayed`` an attempt that finds ``txn`` already in the
        ledger commits nothing. Returns (version or None, staged files)."""
        gen = head.generated if head is not None else {}
        if gen:
            # compute absent generated columns / validate provided ones
            # BEFORE the schema check so evolution sees the real shape
            df = self._apply_generated(df, gen, label)
        self._check_append_schema(df, merge_schema)  # fail before staging
        if head is None:
            spec = tuple(partition_by or ())
            cons: dict = {}
            mapping: dict = {}
        else:
            spec = head.partition_by
            cons = head.constraints
            mapping = head.column_mapping
            if partition_by is not None and tuple(partition_by) != spec:
                raise ValueError(
                    f"append partition_by {list(partition_by)} does not match "
                    f"the table's spec {list(spec)}; overwrite to re-partition"
                )
        self._enforce_constraints(df, cons, label)

        def recheck():
            if skip_replayed:
                last = self.last_txn_version(txn["app_id"])
                if last is not None and txn["version"] <= last:
                    return Done(None)  # a racer committed it; files orphan
            hv = self.version()
            hs = self.snapshot(hv) if hv is not None else head
            if hs is not None:
                if hs.partition_by != spec:
                    raise SnapshotConflictError(
                        f"table {self.path} was re-partitioned concurrently "
                        f"({list(spec)} -> {list(hs.partition_by)}); retry "
                        "the append"
                    )
                if hs.constraints != cons:
                    raise SnapshotConflictError(
                        f"CHECK constraints on {self.path} changed "
                        "concurrently; retry the append (it was validated "
                        "against the old set)"
                    )
                if hs.column_mapping != mapping:
                    raise SnapshotConflictError(
                        f"columns of {self.path} were renamed/dropped "
                        "concurrently; retry the append"
                    )
                if dict(hs.generated) != dict(gen):
                    raise SnapshotConflictError(
                        f"generated columns of {self.path} changed "
                        "concurrently; retry the append (it was computed "
                        "under the old rules)"
                    )
            return self._check_append_schema(df, merge_schema)

        added = self._stage_files(
            self._to_physical_df(df, head) if head is not None else df,
            partition_by=spec,
            align_partitions=optimize_write,
        )
        return self._commit(
            "append",
            add=added,
            retry_append=True,
            txn=txn,
            partition_by=spec,
            recheck=recheck,
        ), added

    # ---------------- copy-on-write MERGE

    def merge(
        self,
        source: DataFrame,
        keys: Sequence[str],
        *,
        txn: Optional[dict] = None,
        check_source_keys: bool = True,
        merge_schema: bool = False,
        isolation: str = "write_serializable",
        source_check: Optional[SourceCheck] = None,
        **clauses,
    ) -> MergeStats:
        """File-granular copy-on-write MERGE (ref spark/io/merge.py:43-127
        semantics, Delta's physical strategy): prune to the files that
        contain matched keys, rewrite only those merged with the source,
        carry every other file over by reference. ``clauses`` are the
        ``mergecore.normalize_merge_clauses`` kwargs (row fates: see
        ``mergecore.tagged_join``, whose one join yields both the
        rewritten rows and the change rows); a by-source clause disables
        source-key file pruning (any file can hold such rows) and instead
        probes every file for rows the clause would touch. ``txn``
        ({'app_id', 'version'}) rides in the manifest so a consumer's
        progress marker commits atomically WITH the merge (the IVM
        refresh loop in io/ivm.py leans on this). ``check_source_keys=
        False`` skips the duplicate-source-key probe for callers that
        already ran it; by default the probe FUSES into the
        pruning-envelope source pass (``mergecore.source_key_stats``),
        and so does ``source_check``, a governed merge's contract metrics
        and verdict: the source is aggregated once for all three, before
        anything is pruned, probed or staged.
        ``merge_schema=True`` is Delta's automatic evolution: source-only
        columns join the table schema (existing rows read them as NULL)
        and source rows missing table columns insert NULLs; without the
        flag both shapes raise (silently dropping a source column is how
        data quietly disappears). Type changes on a shared column always
        raise; map forms never evolve the schema.

        ``isolation``: conflict level for commits that land between this
        merge's snapshot read and its commit (see ``ReadInfo``). Under
        the default ``write_serializable`` a concurrent blind append
        never aborts the merge (even with overlapping key ranges —
        Delta's documented relaxation); ``serializable`` aborts on
        overlapping-range appends too. Concurrent merges/updates/deletes
        conflict only when file sets or key-range envelopes overlap, so
        partition-disjoint writers all land."""
        _check_isolation(isolation)
        plan = MergePlan.of(**clauses)
        keys = list(keys)
        current = self.version()
        if current is None:
            if check_source_keys or source_check is not None:
                source_key_stats(
                    source, keys, check_unique=check_source_keys, check=source_check
                )
            strategy = initial_write(
                source, keys, plan,
                lambda df: self.write(df, mode="overwrite"),
                check_source_keys=False,
            )
            return MergeStats(0, 0, 0, 0, strategy=strategy)
        snap = self.snapshot(current)
        self._require_no_dvs(snap, "merge")
        gen = snap.generated or {}
        plan.refuse_generated(gen)
        if gen and plan.all_forms:
            # inserts must carry computed values; provided ones validate
            source = self._apply_generated(source, gen, "merge")
        regen = None
        if gen and plan.dict_clauses:
            # map-form rows mix target/source values: recompute generated
            # columns from the final row
            def regen(df: DataFrame) -> DataFrame:
                return self._apply_generated(
                    df.drop(*gen), gen, "merge"
                ).select(*df.columns)

        evolved_json = snap.schema_json
        keep_target_cols: tuple = ()
        tgt_casts: dict = {}
        # the projection aligning the source to the table, applied over
        # the materialized source AFTER the one source aggregate, which
        # must see the columns as the caller passed them (the contract
        # metrics) and the keys cast as the join sees them (key_types)
        align = None
        key_types: dict = {}
        if snap.schema_json and not plan.all_forms:
            # map forms keep the source's own columns (their expressions
            # may reference any of them) and never evolve the schema;
            # only the join keys align to the table's types
            table_schema = T.StructType.fromJson(json.loads(snap.schema_json))
            ttypes = {f.name: f.dataType for f in table_schema.fields}
            key_types = {k: ttypes[k] for k in keys if k in ttypes}
            align = [
                F.col(c).cast(ttypes[c]).alias(c)
                if c in keys and c in ttypes
                else F.col(c)
                for c in source.columns
            ]
        elif snap.schema_json:
            table_schema = T.StructType.fromJson(json.loads(snap.schema_json))
            old = {f.name: f for f in table_schema.fields}
            new = {f.name: f for f in source.schema.fields}
            widen, hard = _widen_conflicts(
                {n: f.dataType.simpleString() for n, f in old.items()},
                {n: f.dataType.simpleString() for n, f in new.items()},
            )
            if hard:
                raise ValueError(
                    f"merge type mismatch on {self.path} for column(s) "
                    f"{hard}; overwrite to change a column's type"
                )
            missing_in_src = sorted(old.keys() - new.keys())
            extra_in_src = sorted(new.keys() - old.keys())
            revived = sorted(
                set(extra_in_src)
                & (set(snap.retired) | set(snap.column_mapping.values()))
            )
            if revived:
                raise ValueError(
                    f"merge would re-add retired physical column(s) "
                    f"{revived} on {self.path} (see drop_column/"
                    "rename_column); use a different name"
                )
            keep_target_cols = tuple(missing_in_src)
            if (missing_in_src or extra_in_src or widen) and not merge_schema:
                raise ValueError(
                    f"merge schema mismatch on {self.path}: source is "
                    f"missing {missing_in_src}, adds {extra_in_src}, widens "
                    f"{sorted(widen)}; pass merge_schema=True for additive "
                    "evolution and lossless type widening"
                )
            if extra_in_src or missing_in_src or widen:
                # per-field evolved type: the wider of (table, source)
                def _etype(f):
                    w = widen.get(f.name)
                    if w is None or w == f.dataType.simpleString():
                        return f
                    return new[f.name]

                evolved = T.StructType(
                    [*map(_etype, table_schema.fields), *[new[n] for n in extra_in_src]]
                )
                evolved_json = evolved.json()
                etypes = {f.name: f.dataType for f in evolved.fields}
                key_types = {k: etypes[k] for k in keys if k in etypes}
                align = [
                    (
                        F.col(f.name).cast(f.dataType)
                        if new[f.name].dataType != f.dataType
                        else F.col(f.name)
                    )
                    if f.name in new
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in evolved.fields
                ]
                # target rows scanned under the OLD snapshot schema must
                # join/union at the evolved types
                tgt_casts = {
                    n: etypes[n]
                    for n, f in old.items()
                    if etypes[n] != f.dataType
                }

        with materialized_source(source) as source, contextlib.ExitStack() as scope:
            # level 1: driver-side min/max intersection (footer stats, no IO);
            # also probe whether the source carries a NULL key — those match
            # target NULLs outside any envelope. The duplicate-source-key
            # probe (check_source_keys) and a governed merge's contract
            # metrics and verdict (source_check) fuse into this same source
            # pass — one scan, not three (source_key_stats docstring; the
            # envelope and the probe read the keys CAST to the join's key
            # domain)
            ranges_row = source_key_stats(
                source, keys, check_unique=check_source_keys,
                key_types=key_types, check=source_check,
            )
            if align is not None:
                source = source.select(*align)
            # stats envelopes are keyed by PHYSICAL names (identity unless a
            # column was renamed)
            key_ranges = {
                snap.physical(k): (
                    json_safe(ranges_row[f"_lo_{i}"]),
                    json_safe(ranges_row[f"_hi_{i}"]),
                    bool(ranges_row[f"_null_{i}"]),
                )
                for i, k in enumerate(keys)
            }
            phys_keys = [snap.physical(k) for k in keys]
            # hidden partitioning: a merge keyed on a transform's source gains
            # the derived partition-value range (monotonic transforms only;
            # NULL-carrying source ranges skip — the hidden envelope can't
            # represent the null-safe match)
            for pf in parse_partition_spec(snap.partition_by):
                if pf.hidden and pf.monotonic and pf.source in keys:
                    lo, hi, has_null = key_ranges[snap.physical(pf.source)]
                    tlo, thi = transform_literal(pf, lo), transform_literal(pf, hi)
                    if tlo is not None and thi is not None and not has_null:
                        key_ranges[pf.name] = (tlo, thi, False)
                        phys_keys.append(pf.name)
            candidates = snap.prune_ranges(phys_keys, key_ranges)
            if plan.by_source:
                # by-source rows are defined by having NO source match — any
                # file can hold them, so source-key pruning is unsound; the
                # exact probe below still keeps the rewrite set minimal
                candidates = list(snap.files)

            # level 2: exact, distributed — which candidate files actually hold
            # a matched key (hidden _metadata.file_path + null-safe semi join),
            # plus, under a by-source clause, a row with NO match that passes
            # the clause predicate (anti join) — only those files rewrite
            touched_names: set[str] = set()
            if candidates:
                scan = self._scan(candidates, snap, keep_meta=True)
                # no dropDuplicates: semi/anti joins test EXISTENCE, so
                # build-side duplicates cannot change either probe's answer
                # — deduping first was a whole extra source shuffle (r14)
                src_keys = source.select(*keys)
                if plan.matched or plan.not_matched:
                    # files holding matched keys rewrite: matched clauses
                    # change their rows, and insert clauses need their rows
                    # present in the outer join (dropping them would
                    # duplicate-insert matched source keys). A pure by-source
                    # merge (both lists empty) skips the probe — matched
                    # rows are untouched by definition (r12).
                    tgt = scan.select(
                        *[F.col(k) for k in keys],
                        F.col("_metadata.file_path").alias("_fp"),
                    )
                    cond = [tgt[k].eqNullSafe(src_keys[k]) for k in keys]
                    matched = (
                        tgt.join(src_keys, cond, "leftsemi")
                        .select("_fp")
                        .distinct()
                        .collect()  # bounded by file count — driver metadata
                    )
                    touched_names = {os.path.basename(r["_fp"]) for r in matched}
                if plan.by_source:
                    full = scan.select(
                        "*", F.col("_metadata.file_path").alias("_fp")
                    )
                    bs_probe = full.join(
                        src_keys,
                        [full[k].eqNullSafe(src_keys[k]) for k in keys],
                        "left_anti",
                    ).alias("t")
                    # a file rewrites iff ANY by-source clause fires on one of
                    # its unmatched rows (first-match-wins only picks WHICH
                    # clause; any hit means the row changes or deletes)
                    bs_probe = bs_probe.filter(any_clause_ok(plan.by_source))
                    touched_names |= {
                        os.path.basename(r["_fp"])
                        for r in bs_probe.select("_fp").distinct().collect()
                    }
            touched = [f for f in candidates if os.path.basename(f.path) in touched_names]

            if touched:
                tgt_rows = self._scan(touched, snap)
                for c, dtype in tgt_casts.items():
                    tgt_rows = tgt_rows.withColumn(c, F.col(c).cast(dtype))
                if plan.all_forms:
                    # evolved source-only columns: existing rows carry NULL.
                    # *All forms only — map forms never evolve, and null-
                    # filling here would stage data files with columns the
                    # committed schema doesn't declare (map-form expressions
                    # read source columns from the s side of the join)
                    for c in [c for c in source.columns if c not in tgt_rows.columns]:
                        tgt_rows = tgt_rows.withColumn(
                            c, F.lit(None).cast(source.schema[c].dataType)
                        )
                shape = tgt_rows.schema
            elif plan.not_matched:
                # nothing matched anywhere: pure insert (first-match-wins
                # across the insert clauses)
                tgt_rows = None
                shape = T.StructType.fromJson(json.loads(evolved_json))
            else:
                return MergeStats(snap.num_files, len(candidates), 0, 0)
            # ONE tagged join yields both the rewritten files' rows and,
            # under the change feed, the change rows — bounded by the
            # rewrite set, never the table
            cols = shape.fieldNames()
            fates = tagged_join(
                tgt_rows, source, keys, plan,
                cols=cols,
                types={f.name: f.dataType for f in shape.fields},
                pre_images=self.change_feed,
                keep_target_cols=keep_target_cols,
                keep_untouched=True,
            )
            if self.change_feed:
                # the data and change files stage concurrently from this
                # one join: materialize it once, not once per staging job
                fates = fates.persist(StorageLevel.MEMORY_AND_DISK)
                scope.callback(fates.unpersist)
            merged = merged_rows(fates, cols)
            if regen is not None:
                merged = regen(merged)

            # CHECK constraints: the rewritten content is exactly the rows
            # this merge writes; carried-over files already hold (invariant)
            self._enforce_constraints(merged, snap.constraints, "merge")

            cdc_job = None
            if self.change_feed:
                changes = change_rows(fates, plan, cols, regen)
                cdc_job = functools.partial(
                    self._stage_files,
                    self._to_physical_df(changes, snap),
                    dest_dir=self.cdc_dir,
                )
            cdc, added = stage_concurrently([
                cdc_job,
                functools.partial(
                    self._stage_files,
                    self._to_physical_df(merged, snap),
                    partition_by=snap.partition_by,
                    align_partitions=self.optimize_write,
                ),
            ])
            self._commit(
                "merge",
                add=added,
                remove=[f.path for f in touched],
                schema_json=evolved_json,
                expected_version=current,
                cdc=cdc,
                txn=txn,
                read_info=ReadInfo(
                    paths=frozenset(f.path for f in candidates),
                    key_ranges=(tuple(phys_keys), key_ranges),
                    isolation=isolation,
                ),
            )
            self._maybe_auto_compact(added)
            return MergeStats(
                files_total=snap.num_files,
                candidates_after_stats=len(candidates),
                files_rewritten=len(touched),
                files_added=len(added),
            )

    # ---------------- change data feed

    def table_changes(
        self,
        starting_version: int,
        ending_version: Optional[int] = None,
    ) -> DataFrame:
        """Row-level changes committed in ``[starting_version,
        ending_version]`` (inclusive; default head) — Delta's
        ``table_changes``. Each row carries ``_change_type`` (insert /
        update_preimage / update_postimage / delete), ``_commit_version``
        and ``_commit_timestamp`` (unix seconds).

        The per-commit rules are ``snaplog_source.change_partitions``
        (shared with the batch ``readChangeFeed`` reader and the
        change-feed stream): appends/overwrites derive changes from their
        add/remove file actions (added rows are inserts, removed files'
        rows are deletes — no extra storage); merge/delete/update read
        the ``_change_data`` files written when the table's
        ``change_feed`` flag was on, and raise if the commit predates the
        flag (the rewritten files can't distinguish carried rows from
        changed ones). Compaction commits (``data_change=false``) are
        layout-only and contribute nothing. ``sourcecore.changes_frame``
        compiles the partitions into JVM parquet scans under the
        ``ending_version`` schema: a column added mid-range reads NULL
        for earlier commits, and renamed columns carry their
        ``ending_version`` names (physical names are frozen, so one
        mapping serves the whole range)."""
        from dc43_spark.io.snaplog_source import change_partitions

        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        end = versions[-1] if ending_version is None else ending_version
        if starting_version < versions[0] or end > versions[-1]:
            raise ValueError(
                f"change range [{starting_version}, {end}] outside table "
                f"versions [{versions[0]}, {versions[-1]}]"
            )
        end_snap = self.snapshot(end)
        parts = change_partitions(
            self, starting_version, end,
            mapping=end_snap.column_mapping or None,
        )
        schema = self._logical_schema(end_snap) or T.StructType()
        return changes_frame(self.spark, parts, schema)

    def changes_since(self, version: Optional[int]) -> tuple[DataFrame, int]:
        """Incremental-consumer helper: ``(changes, head)`` for commits
        AFTER ``version`` (exclusive; None = from the first commit). The
        caller applies the frame and persists ``head`` as its next
        offset — the batch twin of a streaming CDC source, replay-safe
        because commits are immutable."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        head = versions[-1]
        start = versions[0] if version is None else version + 1
        # start == head+1 (caller is current) yields the typed empty frame
        return self.table_changes(start, head), head

    def _raw_scan(self, paths: Sequence[str], snap: Optional[Snapshot]) -> DataFrame:
        """Plain multi-path read of table data files under a snapshot's
        PHYSICAL schema/partition layout (no DV subtraction, no logical
        aliasing) — the reader setup every scan shares; callers alias to
        logical names."""
        reader = self.spark.read.format("parquet")
        phys = self._physical_schema(snap) if snap is not None else None
        if phys is not None:
            reader = reader.schema(phys)
        if snap is not None and snap.partition_by:
            # hive-layout files: Spark reconstructs the partition columns
            # from the col=val directories under data/ (typed by the
            # explicit snapshot schema); it APPENDS them after the file
            # columns, so re-project to the recorded column order (which
            # also drops appended hidden-transform partition columns)
            reader = reader.option("basePath", self.data_dir)
        df = reader.load(list(paths))
        if phys is not None and snap.partition_by:
            df = df.select(*[f.name for f in phys.fields])
        return df

    # ---------------- merge-on-read deletes (deletion vectors)

    def _require_no_dvs(self, snap: Snapshot, op: str) -> None:
        if snap.dvs:
            raise ValueError(
                f"{op} on {self.path} with ACTIVE deletion vectors would "
                "resurrect merge-on-read-deleted rows; run "
                "materialize_deletes() first"
            )

    def _keyed_scan(self, files: Sequence[FileEntry], snap: Snapshot) -> DataFrame:
        """Raw (DV-unapplied) scan of ``files`` with the per-row identity
        (file basename, row_index) projected as _dv_file/_dv_pos.
        Columns come back under LOGICAL names (mapping-aware)."""
        df = self._raw_scan([os.path.join(self.path, f.path) for f in files], snap)
        schema = self._logical_schema(snap)
        if snap.column_mapping and schema is not None:
            cols = [
                F.col(p.name).alias(l.name)
                for p, l in zip(self._physical_schema(snap).fields, schema.fields)
            ]
        else:
            cols = [F.col("*")]
        return df.select(*cols, *self._row_identity())

    @staticmethod
    def _row_identity() -> list:
        """The hidden per-row identity deletion vectors address: file
        basename and row index, as ``_dv_file`` / ``_dv_pos``."""
        return [
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "_dv_file"
            ),
            F.col("_metadata.row_index").alias("_dv_pos"),
        ]

    def _read_dvs(self, dvs: Sequence[FileEntry]) -> DataFrame:
        """The ``(file, pos)`` rows of deletion-vector files ``dvs``."""
        return self.spark.read.parquet(
            *[os.path.join(self.path, f.path) for f in dvs]
        )

    @classmethod
    def _subtract_dvs(cls, df: DataFrame, dv: DataFrame) -> DataFrame:
        """``df`` minus the rows the deletion-vector rows ``dv`` mark:
        one broadcast left-anti join on the ``(file basename,
        row_index)`` identity. A ``df`` without ``_dv_file``/``_dv_pos``
        gains them for the join and loses them again."""
        keyed = df
        if "_dv_file" not in df.columns:
            keyed = df.select("*", *cls._row_identity())
        out = keyed.join(
            F.broadcast(dv),
            (keyed["_dv_file"] == dv["file"]) & (keyed["_dv_pos"] == dv["pos"]),
            "left_anti",
        )
        return out if keyed is df else out.select(*df.columns)

    def _delete_merge_on_read(
        self,
        snap: Snapshot,
        candidates: Sequence[FileEntry],
        pred,
        current: int,
        read_info: Optional[ReadInfo] = None,
    ) -> RewriteStats:
        if not candidates:
            return RewriteStats(snap.num_files, 0, 0, 0, 0, 0)
        keyed = self._keyed_scan(candidates, snap)
        if snap.dvs:  # already-deleted rows are not deleted "again"
            keyed = self._subtract_dvs(keyed, self._read_dvs(snap.dvs))
        # persist, not localCheckpoint: spillable/evictable storage whose
        # lost blocks recompute from the pinned candidate scan — a
        # wide-predicate delete never hard-materializes every hit row
        keep = keyed.columns if self.change_feed else ["_dv_file", "_dv_pos"]
        hit = keyed.filter(pred).select(*keep).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            n_del = hit.count()
            if n_del == 0:
                return RewriteStats(snap.num_files, len(candidates), 0, 0, 0, 0)
            cdc_job = None
            dv_df = hit.select(
                F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos")
            )
            if self.change_feed:
                data_cols = [c for c in hit.columns if c not in ("_dv_file", "_dv_pos")]
                cdc_job = functools.partial(
                    self._stage_files,
                    self._to_physical_df(
                        hit.select(*data_cols, F.lit("delete").alias(CHANGE_TYPE_COL)),
                        snap,
                    ),
                    dest_dir=self.cdc_dir,
                )
            cdc, dv_added = stage_concurrently([
                cdc_job,
                functools.partial(self._stage_files, dv_df, dest_dir=self.dv_dir),
            ])
            self._commit(
                "delete",
                schema_json=snap.schema_json,
                expected_version=current,
                cdc=cdc,
                dv_add=dv_added,
                read_info=read_info,
            )
            return RewriteStats(
                files_total=snap.num_files,
                candidates_after_stats=len(candidates),
                files_rewritten=0,
                files_added=0,
                rows_before=n_del,
                rows_after=0,
            )
        finally:
            hit.unpersist()

    def materialize_deletes(self) -> int:
        """Fold active deletion vectors into a copy-on-write rewrite of
        ONLY the files that have DV'd rows, then clear the vectors (one
        commit, ``data_change=false`` — logical rows are unchanged, so
        the change feed and streams skip it). Returns files rewritten."""
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        if not snap.dvs:
            return 0
        dv = self._read_dvs(snap.dvs)
        names = {r["file"] for r in dv.select("file").distinct().collect()}
        touched = [f for f in snap.files if os.path.basename(f.path) in names]
        kept = self._subtract_dvs(self._keyed_scan(touched, snap), dv).drop(
            "_dv_file", "_dv_pos"
        )
        added = self._stage_files(
            self._to_physical_df(kept, snap), partition_by=snap.partition_by
        )
        self._commit(
            "materialize",
            add=added,
            remove=[f.path for f in touched],
            schema_json=snap.schema_json,
            expected_version=current,
            data_change=False,
            dv_clear=True,
            # reads only the DV'd files; concurrent appends rebase freely.
            # A concurrent dv_add (vectors this rewrite would not fold
            # before clearing) conflicts via the blanket dv_add rule.
            read_info=ReadInfo(
                paths=frozenset(f.path for f in touched), reads_rest=False
            ),
        )
        return len(touched)

    # ---------------- row-level ops (DELETE / UPDATE)

    def _exact_touched(
        self, candidates: Sequence[FileEntry], pred, snap: Snapshot
    ) -> list[FileEntry]:
        """Level-2 pruning: which candidate files actually contain a row
        satisfying ``pred``? One distributed scan projecting only the
        hidden ``_metadata.file_path``; the collect is the distinct
        matched-file list, bounded by file count."""
        if not candidates:
            return []
        matched = (
            self._scan(candidates, snap, keep_meta=True)
            .filter(pred)
            .select(F.col("_metadata.file_path").alias("_fp"))
            .distinct()
            .collect()
        )
        names = {os.path.basename(r["_fp"]) for r in matched}
        return [f for f in candidates if os.path.basename(f.path) in names]

    def _filters_and_where(self, filters, where: Optional[str], op: str):
        """(pruning groups, row predicate) from the two predicate
        spellings: DNF ``filters`` (prunes + filters) and/or SQL
        ``where`` (filters only) — at least one required, both AND."""
        if filters is None and where is None:
            raise ValueError(
                f"{op}() needs filters= (pyarrow DNF) and/or where= "
                "(SQL predicate)"
            )
        groups = normalize_filters(filters) if filters is not None else []
        parts = []
        if groups:
            parts.append(filters_to_column(groups))
        if where is not None:
            parts.append(F.expr(where))
        pred = parts[0]
        for p in parts[1:]:
            pred = pred & p
        return groups, pred

    def delete(
        self,
        filters=None,
        *,
        where: Optional[str] = None,
        strategy: str = "copy_on_write",
        isolation: str = "write_serializable",
    ) -> RewriteStats:
        """Row-level DELETE with two physical strategies.

        The predicate comes from ``filters`` (pyarrow DNF — drives file
        PRUNING too), ``where`` (a raw SQL predicate — row-exact but
        prunes nothing by itself), or both ANDed (filters prune, where
        refines) — delta-spark's ``delete(condition)`` spelling next to
        the skipping-aware one.

        ``copy_on_write`` (default): two-level pruning (footer stats,
        then the exact ``_metadata.file_path`` scan) picks the files
        holding matching rows; only those are rewritten with the
        survivors — a file whose every row matches is simply dropped.
        Untouched files carry over by reference, and prior versions keep
        the deleted rows (time travel) until ``vacuum``.

        ``merge_on_read``: write a DELETION VECTOR instead — the matching
        rows' (file, row_index) identities land in ``_deletes/`` and
        every scan subtracts them with one broadcast anti-join. Cost is
        O(matching rows) regardless of file sizes (the Delta/Iceberg v2
        DV trade); reads pay the anti-join until
        ``materialize_deletes()`` folds the vectors into a rewrite.
        While DVs are active, file-rewriting ops (merge/update/compact/
        COW delete) refuse — they would resurrect DV'd rows.
        Stats returned for MOR: files_rewritten/files_added are 0 and
        rows_before - rows_after is the newly deleted row count.

        Ref parity note: the reference delegates row deletes to Delta
        (spark/io/merge.py whenMatchedDelete); these are the same two
        physical strategies on the snaplog manifest."""
        if strategy not in ("copy_on_write", "merge_on_read"):
            raise ValueError(
                f"delete strategy must be copy_on_write|merge_on_read, got {strategy!r}"
            )
        _check_isolation(isolation)
        groups, pred = self._filters_and_where(filters, where, "delete")
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        if groups:
            pgroups = augment_groups_for_partitions(
                self._phys_groups(groups, snap), snap.partition_by
            )
            candidates = snap.prune(pgroups)
        else:
            # where-only predicate: nothing prunable — candidates are
            # every live file, and the read predicate is "whole table"
            # for conflict detection (groups=None + reads_rest)
            pgroups = None
            candidates = list(snap.files)
        read_info = ReadInfo(
            paths=frozenset(f.path for f in candidates),
            groups=pgroups,
            isolation=isolation,
        )
        if strategy == "merge_on_read":
            return self._delete_merge_on_read(
                snap, candidates, pred, current, read_info
            )
        self._require_no_dvs(snap, "copy-on-write delete")
        touched = self._exact_touched(candidates, pred, snap)
        if not touched:
            return RewriteStats(snap.num_files, len(candidates), 0, 0, 0, 0)
        rows_before = sum(f.rows for f in touched)
        df = self._scan(touched, snap)
        keep = df.filter(~pred | pred.isNull())  # NULL predicate rows are KEPT
        cdc_job = None
        if self.change_feed:
            cdc_job = functools.partial(
                self._stage_files,
                self._to_physical_df(
                    df.filter(pred).select("*", F.lit("delete").alias(CHANGE_TYPE_COL)),
                    snap,
                ),
                dest_dir=self.cdc_dir,
            )
        cdc, added = stage_concurrently([
            cdc_job,
            functools.partial(
                self._stage_files,
                self._to_physical_df(keep, snap),
                partition_by=snap.partition_by,
            ),
        ])
        self._commit(
            "delete",
            add=added,
            remove=[f.path for f in touched],
            schema_json=snap.schema_json,
            expected_version=current,
            cdc=cdc,
            read_info=read_info,
        )
        return RewriteStats(
            files_total=snap.num_files,
            candidates_after_stats=len(candidates),
            files_rewritten=len(touched),
            files_added=len(added),
            rows_before=rows_before,
            rows_after=sum(f.rows for f in added),
        )

    def update(
        self,
        filters=None,
        set: Optional[dict] = None,
        *,
        where: Optional[str] = None,
        isolation: str = "write_serializable",
    ) -> RewriteStats:
        """File-granular copy-on-write UPDATE: rewrite ONLY files holding
        rows that satisfy the predicate (``filters`` pyarrow DNF — also
        prunes — and/or a raw SQL ``where``, same contract as
        ``delete``), applying ``set`` (column -> Column/SQL-string
        expression, evaluated against the pre-update row) where the
        predicate holds and passing other rows through unchanged. Same
        two-level pruning and conflict semantics as ``delete``."""
        if not set:
            raise ValueError("update() needs at least one column in set=")
        _check_isolation(isolation)
        groups, pred = self._filters_and_where(filters, where, "update")
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        self._require_no_dvs(snap, "update")
        gen_hit = sorted(set.keys() & snap.generated.keys())
        if gen_hit:
            raise ValueError(
                f"update() cannot set generated column(s) {gen_hit} "
                "(GENERATED ALWAYS AS); update their source columns and "
                "the expressions recompute"
            )
        if groups:
            pgroups = augment_groups_for_partitions(
                self._phys_groups(groups, snap), snap.partition_by
            )
            candidates = snap.prune(pgroups)
        else:
            pgroups = None  # where-only: no pruning, whole-table read set
            candidates = list(snap.files)
        touched = self._exact_touched(candidates, pred, snap)
        if not touched:
            return RewriteStats(snap.num_files, len(candidates), 0, 0, 0, 0)
        df = self._scan(touched, snap)
        missing = sorted(c for c in set if c not in df.columns)
        if missing:
            raise ValueError(f"update() set targets unknown columns: {missing}")
        assignments = {
            # cast to the existing column type (Delta's implicit-cast rule)
            # so an update can never fork the table schema file-by-file
            c: (F.expr(v) if isinstance(v, str) else v).cast(df.schema[c].dataType)
            for c, v in set.items()
        }
        rewritten = df.select(
            *[
                F.when(pred, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        # generated columns recompute from the POST-update row (Delta's
        # UPDATE rule) — a source-column update can never desync them.
        # Unconditional over the rewrite set: untouched rows already
        # satisfy the invariant, so recompute is identity there
        # (generation expressions must be deterministic, like Delta's).
        for g, e in sorted(snap.generated.items()):
            if g in df.columns:
                rewritten = rewritten.withColumn(
                    g, F.expr(e).cast(df.schema[g].dataType)
                )
        self._enforce_constraints(rewritten, snap.constraints, "update")
        cdc_job = None
        if self.change_feed:
            matched = df.filter(pred)
            pre = matched.select(
                "*", F.lit("update_preimage").alias(CHANGE_TYPE_COL)
            )
            post = matched.select(
                *[
                    (assignments[c] if c in assignments else F.col(c)).alias(c)
                    for c in df.columns
                ],
            )
            for g, e in sorted(snap.generated.items()):
                if g in post.columns:
                    post = post.withColumn(
                        g, F.expr(e).cast(df.schema[g].dataType)
                    )
            post = post.select(
                "*", F.lit("update_postimage").alias(CHANGE_TYPE_COL)
            )
            cdc_job = functools.partial(
                self._stage_files,
                self._to_physical_df(pre.unionByName(post), snap),
                dest_dir=self.cdc_dir,
            )
        cdc, added = stage_concurrently([
            cdc_job,
            functools.partial(
                self._stage_files,
                self._to_physical_df(rewritten, snap),
                partition_by=snap.partition_by,
            ),
        ])
        self._commit(
            "update",
            add=added,
            remove=[f.path for f in touched],
            schema_json=snap.schema_json,
            expected_version=current,
            cdc=cdc,
            read_info=ReadInfo(
                paths=frozenset(f.path for f in candidates),
                groups=pgroups,
                isolation=isolation,
            ),
        )
        rows = sum(f.rows for f in touched)
        return RewriteStats(
            files_total=snap.num_files,
            candidates_after_stats=len(candidates),
            files_rewritten=len(touched),
            files_added=len(added),
            rows_before=rows,
            rows_after=sum(f.rows for f in added),
        )

    # ---------------- maintenance

    def restore(
        self,
        *,
        version_as_of: Optional[int] = None,
        timestamp_as_of: Optional[float] = None,
        tag: Optional[str] = None,
    ) -> int:
        """Delta's ``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF``: roll
        the LIVE state back to a historic snapshot with one forward
        commit (history is never rewritten — the bad commits stay
        readable, the restore is itself undoable). The commit is pure
        metadata: re-add the target's files missing from the head, remove
        the head's files the target lacked — O(files differing), zero
        data movement, zero Spark jobs.

        Restores the target's schema, partition spec and deletion-vector
        state wholesale. Requires the target's files to still exist
        (``vacuum`` retention bounds how far back a restore can reach —
        Delta's rule too). On change-feed tables a target with ACTIVE
        deletion vectors is refused: the feed derives this commit's
        inserts from re-added files, which would resurrect DV-deleted
        rows in the CDC stream (materialize before the target version,
        or run the table without change_feed). ``tag`` resolves a head
        tag to its pinned version (refs themselves never roll back with
        a restore — they are pointers, not snapshot content)."""
        if tag is not None:
            if version_as_of is not None or timestamp_as_of is not None:
                raise ValueError("pass tag OR version_as_of/timestamp_as_of")
            version_as_of = self._resolve_tag(tag)
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        target = self.snapshot(version_as_of, timestamp=timestamp_as_of)
        if target.version == current:
            return current  # already there: no-op, no commit
        if self.change_feed and target.dvs:
            raise ValueError(
                f"restore of {self.path} to v{target.version} refused: the "
                "target snapshot has active deletion vectors and this table "
                "writes a change feed — re-added files would resurrect "
                "DV-deleted rows in the CDC stream"
            )
        tgt_files = {f.path: f for f in target.files}
        missing = [
            os.path.join(self.path, p)
            for p in [*tgt_files, *(d.path for d in target.dvs)]
            if not os.path.exists(os.path.join(self.path, p))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.path} to v{target.version}: "
                f"{len(missing)} file(s) were vacuumed (first: {missing[0]}); "
                "restores reach only as far back as vacuum retention"
            )
        now_paths = set(self.snapshot(current).file_paths())
        add = [e for p, e in sorted(tgt_files.items()) if p not in now_paths]
        remove = sorted(now_paths - set(tgt_files))
        return self._commit(
            "restore",
            add=add,
            remove=remove,
            schema_json=target.schema_json,
            expected_version=current,
            dv_clear=True,
            dv_add=target.dvs,
            partition_by=target.partition_by,
            # metadata restores wholesale: constraints and column names
            # roll back with the data they were proven against
            constraints=target.constraints,
            column_mapping=target.column_mapping,
            retired=target.retired,
            generated=target.generated,
        )

    def clone(
        self,
        dest_path: str,
        *,
        shallow: bool = True,
        version_as_of: Optional[int] = None,
        timestamp_as_of: Optional[float] = None,
    ) -> "SnaplogTable":
        """Delta's ``CLONE``: a new independent table at ``dest_path``
        whose v0 holds this table's state (optionally as of a version /
        timestamp).

        ``shallow=True`` (default) is METADATA-ONLY — the clone's
        manifest references the source's data and deletion-vector files
        by absolute path: O(files) driver work, zero data movement,
        zero Spark jobs, at any table size. Writes to either side never
        touch the other: the clone's appends/merges/deletes stage into
        its OWN data dir (copy-on-write makes divergence natural), and
        each side's vacuum only sweeps its own directories. The one
        shared-fate caveat (Delta's too): vacuuming the SOURCE can
        delete files a shallow clone still references — deep-clone
        anything that must outlive the source's retention. Shallow
        clones of hive-partitioned tables are refused: partition-column
        reconstruction needs a single basePath, which a foreign-rooted
        file set does not have (deep clone handles them).

        ``shallow=False`` copies every referenced data/DV file (and the
        bloom sidecars, which stay valid because relative paths are
        preserved) into the destination — a fully self-contained copy.

        Schema, partition spec, CHECK constraints, deletion-vector
        state, and table properties (change_feed, bloom config) all
        carry over; history does NOT (the clone starts at v0 — Delta's
        rule). Returns the new table's handle."""
        target = self.snapshot(version_as_of, timestamp=timestamp_as_of)
        dest = SnaplogTable(
            self.spark,
            dest_path,
            checkpoint_interval=self.checkpoint_interval,
            checkpoint_format=self.checkpoint_format,
        )
        if dest.exists():
            raise ValueError(f"clone destination {dest.path} already exists")
        if shallow and target.partition_by:
            raise ValueError(
                f"shallow clone of hive-partitioned {self.path} is not "
                "supported (partition reconstruction needs one basePath); "
                "use shallow=False"
            )

        def _src_abs(rel: str) -> str:
            return rel if os.path.isabs(rel) else os.path.join(self.path, rel)

        entries: list[FileEntry] = []
        dv_entries: list[FileEntry] = []
        bloom_rels: list = []
        if shallow:
            for f in target.files:
                entries.append(
                    FileEntry(_src_abs(f.path), f.rows, f.bytes, f.stats, f.partition)
                )
            for d in target.dvs:
                dv_entries.append(FileEntry(_src_abs(d.path), d.rows, 0, {}))
            # bloom sidecars key files by source-relative path, which the
            # clone's absolute entries never match: drop them (pruning
            # stays sound — files without a bloom are always kept)
        else:
            for f in target.files:
                rel = (
                    f"{DATA_DIR}/{os.path.basename(f.path)}"
                    if os.path.isabs(f.path)  # deep clone OF a shallow clone
                    else f.path
                )
                dst = os.path.join(dest.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(_src_abs(f.path), dst)
                entries.append(FileEntry(rel, f.rows, f.bytes, f.stats, f.partition))
            for d in target.dvs:
                rel = (
                    f"{DV_DIR}/{os.path.basename(d.path)}"
                    if os.path.isabs(d.path)
                    else d.path
                )
                dst = os.path.join(dest.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(_src_abs(d.path), dst)
                dv_entries.append(FileEntry(rel, d.rows, 0, {}))
            for rel in target.bloom:
                src = os.path.join(self.path, rel)
                if not os.path.exists(src):
                    continue  # vacuumed sidecar of an older snapshot
                dst = os.path.join(dest.path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(src, dst)
                bloom_rels.append(rel)
        os.makedirs(dest.log_dir, exist_ok=True)
        dest._commit(
            "clone",
            add=entries,
            schema_json=target.schema_json,
            partition_by=target.partition_by,
            constraints=target.constraints or None,
            dv_add=dv_entries,
            bloom=bloom_rels,
            column_mapping=target.column_mapping or None,
            retired=target.retired or None,
            generated=target.generated or None,
        )
        props = self._stored_properties()
        if props:
            with open(dest._properties_file + ".tmp", "w") as fh:
                json.dump(props, fh)
            os.replace(dest._properties_file + ".tmp", dest._properties_file)
        return dest

    # ---------------- write-audit-publish (Iceberg's WAP pattern)

    @property
    def _branch_marker_file(self) -> str:
        # non-numeric name: _versions() never mistakes it for a commit
        return os.path.join(self.log_dir, "branch.json")

    def branch_out(self, dest_path: str) -> "SnaplogTable":
        """Start a write-audit-publish branch: a shallow clone (zero
        copy) that RECORDS its provenance (source path + version), so
        the source can later ``publish`` it back atomically. The flow:

            branch = table.branch_out(staging_path)
            branch.write(...); branch.merge(...)        # write
            validate branch.read() however you like      # audit
            table.publish(branch)                        # publish

        Readers of the source never see in-flight branch work; the
        publish is ONE commit, and it fast-forwards only — if the source
        advanced past the fork, publish raises instead of guessing a
        merge. Audit failures cost nothing: delete the branch dir."""
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        branch = self.clone(dest_path, shallow=True, version_as_of=current)
        tmp = branch._branch_marker_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"source_path": self.path, "source_version": current}, fh)
        os.replace(tmp, branch._branch_marker_file)
        return branch

    def publish(self, branch: "SnaplogTable") -> int:
        """Land a ``branch_out`` branch's NET effect on this table as one
        atomic commit (operation ``publish``; the change feed derives
        coarse delete+insert events from it, like an overwrite).

        Fast-forward only: the commit pins the fork version, so a source
        that advanced since ``branch_out`` raises SnapshotConflictError —
        re-branch from the new head and replay the work (rebasing two
        divergent histories is a merge policy, not something to guess).
        Branch-added files are ADOPTED into the source's data dir by
        hard link (copy across filesystems): zero data rewrite. Schema /
        constraint / column-mapping evolution on the branch carries
        over wholesale. A branch publishes at most once; deletion
        vectors must be materialized on the branch first. If the commit
        loses a race, adopted-but-unreferenced files are crash leftovers
        that vacuum sweeps."""
        try:
            with open(branch._branch_marker_file) as fh:
                marker = json.load(fh)
        except OSError:
            raise ValueError(
                f"{branch.path} is not a branch (no provenance marker); "
                "create it with branch_out"
            )
        if marker.get("source_path") != self.path:
            raise ValueError(
                f"branch {branch.path} forked from "
                f"{marker.get('source_path')!r}, not {self.path}"
            )
        if "published_at_source_version" in marker:
            raise ValueError(
                f"branch {branch.path} was already published (source "
                f"v{marker['published_at_source_version']}); branch again"
            )
        base_v = marker["source_version"]
        bhead = branch.version()
        if bhead is None or bhead == 0:
            return self.version()  # no branch commits: publish is a no-op
        bsnap = branch.snapshot(bhead)
        branch._require_no_dvs(bsnap, "publish")

        v0_paths = {f.path for f in branch.snapshot(0).files}  # absolute
        head_files = {f.path: f for f in bsnap.files}
        source_paths = set(self.snapshot().file_paths())
        removed = []
        for p in sorted(v0_paths - set(head_files)):
            if p.startswith(self.path + os.sep):
                removed.append(os.path.relpath(p, self.path))
            elif p in source_paths:
                # the source is itself a shallow clone: it references this
                # file by the SAME origin-absolute string — remove verbatim
                removed.append(p)
            else:
                raise ValueError(
                    f"branch v0 references {p!r} unknown to the source table"
                )
        added = []
        for p in sorted(set(head_files) - v0_paths):
            f = head_files[p]
            src_abs = p if os.path.isabs(p) else os.path.join(branch.path, p)
            rel = f"{DATA_DIR}/{os.path.basename(p)}"
            dst = os.path.join(self.path, rel)
            if os.path.exists(dst):
                raise ValueError(
                    f"publish file collision on {rel!r} (uuid part names "
                    "should make this impossible — investigate)"
                )
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src_abs, dst)
            except OSError:
                shutil.copyfile(src_abs, dst)
            added.append(FileEntry(rel, f.rows, f.bytes, f.stats, f.partition))

        version = self._commit(
            "publish",
            add=added,
            remove=removed,
            schema_json=bsnap.schema_json,
            expected_version=base_v,  # the fast-forward pin
            partition_by=bsnap.partition_by,
            constraints=bsnap.constraints,
            column_mapping=bsnap.column_mapping,
            retired=bsnap.retired,
            generated=bsnap.generated,
        )
        marker["published_at_source_version"] = version
        tmp = branch._branch_marker_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
        os.replace(tmp, branch._branch_marker_file)
        return version

    def _maybe_auto_compact(self, added: Sequence[FileEntry]) -> Optional[int]:
        """Delta's autoCompact: after a file-adding commit, bin-pack the
        small files of JUST the partitions that commit touched, as a
        separate best-effort data_change=false commit. Ingest never fails
        on maintenance: a concurrent-writer conflict or freshly-appeared
        deletion vectors simply skip this round — the next write retries.
        Scoping to touched partitions keeps the follow-up O(one
        partition's small files), never O(table)."""
        if not added or not self.auto_compact:
            return None
        current = self.version()
        if current is None or self.snapshot(current).dvs:
            return None
        try:
            return self.compact(
                target_file_mb=self.auto_compact_target_mb,
                min_files=self.auto_compact_min_files,
                _partitions={frozenset(e.partition.items()) for e in added},
            )
        except SnapshotConflictError:
            return None

    def compact(
        self,
        *,
        target_file_mb: int = 128,
        cluster_by: Optional[Sequence[str]] = None,
        zorder_by: Optional[Sequence[str]] = None,
        min_files: int = 2,
        where=None,
        _partitions: Optional[set] = None,
    ) -> Optional[int]:
        """Rewrite small files into ~target-size ones THROUGH the log —
        transactional, conflict-checked, history-preserving (old versions
        still read the pre-compaction files until vacuum). ``cluster_by``
        range-clusters (tight stats on the LEADING column); ``zorder_by``
        interleaves bucket bits (io/zorder.py) so ``read(filters=...)``
        prunes files on EVERY listed column — Delta's OPTIMIZE ZORDER.

        ``where`` (Delta's OPTIMIZE WHERE) scopes the rewrite to files
        that MAY hold matching rows — the same DNF filters ``read``
        takes, resolved via partition values and stats, incl. hidden
        transform translation. Selection is per-FILE and conservative,
        which is always safe here: compaction rewrites whole files and
        preserves every row, so an over-selected file just gets packed
        too. ``_partitions`` (internal, auto-compact) restricts to an
        exact set of partition-value tuples."""
        if cluster_by and zorder_by:
            raise ValueError("pass cluster_by or zorder_by, not both")
        current = self.version()
        if current is None:
            raise FileNotFoundError(f"no snaplog table at {self.path}")
        snap = self.snapshot(current)
        self._require_no_dvs(snap, "compact")
        spec = list(snap.partition_by)
        pfields = parse_partition_spec(spec)
        # clustering by an IDENTITY partition col (or a hidden name) is a
        # no-op request — values are constant per file; clustering by a
        # TRANSFORM's source (e.g. ts under days(ts)) is useful and allowed
        flat = {f.name for f in pfields if not f.hidden} | {
            f.name for f in pfields
        }
        if spec and flat & set([*(cluster_by or ()), *(zorder_by or ())]):
            raise ValueError(
                f"cluster_by/zorder_by must not repeat the partition "
                f"columns {spec}; partition values are constant per file "
                "and already prune exactly"
            )
        threshold = target_file_mb * 1024 * 1024
        scope = snap.files
        if where is not None:
            pgroups = augment_groups_for_partitions(
                self._phys_groups(normalize_filters(where), snap),
                snap.partition_by,
            )
            scope = snap.prune(pgroups)
        if _partitions is not None:
            scope = [
                f for f in scope if frozenset(f.partition.items()) in _partitions
            ]
        small = [f for f in scope if f.bytes < threshold]
        if len(small) < min_files:
            return None
        df = self._scan(small, snap)
        total = sum(f.bytes for f in small)
        n_out = max(1, round(total / threshold))
        # on a hive-partitioned table, clustering happens WITHIN each
        # partition (Delta's OPTIMIZE ZORDER scope): partition columns
        # lead the range key + sort so rows stay partition-grouped and
        # each partition's files cover contiguous cluster ranges. Hidden
        # transform columns are derived up front (staging reuses them).
        if (cluster_by or zorder_by) and any(f.hidden for f in pfields):
            types = {fld.name: fld.dataType.typeName() for fld in df.schema.fields}
            for f in pfields:
                if f.hidden:
                    df = df.withColumn(f.name, _transform_column(f, types[f.source]))
        part_lead = [f.name for f in pfields]
        if zorder_by:
            from dc43_spark.io.zorder import zorder_repartition

            df = zorder_repartition(df, zorder_by, n_out, prefix_cols=part_lead)
        elif cluster_by:
            lead = [F.col(c) for c in [*part_lead, *cluster_by]]
            df = df.repartitionByRange(n_out, *lead)
            df = df.sortWithinPartitions(*lead)
        else:
            df = df.coalesce(n_out)
        added = self._stage_files(
            self._to_physical_df(df, snap), partition_by=snap.partition_by
        )
        return self._commit(
            "compact",
            add=added,
            remove=[f.path for f in small],
            schema_json=snap.schema_json,
            expected_version=current,
            data_change=False,  # layout-only: the change feed skips it
            # OPTIMIZE must not abort ingest: concurrent appends/merges
            # rebase under it unless they rewrote one of the files being
            # compacted (delete/delete) — Delta's OPTIMIZE semantics
            read_info=ReadInfo(
                paths=frozenset(f.path for f in small), reads_rest=False
            ),
        )

    def vacuum(
        self,
        *,
        keep_versions: int = 1,
        retention_hours: Optional[float] = None,
        min_file_age_hours: float = 0.0,
        dry_run: bool = False,
    ):
        """Physically delete data files referenced by NO retained snapshot.
        Retention is the last ``keep_versions`` versions, UNION every
        version younger than ``retention_hours`` (Delta's time-based
        RETAIN — in-commit timestamps are monotonic, so the retained set
        is always a contiguous suffix of the log). Returns files deleted
        (int) — or, with ``dry_run=True``, the would-be-deleted relative
        paths WITHOUT touching anything (Delta's VACUUM DRY RUN; crash
        leftovers are not listed since sweeping them is not a data
        deletion). Time-travel reaches only retained versions afterwards.

        Concurrency caveat (same class as Delta's unsafe-VACUUM window): a
        writer that has staged files into data/ but not yet committed its
        manifest would lose them to a simultaneous vacuum.
        ``min_file_age_hours`` is the Delta-style mitigation: unreferenced
        files YOUNGER than the threshold are kept (an in-flight writer's
        staged data survives; the next vacuum sweeps it once it is old
        enough to be a true orphan). With the default 0, run vacuum from
        the table's single maintenance owner, not alongside live writers —
        commits themselves stay safe; only uncommitted staged files are at
        risk."""
        versions = self._versions()
        if not versions:
            return [] if dry_run else 0
        retained = versions[-max(1, keep_versions):]
        if retention_hours is not None:
            cutoff = time.time() - retention_hours * 3600.0
            young = [
                v for v in versions
                if self._read_commit(v)["timestamp"] >= cutoff
            ]
            retained = sorted(set(retained) | set(young))
        # head-tagged versions are retained regardless of age (Iceberg's
        # tag retention): a release tag keeps its snapshot restorable.
        # An old tag makes the retained set non-contiguous; the CDC sweep
        # below keys off retained[0], which then conservatively KEEPS the
        # change data of the in-between versions too — never drops it.
        head = self.snapshot(versions[-1])
        tagged = set(head.refs.values()) & set(versions)
        if tagged:
            retained = sorted(set(retained) | tagged)
        # one replay per retained version serves the data, DV and bloom
        # sweeps below (the head's is the one read for its tags)
        live: set[str] = set()
        live_dvs: set[str] = set()
        live_bloom: set[str] = set()
        for v in retained:
            snap = head if v == versions[-1] else self.snapshot(v)
            live.update(snap.file_paths())
            live_dvs.update(f.path for f in snap.dvs)
            live_bloom.update(snap.bloom)
        removals: list[str] = []
        deleted = 0
        age_cutoff = time.time() - min_file_age_hours * 3600.0

        def _rm(abs_p: str, rel: str) -> None:
            nonlocal deleted
            if min_file_age_hours > 0:
                try:
                    if os.path.getmtime(abs_p) > age_cutoff:
                        return  # too young: possibly a live writer's staging
                except OSError:
                    return
            removals.append(rel)
            if not dry_run:
                os.unlink(abs_p)
            deleted += 1

        if os.path.isdir(self.data_dir):
            # recursive: partitioned tables nest files under col=val dirs
            for root, _dirs, names in os.walk(self.data_dir):
                for name in names:
                    abs_p = os.path.join(root, name)
                    rel = os.path.relpath(abs_p, self.path)
                    if name.endswith(".parquet") and rel not in live:
                        _rm(abs_p, rel)
        # deletion-vector files not referenced by any retained snapshot
        if os.path.isdir(self.dv_dir):
            for name in os.listdir(self.dv_dir):
                rel = f"{DV_DIR}/{name}"
                if name.endswith(".parquet") and rel not in live_dvs:
                    _rm(os.path.join(self.dv_dir, name), rel)
        # change-data files follow the same retention: commits older than
        # the retained window lose their CDC (table_changes over them then
        # raises the explicit "vacuumed" error) — Delta ties CDC retention
        # to the log retention the same way
        referenced_cdc: set[str] = set()
        for v in versions:
            for e in self._read_commit(v).get("cdc", []):
                if v >= retained[0]:
                    referenced_cdc.add(e["path"])
                    continue
                p = os.path.join(self.path, e["path"])
                if os.path.exists(p):
                    _rm(p, e["path"])
        # CDC files staged by a merge/delete/update that then hit a
        # SnapshotConflictError (or crashed) before committing belong to
        # NO manifest — under contention they leak unboundedly
        if os.path.isdir(self.cdc_dir):
            for name in os.listdir(self.cdc_dir):
                rel = f"{CDC_DIR}/{name}"
                if name.endswith(".parquet") and rel not in referenced_cdc:
                    _rm(os.path.join(self.cdc_dir, name), rel)
        # bloom sidecars: keep those any retained snapshot references
        # (checkpoint-consolidated + tail); sweep the rest — including
        # orphans staged by conflict-aborted commits
        if os.path.isdir(self.bloom_dir):
            for name in os.listdir(self.bloom_dir):
                rel = f"{BLOOM_DIR}/{name}"
                if name.endswith(".parquet") and rel not in live_bloom:
                    _rm(os.path.join(self.bloom_dir, name), rel)
        if dry_run:
            return removals
        # crash leftovers: staging dirs whose writer died mid-_stage_files,
        # and claimer temp manifests that never got linked (vacuum's
        # single-maintenance-owner contract means no writer is live now)
        for name in os.listdir(self.path):
            if name.startswith("_staging_"):
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        if os.path.isdir(self.log_dir):
            for name in os.listdir(self.log_dir):
                if name.endswith(".tmp"):
                    os.unlink(os.path.join(self.log_dir, name))
        return deleted
