"""The Python-Data-Source kernel both table formats' sources share
(io/snaplog_source.py and io/delta_source.py).

- **Executor read.** :class:`FilePartition` is the pickled unit of work
  (one file, its constant columns, its deletion mask and its
  logical->physical names); :func:`arrow_batches` reads it on the
  executor as Arrow batches under the source schema.
- **Stream contract.** :class:`CommitStreamReader` is the base of every
  commit-offset stream reader: rate-limited admission
  (``maxFilesPerTrigger`` / ``maxBytesPerTrigger``), the
  ``ignoreChanges`` / ``skipChangeCommits`` exclusivity rule, the
  consumed-offset base, the mid-stream schema-change check and the
  ``schemaTrackingLocation`` bootstrap. A format supplies its
  ``initialOffset``, ``partitions``, per-commit budget charge and schema
  fingerprint.
- **Change-feed compiler.** :func:`changes_frame` turns a format
  planner's change-feed partitions (``snaplog_source.change_partitions``,
  ``delta_source.change_partitions``) into one JVM DataFrame — each
  format's ``table_changes``. The batch ``readChangeFeed`` readers and
  the change-feed streams serve the same partitions through
  :func:`arrow_batches`, so the per-commit rules live once per format.
- **Option glue.** :func:`starting_version` (stream start) and
  :func:`change_bounds` (batch change range), :func:`pushdown_enabled`,
  :func:`with_cdc_fields` and :func:`refuse_batch_schema_tracking`.
"""

from __future__ import annotations

import functools
import json
import os
from typing import Callable, Iterator, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
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

from dc43_spark.io.schema_track import SchemaTrackingLog
from dc43_spark.io.tablecore import dv_join_side, uri_suffix
from dc43_spark.localdf import local_df

#: the change-feed columns a ``readChangeFeed`` source appends to the
#: table schema
CDC_FIELDS = [
    T.StructField("_change_type", T.StringType()),
    T.StructField("_commit_version", T.LongType()),
    T.StructField("_commit_timestamp", T.DoubleType()),
]


def option_flag(options: dict, key: str) -> bool:
    """A boolean reader option (keys arrive lower-cased)."""
    return str(options.get(key, "")).lower() == "true"


def normalized_schema_json(raw: Optional[str]) -> str:
    """Key-sorted JSON, so equal schemas fingerprint equal."""
    return json.dumps(json.loads(raw or "null"), sort_keys=True)


class FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        extra: Optional[dict] = None,
        deleted_positions: Optional[list] = None,
        mapping: Optional[dict] = None,
        dv_descriptor: Optional[tuple] = None,
        kept_dv_diff: Optional[tuple] = None,
    ):
        # extra: constant columns appended to every row of the file
        # (partition values, change-feed tagging); None for plain reads.
        # deleted_positions: row indexes masked out by active deletion
        # vectors (merge-on-read deletes); None/empty for most files.
        # mapping: logical -> PHYSICAL column names (column mapping /
        # renames); None when logical == physical.
        # dv_descriptor: ``(table_root, delta DV descriptor)`` — the
        # deleted-positions mask decoded ON THE EXECUTOR inside
        # arrow_batches. Only the O(1) descriptor rides the pickled
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
        self.dv_descriptor = dv_descriptor
        self.kept_dv_diff = kept_dv_diff
        self.dv_parquet = None


def arrow_batches(partition: FilePartition, schema: T.StructType):
    """Executor-side read of ONE file as Arrow batches, cast to the
    source schema (order + types), appending any constant columns.
    Files store PHYSICAL column names; ``partition.mapping`` translates
    the schema's logical names for the read and the table renames back."""
    import numpy as np
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
    kept = None
    if partition.dv_parquet is not None:
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
        idx = np.asarray(deleted, dtype=np.int64)
        keep = np.ones(tbl.num_rows, dtype=bool)
        # positions past the file's rows are probe misses (wide sparse
        # bitmaps are legal); the anti-join path ignores them too
        keep[idx[idx < tbl.num_rows]] = False
        tbl = tbl.filter(pa.array(keep))
    if kept is not None:
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
                arrays.append(
                    typed_array([extra[f.name]] * n, full.field(f.name).type)
                )
            else:
                arrays.append(tbl.column(f.name).combine_chunks())
        tbl = pa.Table.from_arrays(arrays, schema=full)
    yield from tbl.to_batches(max_chunksize=1 << 16)


def typed_array(values: list, typ):
    """``values`` as an Arrow array of ``typ``. Manifest partition values
    are JSON scalars (dates ride as ISO strings), so fall back to an
    untyped build + cast when the direct build refuses."""
    import pyarrow as pa

    try:
        return pa.array(values, type=typ)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError):
        return pa.array(values).cast(typ)


def filters_to_tuples(filters: Sequence[Filter]) -> list[tuple]:
    """Supported pushed Filters -> ``(col, op, val)`` conjuncts for the
    stats-envelope pruning (io/tablecore.py). Unsupported shapes are
    simply not used for pruning (the caller returns every filter to
    Spark regardless)."""
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


def parse_start_ts(raw: str) -> float:
    """``startingTimestamp`` / ``endingTimestamp`` value -> unix seconds:
    numeric, or an ISO 8601 / ``YYYY-MM-DD`` string (delta-spark accepts
    both). A naive ISO stamp is UTC, the repo's time-travel convention
    (a local-time reading would pick a different commit per host)."""
    try:
        return float(raw)
    except ValueError:
        pass
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(str(raw))
    except ValueError:
        raise ValueError(
            f"unparseable startingTimestamp/endingTimestamp {raw!r}; pass "
            "unix seconds or an ISO 8601 timestamp"
        ) from None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def starting_version(
    table, options: dict, commit_timestamp: Callable[[int], float]
) -> Optional[int]:
    """``startingVersion`` / ``startingTimestamp`` (mutually exclusive)
    -> the first commit a stream serves, or None when neither is set
    (each format has its own default start). ``latest`` means new data
    only; a timestamp starts at the first retained commit at-or-after
    it, or new data only when it postdates the head."""
    sv = options.get("startingversion")
    st = options.get("startingtimestamp")
    if sv is not None and st is not None:
        raise ValueError(
            "pass startingVersion OR startingTimestamp, not both"
        )
    if st is not None:
        ts = parse_start_ts(st)
        for v in table._versions():
            if commit_timestamp(v) >= ts:
                return v
    elif sv is None:
        return None
    elif str(sv).lower() != "latest":
        return int(sv)
    head = table.version()
    return 0 if head is None else head + 1


def change_bounds(
    table, options: dict, commit_timestamp: Callable[[int], float]
) -> tuple:
    """A batch change-feed read's inclusive ``(start, end)`` commit range
    from ``startingVersion`` / ``startingTimestamp`` and
    ``endingVersion`` / ``endingTimestamp`` (version OR timestamp per
    side; keys lower-cased). A start timestamp resolves to the first
    retained commit at or after it, an end timestamp to the last at or
    before it; the defaults are the first retained commit and the
    head."""
    versions = table._versions()
    if not versions:
        raise FileNotFoundError(f"no table log at {table.path}")
    bounds = {}
    for side, default in (("starting", versions[0]), ("ending", versions[-1])):
        version = options.get(f"{side}version")
        raw_ts = options.get(f"{side}timestamp")
        if raw_ts is None:
            bounds[side] = default if version is None else int(version)
            continue
        if version is not None:
            raise ValueError(
                f"pass {side}Version OR {side}Timestamp, not both"
            )
        ts = parse_start_ts(raw_ts)
        if side == "starting":
            hits = [v for v in versions if commit_timestamp(v) >= ts][:1]
        else:
            hits = [v for v in versions if commit_timestamp(v) <= ts][-1:]
        if not hits:
            where = "after" if side == "starting" else "before"
            raise ValueError(
                f"no commit of {table.path} at or {where} {side}Timestamp "
                f"{raw_ts}"
            )
        bounds[side] = hits[0]
    start, end = bounds["starting"], bounds["ending"]
    if start < versions[0] or end > versions[-1] or start > end:
        raise ValueError(
            f"change range [{start}, {end}] outside table versions "
            f"[{versions[0]}, {versions[-1]}]"
        )
    return start, end


# ---------------------------------------------------------------- DataSource glue


def pushdown_enabled() -> bool:
    """Whether ``spark.sql.python.filterPushdown.enabled`` is on. Each
    format ships a plain and a pushdown batch reader because merely
    DEFINING ``pushFilters`` trips Spark's
    [DATA_SOURCE_PUSHDOWN_DISABLED] guard when it is off."""
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    return (
        session is not None
        and session.conf.get(
            "spark.sql.python.filterPushdown.enabled", "false"
        ).lower()
        == "true"
    )


def with_cdc_fields(schema: T.StructType, options: dict) -> T.StructType:
    """The source schema: the table's, plus the change-feed columns
    under ``readChangeFeed``."""
    if option_flag(options, "readchangefeed"):
        return T.StructType([*schema.fields, *CDC_FIELDS])
    return schema


def refuse_batch_schema_tracking(options: dict) -> None:
    if options.get("schematrackinglocation"):
        raise ValueError(
            "schemaTrackingLocation is a STREAMING-source option "
            "(spark.readStream); batch reads always resolve the "
            "snapshot's own schema"
        )


# ---------------------------------------------------------------- change-feed compiler

#: a change range whose partitions collapse to at most this many constant
#: groups (commit stamp, change type, partition values) over at most
#: ``SMALL_RANGE_MAX_FILES`` files plans one literal-stamped scan per
#: group — no broadcast, no join; beyond either ceiling ONE broadcast
#: identity join carries the constants, so a deep range plans one scan
#: instead of per-commit union branches (whose driver plan build grows
#: superlinearly)
SMALL_RANGE_MAX_GROUPS = 4
SMALL_RANGE_MAX_FILES = 32


def changes_frame(
    spark, parts: Sequence[FilePartition], table_schema: T.StructType
) -> DataFrame:
    """The change feed a planner's partitions denote, as ONE JVM
    DataFrame: ``table_schema`` plus :data:`CDC_FIELDS`.

    Partitions group by mask kind and constant-column shape (a ``cdc``
    file carries ``_change_type`` in-file, a derived one as a constant);
    each group is one parquet scan under the PHYSICAL names of
    ``mapping``, aliased back to logical ones. Constants ride as typed
    literals on small ranges (see ``SMALL_RANGE_MAX_GROUPS``), otherwise
    through one broadcast identity join keyed on the scan's
    ``_metadata`` (basename equality, ``uri_suffix`` residual); a file
    claimed by several partitions is scanned once and fans out through
    the join. Deletion masks never decode on the driver:

    - ``dv_descriptor`` / ``kept_dv_diff`` (Delta): the O(1)
      descriptors decode on executors (``mapInPandas``) into
      ``(partition, position)`` rows that anti-/semi-join the scan
      (``dv_join_side`` picks broadcast or shuffle);
    - ``dv_parquet`` (snaplog): the deletion-vector files' ``(file,
      pos)`` rows anti-join the scan on ``(basename, row_index)``."""
    schema = T.StructType([*table_schema.fields, *CDC_FIELDS])
    groups: dict = {}
    for p in parts:
        extra = p.extra or {}
        key = (
            _mask_kind(p),
            tuple(f.name for f in schema.fields if f.name in extra),
            p.dv_parquet[0] if p.dv_parquet is not None else None,
            tuple(sorted((p.mapping or {}).items())),
        )
        groups.setdefault(key, []).append(p)
    frames = [
        _group_frame(spark, schema, key, members)
        for key, members in groups.items()
    ]
    if not frames:
        return local_df(spark, [], schema)
    return functools.reduce(DataFrame.unionByName, frames)


def _mask_kind(p: FilePartition) -> Optional[str]:
    if p.dv_descriptor is not None:
        return "drop"
    if p.kept_dv_diff is not None:
        return "keep"
    if p.dv_parquet is not None:
        return "rows"
    return None


def _group_frame(spark, schema: T.StructType, key: tuple, members: list):
    kind, const_names, dv_paths, mapping = key
    const_fields = [schema[c] for c in const_names]
    file_fields = [f for f in schema.fields if f.name not in const_names]
    consts = _const_rows(members, const_fields)
    if kind is None or kind == "rows":
        by_consts: dict = {}
        for p, c in zip(members, consts):
            by_consts.setdefault(c, []).append(p.path)
        if (
            len(by_consts) <= SMALL_RANGE_MAX_GROUPS
            and len({p.path for p in members}) <= SMALL_RANGE_MAX_FILES
        ):
            frames = []
            for c, paths in by_consts.items():
                df = _scan(spark, paths, file_fields, dict(mapping), kind)
                if kind == "rows":
                    df = _subtract_dv_rows(spark, df, dv_paths)
                lits = {
                    f.name: F.lit(v).cast(f.dataType).alias(f.name)
                    for v, f in zip(c, const_fields)
                }
                frames.append(df.select(*[
                    lits.get(n, F.col(f"`{n}`")) for n in schema.names
                ]))
            return functools.reduce(DataFrame.unionByName, frames)
    df = _scan(
        spark, [p.path for p in members], file_fields, dict(mapping), kind,
        identity=True,
    )
    ident = local_df(
        spark,
        [
            (os.path.basename(p.path), uri_suffix(p.path), i, *c)
            for i, (p, c) in enumerate(zip(members, consts))
        ],
        T.StructType([
            T.StructField("_cf_id_fb", T.StringType()),
            T.StructField("_cf_id_sfx", T.StringType()),
            T.StructField("_cf_pid", T.LongType()),
            *[T.StructField(f.name, f.dataType) for f in const_fields],
        ]),
        coalesce=1,
    )
    df = df.join(
        F.broadcast(ident),
        (df["_cf_fb"] == ident["_cf_id_fb"])
        & df["_cf_path"].endswith(ident["_cf_id_sfx"]),
    )
    if kind == "rows":
        df = _subtract_dv_rows(spark, df, dv_paths)
    elif kind is not None:
        df = _join_dv_positions(spark, df, members, kind)
    return df.select(*[F.col(f"`{n}`") for n in schema.names])


def _const_rows(members: list, const_fields: list) -> list:
    """Each partition's constants as a tuple of Python values of the
    columns' types (typed once per column through Arrow)."""
    from pyspark.sql.pandas.types import to_arrow_type

    cols = [
        typed_array(
            [p.extra.get(f.name) for p in members], to_arrow_type(f.dataType)
        ).to_pylist()
        for f in const_fields
    ]
    return list(zip(*cols)) if cols else [()] * len(members)


def _scan(spark, paths, file_fields, mapping: dict, kind, identity=False):
    """One parquet scan of ``paths`` (each file once) under the physical
    names, aliased to the logical ``file_fields``, plus the ``_metadata``
    columns the identity join and the deletion masks key on. A
    ``parquet.field.id`` in a field's metadata rides into the read
    schema, so field-id mapped files resolve by id."""
    read = T.StructType([
        T.StructField(
            mapping.get(f.name, f.name), f.dataType, True,
            {k: v for k, v in (f.metadata or {}).items()
             if k == "parquet.field.id"},
        )
        for f in file_fields
    ])
    cols = [
        F.col(f"`{r.name}`").alias(f.name)
        for r, f in zip(read.fields, file_fields)
    ]
    if identity or kind == "rows":
        cols.append(F.col("_metadata.file_name").alias("_cf_fb"))
    if identity:
        cols.append(F.col("_metadata.file_path").alias("_cf_path"))
    if kind is not None:
        cols.append(F.col("_metadata.row_index").alias("_cf_pos"))
    df = spark.read.format("parquet").schema(read).load(sorted(set(paths)))
    return df.select(*cols)


def _subtract_dv_rows(spark, df: DataFrame, dv_paths) -> DataFrame:
    """``df`` minus the rows the snaplog deletion-vector files' ``(file,
    pos)`` rows mark, one broadcast anti-join on ``(basename,
    row_index)``."""
    dv = spark.read.parquet(*dv_paths)
    return df.join(
        F.broadcast(dv),
        (df["_cf_fb"] == dv["file"]) & (df["_cf_pos"] == dv["pos"]),
        "left_anti",
    )


def _join_dv_positions(spark, df: DataFrame, members: list, kind: str):
    """Keep (``keep``: semi) or drop (``drop``: anti) the positions each
    partition's Delta descriptors denote, keyed by the identity join's
    partition id: a file claimed by two partitions (DV growth in two
    commits of the range) keeps each claim's own positions."""
    rows, card = [], 0
    for i, p in enumerate(members):
        if kind == "drop":
            root, a = p.dv_descriptor
            b = None
        else:
            root, a, b = p.kept_dv_diff
        rows.append((i, root, json.dumps(a), None if b is None else json.dumps(b)))
        n = (a or {}).get("cardinality")
        card = -1 if card < 0 or n is None or int(n) < 0 else card + int(n)
    positions = local_df(
        spark, rows, "pid long, root string, a string, b string"
    ).mapInPandas(_expand_dvs, "_dv_pid long, _dv_pos long")
    return df.join(
        dv_join_side(spark, positions, card),
        (df["_cf_pid"] == positions["_dv_pid"])
        & (df["_cf_pos"] == positions["_dv_pos"]),
        "left_anti" if kind == "drop" else "left_semi",
    )


def _expand_dvs(batches):
    """Executor side of :func:`_join_dv_positions`: each descriptor row
    -> its ``decode(a) - decode(b)`` positions."""
    import numpy as np
    import pandas as pd

    from dc43_spark.io.dv import decode_dv_descriptor

    def _decode(root, desc):
        if desc is None:
            return np.empty(0, dtype=np.int64)
        return np.asarray(
            decode_dv_descriptor(root, json.loads(desc)), dtype=np.int64
        )

    for pdf in batches:
        for r in pdf.itertuples(index=False):
            pos = np.setdiff1d(
                _decode(r.root, r.a), _decode(r.root, r.b), assume_unique=True
            )
            yield pd.DataFrame({
                "_dv_pid": np.full(len(pos), r.pid, dtype=np.int64),
                "_dv_pos": pos,
            })


# ---------------------------------------------------------------- stream contract


class CommitStreamReader(DataSourceStreamReader):
    """Commit-offset stream reader over an immutable table log.

    Offsets are ``{"version": N}`` (commits <= N consumed); a format
    with an owed initial snapshot adds ``{"snapshot": true, "index": k}``
    while the snapshot's files are being admitted.

    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` cap each
    microbatch: the owed snapshot is admitted in file-index chunks, then
    WHOLE commits until either budget is spent (at least one file / one
    commit per batch, delta-spark's floor). The cap needs a consumed
    base, which the reader learns the way Spark's own
    ``_SimpleStreamReaderWrapper`` does: lazily from ``initialOffset``
    on a fresh stream (the engine calls ``latestOffset`` FIRST), and
    from the ``partitions``/``commit`` callbacks afterwards — on restart
    the engine replans the offset log's last batch through
    ``partitions`` before asking for a new offset, so the base is never
    stale.

    Engine caveat: under ``Trigger.AvailableNow`` the Python-source API
    captures ONE capped target per run, so a rate-limited run processes
    one batch's budget and terminates (repeated runs converge). For
    backfill drains use ``dc43_spark.streaming.drain.drain``, which
    loops capped availableNow runs on one checkpoint until caught up,
    or a processing-time trigger.

    The stream's schema is the one in effect at the construction head
    (or the ``schemaTrackingLocation`` log's latest entry); a newer
    commit carrying a different schema fingerprint fails the query.

    A format subclass supplies ``FORMAT``, ``TRACKING_VERSION_KEY``,
    ``initialOffset``, ``partitions`` (which sets ``self._base`` to its
    end offset and calls :meth:`_check_schema` on schema-bearing
    commits), ``_commit_add_stats(v) -> (files, bytes)``,
    ``_schema_at`` and ``_tracking_fields``; a format with a snapshot
    phase also supplies ``_snapshot_sizes(version)``."""

    #: the table format named in messages
    FORMAT = ""
    #: the tracking-log entry key of the commit version the entry's
    #: schema took effect at
    TRACKING_VERSION_KEY = ""

    def __init__(self, table, schema: T.StructType, options: dict):
        self._table = table
        self._schema = schema
        self._max_files = int(options.get("maxfilespertrigger", 0) or 0)
        self._max_bytes = int(options.get("maxbytespertrigger", 0) or 0)
        if self._max_files < 0 or self._max_bytes < 0:
            raise ValueError(
                "maxFilesPerTrigger/maxBytesPerTrigger must be positive"
            )
        self._base: Optional[dict] = None  # last known consumed offset
        self._commit_costs: dict = {}  # version -> (files, bytes)
        head = table.version()
        self._schema_epoch = -1 if head is None else head
        self._schema_fp: Optional[tuple] = None  # lazy baseline
        # schemaTrackingLocation: epoch/fingerprint come from the
        # tracking log instead, so restarts stream ACROSS schema changes
        # (io/schema_track.py). The epoch becomes the tracked entry's
        # commit version (NOT the table head): a restart after a
        # recorded evolution replays the change commit cleanly, and
        # commits before it serve under the evolved schema through the
        # same executor kernel historical reads use
        self._schema_log, entry = self.schema_tracking(options, table)
        if entry is not None:
            cols = entry.get("partition_columns")
            self._schema_epoch = entry[self.TRACKING_VERSION_KEY]
            self._schema_fp = (
                entry["schema_json"], None if cols is None else tuple(cols)
            )

    def _change_options(self, options: dict, *, ignore_deletes: bool = False):
        """Parse ``ignoreChanges`` / ``skipChangeCommits`` (and Delta's
        ``ignoreDeletes`` when the format has it). skipChangeCommits
        drops change commits wholesale; the ignore options replay their
        rewritten rows — the two semantics are mutually exclusive."""
        self._ignore_changes = option_flag(options, "ignorechanges")
        self._skip_change_commits = option_flag(options, "skipchangecommits")
        self._ignore_deletes = ignore_deletes and option_flag(
            options, "ignoredeletes"
        )
        if self._skip_change_commits and (
            self._ignore_changes or self._ignore_deletes
        ):
            ignored = (
                "ignoreChanges/ignoreDeletes" if ignore_deletes
                else "ignoreChanges"
            )
            raise ValueError(
                f"skipChangeCommits is mutually exclusive with {ignored}: "
                "skip drops change commits wholesale, the ignore options "
                "replay their rewritten rows — pick one semantics"
            )

    # ------------------------------------------------ admission

    def _commit_cost(self, v: int) -> tuple:
        if v not in self._commit_costs:
            self._commit_costs[v] = self._commit_add_stats(v)
        return self._commit_costs[v]

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
        base = self._base
        # inf sentinel keeps the dual-budget arithmetic uniform
        files_left = self._max_files or float("inf")
        bytes_left = self._max_bytes or float("inf")
        snapshot_pending = False
        if base.get("snapshot"):
            sizes = self._snapshot_sizes(base["version"])
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
            nf, nb = self._commit_cost(v)
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

    def read(self, partition: FilePartition) -> Iterator:
        yield from arrow_batches(partition, self._schema)

    def commit(self, end: dict) -> None:
        # offsets live in the stream checkpoint (the log is immutable);
        # the remembered offset is the rate limit's cap base
        self._base = dict(end)

    # ------------------------------------------------ schema changes

    def _check_schema(self, v: int, fp: tuple, table_id=None) -> None:
        """delta-spark's mid-stream schema-change contract: a commit
        NEWER than the schema the stream started with, carrying a
        different fingerprint, fails the query loudly (the fixed source
        schema would silently drop new columns / misread non-additive
        changes). Restarting re-resolves the schema at the new head,
        where the change commit is at-or-below the epoch and replays
        clean — no failure loop. Commits at-or-below the epoch are the
        lineage of the current schema and pass through. Under
        ``schemaTrackingLocation`` the evolved schema is recorded first,
        so the restart continues from this commit under it."""
        if v <= self._schema_epoch:
            return
        if self._schema_fp is None:
            if self._schema_epoch < 0:
                # stream started on an empty table: the CREATE commit's
                # schema IS the baseline
                self._schema_fp = fp
                return
            self._schema_fp = (
                self._schema_at(self._table, self._schema_epoch)[0] or fp
            )
        if fp == self._schema_fp:
            return
        if self._schema_log is not None:
            self._schema_log.append(
                self._tracking_entry(self._table, v, fp, table_id)
            )
            raise ValueError(
                f"detected a schema change in commit v{v} of "
                f"{self._table.path}; the evolved schema was persisted "
                "to the schema tracking log — restart the streaming "
                "query to continue from this commit under the new schema "
                "(delta-spark's schemaTrackingLocation contract)"
            )
        raise ValueError(
            f"detected a schema change in commit v{v} of "
            f"{self._table.path}; the stream's source schema is fixed "
            "at start — restart the streaming query to pick up the new "
            "schema (delta-spark's contract)"
        )

    @classmethod
    def schema_tracking(cls, options: dict, table):
        """``(log, latest_entry)`` for ``schemaTrackingLocation`` —
        ``(None, None)`` when the option is absent. An empty log
        initializes with the table's construction-head schema (entry 0,
        delta-spark's baseline), so the first entry always exists
        before the stream serves a batch; ownership (table path, plus
        the table id where the format has one) validates against reuse
        for a different table."""
        loc = options.get("schematrackinglocation")
        if not loc:
            return None, None
        log = SchemaTrackingLog(loc)
        head = table.version()
        if head is None:
            raise ValueError(
                f"schemaTrackingLocation needs an existing {cls.FORMAT} "
                f"table (no log at {table.path})"
            )
        fp, table_id = cls._schema_at(table, head)
        log.validate_owner(table.path, table_id)
        entry = log.latest()
        if entry is None:
            if fp is None:
                raise ValueError(
                    f"{cls.FORMAT} table {table.path} has no recorded schema"
                )
            entry = log.append(cls._tracking_entry(table, head, fp, table_id))
        return log, entry

    @classmethod
    def tracked_schema(cls, options: dict, table) -> Optional[T.StructType]:
        """The tracking log's latest schema (the evolved schema after a
        recorded change), or None without ``schemaTrackingLocation``."""
        _log, entry = cls.schema_tracking(options, table)
        if entry is None:
            return None
        return T.StructType.fromJson(json.loads(entry["schema_json"]))

    @classmethod
    def _tracking_entry(cls, table, v: int, fp: tuple, table_id) -> dict:
        return {
            cls.TRACKING_VERSION_KEY: v,
            **cls._tracking_fields(fp, table_id),
            "table_path": os.path.abspath(table.path),
        }

    @staticmethod
    def _schema_at(table, v: int) -> tuple:
        """-> ``(fingerprint or None, table id or None)`` at version
        ``v``. A fingerprint is ``(normalized schema JSON, partition
        columns or None)``."""
        raise NotImplementedError

    @staticmethod
    def _tracking_fields(fp: tuple, table_id) -> dict:
        """The format's tracking-log entry fields for fingerprint ``fp``."""
        raise NotImplementedError

