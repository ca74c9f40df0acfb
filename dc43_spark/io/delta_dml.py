"""Jar-less Delta row-mutating writes — MERGE / UPDATE / DELETE.

The reference's primary write surface is ``DeltaTable.merge`` (ref
spark/io/merge.py:43-127); r9's jar-less writer stopped at append /
overwrite and routed row-level ops to snaplog. This module closes that
gap by composing pieces that already existed and were independently
verified: the deletion-vector codec (io/dv.py — delta.io PROTOCOL.md
"Deletion Vectors" + RoaringFormatSpec), the protocol reader's DV scan
(io/delta_log.py), and the atomic version claimer.

Two physical strategies, matching delta-spark's own split:

- **deletion vectors** (``delta.enableDeletionVectors=true`` or the
  table already carries the feature): touched rows are marked deleted by
  writing ONE protocol DV file per touched data file — serialized ON THE
  EXECUTORS via ``applyInPandas`` grouped by file, so deleted positions
  never materialize on the driver — and the commit re-adds each touched
  file with its new descriptor (remove + add, the protocol's
  supersession convention). A file whose vector would cover every
  physical row emits a plain remove instead. No data rewrite for
  deletes; updates/merge-updates write only the NEW row versions.
- **copy-on-write** (the default for tables without the feature — any
  Delta reader can keep reading them): touched files are rewritten
  without their deleted rows; untouched files carry over by reference.

MERGE is io/mergecore.py's ``tagged_join`` (delta-spark's shape: the
join type follows the clauses): the deletion vectors, new rows and
change rows are filters of that one persisted, fate-tagged frame. A
by-source clause disables source-key file pruning (any file can hold
such rows). The source must be key-unique (SQL MERGE refuses multiple
matches).

Change data feed: when ``delta.enableChangeDataFeed=true``, every DML
commit stages ``_change_data`` parquet files (insert / delete /
update_preimage / update_postimage rows — partitioned tables store
partition values in directories, exactly delta-spark's layout) and
references them with ``cdc`` actions, which the CDF reader treats as
authoritative. Without CDF the reader still derives inserts and deletes
from the commit's file actions (new adds + DV growth).

Validation parity with delta_write: CHECK constraints, column
invariants, and generated-column rules all run as ONE aggregate over
the new rows; generated columns are recomputed for updates (and refuse
being SET directly, delta-spark's rule); ``delta.appendOnly=true``
refuses all three operations.

Concurrency: the whole operation is optimistic — each attempt of
``tablecore.commit_loop`` computes against a pinned snapshot and claims
``pin+1``; ANY head movement loses that claim and the next attempt
recomputes from the new head, never re-using stale row positions.
Orphaned staging output from lost races is swept by ``delta_vacuum``.

Scale shape: one lineage scan (a single parquet read regardless of
partition count — typed partition values ride the broadcast
file-identity join; existing DV masks applied as a cardinality-gated
anti-join, broadcast below ~10M positions, shuffle above), one join
against the source, DV serialization distributed per file, new rows
staged through the same footer-stats path as delta_write. Touch sets
persist to spillable MEMORY_AND_DISK storage (recomputable from the
pinned snapshot; pre-image columns ride only when CDF needs them —
tools/ladder.py dml_touch measures the envelope). Nothing is O(table)
on the driver.
"""

from __future__ import annotations

import functools
import json
import os
import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dc43_spark.localdf import local_df
from dc43_spark.io.mergecore import (
    FATE,
    MergePlan,
    SourceCheck,
    change_rows,
    materialized_source,
    post_images,
    require_unique_merge_keys,
    source_key_stats,
    tagged_join,
)
from dc43_spark.io.tablecore import (
    Done,
    dv_join_side,
    file_may_match,
    stage_concurrently,
)
from dc43_spark.io.delta_log import (
    _WRITER_VERSION_FEATURES,
    DeltaLogTable,
    DeltaWriteError,
    _apply_generated_columns,
    _check_append_only,
    _check_writer_protocol,
    _delta_commit,
    _delta_row_rules,
    _dv_total_cardinality,
    _enforce_delta_rules,
    _generated_columns,
    _identity_columns,
    _identity_marks,
    _file_identity_df,
    _materialized_rt_cols,
    _num_records,
    _physical_names,
    _raw_protocol_meta,
    _remove,
    _row_tracking_enabled,
    _row_tracking_present,
    _stage_data_files,
    _with_identity_marks,
)

_REL = "_dc43_rel"
_POS = "_dc43_pos"
#: row-tracking lineage columns (``_live_lineage(..., row_ids=True)``):
#: the row's CURRENT stable id / last-modified version — materialized
#: value if a rewrite stored one, else baseRowId + pos /
#: defaultRowCommitVersion
_RTID = "_dc43_row_id"
_RTVER = "_dc43_row_ver"


def _cdf_enabled(meta: dict) -> bool:
    conf = meta.get("configuration") or {}
    return str(conf.get("delta.enableChangeDataFeed", "")).lower() == "true"


def _dvs_enabled(protocol: dict, meta: dict) -> bool:
    conf = meta.get("configuration") or {}
    if str(conf.get("delta.enableDeletionVectors", "")).lower() == "true":
        return True
    return "deletionVectors" in set(protocol.get("writerFeatures") or ())


def _merge_candidate_files(
    src: DataFrame,
    snap,
    keys: Sequence[str],
    *,
    check_unique: bool = False,
    key_types: Optional[dict] = None,
    check: Optional[SourceCheck] = None,
) -> list:
    """Delta-spark's merge file pruning: ONE aggregate over the source
    computes each key's min/max (+ null presence), and only target files
    whose stats envelope intersects every key range can hold a match —
    the rest never enter the lineage scan. Sound for inserts too: a
    pruned file provably contains no key in the source range, so no
    source row can match there. A key with source NULLs skips its
    conditions (NULL joins NULL under eqNullSafe and stats can't bound
    it) — conservative, never wrong. ``check_unique`` fuses the
    duplicate-source-key probe into this same pass, and ``check`` a
    governed merge's contract metrics and verdict (one source scan
    instead of three — mergecore.source_key_stats)."""
    row = source_key_stats(
        src, list(keys), check_unique=check_unique, key_types=key_types,
        check=check,
    )
    conds = []
    for i, k in enumerate(keys):
        if row[f"_null_{i}"] or row[f"_lo_{i}"] is None:
            continue  # NULL keys present (or empty source): unprunable key
        conds.append((k, ">=", row[f"_lo_{i}"]))
        conds.append((k, "<=", row[f"_hi_{i}"]))
    if not conds:
        return list(snap.files)
    groups = [conds]  # one AND-group
    return [f for f in snap.files if file_may_match(f, groups)]


def _rt_mat_cols_checked(meta: dict) -> tuple:
    """Materialized row-tracking column names, refusing when enablement
    forgot them — a rewrite without them would silently hand surviving
    rows fresh identities."""
    mat_id, mat_ver = _materialized_rt_cols(meta)
    if not (mat_id and mat_ver):
        raise DeltaWriteError(
            "row tracking is enabled but the materialized column names "
            "are not configured; DML cannot preserve row ids — fix "
            "delta.rowTracking.materialized*ColumnName"
        )
    return mat_id, mat_ver


def _live_lineage(
    t: DeltaLogTable, snap, files=None, *, row_ids: bool = False
) -> DataFrame:
    """Every LIVE row of ``files`` (default: the whole snapshot;
    existing DV masks applied) with two hidden lineage columns:
    ``_dc43_rel`` (the add action's decoded relative path) and
    ``_dc43_pos`` (the parquet row index) — the coordinates a deletion
    vector addresses.

    ONE parquet scan regardless of partition count: the file-identity
    tag join (basename equality + full-relative-path suffix residual,
    same keying as ``_apply_dvs``) carries the add action's TYPED
    partition values on the broadcast side, so partitioned tables pay a
    single broadcast join instead of a one-branch-per-partition-tuple
    union whose Catalyst analysis cost grows superlinearly past ~1k
    partitions (VERDICT r10 #7; tools/ladder.py lineage_plan measures
    the ladder)."""
    spark = t.spark
    rt_cols = [StructField(_RTID, LongType()),
               StructField(_RTVER, LongType())] if row_ids else []
    out_schema = StructType(
        list(snap.schema.fields)
        + [StructField(_REL, StringType()), StructField(_POS, LongType())]
        + rt_cols
    )
    mat_id = mat_ver = None
    if row_ids:
        mat_id, mat_ver = _materialized_rt_cols(
            {"configuration": snap.configuration}
        )
    scan_files = list(snap.files) if files is None else list(files)
    if not scan_files:
        return local_df(spark, [], out_schema)
    data_fields = [
        f for f in snap.schema.fields if f.name not in snap.partition_columns
    ]
    data_schema = StructType(data_fields)
    rename_back: dict = {}
    if snap.column_mapping:
        # mapped tables: read through the mode's resolution schema
        # (physical names, or logical+field-id for id mode) and alias
        # back to logical right after the scan — a positional zip, so it
        # degenerates to a no-op for id mode (partition columns never
        # live in the files; they ride the tag join below under their
        # logical names)
        data_schema = t._physical_schema(snap, data_fields)
        rename_back = {
            p.name: l.name
            for p, l in zip(data_schema.fields, data_fields)
        }

    if row_ids:
        # the materialized columns are physical-only (absent from the
        # schema); files that predate any rewrite read them as NULL
        data_schema = StructType(
            list(data_schema.fields)
            + [StructField(mc, LongType()) for mc in (mat_id, mat_ver) if mc]
        )
    files_df = F.broadcast(
        _file_identity_df(spark, snap, scan_files, row_tracking=row_ids)
    )

    scan = (
        spark.read.format("parquet")
        .schema(data_schema)
        .load([os.path.join(t.path, m.path) for m in scan_files])
        .select(
            "*",
            F.col("_metadata.file_name").alias("_dc43_base"),
            F.col("_metadata.file_path").alias("_dc43_path"),
            F.col("_metadata.row_index").alias(_POS),
        )
    )
    if rename_back:
        scan = scan.select(
            *[
                F.col(f"`{p}`").alias(rename_back.get(p, p))
                for p in [f.name for f in data_schema.fields]
            ],
            "_dc43_base", "_dc43_path", _POS,
        )
    rt_exprs = []
    if row_ids:
        fresh_id = F.col("_dc43_rt_base") + F.col(_POS)
        rt_exprs = [
            (
                F.coalesce(F.col(f"`{mat_id}`"), fresh_id)
                if mat_id else fresh_id
            ).cast("long").alias(_RTID),
            (
                F.coalesce(F.col(f"`{mat_ver}`"), F.col("_dc43_rt_dver"))
                if mat_ver else F.col("_dc43_rt_dver")
            ).cast("long").alias(_RTVER),
        ]
    tagged = (
        scan.join(
            files_df,
            (scan["_dc43_base"] == files_df["_dc43_fb"])
            & (
                scan["_dc43_path"].endswith(files_df["_dc43_fsfx"])
                | scan["_dc43_path"].endswith(files_df["_dc43_fsfxq"])
            ),
            "inner",
        )
        .select(*[f.name for f in snap.schema.fields], _REL, _POS, *rt_exprs)
    )

    # existing DV masks: expand descriptors on executors, anti-join on
    # the exact (rel, pos) key — already-deleted rows are invisible
    dv_files = [f for f in scan_files if f.dv]
    if dv_files:
        table_path = t.path
        desc = local_df(
            spark,
            [
                (
                    f.path,
                    f.dv["storageType"],
                    f.dv["pathOrInlineDv"],
                    int(f.dv["offset"] or 0),
                    int(f.dv["sizeInBytes"] or -1),
                    int(f.dv["cardinality"])
                    if f.dv["cardinality"] is not None
                    else -1,
                )
                for f in dv_files
            ],
            "rel string, storage string, spec string, off long, "
            "size long, card long",
        )

        def _expand(batches):
            import pandas as pd

            from dc43_spark.io.dv import decode_dv_descriptor

            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    positions = decode_dv_descriptor(
                        table_path,
                        {
                            "storageType": r.storage,
                            "pathOrInlineDv": r.spec,
                            "offset": r.off,
                            "sizeInBytes": None if r.size < 0 else r.size,
                            "cardinality": None if r.card < 0 else r.card,
                        },
                    )
                    yield pd.DataFrame({"rel": r.rel, "pos": positions})

        deleted = desc.mapInPandas(_expand, "rel string, pos long")
        # broadcast only while sum(cardinality) fits the gate — a foreign
        # MOR table can carry billions of deleted positions (see
        # tablecore.dv_join_side)
        tagged = tagged.join(
            dv_join_side(spark, deleted, _dv_total_cardinality(dv_files)),
            (tagged[_REL] == deleted["rel"]) & (tagged[_POS] == deleted["pos"]),
            "left_anti",
        )
    return tagged


def _to_physical(df: DataFrame, snap) -> DataFrame:
    """Rename logical columns to their physical names before staging a
    mapped table's files, carrying ``parquet.field.id`` alias metadata so
    the staged parquet keeps field ids (required for id-mode resolution;
    delta-spark-faithful for name mode). Extra columns (``_change_type``)
    pass through unchanged."""
    if not snap.column_mapping:
        return df
    phys = _physical_names(snap.schema)
    fids = {
        f.name: (f.metadata or {}).get("delta.columnMapping.id")
        for f in snap.schema.fields
    }

    def _col(c):
        fid = fids.get(c)
        if fid is not None:
            return F.col(f"`{c}`").alias(
                phys.get(c, c), metadata={"parquet.field.id": int(fid)}
            )
        return F.col(f"`{c}`").alias(phys.get(c, c))

    return df.select(*[_col(c) for c in df.columns])


def _stage_dv_files(t: DeltaLogTable, del_rows: DataFrame, old_dvs: dict) -> dict:
    """Serialize one protocol deletion vector PER TOUCHED FILE on the
    executors: ``applyInPandas`` grouped by ``_dc43_rel`` merges the new
    positions with the file's existing vector (descriptors ride in the
    closure — metadata-scale), writes a single-blob DV file into the
    table directory (invisible until the commit references it), and
    returns only the tiny descriptor rows. -> {rel: descriptor+card}."""
    table_path = t.path

    def _write(key, pdf):
        import uuid as _uuid

        import pandas as pd

        from dc43_spark.io import dv as dvmod

        rel = key[0]
        positions = set(int(p) for p in pdf[_POS])
        old = old_dvs.get(rel)
        if old:
            positions.update(
                int(p) for p in dvmod.decode_dv_descriptor(table_path, old)
            )
        blob = dvmod.serialize_dv_blob(sorted(positions))
        u = _uuid.uuid4()
        (off,) = dvmod.write_dv_file(
            os.path.join(table_path, f"deletion_vector_{u}.bin"), [blob]
        )
        return pd.DataFrame(
            [
                {
                    "rel": rel,
                    "spec": dvmod.z85_encode(u.bytes),
                    "off": off,
                    "size": len(blob),
                    "card": len(positions),
                }
            ]
        )

    rows = (
        del_rows.select(_REL, _POS)
        .groupBy(_REL)
        .applyInPandas(
            _write, "rel string, spec string, off long, size long, card long"
        )
        .collect()
    )
    return {
        r.rel: {
            "storageType": "u",
            "pathOrInlineDv": r.spec,
            "offset": int(r.off),
            "sizeInBytes": int(r.size),
            "cardinality": int(r.card),
        }
        for r in rows
    }


def _dv_protocol_upgrade(protocol: dict) -> Optional[dict]:
    """A protocol action adding the deletionVectors feature (reader 3 /
    writer 7), folding in the features the OLD versions implied — or
    None when the table already carries it."""
    wfeats = set(protocol.get("writerFeatures") or ())
    if protocol.get("minWriterVersion", 2) >= 7 and "deletionVectors" in wfeats:
        return None
    rv = protocol.get("minReaderVersion", 1)
    rfeats = set(protocol.get("readerFeatures") or ())
    if rv < 3:
        rfeats = {"columnMapping"} if rv >= 2 else set()
    wv = protocol.get("minWriterVersion", 2)
    if wv < 7:
        wfeats = set()
        for ver, fs in _WRITER_VERSION_FEATURES.items():
            if wv >= ver:
                wfeats |= fs
    rfeats.add("deletionVectors")
    wfeats.add("deletionVectors")
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rfeats),
            "writerFeatures": sorted(wfeats),
        }
    }


def _commit_dml(
    t: DeltaLogTable,
    snap,
    protocol: dict,
    meta: dict,
    *,
    op: str,
    params: dict,
    del_rows: Optional[DataFrame],
    lineage: DataFrame,
    new_rows: Optional[DataFrame],
    cdf_rows: Optional[DataFrame],
    use_dvs: Optional[bool],
    new_meta: Optional[dict] = None,
    ident_alloc: Optional[dict] = None,
) -> tuple:
    """Stage one DML commit against the pinned ``snap`` and return it as
    a ``delta_log._delta_commit`` attempt: ``(snap.version, actions,
    protocol, meta)``. The claim lands at ``snap.version + 1`` only if
    the head has not moved; a lost claim re-runs the whole op against
    the new head. Staged files of a lost attempt orphan and are swept by
    delta_vacuum.

    ``ident_alloc``: identity specs ({name: {"start","step","hwm"}}) the
    caller allocated values under (MERGE inserts) — the commit advances
    each ``delta.identity.highWaterMark`` from the STAGED FOOTER STATS
    of the new files, atomically with them (PROTOCOL.md Identity Columns
    writer requirement, same shape as delta_write). Race safety is
    inherited from the pin: ANY head movement loses the claim and the
    retry reallocates under the new mark."""
    dest = t.path
    part_cols = list(snap.partition_columns)
    if snap.column_mapping and part_cols:
        # staged files partition by PHYSICAL names (the hive dirs become
        # the add's partitionValues keys — protocol-required physical);
        # _to_physical has already renamed the frames' columns
        phys = _physical_names(snap.schema)
        part_cols = [phys[c] for c in part_cols]
    ts_ms = int(time.time() * 1000)
    if use_dvs is None:
        use_dvs = _dvs_enabled(protocol, meta)

    raw_adds = t._collect_state(snap.version)[0]  # rel -> raw add action
    actions: list = [
        {
            "commitInfo": {
                "timestamp": ts_ms,
                "operation": op,
                "operationParameters": params,
            }
        }
    ]

    # the staged writes — deletion vectors OR rewritten survivors,
    # inserted rows, and CDF change files — are independent Spark jobs
    # over the same pinned lineage scan and persisted inputs, so they
    # stage concurrently; their results are assembled below in the
    # ORIGINAL action order. On a failure the staged files orphan and
    # are swept by delta_vacuum.
    dv_job = kept_job = new_job = cdf_job = None
    touched: list = []
    if del_rows is not None:
        if use_dvs:
            old_dvs = {f.path: f.dv for f in snap.files if f.dv}
            dv_job = functools.partial(_stage_dv_files, t, del_rows, old_dvs)
        else:
            # copy-on-write: rewrite ONLY the touched files without
            # their deleted rows; untouched files carry over untouched
            touched = [
                r[0] for r in del_rows.select(_REL).distinct().collect()
            ]
            if touched:
                # broadcast semi-join, not an isin literal: a wide
                # table's touched-file list would otherwise bloat the
                # plan string
                touch_df = F.broadcast(
                    local_df(
                        t.spark,
                        [(p,) for p in sorted(touched)],
                        "_touch_rel string",
                        coalesce=1,
                    )
                )
                kept = lineage.join(
                    touch_df, F.col(_REL) == F.col("_touch_rel"), "left_semi"
                ).join(
                    del_rows.select(
                        F.col(_REL).alias("_del_rel"),
                        F.col(_POS).alias("_del_pos"),
                    ),
                    (F.col(_REL) == F.col("_del_rel"))
                    & (F.col(_POS) == F.col("_del_pos")),
                    "left_anti",
                ).drop(_REL, _POS)
                if _RTID in kept.columns:
                    # row tracking: surviving rows move files, so their
                    # ids AND last-modified versions materialize into
                    # the physical columns (fresh-id fallback would hand
                    # them this commit's identity — wrong on both axes)
                    mat_id, mat_ver = _rt_mat_cols_checked(
                        new_meta if new_meta is not None else meta
                    )
                    kept = kept.withColumnRenamed(_RTID, mat_id)
                    kept = kept.withColumnRenamed(_RTVER, mat_ver)
                kept_job = functools.partial(
                    _stage_data_files,
                    _to_physical(kept, snap), dest, part_cols, ts_ms,
                )
    if new_rows is not None:
        new_job = functools.partial(
            _stage_data_files,
            _to_physical(new_rows, snap), dest, part_cols, ts_ms,
        )
    if cdf_rows is not None and _cdf_enabled(meta):
        cdf_job = functools.partial(
            _stage_data_files,
            _to_physical(cdf_rows, snap), dest, part_cols, ts_ms,
            subdir="_change_data",
        )
    descs, kept_adds, new_adds, cdf_adds = stage_concurrently(
        [dv_job, kept_job, new_job, cdf_job]
    )

    dv_written = bool(descs)
    for rel in sorted(descs or ()):
        raw = raw_adds[rel]
        actions.append(_remove(raw["path"], ts_ms))
        num = _num_records(raw)
        if num is not None and descs[rel]["cardinality"] >= num:
            continue  # every physical row dead: plain remove
        new_add = dict(raw)
        new_add["deletionVector"] = descs[rel]
        new_add["dataChange"] = True
        actions.append({"add": new_add})
    for e in kept_adds or ():
        actions.append({"add": e})
    actions += [_remove(raw_adds[rel]["path"], ts_ms) for rel in sorted(touched)]
    for e in new_adds or ():
        actions.append({"add": e})

    marks = _identity_marks(
        ident_alloc or {}, new_adds or [], _physical_names(snap.schema)
    )
    if marks:
        # the advanced marks land atomically with the files
        new_meta = _with_identity_marks(
            new_meta if new_meta is not None else meta, marks
        )
    if new_meta is not None:
        # schema evolution (merge_schema: older files read the appended
        # columns as NULL) and identity marks ride the DML commit
        actions.insert(1, {"metaData": new_meta})

    for e in cdf_adds or ():
        actions.append(
            {
                "cdc": {
                    "path": e["path"],
                    "partitionValues": e["partitionValues"],
                    "size": e["size"],
                    "dataChange": False,
                }
            }
        )

    if dv_written:
        upgrade = _dv_protocol_upgrade(protocol)
        if upgrade is not None:
            actions.insert(1, upgrade)

    # DV-superseded re-adds keep their original baseRowId (dict(raw)
    # copies); the claim loop gives only genuinely new files fresh ids
    return snap.version, actions, protocol, meta


def _pin_snapshot(t: DeltaLogTable, op: str):
    snap = t.snapshot()
    protocol, meta = _raw_protocol_meta(t, snap.version)
    _check_writer_protocol(
        protocol, meta, snap.schema, allow_column_mapping=True
    )
    _check_append_only(meta, op)
    return snap, protocol, meta


def delta_delete(
    spark: SparkSession,
    path: str,
    predicate: Optional[str] = None,
    *,
    use_dvs: Optional[bool] = None,
) -> Optional[int]:
    """DELETE FROM a real ``_delta_log`` table without the jar. Rows
    matching ``predicate`` (SQL over the table's columns; None = all
    rows) are removed via deletion vectors or copy-on-write (module
    docstring). Returns the committed version, or None when nothing
    matched."""
    t = DeltaLogTable(spark, path)

    def attempt():
        snap, protocol, meta = _pin_snapshot(t, "delete")
        rt_mat = _row_tracking_present(protocol) and _row_tracking_enabled(meta)
        lineage = _live_lineage(t, snap, row_ids=rt_mat)
        pred = F.expr(predicate) if predicate else F.lit(True)
        data_cols = [f.name for f in snap.schema.fields]
        # persist, not localCheckpoint: spillable executor storage whose
        # lost blocks recompute from the PINNED snapshot scan — a
        # full-table DELETE no longer hard-materializes every hit row
        # (VERDICT r10 #4). CDF needs the full row; without it only the
        # (rel, pos) coordinates persist.
        keep = (data_cols + [_REL, _POS]) if _cdf_enabled(meta) else [_REL, _POS]
        hit = lineage.filter(pred).select(*keep).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            if hit.isEmpty():
                return Done(None)
            cdf = None
            if _cdf_enabled(meta):
                cdf = hit.select(
                    *data_cols, F.lit("delete").alias("_change_type")
                )
            return _commit_dml(
                t, snap, protocol, meta,
                op="DELETE",
                params={"predicate": predicate or "true"},
                del_rows=hit.select(_REL, _POS),
                lineage=lineage,
                new_rows=None,
                cdf_rows=cdf,
                use_dvs=use_dvs,
            )
        finally:
            hit.unpersist()

    return _delta_commit(t, attempt, checkpoint_interval=10)


def delta_update(
    spark: SparkSession,
    path: str,
    set: dict,
    predicate: Optional[str] = None,
    *,
    use_dvs: Optional[bool] = None,
) -> Optional[int]:
    """UPDATE a real ``_delta_log`` table without the jar: rows matching
    ``predicate`` get ``set`` ({column: SQL expression over the OLD row})
    applied; old versions are deletion-vectored (or copy-on-write
    rewritten) and the new row versions land as fresh files. Generated
    columns are recomputed (and refuse being SET directly); constraints,
    invariants, and generated rules validate in one aggregate. Returns
    the committed version, or None when nothing matched."""
    t = DeltaLogTable(spark, path)

    def attempt():
        snap, protocol, meta = _pin_snapshot(t, "update")
        data_cols = [f.name for f in snap.schema.fields]
        gen = _generated_columns(snap.schema)
        bad_set = sorted(set.keys() & gen.keys())
        if bad_set:
            raise DeltaWriteError(
                f"column(s) {bad_set} are GENERATED ALWAYS AS; their "
                "values recompute from the expression — update the "
                "source columns instead"
            )
        bad_ident = sorted(
            set.keys() & _identity_columns(snap.schema).keys()
        )
        if bad_ident:
            raise DeltaWriteError(
                f"column(s) {bad_ident} are IDENTITY columns; their "
                "values are writer-allocated and cannot be SET"
            )
        missing = sorted(k for k in set if k not in data_cols)
        if missing:
            raise DeltaWriteError(f"SET columns not in schema: {missing}")
        rt_mat = _row_tracking_present(protocol) and _row_tracking_enabled(meta)
        mat_id, _mat_ver = (
            _rt_mat_cols_checked(meta) if rt_mat else (None, None)
        )
        lineage = _live_lineage(t, snap, row_ids=rt_mat)
        pred = F.expr(predicate) if predicate else F.lit(True)
        # persist, not localCheckpoint (VERDICT r10 #4) — UPDATE always
        # needs the full row (new values compute from the old); the
        # try/finally below releases it on EVERY exit, including a
        # constraint-violation raise from _enforce_delta_rules
        hit = lineage.filter(pred).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if hit.isEmpty():
                return Done(None)
            updated = hit.select(
                *[
                    F.expr(set[c]).cast(snap.schema[c].dataType).alias(c)
                    if c in set
                    else F.col(c)
                    for c in data_cols
                ],
                # updated rows keep their row IDENTITY but take this
                # commit's version: materialize the id, let the version
                # fall back to the new file's defaultRowCommitVersion
                *([F.col(_RTID).alias(mat_id)] if mat_id else []),
            )
            if gen:
                extras = [c for c in updated.columns if c not in data_cols]
                updated, _ = _apply_generated_columns(updated.drop(*gen), gen)
                updated = updated.select(*data_cols, *extras)
            _enforce_delta_rules(updated, _delta_row_rules(meta, snap.schema))
            cdf = None
            if _cdf_enabled(meta):
                cdf = hit.select(
                    *data_cols, F.lit("update_preimage").alias("_change_type")
                ).unionByName(
                    updated.select(
                        *data_cols,
                        F.lit("update_postimage").alias("_change_type"),
                    )
                )
            return _commit_dml(
                t, snap, protocol, meta,
                op="UPDATE",
                params={"predicate": predicate or "true"},
                del_rows=hit.select(_REL, _POS),
                lineage=lineage,
                new_rows=updated,
                cdf_rows=cdf,
                use_dvs=use_dvs,
            )
        finally:
            hit.unpersist()

    return _delta_commit(t, attempt, checkpoint_interval=10)


def delta_merge(
    spark: SparkSession,
    source_df: DataFrame,
    path: str,
    keys: Sequence[str],
    *,
    use_dvs: Optional[bool] = None,
    check_source_keys: bool = True,
    merge_schema: bool = False,
    source_check: Optional[SourceCheck] = None,
    **clauses,
) -> Optional[int]:
    """MERGE INTO a real ``_delta_log`` table without the jar — the
    reference's primary write surface (ref spark/io/merge.py:43-127
    forwards an arbitrary merge-builder modifier, which delta-spark
    users exercise as exactly these clauses) re-expressed over protocol
    deletion vectors / copy-on-write.

    ``clauses`` are the ``mergecore.normalize_merge_clauses`` kwargs
    (delta-spark's conditional and ordered multi-clause merge). A
    by-source clause scans EVERY candidate file (source-key pruning is
    unsound for rows defined by having no source match). The *All forms
    require the source to carry the table's columns (generated columns
    may be omitted — they recompute); the map forms only need the key
    columns plus whatever their expressions reference, and never evolve
    the schema. ``source_check`` (a governed merge's contract metrics
    and verdict) rides in the first attempt's source aggregate, before
    anything is pruned or staged. Returns the committed version, or None
    when the merge changed nothing."""
    plan = MergePlan.of(**clauses)
    keys = list(keys)
    # the duplicate-source-key check and source_check fuse into
    # _merge_candidate_files' single source pass (first attempt only;
    # retries reuse the verdicts). A by-source clause skips file
    # pruning, so there is no envelope probe: a source_check still runs
    # that one aggregate and the key check rides it; without one the key
    # check rides the fate-count pass instead (one extra union leg over
    # the materialized source, not a scan).
    check_dups_in_probe = check_source_keys and (
        not plan.by_source or source_check is not None
    )
    check_dups_in_count = check_source_keys and not check_dups_in_probe

    t = DeltaLogTable(spark, path)

    def attempt():
        nonlocal check_dups_in_probe, check_dups_in_count, source_check
        snap, protocol, meta = _pin_snapshot(t, "merge")
        table_cols = {f.name for f in snap.schema.fields}
        data_cols = [f.name for f in snap.schema.fields]
        types = {f.name: f.dataType for f in snap.schema.fields}
        gen = _generated_columns(snap.schema)
        ident = _identity_columns(snap.schema)
        ident_alloc: dict = {}
        if ident:
            # updates may never write identity values (deletes and SET
            # maps leaving the columns untouched are fine); merge-inserted
            # rows ALLOCATE fresh values beyond the high water mark in the
            # same commit (r12 — VERDICT r11 #3), exactly like delta_write:
            # start + k*step past the mark, mark advanced from the staged
            # footer stats, races aborted by the snapshot pin.
            if plan.all_update:
                raise DeltaWriteError(
                    "updateAll on an identity-column table would overwrite "
                    f"identity column(s) {sorted(ident)}; use a SET map "
                    "that leaves them untouched"
                )
            for clause in (*plan.matched, *plan.by_source):
                if clause.assignments is not None:
                    bad = sorted(set(clause.assignments) & set(ident))
                    if bad:
                        raise DeltaWriteError(
                            f"column(s) {bad} are IDENTITY columns; their "
                            "values are writer-allocated and cannot be SET"
                        )
            for n, sp in sorted(ident.items()):
                # a clause writes n EXPLICITLY iff its VALUES map lists it
                # or it is insertAll over a source that carries it
                explicit = [
                    cl for cl in plan.not_matched
                    if (n in cl.assignments if cl.assignments is not None
                        else n in source_df.columns)
                ]
                if explicit and not sp["allow"]:
                    raise DeltaWriteError(
                        f"column {n!r} is GENERATED ALWAYS AS IDENTITY "
                        "(allowExplicitInsert=false); omit it from the "
                        "insert clauses — values are allocated by the "
                        "writer"
                    )
                if explicit and len(explicit) != len(plan.not_matched):
                    raise DeltaWriteError(
                        f"identity column {n!r} is written explicitly by "
                        "some insert clauses but not others; mixing "
                        "explicit values with writer allocation in one "
                        "MERGE is ambiguous"
                    )
                if plan.not_matched and not explicit:
                    ident_alloc[n] = sp
                # explicit inserts (allow=true) pass through unchanged;
                # the HWM does not chase explicit values (delta-spark's
                # rule; ALTER ... SYNC IDENTITY is the catch-up)
        plan.refuse_generated(gen, error=DeltaWriteError)
        for clause, kind in (
            *[(cl, "when_matched SET") for cl in plan.matched],
            *[(cl, "when_not_matched VALUES") for cl in plan.not_matched],
            *[(cl, "when_not_matched_by_source SET") for cl in plan.by_source],
        ):
            unknown = sorted(
                c for c in (clause.assignments or ()) if c not in table_cols
            )
            if unknown:
                raise DeltaWriteError(f"{kind} columns not in schema: {unknown}")
        src = source_df
        gen_rules: dict = {}
        if gen and plan.all_forms:
            src, gen_rules = _apply_generated_columns(src, gen)
        missing = sorted(
            c for c in data_cols
            if c not in src.columns and c not in ident_alloc
        ) if plan.all_forms else []
        if missing and not merge_schema:
            raise DeltaWriteError(
                f"merge source lacks table column(s) {missing}; align the "
                "source, pass merge_schema=True (updates keep the "
                "target's value there, inserts take NULL — Delta's "
                "updateAll-under-evolution rule), or use column-level "
                "SET/VALUES maps"
            )
        extra = [c for c in src.columns if c not in data_cols]
        if extra and not merge_schema and plan.all_forms:
            raise DeltaWriteError(
                f"merge source has column(s) {sorted(extra)} not in the "
                "table; drop them, pass merge_schema=True for additive "
                "evolution (Delta's autoMerge), or reference them from "
                "column-level SET/VALUES maps"
            )
        if extra and merge_schema and plan.dict_clauses and plan.all_forms:
            # the *All alignment below would silently DROP the extra
            # source columns while the caller asked for evolution —
            # refuse instead of half-applying merge_schema
            raise DeltaWriteError(
                "additive evolution (merge_schema=True) is not supported "
                "when column-level SET/VALUES clauses are mixed with *All "
                "clauses; evolve the schema with delta_add_column first "
                "or use *All clauses only"
            )
        new_meta = None
        if extra and merge_schema and not plan.dict_clauses:
            if snap.mapping_mode == "id":
                raise DeltaWriteError(
                    "additive evolution on an id-mode mapped table is not "
                    "supported in DML (field ids are commit-assigned); add "
                    "the columns with delta_add_column first"
                )
            if snap.column_mapping:
                # name mode (r11): new columns get fresh ids + col-<uuid>
                # physical names in the SAME commit — the evolved snapshot
                # drives both the lineage scan (old files read the new
                # physical columns as NULL) and the physical staging
                import dataclasses as _dc
                import uuid as _uuid

                conf_now = dict(meta.get("configuration") or {})
                max_id = int(
                    conf_now.get("delta.columnMapping.maxColumnId", 0)
                )
                mapped_new = []
                for c in extra:
                    max_id += 1
                    mapped_new.append(StructField(
                        c, src.schema[c].dataType, True,
                        metadata={
                            "delta.columnMapping.id": max_id,
                            "delta.columnMapping.physicalName":
                                f"col-{_uuid.uuid4().hex}",
                        },
                    ))
                evolved = StructType(list(snap.schema.fields) + mapped_new)
                conf_now["delta.columnMapping.maxColumnId"] = str(max_id)
                new_meta = dict(meta)
                new_meta["schemaString"] = evolved.json()
                new_meta["configuration"] = conf_now
                snap = _dc.replace(
                    snap, schema=evolved, configuration=conf_now
                )
                meta = dict(meta)
                meta["configuration"] = conf_now
            else:
                evolved = StructType(
                    list(snap.schema.fields)
                    + [StructField(c, src.schema[c].dataType, True)
                       for c in extra]
                )
                new_meta = dict(meta)
                new_meta["schemaString"] = evolved.json()
            data_cols = data_cols + extra
            types = {f.name: f.dataType for f in evolved.fields}
        # the projection aligning the source to the table, applied over
        # the materialized source AFTER the one source aggregate, which
        # must see the columns as the caller passed them (the contract
        # metrics) and the keys cast as the join sees them (key_types)
        if plan.all_forms:
            # align source types to the table's (delta-spark's implicit
            # up-casts on updateAll/insertAll); evolved/missing columns
            # take the source's type / NULL
            align = [
                (
                    F.col(c).cast(snap.schema[c].dataType)
                    if c in table_cols and c in src.columns
                    else (
                        F.col(c)
                        if c in src.columns
                        else F.lit(None).cast(types[c])
                    )
                ).alias(c)
                for c in data_cols
            ]
            aligned_cols = data_cols
        else:
            # map forms keep the source's own columns (expressions may
            # reference any of them); only the join keys cast to the
            # table's types
            align = [
                F.col(c).cast(snap.schema[c].dataType).alias(c)
                if c in keys and c in table_cols
                else F.col(c)
                for c in src.columns
            ]
            aligned_cols = src.columns
        bad_keys = sorted(k for k in keys if k not in aligned_cols)
        if bad_keys:
            raise DeltaWriteError(f"merge keys not in source: {bad_keys}")
        bad_keys = sorted(k for k in keys if k not in data_cols)
        if bad_keys:
            raise DeltaWriteError(f"merge keys not in schema: {bad_keys}")
        key_types = {k: types[k] for k in keys}

        with materialized_source(src) as src:
            fates = None
            try:
                # merge file pruning (delta-spark's shape): only files whose
                # stats envelope intersects the source's key ranges can
                # match — pruned files carry over untouched, and the join's
                # unmatched source rows over the pruned lineage stay exact
                # (see helper docstring). A by-source clause disables
                # pruning: its rows are target rows WITHOUT a source match,
                # which any file can hold.
                if not plan.by_source:
                    candidates = _merge_candidate_files(
                        src, snap, keys, check_unique=check_dups_in_probe,
                        key_types=key_types, check=source_check,
                    )
                else:
                    if source_check is not None:
                        source_key_stats(
                            src, keys, check_unique=check_dups_in_probe,
                            key_types=key_types, check=source_check,
                        )
                    candidates = list(snap.files)
                check_dups_in_probe, source_check = False, None
                src = src.select(*align)
                rt_mat = _row_tracking_present(protocol) and _row_tracking_enabled(meta)
                mat_id, _mat_ver = (
                    _rt_mat_cols_checked(meta) if rt_mat else (None, None)
                )
                lineage = _live_lineage(t, snap, files=candidates, row_ids=rt_mat)
                cdf_on = _cdf_enabled(meta)
                fates = tagged_join(
                    lineage, src, keys, plan,
                    cols=data_cols,
                    types=types,
                    # a row's file and position; an updated row keeps its
                    # stable identity through the materialized column
                    carry=[_REL, _POS, *([_RTID] if mat_id else [])],
                    # width discipline: pre-images ride only when CDF
                    # needs them
                    pre_images=cdf_on,
                    keep_target_cols=missing if merge_schema else (),
                    target_cols=table_cols,
                )
                if ident_alloc:
                    # start + k*step strictly beyond the pinned high water
                    # mark (monotonically_increasing_id keeps allocation
                    # distributed; gaps are protocol-legal). A concurrent
                    # commit loses this attempt its claim and the retry
                    # reallocates under the new mark.
                    fresh = F.col(FATE) == "insert"
                    fates = fates.withColumns({
                        f"_n_{n}": F.when(fresh, (
                            F.lit(sp["start"] if sp["hwm"] is None
                                  else sp["hwm"] + sp["step"])
                            + F.lit(sp["step"]) * F.monotonically_increasing_id()
                        ).cast(types[n])).otherwise(F.col(f"_n_{n}"))
                        for n, sp in sorted(ident_alloc.items())
                    })
                # persist, not localCheckpoint: spillable/evictable executor
                # storage (MEMORY_AND_DISK) with lineage kept — blocks lost
                # to executor churn recompute from the PINNED snapshot scan,
                # and a full-table merge never hard-materializes 2x-width
                # rows the way an eager localCheckpoint did (VERDICT r10 #4)
                fates = fates.persist(StorageLevel.MEMORY_AND_DISK)

                # ONE counting pass grouped by fate materializes the cache
                # every later stage reads. AQE makes each query stage a job:
                # 8 in the sql_merge_orders gate, 5 in delta_merge_orders
                # (sf0.01, local[4], tools/job_profile.py), where three
                # separately persisted fate frames took 14 and 8.
                fate_col = fates.select(FATE)
                if check_dups_in_count:
                    # by-source merges have no pruning-envelope probe to
                    # fuse the duplicate-source-key check into: it rides
                    # this same pass over the materialized source — one
                    # row per duplicated key group
                    fate_col = fate_col.unionAll(
                        src.groupBy(*[F.col(k) for k in keys])
                        .count()
                        .filter(F.col("count") > 1)
                        .select(F.lit("dup").alias(FATE))
                    )
                counts = dict(fate_col.groupBy(FATE).count().collect())
                if counts.get("dup"):
                    # re-probe the (cached) source only on the failure
                    # path, to name an offending key in the error
                    require_unique_merge_keys(src, keys)
                    raise ValueError(  # pragma: no cover - probe raises first
                        "merge source has duplicate keys; SQL MERGE is "
                        "ambiguous under multiple source matches"
                    )
                check_dups_in_count = False  # retries reuse the verdict
                n_del, n_upd, n_ins = (
                    counts.get(f, 0) for f in ("delete", "update", "insert")
                )
                if not (n_del or n_upd or n_ins):
                    return Done(None)

                def _regen(rows: DataFrame) -> DataFrame:
                    # map-form rows mix target/source values: recompute
                    # generated columns from the final row (delta-spark's
                    # rule); insertAll rows keep their source-side values,
                    # which the rules below check
                    redo = F.lit(True) if plan.insert_maps else F.col(FATE) != "insert"
                    return rows.withColumns({
                        n: F.when(redo, F.expr(e)).otherwise(F.col(n))
                        for n, e in gen.items()
                    })

                regen = _regen if gen and plan.dict_clauses else None
                new_rows = None
                if n_upd or n_ins:
                    # inserts carry no materialized row id (NULL -> the
                    # new file's fresh baseRowId + index)
                    new_rows = post_images(
                        fates, data_cols,
                        *([f"`{_RTID}` AS `{mat_id}`"]
                          if mat_id and plan.updates else []),
                    )
                    if regen is not None:
                        new_rows = regen(new_rows)
                    new_rows = new_rows.drop(FATE)
                    _enforce_delta_rules(
                        new_rows, {**_delta_row_rules(meta, snap.schema), **gen_rules}
                    )
                # every fired matched or by-source row removes its old
                # version (update-fate rows re-land via new_rows)
                del_rows = fates.filter(
                    F.col(FATE).isin("delete", "update")
                ).select(_REL, _POS) if n_del or n_upd else None
                cdf = change_rows(fates, plan, data_cols, regen) if cdf_on else None

                matched_params = []
                for cl in plan.matched:
                    entry = {"actionType": cl.action}
                    if cl.condition:
                        entry["predicate"] = cl.condition
                    matched_params.append(entry)
                return _commit_dml(
                    t, snap, protocol, meta,
                    op="MERGE",
                    params={
                        "predicate": " AND ".join(f"t.{k} <=> s.{k}" for k in keys),
                        "matchedPredicates": json.dumps(matched_params),
                    },
                    del_rows=del_rows,
                    lineage=lineage,
                    new_rows=new_rows,
                    cdf_rows=cdf,
                    use_dvs=use_dvs,
                    new_meta=new_meta,
                    ident_alloc=ident_alloc or None,
                )
            finally:
                # release on EVERY exit — success, a lost claim's retry,
                # or a failure (constraint violation, protocol error):
                # the persisted fate frame must never outlive the
                # attempt; the source's context manager releases it
                if fates is not None:
                    fates.unpersist()

    return _delta_commit(t, attempt, checkpoint_interval=10)
