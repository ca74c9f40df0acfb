"""Jar-less Delta as a registered Spark data source (io/delta_source.py):
batch scans with pushed-filter pruning + positional DV masks, and
commit-offset STREAMING with Delta's source options (startingVersion,
ignoreDeletes, ignoreChanges)."""

import os

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.delta_log import DeltaLogTable, delta_write
from dc43_spark.io.delta_source import DeltaLogDataSource


def _df(spark, lo, hi, v="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v")
    ).coalesce(1)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(DeltaLogDataSource)
    return spark


def test_batch_scan_time_travel_and_pruning(registered, spark, tmp_path):
    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 10), t)
    delta_write(spark, _df(spark, 10, 20), t)

    df = spark.read.format("deltalog").load(t)
    assert df.count() == 20
    pinned = spark.read.format("deltalog").option("versionAsOf", 0).load(t)
    assert {r.k for r in pinned.collect()} == set(range(10))
    # pushed filter prunes to the one file whose stats envelope matches
    from dc43_spark.io.delta_source import DeltaLogBatchReader
    from pyspark.sql.datasource import GreaterThanOrEqual

    r = DeltaLogBatchReader(t, {})
    assert len(r.partitions()) == 2
    r.pushFilters([GreaterThanOrEqual(("k",), 15)])
    assert len(r.partitions()) == 1
    got = spark.read.format("deltalog").load(t).filter("k >= 15")
    assert {x.k for x in got.collect()} == set(range(15, 20))


def test_batch_scan_applies_dv_mask(registered, spark, tmp_path):
    """A DV-bearing file reads through the positional mask inside the
    Arrow kernel — no join in this path at all."""
    from dc43_spark.io.snaplog import SnaplogTable
    from dc43_spark.io.delta_log import export_delta_snapshot

    src = SnaplogTable(spark, str(tmp_path / "src"))
    src.write(_df(spark, 0, 10), mode="overwrite")
    src.delete([("k", "in", (2, 7))], strategy="merge_on_read")
    dest = export_delta_snapshot(src, str(tmp_path / "delta"))

    df = spark.read.format("deltalog").load(dest)
    assert {r.k for r in df.collect()} == set(range(10)) - {2, 7}


def test_streaming_appends_and_starting_version(registered, spark, tmp_path):
    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 3, "a"), t)
    delta_write(spark, _df(spark, 3, 5, "b"), t)

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("deltalog").load(t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert {r.k for r in spark.read.parquet(out).collect()} == set(range(5))

    # new commit, restart same checkpoint: only the delta arrives
    delta_write(spark, _df(spark, 5, 8, "c"), t)
    q = (
        spark.readStream.format("deltalog").load(t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert spark.read.parquet(out).count() == 8

    # startingVersion skips history
    out2 = str(tmp_path / "out2")
    q = (
        spark.readStream.format("deltalog")
        .option("startingVersion", 2).load(t)
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert {r.k for r in spark.read.parquet(out2).collect()} == {5, 6, 7}


def test_streaming_change_commits_follow_the_contract(registered, spark, tmp_path):
    """Delete-only commits refuse without ignoreDeletes; rewrite commits
    refuse without ignoreChanges, and with it the live rows replay."""
    from dc43_spark.io.snaplog import SnaplogTable
    from dc43_spark.io.delta_log import export_delta_snapshot, sync_delta_export

    src = SnaplogTable(spark, str(tmp_path / "src"))
    src.write(_df(spark, 0, 6), mode="overwrite")
    dest = export_delta_snapshot(src, str(tmp_path / "delta"))
    src.delete([("k", "=", 1)], strategy="merge_on_read")
    sync_delta_export(src, dest)  # v1: remove + DV re-add

    def run(opts, cp, out):
        reader = spark.readStream.format("deltalog")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(dest)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(str(q.exception()))

    # a fresh stream with NO startingVersion initializes from the CURRENT
    # snapshot (delta-spark's isStartingVersion): the rewrite history is
    # never replayed, so no ignoreChanges is needed and only live rows
    # arrive — ADVICE r9 (the old default replayed from version 0)
    run({}, str(tmp_path / "cp0"), str(tmp_path / "o0"))
    snap_rows = spark.read.parquet(str(tmp_path / "o0"))
    assert {r.k for r in snap_rows.collect()} == set(range(6)) - {1}
    assert snap_rows.count() == 5
    # an EXPLICIT historical start replays commits and hits the contract
    with pytest.raises(Exception, match="ignoreChanges"):
        run({"startingVersion": 0}, str(tmp_path / "cp1"), str(tmp_path / "o1"))
    # with ignoreChanges a full replay duplicates the rewritten file's
    # LIVE rows on top of the pre-rewrite batch — Delta's documented
    # at-least-once caveat, pinned exactly: 6 original + 5 live
    run({"ignoreChanges": "true", "startingVersion": 0},
        str(tmp_path / "cp2"), str(tmp_path / "o2"))
    replayed = spark.read.parquet(str(tmp_path / "o2"))
    assert replayed.count() == 11
    assert {r.k for r in replayed.collect()} == set(range(6))
    # starting AT the rewrite commit isolates the DV mask: only live rows
    run({"ignoreChanges": "true", "startingVersion": 1},
        str(tmp_path / "cp3"), str(tmp_path / "o3"))
    got = {r.k for r in spark.read.parquet(str(tmp_path / "o3")).collect()}
    assert got == set(range(6)) - {1}


def test_streaming_skip_change_commits(registered, spark, tmp_path):
    """skipChangeCommits (delta-spark >=2.3, the documented replacement
    for ignoreChanges) drops change commits WHOLESALE: the replay set
    (ignoreChanges) exceeds the skip set by exactly the rewritten file's
    carried rows, appends before/after the change commit still stream,
    and the option refuses to combine with ignoreChanges/ignoreDeletes."""
    from collections import Counter

    from dc43_spark.io.delta_dml import delta_delete

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 6), t)        # v0: append (one file)
    delta_write(spark, _df(spark, 6, 8), t)        # v1: append
    delta_delete(spark, t, "k = 1", use_dvs=False)  # v2: COW rewrite
    delta_write(spark, _df(spark, 8, 10), t)       # v3: append

    def run(opts, cp, out):
        reader = spark.readStream.format("deltalog")
        for key, val in opts.items():
            reader = reader.option(key, val)
        q = (
            reader.load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(str(q.exception()))
        return [r.k for r in spark.read.parquet(out).collect()]

    replay = run({"ignoreChanges": "true", "startingVersion": 0},
                 str(tmp_path / "cp_r"), str(tmp_path / "o_r"))
    skipped = run({"skipChangeCommits": "true", "startingVersion": 0},
                  str(tmp_path / "cp_s"), str(tmp_path / "o_s"))
    # skip never sees v2 at all: every append replays, k=1 included
    assert sorted(skipped) == list(range(10))
    # replay vs skip differ by EXACTLY the rewritten file's carried rows
    # (v0's file minus the deleted k=1: {0, 2, 3, 4, 5})
    assert Counter(replay) - Counter(skipped) == Counter([0, 2, 3, 4, 5])
    assert Counter(skipped) - Counter(replay) == Counter()

    # refusal matrix: mutually exclusive with ignore*
    from dc43_spark.io.delta_source import DeltaLogStreamReader

    for bad in ({"ignorechanges": "true"}, {"ignoredeletes": "true"}):
        with pytest.raises(ValueError, match="mutually exclusive"):
            DeltaLogStreamReader(
                t, None, {"skipchangecommits": "true", **bad}
            )


def test_snapshot_start_then_incremental(registered, spark, tmp_path):
    """Default (no startingVersion) = snapshot-first: the first batch is
    the live snapshot, and a LATER commit arrives incrementally through
    the same checkpoint — no history replay, no duplicates."""
    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 3, "a"), t)
    delta_write(spark, _df(spark, 3, 6, "b"), t)

    def run():
        q = (
            spark.readStream.format("deltalog").load(t)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(str(q.exception()))
        return spark.read.parquet(str(tmp_path / "out"))

    assert run().count() == 6  # one snapshot batch, not two commit batches
    delta_write(spark, _df(spark, 6, 8, "c"), t)
    got = run()
    assert got.count() == 8
    assert {r.k for r in got.collect()} == set(range(8))


def test_cleaned_up_history_refuses_explicit_start_but_snapshots(
    registered, spark, tmp_path
):
    """A table whose early JSON commits were cleaned up (checkpoint
    retains readability): explicit startingVersion=0 refuses with a
    clear error instead of FileNotFoundError; the default snapshot
    start serves the live rows — ADVICE r9."""
    from dc43_spark.io.delta_log import write_delta_checkpoint

    t = str(tmp_path / "t")
    for i in range(3):
        delta_write(spark, _df(spark, 3 * i, 3 * i + 3), t,
                    checkpoint_interval=None)
    write_delta_checkpoint(DeltaLogTable(spark, t), 2)
    os.unlink(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    os.unlink(os.path.join(t, "_delta_log", f"{1:020d}.json"))

    def run(opts, cp, out):
        reader = spark.readStream.format("deltalog")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(str(q.exception()))

    with pytest.raises(Exception, match="no longer retained"):
        run({"startingVersion": 0}, str(tmp_path / "cp1"), str(tmp_path / "o1"))
    run({}, str(tmp_path / "cp2"), str(tmp_path / "o2"))
    assert {
        r.k for r in spark.read.parquet(str(tmp_path / "o2")).collect()
    } == set(range(9))


def test_governed_streaming_read_falls_back(registered, spark, tmp_path):
    """read.py routes streaming format='delta' through the registered
    source when the jar is absent — the reference's streaming read shape
    jar-lessly."""
    from dc43_spark.io.read import ReadRequest, load_dataframe

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 4), t)
    sdf = load_dataframe(
        spark, ReadRequest(path=t, format="delta", streaming=True)
    )
    assert sdf.isStreaming
    out = str(tmp_path / "out")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert spark.read.parquet(out).count() == 4


def test_streaming_change_data_feed(registered, spark, tmp_path):
    """readChangeFeed streaming on the jar-less source: authoritative
    cdc commits stream pre/post images, derived commits stream inserts
    and DV-growth deletes, the default start serves the live snapshot as
    inserts, and a checkpoint restart picks up only new changes."""
    from dc43_spark.io.delta_dml import delta_delete, delta_update

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 4), t, checkpoint_interval=None,
                configuration={"delta.enableChangeDataFeed": "true"})  # v0
    delta_update(spark, t, {"v": "'V'"}, "k = 2", use_dvs=True)  # v1 cdc
    delta_delete(spark, t, "k = 0", use_dvs=True)                # v2 cdc

    def run(opts, cp, out):
        reader = spark.readStream.format("deltalog").option(
            "readChangeFeed", "true")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(t)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(str(q.exception()))
        return spark.read.parquet(out)

    # explicit full-history replay
    got = run({"startingVersion": 0}, str(tmp_path / "cp1"), str(tmp_path / "o1"))
    by_v = {}
    for r in got.collect():
        by_v.setdefault(r._commit_version, set()).add((r.k, r.v, r._change_type))
    assert by_v[0] == {(k, "x", "insert") for k in range(4)}
    assert by_v[1] == {(2, "x", "update_preimage"), (2, "V", "update_postimage")}
    assert by_v[2] == {(0, "x", "delete")}

    # default start: the LIVE snapshot as inserts, then new changes only
    got = run({}, str(tmp_path / "cp2"), str(tmp_path / "o2"))
    assert {(r.k, r.v, r._change_type) for r in got.collect()} == {
        (1, "x", "insert"), (3, "x", "insert"), (2, "V", "insert"),
    }
    delta_delete(spark, t, "k = 3", use_dvs=True)                # v3 cdc
    got = run({}, str(tmp_path / "cp2"), str(tmp_path / "o2"))
    assert (3, "x", "delete") in {
        (r.k, r.v, r._change_type) for r in got.collect()
    }
    assert got.count() == 4  # 3 snapshot inserts + 1 new delete


def test_streaming_cdf_derives_without_change_files(registered, spark, tmp_path):
    """A table whose writer never emitted cdc files still streams derived
    changes: appends as inserts, DV growth as deletes of exactly the
    newly-deleted rows, full-file removes as deletes."""
    from dc43_spark.io.delta_dml import delta_delete

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 4, "a"), t, checkpoint_interval=None)
    delta_write(spark, _df(spark, 4, 6, "b"), t, checkpoint_interval=None)
    delta_delete(spark, t, "k = 1", use_dvs=True)     # DV growth
    delta_delete(spark, t, "k >= 4", use_dvs=True)    # whole second file

    q = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true").option("startingVersion", 0)
        .load(t)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    rows = spark.read.parquet(str(tmp_path / "o")).collect()
    by_v = {}
    for r in rows:
        by_v.setdefault(r._commit_version, set()).add((r.k, r._change_type))
    assert by_v[0] == {(k, "insert") for k in range(4)}
    assert by_v[1] == {(4, "insert"), (5, "insert")}
    assert by_v[2] == {(1, "delete")}
    assert by_v[3] == {(4, "delete"), (5, "delete")}


def test_streaming_high_cardinality_dv_stays_off_driver(
    registered, spark, tmp_path
):
    """VERDICT r11 #1: a MOR-heavy foreign table read through the
    Python-DataSource paths must never materialize DV positions on the
    driver. The planned partitions carry only the O(1) descriptor
    (``dv_descriptor``), decode happens inside the executor's Arrow
    kernel, and the stream still serves exactly the live rows."""
    import json as _json
    import uuid as _uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dc43_spark.io import dv as dvmod
    from dc43_spark.io.delta_source import (
        DeltaLogBatchReader,
        DeltaLogCDFStreamReader,
        DeltaLogStreamReader,
    )
    from pyspark.sql import types as T

    t = str(tmp_path / "t")
    os.makedirs(os.path.join(t, "_delta_log"))
    n_rows = 1_000
    pq.write_table(
        pa.table({"k": pa.array(np.arange(n_rows), pa.int64())}),
        os.path.join(t, "part-00000.parquet"),
    )
    # 200k positions spread over a 64M space (wide sparse bitmap — the
    # ladder's shape); the handful below n_rows are the real deletes
    rng = np.random.default_rng(7)
    positions = np.unique(
        np.concatenate([
            rng.integers(n_rows, 64_000_000, 200_000),
            np.array([2, 5, 900]),
        ]).astype(np.int64)
    )
    blob = dvmod.serialize_dv_blob(positions)
    u = _uuid.uuid4()
    (off,) = dvmod.write_dv_file(
        os.path.join(t, f"deletion_vector_{u}.bin"), [blob]
    )
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "hc", "format": {"provider": "parquet",
                                             "options": {}},
                      "schemaString": _json.dumps(
                          {"type": "struct", "fields": [
                              {"name": "k", "type": "long",
                               "nullable": True, "metadata": {}}]}),
                      "partitionColumns": [], "configuration": {}}},
        {"add": {"path": "part-00000.parquet", "partitionValues": {},
                 "size": 1, "dataChange": True,
                 "stats": _json.dumps({"numRecords": n_rows}),
                 "deletionVector": {
                     "storageType": "u",
                     "pathOrInlineDv": dvmod.z85_encode(u.bytes),
                     "offset": off, "sizeInBytes": len(blob),
                     "cardinality": int(len(positions))}}},
    ]
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.writelines(_json.dumps(a) + "\n" for a in actions)

    schema = T.StructType([T.StructField("k", T.LongType())])
    # every planner path ships the descriptor, never a position list
    for parts in (
        DeltaLogBatchReader(t, {}).partitions(),
        DeltaLogStreamReader(t, schema, {}).partitions(
            {"version": 0, "snapshot": True}, {"version": 0}
        ),
        DeltaLogCDFStreamReader(t, schema, {}).partitions(
            {"version": 0, "snapshot": True}, {"version": 0}
        ),
    ):
        assert parts, "planner produced no partitions"
        for p in parts:
            assert p.deleted_positions is None
            assert p.dv_descriptor is not None
            root, desc = p.dv_descriptor
            assert desc["cardinality"] == len(positions)

    # end to end through read_stream: live rows only
    q = (
        spark.readStream.format("deltalog").load(t)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    got = {r.k for r in spark.read.parquet(str(tmp_path / "o")).collect()}
    assert got == set(range(n_rows)) - {2, 5, 900}


def test_streaming_row_tracked_table_hides_materialized_columns(
    registered, spark, tmp_path
):
    """VERDICT r11 #7: the streaming source predates row tracking — a
    table whose COW rewrites materialized the row-id/commit-version
    columns into the physical files must stream the USER schema only
    (the materialized columns are physical-only by protocol)."""
    from dc43_spark.io.delta_dml import delta_update
    from dc43_spark.io.delta_log import delta_enable_row_tracking

    t = str(tmp_path / "t")
    delta_write(
        spark, _df(spark, 0, 6), t, checkpoint_interval=None,
        configuration={"delta.enableRowTracking": "true"},
    )
    delta_enable_row_tracking(spark, t)  # materialized column names set
    # COW update: surviving + updated rows move files, so the
    # materialized row-id columns land in the new parquet files
    delta_update(spark, t, {"v": "'U'"}, "k >= 3", use_dvs=False)
    import pyarrow.parquet as pq

    phys_cols = set()
    for f in DeltaLogTable(spark, t).snapshot().files:
        phys_cols |= set(pq.ParquetFile(os.path.join(t, f.path)).schema_arrow.names)
    assert any(c.startswith("_row_") or "row" in c.lower()
               for c in phys_cols - {"k", "v"}), phys_cols  # really materialized

    sdf = spark.readStream.format("deltalog").load(t)
    assert set(sdf.schema.fieldNames()) == {"k", "v"}  # no RT leak
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    out = spark.read.parquet(str(tmp_path / "o"))
    assert set(out.columns) == {"k", "v"}
    assert {(r.k, r.v) for r in out.collect()} == {
        (0, "x"), (1, "x"), (2, "x"), (3, "U"), (4, "U"), (5, "U"),
    }


def test_streaming_cdf_prefers_in_commit_timestamps(
    registered, spark, tmp_path
):
    """VERDICT r11 #7: the CDF stream's _commit_timestamp must be the
    commit's inCommitTimestamp (writer feature) when present — not the
    log file's mtime, which diverges after a copy/restore."""
    import json as _json
    import time as _time

    from dc43_spark.io.delta_dml import delta_delete

    t = str(tmp_path / "t")
    delta_write(
        spark, _df(spark, 0, 4), t, checkpoint_interval=None,
        configuration={
            "delta.enableInCommitTimestamps": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    delta_delete(spark, t, "k = 1", use_dvs=True)  # v1, ICT-stamped

    # expected ICTs straight from the log
    icts = {}
    for v in (0, 1):
        with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as fh:
            for line in fh:
                a = _json.loads(line)
                if "commitInfo" in a:
                    icts[v] = a["commitInfo"]["inCommitTimestamp"] / 1000.0
    assert set(icts) == {0, 1}
    # skew the file mtimes hard: a reader using mtime would now disagree
    for v in (0, 1):
        p = os.path.join(t, "_delta_log", f"{v:020d}.json")
        os.utime(p, (_time.time() + 9e4, _time.time() + 9e4))

    q = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true").option("startingVersion", 0)
        .load(t)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    got = {
        (r._commit_version, r._commit_timestamp)
        for r in spark.read.parquet(str(tmp_path / "o")).collect()
    }
    assert got == {(0, icts[0]), (1, icts[1])}, got


def test_streaming_max_files_per_trigger_rate_limits(registered, spark, tmp_path):
    """r12: delta-spark's maxFilesPerTrigger on the jar-less source —
    the owed initial snapshot serves in file-index CHUNKS (at 100 TB the
    first batch is otherwise millions of files) and incremental progress
    admits whole commits until the budget is spent (at least one commit
    per batch). Offset walk pinned step by step, then end-to-end
    completeness through a real stream."""
    from dc43_spark.io.delta_source import DeltaLogStreamReader
    from pyspark.sql import types as T

    t = str(tmp_path / "t")
    for i in range(4):  # 4 commits x 1 file -> a 4-file snapshot
        delta_write(spark, _df(spark, 10 * i, 10 * i + 10), t,
                    checkpoint_interval=None)

    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType())
    ])
    r = DeltaLogStreamReader(t, schema, {"maxfilespertrigger": "2"})
    o0 = r.initialOffset()
    assert o0 == {"version": 3, "snapshot": True, "index": 0}
    o1 = r.latestOffset()
    assert o1 == {"version": 3, "snapshot": True, "index": 2}
    p1 = r.partitions(o0, o1)
    assert len(p1) == 2
    r.commit(o1)
    o2 = r.latestOffset()  # drains the snapshot tail and CLOSES the phase
    assert o2 == {"version": 3}
    p2 = r.partitions(o1, o2)
    assert len(p2) == 2
    assert {p.path for p in p1}.isdisjoint({p.path for p in p2})
    r.commit(o2)
    assert r.latestOffset() == o2  # caught up: no new batch

    # three new 1-file commits: budget 2 admits two commits per batch
    for i in range(4, 7):
        delta_write(spark, _df(spark, 10 * i, 10 * i + 10), t,
                    checkpoint_interval=None)
    o3 = r.latestOffset()
    assert o3 == {"version": 5}
    assert len(r.partitions(o2, o3)) == 2
    r.commit(o3)
    o4 = r.latestOffset()
    assert o4 == {"version": 6}
    r.commit(o4)
    assert r.latestOffset() == o4

    # a commit BIGGER than the budget still admits whole (>=1 per batch)
    delta_write(spark, _df(spark, 70, 80).repartition(5), t,
                checkpoint_interval=None)
    o5 = r.latestOffset()
    assert o5 == {"version": 7}
    n7 = r._commit_add_stats(7)[0]
    assert n7 > 2  # genuinely over budget
    assert len(r.partitions(o4, o5)) == n7

    # end to end: a CONTINUOUS rate-limited stream drains everything in
    # capped batches (availableNow captures one capped target per run —
    # the documented Python-source API limitation)
    import time

    q = (
        spark.readStream.format("deltalog")
        .option("maxFilesPerTrigger", 2).load(t)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    deadline = time.time() + 240
    n = 0
    while time.time() < deadline and n < 80:
        try:
            n = spark.read.parquet(str(tmp_path / "o")).count()
        except Exception:
            pass
        time.sleep(1)
    q.stop()
    got = {x.k for x in spark.read.parquet(str(tmp_path / "o")).collect()}
    assert got == set(range(80))
    batches = [
        f for f in os.listdir(str(tmp_path / "cp" / "offsets"))
        if not f.startswith(".")
    ]
    assert len(batches) >= 4  # genuinely chunked, not one mega-batch


def test_drain_rate_limited_backlog(registered, spark, tmp_path):
    """streaming.drain: availableNow under a rate cap captures ONE
    batch per run (Python DataSource API limitation) — the drain helper
    loops capped runs on the same checkpoint until caught up, riding the
    offset log for exactly-once. A 6-file backlog under
    maxFilesPerTrigger=2 needs N>1 runs and lands every row exactly
    once; a second drain is a single empty verification run."""
    from dc43_spark.streaming.drain import drain

    t = str(tmp_path / "t")
    for i in range(6):  # 6 commits x 1 file
        delta_write(spark, _df(spark, 10 * i, 10 * i + 10), t,
                    checkpoint_interval=None)

    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")

    def start():
        return (
            spark.readStream.format("deltalog")
            .option("maxFilesPerTrigger", 2).load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )

    stats = drain(start, run_timeout_sec=300)
    # 6 snapshot files / cap 2 = 3 data runs + 1 empty verification run
    assert stats["runs"] > 2
    assert stats["rows"] == 60
    ks = [r.k for r in spark.read.parquet(out).collect()]
    assert sorted(ks) == list(range(60))  # no duplicates, no loss

    # caught up: one empty run and out
    again = drain(start, run_timeout_sec=300)
    assert again == {"runs": 1, "rows": 0}

    # budget refusal is loud
    delta_write(spark, _df(spark, 60, 70), t, checkpoint_interval=None)
    with pytest.raises(RuntimeError, match="max_runs"):
        drain(start, max_runs=1, run_timeout_sec=300)


def test_drain_survives_zero_row_commit_mid_backlog(
    registered, spark, tmp_path
):
    """ADVICE r13: a rate-limited batch can admit a ZERO-ROW commit
    mid-backlog (here a delete-only commit under ignoreDeletes) — its
    offset advances with numInputRows=0. drain() must key termination
    on offset non-advancement, not on the zero-row run, or it returns
    early claiming drained while commits remain."""
    from dc43_spark.io.delta_dml import delta_delete
    from dc43_spark.streaming.drain import drain

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 10), t, checkpoint_interval=None)  # v0
    delta_delete(spark, t, None)               # v1: remove-only commit
    delta_write(spark, _df(spark, 10, 20), t, checkpoint_interval=None)  # v2

    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")

    def start():
        return (
            spark.readStream.format("deltalog")
            .option("startingVersion", 0)
            .option("ignoreDeletes", "true")
            .option("maxFilesPerTrigger", 1).load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )

    stats = drain(start, run_timeout_sec=300)
    # v0 run + zero-row v1 run + v2 run + no-advance verification run:
    # the v1 run (0 rows, offset moved) must NOT terminate the loop
    assert stats["runs"] >= 4
    assert stats["rows"] == 20
    ks = sorted(r.k for r in spark.read.parquet(out).collect())
    assert ks == list(range(20))  # nothing stranded past the zero-row run


def test_streaming_max_bytes_per_trigger(registered, spark, tmp_path):
    """maxBytesPerTrigger: snapshot chunks stop at the byte budget (at
    least one file per batch), incremental commits admit whole until the
    byte budget is spent; the CDF stream refuses both rate limits."""
    from dc43_spark.io.delta_source import (
        DeltaLogCDFStreamReader,
        DeltaLogStreamReader,
    )
    from pyspark.sql import types as T

    t = str(tmp_path / "t")
    for i in range(3):
        delta_write(spark, _df(spark, 10 * i, 10 * i + 10), t,
                    checkpoint_interval=None)
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType())
    ])
    sizes = sorted(
        f.size for f in DeltaLogTable(spark, t).snapshot().files
    )
    # budget of ~1.5 files: each snapshot batch admits exactly one file
    r = DeltaLogStreamReader(
        t, schema, {"maxbytespertrigger": str(int(sizes[0] * 1.5))}
    )
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    assert o1 == {"version": 2, "snapshot": True, "index": 1}
    assert len(r.partitions(o0, o1)) == 1
    r.commit(o1)
    o2 = r.latestOffset()
    assert o2 == {"version": 2, "snapshot": True, "index": 2}
    r.commit(o2)
    o3 = r.latestOffset()  # drains the last file, closes the snapshot
    assert o3 == {"version": 2}
    assert len(r.partitions(o2, o3)) == 1
    r.commit(o3)
    # one new commit per batch under the byte budget
    delta_write(spark, _df(spark, 30, 40), t, checkpoint_interval=None)
    delta_write(spark, _df(spark, 40, 50), t, checkpoint_interval=None)
    o4 = r.latestOffset()
    assert o4 == {"version": 3}
    r.commit(o4)
    assert r.latestOffset() == {"version": 4}

    # r13: the CDF stream rate-limits too (delta-spark applies its rate
    # limits to readChangeFeed streams): the owed initial snapshot
    # chunks by file index, then whole commits admit per batch
    r2 = DeltaLogCDFStreamReader(t, schema, {"maxfilespertrigger": "2"})
    c0 = r2.initialOffset()
    assert c0 == {"version": 4, "snapshot": True, "index": 0}
    c1 = r2.latestOffset()
    assert c1 == {"version": 4, "snapshot": True, "index": 2}
    parts = r2.partitions(c0, c1)
    assert len(parts) == 2
    r2.commit(c1)
    c2 = r2.latestOffset()
    assert c2 == {"version": 4, "snapshot": True, "index": 4}
    r2.commit(c2)
    c3 = r2.latestOffset()  # drains the tail, closes the snapshot phase
    assert c3 == {"version": 4}
    assert len(r2.partitions(c2, c3)) == 1
    r2.commit(c3)
    assert r2.latestOffset() == c3  # caught up
    delta_write(spark, _df(spark, 50, 60), t, checkpoint_interval=None)
    c4 = r2.latestOffset()
    assert c4 == {"version": 5}
    assert len(r2.partitions(c3, c4)) == 1


def test_streaming_cdf_rate_limited_end_to_end(registered, spark, tmp_path):
    """A capped readChangeFeed stream drains a backlog in multiple
    batches (streaming.drain) and the cumulative change rows equal the
    batch table_changes over the same range — no split commits, no
    duplicates."""
    from collections import Counter

    from dc43_spark.streaming.drain import drain

    t = str(tmp_path / "t")
    for i in range(4):
        delta_write(spark, _df(spark, 10 * i, 10 * i + 10), t,
                    checkpoint_interval=None)
    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")

    def start():
        return (
            spark.readStream.format("deltalog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 0)
            .option("maxFilesPerTrigger", 1).load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )

    stats = drain(start, run_timeout_sec=300)
    assert stats["runs"] > 2 and stats["rows"] == 40
    got = Counter(
        (r.k, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    from dc43_spark.io.delta_log import DeltaLogTable

    oracle = Counter(
        (r.k, r._change_type, r._commit_version)
        for r in DeltaLogTable(spark, t).table_changes(0, 3).collect()
    )
    assert got == oracle


def test_streaming_starting_timestamp(registered, spark, tmp_path):
    """r12: startingTimestamp (delta-spark's stream-start option) —
    first retained commit at-or-after the timestamp (ICT-preferring),
    new-data-only when it postdates the head, exclusive with
    startingVersion, both batch and CDF streams."""
    import json as _json

    from dc43_spark.io.delta_source import (
        DeltaLogCDFStreamReader,
        DeltaLogStreamReader,
        _starting_position,
    )
    from pyspark.sql import types as T

    t = str(tmp_path / "t")
    for i in range(3):
        delta_write(spark, _df(spark, 10 * i, 10 * i + 10), t,
                    checkpoint_interval=None,
                    configuration={"delta.enableInCommitTimestamps": "true"}
                    if i == 0 else None)
    tbl = DeltaLogTable(spark, t)
    ts1 = tbl._commit_timestamp(1)

    # at-or-after: exactly v1's stamp starts at v1
    assert _starting_position(tbl, {"startingtimestamp": str(ts1)}) == (1, False)
    # a hair after v1 starts at v2
    assert _starting_position(
        tbl, {"startingtimestamp": str(ts1 + 0.0005)}
    ) == (2, False)
    # before everything: earliest retained commit
    assert _starting_position(tbl, {"startingtimestamp": "0"}) == (0, False)
    # after the head: new data only
    assert _starting_position(
        tbl, {"startingtimestamp": str(tbl._commit_timestamp(2) + 10)}
    ) == (3, False)
    with pytest.raises(ValueError, match="not both"):
        _starting_position(
            tbl, {"startingversion": "0", "startingtimestamp": "0"}
        )
    with pytest.raises(ValueError, match="unparseable startingTimestamp"):
        _starting_position(tbl, {"startingtimestamp": "not-a-time"})

    # ISO form parses; end to end the stream serves v1.. only
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts1, tz=timezone.utc).isoformat()
    q = (
        spark.readStream.format("deltalog")
        .option("startingTimestamp", iso).load(t)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    got = {x.k for x in spark.read.parquet(str(tmp_path / "o")).collect()}
    assert got == set(range(10, 30))

    # CDF stream takes the same option
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType())
    ])
    r = DeltaLogCDFStreamReader(t, schema, {"startingtimestamp": str(ts1)})
    assert r.initialOffset() == {"version": 0}


def test_batch_read_change_feed_and_plain_session_reads(
    registered, spark, tmp_path
):
    """r12 fixes two DataSource holes: (a) batch readChangeFeed
    previously fell through to the snapshot reader and died on a bare
    schema mismatch — it now serves the change rows via the CDF kernel
    with startingVersion/endingVersion; (b) merely defining pushFilters
    broke EVERY batch read on sessions without
    spark.sql.python.filterPushdown.enabled — the reader now splits
    like the snaplog source."""
    from dc43_spark.io.delta_dml import delta_delete, delta_update
    from dc43_spark.io.delta_source import (
        DeltaLogCdfBatchReader,
        DeltaLogPlainBatchReader,
    )

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 4), t, checkpoint_interval=None,
                configuration={"delta.enableChangeDataFeed": "true"})  # v0
    delta_update(spark, t, {"v": "'V'"}, "k = 2", use_dvs=True)  # v1
    delta_delete(spark, t, "k = 0", use_dvs=True)                # v2

    df = spark.read.format("deltalog").option("readChangeFeed", "true") \
        .option("startingVersion", 1).load(t)
    got = {(r.k, r.v, r._change_type, r._commit_version)
           for r in df.collect()}
    assert got == {
        (2, "x", "update_preimage", 1), (2, "V", "update_postimage", 1),
        (0, "x", "delete", 2),
    }
    # full history includes v0 inserts
    full = spark.read.format("deltalog").option("readChangeFeed", "true") \
        .load(t)
    assert full.count() == 4 + 3
    with pytest.raises(Exception, match="outside table versions"):
        DeltaLogCdfBatchReader(t, full.schema, {"endingversion": "9"})

    # (b) the plain reader does NOT override pushFilters (overriding is
    # what trips Spark's DATA_SOURCE_PUSHDOWN_DISABLED guard)
    from pyspark.sql.datasource import DataSourceReader

    assert (
        DeltaLogPlainBatchReader.pushFilters is DataSourceReader.pushFilters
    )


def test_batch_cdf_timestamp_bounds(registered, spark, tmp_path):
    """Batch CDF accepts startingTimestamp/endingTimestamp bounds
    (ICT-preferring at-or-after / at-or-before resolution), exclusive
    per side with the version options."""
    from dc43_spark.io.delta_dml import delta_delete

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 4), t, checkpoint_interval=None,
                configuration={"delta.enableChangeDataFeed": "true"})  # v0
    delta_delete(spark, t, "k = 0", use_dvs=True)                      # v1
    delta_delete(spark, t, "k = 1", use_dvs=True)                      # v2
    tbl = DeltaLogTable(spark, t)
    ts1 = tbl._commit_timestamp(1)

    got = spark.read.format("deltalog").option("readChangeFeed", "true") \
        .option("startingTimestamp", str(ts1)) \
        .option("endingTimestamp", str(ts1)).load(t)
    assert {(r.k, r._change_type, r._commit_version)
            for r in got.collect()} == {(0, "delete", 1)}
    with pytest.raises(Exception, match="not both"):
        spark.read.format("deltalog").option("readChangeFeed", "true") \
            .option("startingVersion", 0) \
            .option("startingTimestamp", "0").load(t).count()


def test_streaming_fails_loudly_on_mid_stream_schema_change(
    registered, spark, tmp_path
):
    """r13: a metaData commit NEWER than the stream's construction head
    with a DIFFERENT schema fails the query loudly (delta-spark's
    contract — the fixed source schema would silently drop the new
    column); config-only metaData commits pass; a restart (fresh
    reader at the new head) replays clean."""
    from pyspark.sql import types as T

    from dc43_spark.io.delta_source import DeltaLogStreamReader
    from dc43_spark.io.delta_log import delta_set_properties

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 5), t, checkpoint_interval=None)
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType())
    ])
    r = DeltaLogStreamReader(t, schema, {})  # epoch = v0

    # config-only metaData (property toggle) does NOT trip the check
    delta_set_properties(spark, t, {"foo.bar": "1"})
    assert len(r.partitions({"version": 0}, {"version": 1})) == 0

    # additive evolution AFTER the epoch trips it
    wide = spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("b").alias("v"),
        F.lit(7).alias("extra"),
    ).coalesce(1)
    delta_write(spark, wide, t, merge_schema=True, checkpoint_interval=None)
    with pytest.raises(ValueError, match="schema change"):
        r.partitions({"version": 1}, {"version": 2})

    # a fresh stream (epoch = new head) replays everything clean under
    # the evolved schema, old rows NULL-filled
    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")
    q = (
        spark.readStream.format("deltalog").load(t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    rows = spark.read.parquet(out).collect()
    assert {x.k for x in rows} == set(range(8))
    assert {x.extra for x in rows} == {None, 7}


def test_with_event_time_order_initial_snapshot(registered, spark, tmp_path):
    """r14 (VERDICT r13 #6, best-effort withEventTimeOrder): the initial
    snapshot admits files in EVENT-TIME order (min-stats of the named
    column) under a rate cap, the admission-order marker rides the
    snapshot offsets, and flipping the option mid-snapshot refuses.
    The column must be named explicitly (the Python DataSource API
    cannot see the query's watermark column)."""
    from pyspark.sql import types as T

    from dc43_spark.io.delta_source import DeltaLogStreamReader

    t = str(tmp_path / "t")
    # three files whose event-time ranges are disjoint; write order is
    # irrelevant — admission must follow min(ts), whatever the paths
    for lo in (200, 0, 100):
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("ts")
        ).coalesce(1)
        delta_write(spark, df, t, checkpoint_interval=None)

    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("ts", T.LongType())
    ])
    opts = {"witheventtimeorder": "true", "eventtimeordercolumn": "ts",
            "maxfilespertrigger": "1"}
    r = DeltaLogStreamReader(t, schema, opts)
    off = r.initialOffset()
    assert off["order"] == "etime:ts"
    admitted = []
    for _ in range(10):
        nxt = r.latestOffset()
        if nxt == off:
            break
        parts = r.partitions(off, nxt)
        admitted.extend(p.path for p in parts)
        r.commit(nxt)
        off = nxt
    # expected order = ascending min(ts) from the files' own stats
    from dc43_spark.io.delta_log import DeltaLogTable
    import os as _os

    files = DeltaLogTable(spark, t).snapshot().files
    expected = [
        f.path for f in sorted(files, key=lambda f: f.stats["ts"]["min"])
    ]
    assert [_os.path.basename(p) for p in admitted] == [
        _os.path.basename(p) for p in expected
    ]
    assert len(admitted) == 3  # one file per capped batch

    # flipping the option mid-snapshot refuses (marker mismatch both ways)
    plain = DeltaLogStreamReader(t, schema, {"maxfilespertrigger": "1"})
    with pytest.raises(ValueError, match="cannot change"):
        plain.partitions(
            {"version": 2, "snapshot": True, "index": 1, "order": "etime:ts"},
            {"version": 2, "snapshot": True, "index": 2},
        )
    ordered = DeltaLogStreamReader(t, schema, opts)
    with pytest.raises(ValueError, match="cannot change"):
        ordered.partitions(
            {"version": 2, "snapshot": True, "index": 1},
            {"version": 2, "snapshot": True, "index": 2},
        )

    # refusal matrix: the column must be named; flag required with it;
    # the CDF stream refuses the option outright
    with pytest.raises(ValueError, match="eventTimeOrderColumn"):
        DeltaLogStreamReader(t, schema, {"witheventtimeorder": "true"})
    with pytest.raises(ValueError, match="requires withEventTimeOrder"):
        DeltaLogStreamReader(t, schema, {"eventtimeordercolumn": "ts"})
    from dc43_spark.io.delta_source import DeltaLogCDFStreamReader

    with pytest.raises(ValueError, match="change-feed"):
        DeltaLogCDFStreamReader(t, schema, {"witheventtimeorder": "true"})


def test_streaming_exclude_regex(registered, spark, tmp_path):
    """excludeRegex (delta-spark streaming option): matching files are
    invisible — skipped in the initial snapshot, in incremental adds,
    and in both rate-limit budgets; the change-feed stream refuses the
    option (dropping files would corrupt row-level change semantics)."""
    from pyspark.sql import types as T

    from dc43_spark.io.delta_source import (
        DeltaLogCDFStreamReader,
        DeltaLogStreamReader,
    )

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 10, "a"), t, checkpoint_interval=None)
    delta_write(spark, _df(spark, 10, 20, "b"), t, checkpoint_interval=None)
    victim = sorted(
        f.path for f in DeltaLogTable(spark, t).snapshot().files
    )[0]
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType())
    ])

    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")
    q = (
        spark.readStream.format("deltalog")
        .option("excludeRegex", victim.replace(".", r"\."))
        .load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    survivors = {r.k for r in spark.read.parquet(out).collect()}
    assert len(survivors) == 10 and survivors in (
        set(range(10)), set(range(10, 20))
    )

    # incremental adds skip too, and the budget does not charge them
    delta_write(spark, _df(spark, 20, 30, "c"), t, checkpoint_interval=None)
    r = DeltaLogStreamReader(
        t, schema, {"excluderegex": r".*", "maxfilespertrigger": "1",
                    "startingversion": "2"}
    )
    assert r._commit_add_stats(2) == (0, 0)
    assert r.partitions({"version": 1}, {"version": 2}) == []

    with pytest.raises(ValueError, match="excludeRegex"):
        DeltaLogCDFStreamReader(t, schema, {"excluderegex": "x"})


def test_with_event_time_order_engine_roundtrip(registered, spark, tmp_path):
    """Engine-level withEventTimeOrder: the admission-order marker
    survives the REAL offset log (JSON round-trip through the
    checkpoint), capped batches drain the snapshot in event-time order,
    and a mid-snapshot restart WITHOUT the option refuses against the
    checkpointed marker."""
    from dc43_spark.streaming.drain import drain

    t = str(tmp_path / "t")
    for lo in (100, 0, 200):  # write order != event-time order
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("ts")
        ).coalesce(1)
        delta_write(spark, df, t, checkpoint_interval=None)

    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")

    def start(with_order=True):
        r = (
            spark.readStream.format("deltalog")
            .option("maxFilesPerTrigger", 1)
        )
        if with_order:
            r = (r.option("withEventTimeOrder", "true")
                 .option("eventTimeOrderColumn", "ts"))
        return (
            r.load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )

    # one capped run = the FIRST (lowest event-time) file only
    q = start()
    q.awaitTermination(300)
    assert q.exception() is None
    first = {r.k for r in spark.read.parquet(out).collect()}
    assert first == set(range(0, 10))  # min(ts) file, not write order

    # mid-snapshot restart WITHOUT the option: the checkpointed offset
    # carries the marker; the plain reader must refuse, not misalign
    q = start(with_order=False)
    try:
        q.awaitTermination(300)
    except Exception:
        pass
    err = q.exception()
    assert err is not None and "cannot change" in str(err)

    # with the option back, the drain completes in event-time order
    stats = drain(lambda: start(), run_timeout_sec=300)
    assert stats["rows"] == 20  # the two remaining files
    ks = sorted(r.k for r in spark.read.parquet(out).collect())
    assert ks == sorted([*range(0, 10), *range(100, 110), *range(200, 210)])


def test_batch_cdf_counts_a_duplicate_add_once(registered, spark, tmp_path):
    """Two ``add`` actions of one path in a commit are legal under
    last-wins reconciliation: the change feed emits the file's rows
    once, from the batch source as from ``table_changes``."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    delta_write(spark, _df(spark, 0, 2), t, checkpoint_interval=None)  # v0
    pq.write_table(
        pa.table({"k": pa.array([10, 11], pa.int64()),
                  "v": pa.array(["y", "y"])}),
        os.path.join(t, "dup.parquet"),
    )
    add = {"path": "dup.parquet", "partitionValues": {},
           "size": os.path.getsize(os.path.join(t, "dup.parquet")),
           "modificationTime": 0, "dataChange": True}
    with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
        fh.write(_json.dumps({"add": add}) + "\n")
        fh.write(_json.dumps({"add": {**add, "modificationTime": 1}}) + "\n")

    want = [(10, "insert", 1), (11, "insert", 1)]
    feed = spark.read.format("deltalog").option("readChangeFeed", "true") \
        .option("startingVersion", 1).load(t)
    assert sorted((r.k, r._change_type, r._commit_version)
                  for r in feed.collect()) == want
    assert sorted((r.k, r._change_type, r._commit_version)
                  for r in DeltaLogTable(spark, t).table_changes(1, 1)
                  .collect()) == want
