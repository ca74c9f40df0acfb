"""``schemaTrackingLocation`` on both streaming sources (r14 — VERDICT
r13 #2): persist a schema log under the checkpoint, fail ONCE on a
schema-bearing commit, and continue ACROSS the change after a single
restart with no lost commits (delta-spark's streaming schema-evolution
contract; dc43_spark/io/schema_track.py)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dc43_spark.io.delta_log import DeltaLogTable, delta_write
from dc43_spark.io.delta_source import DeltaLogDataSource
from dc43_spark.io.schema_track import SchemaTrackingError, SchemaTrackingLog
from dc43_spark.io.snaplog import SnaplogTable
from dc43_spark.io.snaplog_source import SnaplogDataSource


def _df(spark, lo, hi, v="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v")
    ).coalesce(1)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(DeltaLogDataSource)
    spark.dataSource.register(SnaplogDataSource)
    return spark


def _run(spark, fmt, table, cp, out, loc):
    q = (
        spark.readStream.format(fmt)
        .option("schemaTrackingLocation", loc)
        .load(table)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .option("mergeSchema", "true")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    except Exception:
        pass  # the failure (if any) is asserted via q.exception()
    return q


def test_delta_stream_continues_across_schema_change(
    registered, spark, tmp_path
):
    """The full evolution ladder on the deltalog source: process → an
    additive metaData commit records the evolved schema and fails ONCE
    → the restart serves the pending range (commits BEFORE the change
    included — nothing lost) under the evolved schema."""
    t = str(tmp_path / "t")
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    loc = os.path.join(cp, "_schema_log")
    delta_write(spark, _df(spark, 0, 4), t, checkpoint_interval=None)  # v0

    q = _run(spark, "deltalog", t, cp, out, loc)
    assert q.exception() is None
    assert spark.read.parquet(out).count() == 4
    # entry 0 = the baseline schema, recorded at stream start
    assert SchemaTrackingLog(loc).latest()["delta_commit_version"] == 0

    delta_write(spark, _df(spark, 4, 7, "b"), t, checkpoint_interval=None)  # v1
    wide = spark.range(7, 10).select(
        F.col("id").alias("k"), F.lit("c").alias("v"),
        F.lit(9).alias("extra"),
    ).coalesce(1)
    delta_write(spark, wide, t, merge_schema=True,
                checkpoint_interval=None)                               # v2

    # the run that hits the change commit fails ONCE, after persisting
    q = _run(spark, "deltalog", t, cp, out, loc)
    err = q.exception()
    assert err is not None and "schema tracking log" in str(err)
    entry = SchemaTrackingLog(loc).latest()
    assert entry["delta_commit_version"] == 2
    # v1 was NOT emitted by the failed batch (whole-batch atomicity)
    assert spark.read.parquet(out).count() == 4

    # ONE restart continues across the change: v1's rows (old files,
    # NULL-filled extra) AND v2's arrive — no lost commits
    q = _run(spark, "deltalog", t, cp, out, loc)
    assert q.exception() is None
    rows = spark.read.option("mergeSchema", "true").parquet(out).collect()
    assert {r.k for r in rows} == set(range(10))
    assert {r.extra for r in rows} == {None, 9}


def test_snaplog_stream_continues_across_rename(
    registered, spark, tmp_path
):
    """Non-additive change (column RENAME via column mapping) on the
    snaplog source: fail once, restart continues; rows appended before
    the rename replay under the evolved schema via physical-name
    mapping — values intact, nothing lost."""
    t = str(tmp_path / "t")
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    loc = os.path.join(cp, "_schema_log")
    table = SnaplogTable(spark, t)
    table.write(_df(spark, 0, 4), mode="overwrite")

    q = _run(spark, "snaplog", t, cp, out, loc)
    assert q.exception() is None
    assert spark.read.parquet(out).count() == 4

    table.write(_df(spark, 4, 6, "b"), mode="append")  # pre-change commit
    table.rename_column("v", "w")                      # schema-bearing
    table.write(
        spark.range(6, 8).select(
            F.col("id").alias("k"), F.lit("c").alias("w")
        ).coalesce(1),
        mode="append",
    )

    q = _run(spark, "snaplog", t, cp, out, loc)
    err = q.exception()
    assert err is not None and "schema tracking log" in str(err)

    q = _run(spark, "snaplog", t, cp, out, loc)
    assert q.exception() is None
    # the sink dir holds files from BOTH schema generations — read with
    # an explicit all-nullable schema so each generation NULL-fills the
    # other's column
    sink_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("w", T.StringType()),
    ])
    rows = spark.read.schema(sink_schema).parquet(out).collect()
    assert {r.k for r in rows} == set(range(8))
    # pre-rename rows replay under the NEW logical name (physical-name
    # mapping), so 'w' carries every value from both generations
    by_k = {r.k: r for r in rows}
    assert by_k[4].w == "b" and by_k[7].w == "c"


def test_tracking_refusals_and_idempotence(registered, spark, tmp_path):
    t = str(tmp_path / "t")
    other = str(tmp_path / "other")
    delta_write(spark, _df(spark, 0, 3), t, checkpoint_interval=None)
    delta_write(spark, _df(spark, 0, 3), other, checkpoint_interval=None)

    # batch reads refuse the streaming-only option
    with pytest.raises(Exception, match="STREAMING-source option"):
        spark.read.format("deltalog") \
            .option("schemaTrackingLocation", str(tmp_path / "log1")) \
            .load(t).count()

    # a tracking directory belongs to ONE table
    from dc43_spark.io.delta_source import DeltaLogStreamReader

    loc = str(tmp_path / "log2")
    track = DeltaLogStreamReader.schema_tracking
    track({"schematrackinglocation": loc}, DeltaLogTable(None, t))
    with pytest.raises(SchemaTrackingError, match="use a fresh location"):
        track(
            {"schematrackinglocation": loc}, DeltaLogTable(None, other)
        )

    # appending the fingerprint the log already holds is a no-op
    log = SchemaTrackingLog(loc)
    e0 = log.latest()
    e1 = log.append({**e0, "delta_commit_version": 99})
    assert e1["seq"] == e0["seq"]
    # a NEW fingerprint claims the next sequence
    e2 = log.append({**e0, "schema_json": '{"changed": true}'})
    assert e2["seq"] == e0["seq"] + 1


def test_delta_cdf_stream_continues_across_schema_change(
    registered, spark, tmp_path
):
    """The change-feed stream rides the same tracking log: an additive
    metaData commit mid-backlog records the evolved schema, fails once,
    and the restart serves the remaining change rows under it (change
    columns appended after the tracked base schema)."""
    t = str(tmp_path / "t")
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    loc = os.path.join(cp, "_schema_log")
    delta_write(spark, _df(spark, 0, 4), t, checkpoint_interval=None)  # v0

    def run():
        q = (
            spark.readStream.format("deltalog")
            .option("readChangeFeed", "true")
            .option("schemaTrackingLocation", loc)
            .load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        except Exception:
            pass
        return q

    q = run()
    assert q.exception() is None
    assert spark.read.parquet(out).count() == 4  # snapshot as inserts

    wide = spark.range(4, 7).select(
        F.col("id").alias("k"), F.lit("b").alias("v"),
        F.lit(1).alias("extra"),
    ).coalesce(1)
    delta_write(spark, wide, t, merge_schema=True,
                checkpoint_interval=None)                              # v1
    delta_write(spark, _df(spark, 7, 9, "c").withColumn(
        "extra", F.lit(2)), t, checkpoint_interval=None)               # v2

    q = run()
    err = q.exception()
    assert err is not None and "schema tracking log" in str(err)
    assert SchemaTrackingLog(loc).latest()["delta_commit_version"] == 1

    q = run()
    assert q.exception() is None
    sink_schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("extra", T.IntegerType()),
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
    ])
    rows = spark.read.schema(sink_schema).parquet(out).collect()
    assert {r.k for r in rows} == set(range(9))
    assert {r._change_type for r in rows} == {"insert"}
    assert {r.k for r in rows if r._commit_version == 2} == {7, 8}


def test_tracking_log_claim_race():
    """Two writers racing distinct fingerprints onto one log: the
    os.link claim means both land, on DISTINCT sequence numbers, and
    the loser of a seq retries rather than overwriting (no Spark
    needed — pure filesystem)."""
    import tempfile
    import threading

    with tempfile.TemporaryDirectory() as d:
        log = SchemaTrackingLog(d)
        results = []

        def claim(tag):
            results.append(log.append({
                "delta_commit_version": 1,
                "schema_json": f'{{"tag": "{tag}"}}',
                "partition_columns": [],
            }))

        threads = [
            threading.Thread(target=claim, args=(f"w{i}",)) for i in range(8)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        seqs = sorted(r["seq"] for r in results)
        # every writer landed; no two share a sequence number
        assert len(seqs) == 8 and len(set(seqs)) == 8
        # idempotent-append semantics still hold after the race: the
        # latest fingerprint re-appends as a no-op
        latest = log.latest()
        again = log.append({k: v for k, v in latest.items() if k != "seq"})
        assert again["seq"] == latest["seq"]
