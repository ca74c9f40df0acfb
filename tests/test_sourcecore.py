"""What both table formats' sources share (io/sourcecore.py), on
snaplog and on the jar-less Delta log: the stream contract, driven
reader-level (``initialOffset`` / ``latestOffset`` / ``partitions`` /
``commit`` called directly, so no streaming query runs), and the
change-feed compiler behind ``table_changes``."""

import os

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.delta_log import DeltaLogTable, delta_write
from dc43_spark.io.delta_source import DeltaLogDataSource, DeltaLogStreamReader
from dc43_spark.io.schema_track import SchemaTrackingLog
from dc43_spark.io.snaplog import SnaplogTable
from dc43_spark.io.snaplog_source import SnaplogDataSource, SnaplogStreamReader

#: data files each commit adds
FILES = [1, 2, 1, 3]


def _frame(spark, lo, files, extra=False):
    df = spark.range(lo, lo + 10 * files, numPartitions=files).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    )
    return df.withColumn("extra", F.lit(1).cast("long")) if extra else df


def _snaplog_write(spark, path, df, evolve=False):
    SnaplogTable(spark, path).write(df, merge_schema=evolve)


def _delta_write(spark, path, df, evolve=False):
    delta_write(spark, df, path, merge_schema=evolve, checkpoint_interval=None)


# format -> (writer, stream reader, tracking-entry version key, start
# options); the Delta stream starts at v0 so its offsets are commit
# versions, not the owed initial snapshot
_FORMATS = {
    "snaplog": (_snaplog_write, SnaplogStreamReader,
                "snaplog_commit_version", {}),
    "deltalog": (_delta_write, DeltaLogStreamReader,
                 "delta_commit_version", {"startingversion": "0"}),
}


def _model_ends(costs, max_files, max_bytes):
    """Reference admission: whole commits, stop before either budget
    would be exceeded, at least one commit per batch."""
    ends, v = [], 0
    while v < len(costs):
        files = nbytes = 0
        end = None
        while v < len(costs):
            nf, nb = costs[v]
            over = (max_files and files + max(nf, 1) > max_files) or (
                max_bytes and nbytes + nb > max_bytes
            )
            if end is not None and over:
                break
            files, nbytes, end = files + max(nf, 1), nbytes + nb, v
            v += 1
        ends.append(end)
    return ends


def _drain(reader):
    """Plan and commit batches until caught up -> each batch's end
    version, checking every batch serves exactly its commits' files."""
    ends = []
    prev = reader.initialOffset()
    while True:
        end = reader.latestOffset()
        if end == prev:
            break  # caught up: the consumed base comes back unchanged
        parts = reader.partitions(prev, end)
        assert len(parts) == sum(FILES[prev["version"] + 1:end["version"] + 1])
        reader.commit(end)
        ends.append(end["version"])
        prev = end
    assert reader.latestOffset() == {"version": len(FILES) - 1}
    return ends


@pytest.mark.parametrize("fmt", sorted(_FORMATS))
def test_stream_reader_contract(spark, tmp_path, fmt):
    write, reader_cls, version_key, start = _FORMATS[fmt]
    path = str(tmp_path / "t")
    lo = 0
    for n in FILES:
        write(spark, path, _frame(spark, lo, n))
        lo += 10 * n

    def reader(**options):
        return reader_cls(path, None, {**start, **options})

    costs = [reader()._commit_add_stats(v) for v in range(len(FILES))]
    assert [nf for nf, _nb in costs] == FILES

    # whole-commit admission under maxFilesPerTrigger: 1+2 fill a 3-file
    # budget, the 3-file commit does not fit after the 1-file one
    assert _drain(reader(maxfilespertrigger="3")) == [1, 2, 3]
    # at-least-one floor: a commit larger than the budget still admits
    assert _drain(reader(maxfilespertrigger="1")) == [0, 1, 2, 3]
    # maxBytesPerTrigger: the first two commits exactly fill the budget
    budget = costs[0][1] + costs[1][1]
    got = _drain(reader(maxbytespertrigger=str(budget)))
    assert got[0] == 1 and got == _model_ends(costs, 0, budget)
    assert _drain(reader(maxbytespertrigger="1")) == [0, 1, 2, 3]
    # both budgets at once: whichever binds first stops the batch
    got = _drain(reader(maxfilespertrigger="2", maxbytespertrigger=str(budget)))
    assert got == _model_ends(costs, 2, budget)
    # uncapped: one batch up to the head
    assert _drain(reader()) == [3]

    with pytest.raises(ValueError, match="mutually exclusive"):
        reader(skipchangecommits="true", ignorechanges="true")
    with pytest.raises(ValueError, match="must be positive"):
        reader(maxfilespertrigger="-1")

    # schema change mid-stream: refused without tracking; with tracking
    # the evolved schema is appended under the format's own entry key
    loc = str(tmp_path / "track")
    plain = reader()
    tracked = reader(schematrackinglocation=loc)
    log = SchemaTrackingLog(loc)
    assert log.latest()[version_key] == 3
    write(spark, path, _frame(spark, lo, 1, extra=True), evolve=True)  # v4
    with pytest.raises(ValueError, match="schema change"):
        plain.partitions({"version": 3}, {"version": 4})
    with pytest.raises(ValueError, match="schema change"):
        tracked.partitions({"version": 3}, {"version": 4})
    entry = log.latest()
    assert entry["seq"] == 1 and entry[version_key] == 4
    assert '"extra"' in entry["schema_json"]
    assert entry["table_path"] == os.path.abspath(path)
    assert ("table_id" in entry) == (fmt == "deltalog")
    # the restart resolves its schema from the log and replays clean
    restarted = reader(schematrackinglocation=loc)
    assert "extra" in reader_cls.tracked_schema(
        {"schematrackinglocation": loc}, restarted._table
    ).fieldNames()
    assert len(restarted.partitions({"version": 3}, {"version": 4})) == 1


# ---------------------------------------------------------------- change feed

# format (also its data source name) -> table handle
_TABLES = {"snaplog": SnaplogTable, "deltalog": DeltaLogTable}


def _feed_writer(fmt):
    if fmt == "snaplog":
        return lambda spark, path, df: SnaplogTable(spark, path).write(
            df, mode="append", partition_by=["region"]
        )
    return lambda spark, path, df: delta_write(
        spark, df, path, partition_by=["region"], checkpoint_interval=None
    )


@pytest.fixture()
def sources(spark):
    spark.dataSource.register(SnaplogDataSource)
    spark.dataSource.register(DeltaLogDataSource)
    return spark


@pytest.mark.parametrize("region", ["EU", "a b", "a/b c"])
@pytest.mark.parametrize("fmt", sorted(_TABLES))
def test_change_feed_agrees_across_readers_on_escaped_partitions(
    sources, tmp_path, fmt, region
):
    """``table_changes`` and the batch ``readChangeFeed`` source serve the
    same rows over a multi-commit append range, also when the partition
    dir is one Spark URI-escapes (the compiled scan keys its stamps on
    ``_metadata.file_path``, a ``java.net.URI``)."""
    spark = sources
    path = str(tmp_path / "t")
    for k in range(3):
        _feed_writer(fmt)(spark, path, spark.createDataFrame(
            [(k, region)], "k long, region string"
        ))
    want = {(k, region, "insert", k) for k in range(3)}

    def rows(df):
        return {(r.k, r.region, r._change_type, r._commit_version)
                for r in df.collect()}

    assert rows(_TABLES[fmt](spark, path).table_changes(0, 2)) == want
    feed = (
        spark.read.format(fmt).option("readChangeFeed", "true")
        .option("startingVersion", 0).option("endingVersion", 2).load(path)
    )
    assert rows(feed) == want


@pytest.mark.parametrize("fmt", sorted(_TABLES))
def test_deep_append_range_plans_one_scan_per_change_type(
    spark, tmp_path, fmt
):
    """Six appends past the literal-stamp ceiling compile to ONE parquet
    scan with the stamps riding the identity join, not a union branch
    per commit."""
    path = str(tmp_path / "t")
    for k in range(6):
        _FORMATS[fmt][0](spark, path, _frame(spark, 10 * k, 1))
    changes = _TABLES[fmt](spark, path).table_changes(0, 5)
    got = {(r.k, r._change_type, r._commit_version) for r in changes.collect()}
    assert got == {(k, "insert", k // 10) for k in range(60)}
    # AQE's toString prints Final AND Initial plans — count one section
    plan = (changes._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Scan parquet") == 1, plan[:2000]
