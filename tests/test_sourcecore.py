"""The stream contract both table formats' sources share
(io/sourcecore.py), driven reader-level on snaplog and on the jar-less
Delta log: ``initialOffset`` / ``latestOffset`` / ``partitions`` /
``commit`` called directly, so no streaming query runs."""

import os

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.delta_log import delta_write
from dc43_spark.io.delta_source import DeltaLogStreamReader
from dc43_spark.io.schema_track import SchemaTrackingLog
from dc43_spark.io.snaplog import SnaplogTable
from dc43_spark.io.snaplog_source import SnaplogStreamReader

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
