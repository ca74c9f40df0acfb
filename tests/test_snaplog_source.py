"""snaplog as a registered PySpark 4 Python data source: batch reads
with pushed-filter file pruning, time travel options, and the
commit-offset streaming reader (plain + change feed)."""

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

from dc43_spark.io.snaplog import SnaplogTable
from dc43_spark.io.snaplog_source import (
    SnaplogDataSource,
    SnaplogPushdownBatchReader,
)
from dc43_spark.io.sourcecore import arrow_batches, filters_to_tuples


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(SnaplogDataSource)
    return spark


def _clustered(spark, path, n=400, files=4):
    t = SnaplogTable(spark, path)
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"))
        .repartitionByRange(files, "k")
        .sortWithinPartitions("k")
    )
    t.write(df, mode="overwrite")
    return t


def test_batch_read_matches_table(registered, tmp_path):
    path = str(tmp_path / "t")
    t = _clustered(registered, path)
    got = registered.read.format("snaplog").load(path)
    # schema_json keeps writer nullability (range -> k non-null); parquet
    # reads everything back nullable — names/types are the contract
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in t.read().schema.fields
    ]
    assert sorted(r.k for r in got.collect()) == list(range(400))
    # row-level exactness through a filter Spark re-applies
    assert sorted(
        r.k for r in got.filter((F.col("k") >= 100) & (F.col("k") < 110)).collect()
    ) == list(range(100, 110))


def test_batch_time_travel_options(registered, tmp_path):
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    t.write(registered.createDataFrame([(1, "a")], "k long, v string"), mode="overwrite")
    t.write(registered.createDataFrame([(2, "b")], "k long, v string"), mode="append")
    v0 = registered.read.format("snaplog").option("versionAsOf", 0).load(path)
    assert [r.k for r in v0.collect()] == [1]
    assert registered.read.format("snaplog").load(path).count() == 2


def test_pushdown_prunes_reader_partitions(registered, tmp_path):
    """Unit-level proof the pushdown path prunes files: feed the reader
    the same Filter objects Catalyst would push."""
    path = str(tmp_path / "t")
    _clustered(registered, path)
    r = SnaplogPushdownBatchReader(path, {})
    total = len(r.partitions())
    assert total == 4
    kept = r.pushFilters([GreaterThanOrEqual(("k",), 100), LessThan(("k",), 110)])
    assert list(kept) != []  # every filter returned for re-application
    assert len(r.partitions()) < total
    # filter translation covers the comparison vocabulary
    tuples = filters_to_tuples(
        [EqualTo(("k",), 5), In(("k",), (1, 2)), GreaterThanOrEqual(("x", "y"), 0)]
    )
    assert tuples == [("k", "=", 5), ("k", "in", [1, 2])]  # nested attr skipped


def _run_stream(spark, path, checkpoint, out, **options):
    """One availableNow pass into a parquet sink (memory sink can't
    recover from a checkpoint); returns the CUMULATIVE sink contents —
    exactly-once shows up as 'no duplicates across restarts'."""
    reader = spark.readStream.format("snaplog")
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_stream_incremental_with_checkpoint_restart(registered, tmp_path):
    path = str(tmp_path / "t")
    cp = str(tmp_path / "cp")
    t = SnaplogTable(registered, path)
    t.write(registered.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.write(registered.createDataFrame([(3, "c")], "k long, v string"))

    out = str(tmp_path / "out")
    got = _run_stream(registered, path, cp, out)
    assert sorted(r.k for r in got.collect()) == [1, 2, 3]

    # new commits, same checkpoint: ONLY the new rows arrive (cumulative
    # sink gains exactly {4, 5} — a replay would duplicate 1-3)
    t.write(registered.createDataFrame([(4, "d")], "k long, v string"))
    t.compact(target_file_mb=1)  # layout-only: must be invisible
    t.write(registered.createDataFrame([(5, "e")], "k long, v string"))
    got2 = _run_stream(registered, path, cp, out)
    assert sorted(r.k for r in got2.collect()) == [1, 2, 3, 4, 5]

    # nothing new: a no-op (not failing, not duplicating) run
    got3 = _run_stream(registered, path, cp, out)
    assert sorted(r.k for r in got3.collect()) == [1, 2, 3, 4, 5]


def test_stream_rejects_rewrites_unless_ignore_changes(registered, tmp_path):
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    # one file holding both rows, so the delete is a partial rewrite
    t.write(
        registered.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)
    )
    t.delete([("k", "=", 1)])

    with pytest.raises(Exception, match="append-only|ignoreChanges"):
        _run_stream(registered, path, str(tmp_path / "cp1"), str(tmp_path / "o1"))

    got = _run_stream(
        registered, path, str(tmp_path / "cp2"), str(tmp_path / "o2"),
        ignoreChanges="true",
    )
    # rewritten file replayed: survivor rows only (deleted row's file had
    # both rows pre-delete; the REWRITTEN file carries just k=2)
    assert sorted(r.k for r in got.collect()) == [1, 2, 2]


def test_stream_skip_change_commits(registered, tmp_path):
    """skipChangeCommits drops change commits wholesale (no duplicates,
    no rows from the rewrite); the ignoreChanges replay differs from the
    skip result by exactly the rewritten file's carried rows. Mutually
    exclusive with ignoreChanges and refused on the CDF stream."""
    from collections import Counter

    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    t.write(
        registered.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string"
        ).coalesce(1)
    )
    t.delete([("k", "=", 1)])  # v1: rewrite carrying just k=2
    t.write(registered.createDataFrame([(3, "c")], "k long, v string"))

    replay = _run_stream(
        registered, path, str(tmp_path / "cp_r"), str(tmp_path / "o_r"),
        ignoreChanges="true",
    )
    skipped = _run_stream(
        registered, path, str(tmp_path / "cp_s"), str(tmp_path / "o_s"),
        skipChangeCommits="true",
    )
    replay_ks = [r.k for r in replay.collect()]
    skip_ks = [r.k for r in skipped.collect()]
    assert sorted(skip_ks) == [1, 2, 3]  # v0 + v2 appends, v1 skipped
    assert Counter(replay_ks) - Counter(skip_ks) == Counter([2])
    assert Counter(skip_ks) - Counter(replay_ks) == Counter()

    from dc43_spark.io.snaplog_source import SnaplogStreamReader

    with pytest.raises(ValueError, match="mutually exclusive"):
        SnaplogStreamReader(path, None, {
            "skipchangecommits": "true", "ignorechanges": "true",
        })
    with pytest.raises(ValueError, match="change-feed"):
        SnaplogStreamReader(path, None, {
            "skipchangecommits": "true", "readchangefeed": "true",
        })


def test_drain_rate_limited_backlog(registered, tmp_path):
    """streaming.drain over the snaplog source: a 5-commit backlog under
    maxFilesPerTrigger=1 (commit granularity) drains in N>1 availableNow
    runs on one checkpoint, exactly once."""
    from dc43_spark.streaming.drain import drain

    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    for i in range(5):
        t.write(registered.createDataFrame([(i, f"v{i}")], "k long, v string"))

    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")

    def start():
        return (
            registered.readStream.format("snaplog")
            .option("maxFilesPerTrigger", 1).load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )

    stats = drain(start, run_timeout_sec=300)
    assert stats["runs"] > 2 and stats["rows"] == 5
    assert sorted(r.k for r in registered.read.parquet(out).collect()) == [
        0, 1, 2, 3, 4,
    ]


def test_change_feed_stream(registered, tmp_path):
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path, change_feed=True)
    t.write(registered.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(registered.createDataFrame([(2, "B"), (4, "d")], "k long, v string"), ["k"])
    t.delete([("k", "=", 1)])

    got = _run_stream(
        registered, path, str(tmp_path / "cp"), str(tmp_path / "out"),
        readChangeFeed="true",
    )
    rows = sorted(
        (r._commit_version, r._change_type, r.k, r.v) for r in got.collect()
    )
    assert rows == [
        (0, "insert", 1, "a"),
        (0, "insert", 2, "b"),
        (1, "insert", 4, "d"),
        (1, "update_postimage", 2, "B"),
        (1, "update_preimage", 2, "b"),
        (2, "delete", 1, "a"),
    ]
    assert all(r._commit_timestamp > 0 for r in got.collect())


def test_batch_read_after_schema_evolution(registered, tmp_path):
    """Files written before an additive evolution NULL-fill their missing
    columns in the Arrow reader (by-name, like the native scan)."""
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    t.write(registered.createDataFrame([(1, "a")], "k long, v string"))
    t.write(
        registered.createDataFrame([(2, "b", 0.5)], "k long, v string, score double"),
        mode="append",
        merge_schema=True,
    )
    got = {r.k: r.score for r in registered.read.format("snaplog").load(path).collect()}
    assert got == {1: None, 2: 0.5}


def test_batch_read_change_feed(registered, tmp_path):
    """Review finding: batch readChangeFeed previously served snapshot
    rows with NULL change columns. It must serve the actual feed."""
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path, change_feed=True)
    t.write(registered.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.delete([("k", "=", 1)])
    t.write(registered.createDataFrame([(3, "c")], "k long, v string"))

    got = (
        registered.read.format("snaplog")
        .option("readChangeFeed", "true")
        .load(path)
    )
    rows = sorted((r._commit_version, r._change_type, r.k) for r in got.collect())
    assert rows == [
        (0, "insert", 1),
        (0, "insert", 2),
        (1, "delete", 1),
        (2, "insert", 3),
    ]
    ranged = (
        registered.read.format("snaplog")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .option("endingVersion", 1)
        .load(path)
    )
    assert [(r._change_type, r.k) for r in ranged.collect()] == [("delete", 1)]


def test_stream_starting_version_latest(registered, tmp_path):
    """startingVersion=latest skips existing history (Delta's new-data-only
    mode): only commits made after the stream's first start arrive."""
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    t.write(registered.createDataFrame([(1, "old")], "k long, v string"))
    cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
    got = _run_stream(registered, path, cp, out, startingVersion="latest")
    assert got.count() == 0  # pre-existing rows skipped
    t.write(registered.createDataFrame([(2, "new")], "k long, v string"))
    got = _run_stream(registered, path, cp, out, startingVersion="latest")
    assert [r.k for r in got.collect()] == [2]


def test_batch_cdc_validates_version_range(registered, tmp_path):
    """ADVICE r7 (low): out-of-range startingVersion/endingVersion raise
    the same descriptive error table_changes uses, not a raw
    FileNotFoundError (or a silent empty read for negative starts)."""
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    t.write(
        registered.createDataFrame([(1, "a")], "k long, v string"), mode="overwrite"
    )
    for opts in ({"endingVersion": "99"}, {"startingVersion": "-3"}):
        reader = (
            registered.read.format("snaplog")
            .option("readChangeFeed", "true")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        with pytest.raises(Exception, match="change range"):
            reader.load(path).collect()


@pytest.mark.parametrize("option", ["startingTimestamp", "endingTimestamp"])
def test_batch_cdc_refuses_timestamp_bounds(registered, tmp_path, option):
    """The batch change feed resolves only version bounds: a timestamp
    bound is refused by name instead of silently reading every commit
    (a start stamp at commit 2 of 3 used to return commits 0-2)."""
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path, change_feed=True)
    for k in range(3):
        t.write(registered.createDataFrame([(k, "a")], "k long, v string"))
    stamp = datetime.fromtimestamp(t.history()[2].timestamp, timezone.utc)
    reader = (
        registered.read.format("snaplog")
        .option("readChangeFeed", "true")
        .option(option, stamp.isoformat())
    )
    with pytest.raises(Exception, match=f"{option}.*startingVersion"):
        reader.load(path).collect()


def test_batch_cdc_masks_dv_deleted_rows_on_overwrite(registered, tmp_path):
    """ADVICE r7 (medium), data-source twin: remove-derived delete
    partitions mask rows an active deletion vector already deleted."""
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path, change_feed=True)
    t.write(
        registered.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ),
        mode="overwrite",
    )
    t.delete([("k", "=", 2)], strategy="merge_on_read")  # v1
    t.write(
        registered.createDataFrame([(9, "z")], "k long, v string"), mode="overwrite"
    )  # v2
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in registered.read.format("snaplog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .load(path)
        .collect()
    )
    assert got == [(1, "a", "delete"), (3, "c", "delete"), (9, "z", "insert")]


def test_high_cardinality_dvs_decode_executor_side(
    registered, tmp_path, monkeypatch
):
    """r12 (the snaplog twin of VERDICT r11 #1): above the driver gate
    the DataSource stops materializing DV position lists driver-side —
    partitions carry (dv parquet paths, basename) refs and the mask
    decodes inside the executor Arrow kernel with a pushed file filter.
    Both plans serve identical rows."""
    from dc43_spark.io import snaplog_source as ss
    from dc43_spark.io.snaplog_source import SnaplogBatchReader

    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    t.write(
        registered.range(40).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        ).coalesce(2),
        mode="overwrite",
    )
    t.delete([("k", "in", (3, 7, 25))], strategy="merge_on_read")
    expect = set(range(40)) - {3, 7, 25}

    # small footprint: driver map plan (status quo)
    r = SnaplogBatchReader(path, {})
    r._schema = t.read().schema
    parts = r.partitions()
    assert any(p.deleted_positions for p in parts)
    assert all(p.dv_parquet is None for p in parts)
    assert {x.k for x in registered.read.format("snaplog").load(path).collect()} \
        == expect

    # force the executor plan: partitions carry refs, never positions
    monkeypatch.setattr(ss, "_DV_DRIVER_MAX_POSITIONS", 0)
    r = SnaplogBatchReader(path, {})
    r._schema = t.read().schema
    parts = r.partitions()
    assert all(p.deleted_positions is None for p in parts)
    assert all(p.dv_parquet is not None for p in parts)
    got = {x.k for x in registered.read.format("snaplog").load(path).collect()}
    assert got == expect
    # drive the executor kernel directly on the ref-carrying partitions:
    # the mask must decode from the DV parquet with the pushed filter
    kernel_rows = set()
    for p in parts:
        for batch in arrow_batches(p, r._schema):
            kernel_rows |= {x["k"] for x in batch.to_pylist()}
    assert kernel_rows == expect


def test_stream_rate_limits_commits_per_trigger(registered, tmp_path):
    """r12: maxFilesPerTrigger / maxBytesPerTrigger on the snaplog
    stream — whole commits per batch, at least one, stopping before
    either budget would be exceeded; the CDC stream refuses both."""
    from dc43_spark.io.snaplog_source import SnaplogStreamReader

    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    for i in range(5):  # 5 commits x 1 file
        t.write(
            registered.createDataFrame([(i, "x")], "k long, v string")
            .coalesce(1),
            mode="overwrite" if i == 0 else "append",
        )
    schema = t.read().schema

    r = SnaplogStreamReader(path, schema, {"maxfilespertrigger": "2"})
    o0 = r.initialOffset()
    assert o0 == {"version": -1}
    o1 = r.latestOffset()
    assert o1 == {"version": 1}  # two 1-file commits fit the budget
    assert len(r.partitions(o0, o1)) == 2
    r.commit(o1)
    o2 = r.latestOffset()
    assert o2 == {"version": 3}
    r.commit(o2)
    o3 = r.latestOffset()
    assert o3 == {"version": 4}
    r.commit(o3)
    assert r.latestOffset() == o3  # caught up

    # end to end: a CONTINUOUS rate-limited stream drains everything in
    # capped batches (availableNow captures one capped target per run —
    # the documented Python-source API limitation)
    import time

    out = str(tmp_path / "o")
    q = (
        registered.readStream.format("snaplog")
        .option("maxFilesPerTrigger", 2).load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    deadline = time.time() + 240
    n = 0
    while time.time() < deadline and n < 5:
        try:
            n = registered.read.parquet(out).count()
        except Exception:
            pass
        time.sleep(1)
    q.stop()
    assert {x.k for x in registered.read.parquet(out).collect()} == set(range(5))
    batches = [
        f for f in os.listdir(str(tmp_path / "cp" / "offsets"))
        if not f.startswith(".")
    ]
    assert len(batches) >= 3  # 5 one-file commits / budget 2

    # r13: the CDC stream rate-limits at commit granularity too — a
    # capped change-feed stream drains the backlog in multiple batches
    # and the cumulative change rows equal batch table_changes
    from collections import Counter

    from dc43_spark.streaming.drain import drain

    cpath = str(tmp_path / "cdc_t")
    ct = SnaplogTable(registered, cpath, change_feed=True)
    for i in range(3):
        ct.write(registered.createDataFrame([(i, "x")], "k long, v string"))
    ct.merge(registered.createDataFrame([(1, "X"), (9, "n")],
                                        "k long, v string"), ["k"])
    cout, ccp = str(tmp_path / "cdc_o"), str(tmp_path / "cdc_cp")

    def start():
        return (
            registered.readStream.format("snaplog")
            .option("readChangeFeed", "true")
            .option("maxFilesPerTrigger", 1).load(cpath)
            .writeStream.format("parquet")
            .option("path", cout)
            .option("checkpointLocation", ccp)
            .trigger(availableNow=True)
            .start()
        )

    stats = drain(start, run_timeout_sec=300)
    assert stats["runs"] > 2
    got = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in registered.read.parquet(cout).collect()
    )
    oracle = Counter(
        (r.k, r.v, r._change_type, r._commit_version)
        for r in ct.table_changes(0).collect()
    )
    assert got == oracle


def test_stream_starting_timestamp(registered, tmp_path):
    """r12: startingTimestamp on the snaplog stream — first retained
    commit at-or-after the stamp; past the head = new data only;
    exclusive with startingVersion."""
    from dc43_spark.io.snaplog_source import SnaplogStreamReader

    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    for i in range(3):
        t.write(
            registered.createDataFrame([(i, "x")], "k long, v string")
            .coalesce(1),
            mode="overwrite" if i == 0 else "append",
        )
    schema = t.read().schema
    ts1 = t._read_commit(1)["timestamp"]

    r = SnaplogStreamReader(path, schema, {"startingtimestamp": str(ts1)})
    assert r.initialOffset() == {"version": 0}  # first batch starts at v1
    r = SnaplogStreamReader(
        path, schema,
        {"startingtimestamp": str(t._read_commit(2)["timestamp"] + 10)},
    )
    assert r.initialOffset() == {"version": 2}  # new data only
    with pytest.raises(ValueError, match="not both"):
        SnaplogStreamReader(
            path, schema,
            {"startingversion": "0", "startingtimestamp": "0"},
        )

    # end to end: only commits v1.. arrive
    out = str(tmp_path / "o")
    q = (
        registered.readStream.format("snaplog")
        .option("startingTimestamp", str(ts1)).load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    if q.exception():
        raise RuntimeError(str(q.exception()))
    assert {x.k for x in registered.read.parquet(out).collect()} == {1, 2}


def test_stream_fails_loudly_on_mid_stream_schema_change(registered, tmp_path):
    """r13: a schema-bearing commit NEWER than the stream's construction
    head fails the query loudly (Delta's contract — the fixed source
    schema would otherwise silently drop the new column); a RESTART
    (fresh reader, new head) replays the same commits clean."""
    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path)
    t.write(registered.createDataFrame([(1, "a")], "k long, v string"))
    out, cp = str(tmp_path / "o"), str(tmp_path / "cp")
    got = _run_stream(registered, path, cp, out)
    assert sorted(r.k for r in got.collect()) == [1]

    # evolve AFTER the stream consumed v0: the next capped run, whose
    # reader was constructed at the old head, fails loudly... but here
    # each _run_stream constructs a FRESH reader at the new head, so
    # drive the reader directly to pin the mid-stream shape
    from dc43_spark.io.snaplog_source import SnaplogStreamReader

    r = SnaplogStreamReader(path, None, {})  # epoch = v0
    t.write(
        registered.createDataFrame([(2, "b", 7)],
                                   "k long, v string, extra long"),
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="schema change"):
        r.partitions({"version": 0}, {"version": t.version()})

    # restart: a fresh reader (epoch = new head) replays clean and the
    # sink gains only the new commit's rows
    got2 = _run_stream(registered, path, cp, out)
    ks = sorted(r2.k for r2 in got2.collect())
    assert ks == [1, 2]

    # config-only commits (no schema payload / identical schema) never
    # trip the check
    t.compact(target_file_mb=1)
    t.write(registered.createDataFrame(
        [(3, "c", 8)], "k long, v string, extra long"))
    got3 = _run_stream(registered, path, cp, out)
    assert sorted(r3.k for r3 in got3.collect()) == [1, 2, 3]


def test_snaplog_stream_refuses_with_event_time_order(registered, tmp_path):
    """withEventTimeOrder is a deltalog initial-snapshot option; the
    snaplog stream has no snapshot phase — refuse loudly rather than
    silently serving commit order under a flag the user thinks is on."""
    from dc43_spark.io.snaplog import SnaplogTable
    from dc43_spark.io.snaplog_source import SnaplogStreamReader

    t = str(tmp_path / "t")
    table = SnaplogTable(registered, t)
    table.write(
        registered.range(5).selectExpr("id AS k"), mode="overwrite"
    )
    with pytest.raises(ValueError, match="withEventTimeOrder"):
        SnaplogStreamReader(t, table.read().schema,
                            {"witheventtimeorder": "true"})


def test_cdc_stream_budget_charges_removed_bytes(registered, tmp_path):
    """ADVICE r13: the CDC stream's derived deletes RE-READ removed
    files, so a derived-change commit charges maxBytesPerTrigger with
    the removed files' bytes too — the plain stream keeps charging adds
    only."""
    import os as _os

    from dc43_spark.io.snaplog_source import SnaplogStreamReader

    path = str(tmp_path / "t")
    t = SnaplogTable(registered, path, change_feed=True)
    t.write(registered.range(100).selectExpr("id AS k").coalesce(1),
            mode="overwrite")
    # v2: overwrite = remove + add, NO cdc files (derived change commit)
    t.write(registered.range(50).selectExpr("id AS k").coalesce(1),
            mode="overwrite")
    v = t._versions()[-1]
    rec = t._read_commit(v)
    assert rec.get("remove") and not rec.get("cdc")
    removed_bytes = sum(
        _os.path.getsize(_os.path.join(path, p)) for p in rec["remove"]
    )
    add_bytes = sum(int(e.get("bytes") or 0) for e in rec.get("add", []))

    schema = t.read().schema
    plain = SnaplogStreamReader(path, schema, {})
    cdc = SnaplogStreamReader(path, schema, {"readchangefeed": "true"})
    nf_p, nb_p = plain._commit_add_stats(v)
    nf_c, nb_c = cdc._commit_add_stats(v)
    assert nb_p == add_bytes  # plain stream: adds only
    assert nf_c == nf_p + len(rec["remove"])
    assert nb_c == add_bytes + removed_bytes  # ADVICE fix: removes charge


def test_stream_planning_replays_the_log_once(spark, tmp_path, monkeypatch):
    """Planning a stream batch resolves the head's column mapping ONCE:
    ``snapshot()`` lists the log and replays checkpoint plus tail, so a
    per-file (or per-commit) lookup scales the driver cost with the
    batch size. 4 append commits x 5 files plan 20 partitions with one
    ``snapshot()`` call on the plain and on the change-feed stream."""
    from dc43_spark.io.snaplog_source import SnaplogStreamReader

    path = str(tmp_path / "t")
    t = SnaplogTable(spark, path)
    for i in range(4):
        t.write(spark.range(10 * i, 10 * i + 10, numPartitions=5)
                .selectExpr("id AS k"))
    calls = []
    real = SnaplogTable.snapshot

    def counted(self, *a, **kw):
        calls.append(a)
        return real(self, *a, **kw)

    for options in ({}, {"readchangefeed": "true"}):
        r = SnaplogStreamReader(path, None, options)
        start = r.initialOffset()
        end = r.latestOffset()
        monkeypatch.setattr(SnaplogTable, "snapshot", counted)
        calls.clear()
        assert len(r.partitions(start, end)) == 20
        assert len(calls) == 1, options
        monkeypatch.setattr(SnaplogTable, "snapshot", real)
