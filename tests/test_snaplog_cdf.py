"""Snaplog change data feed: Delta-CDF-shaped row-level change streams.

The scale story this buys: a downstream pipeline (index maintenance,
aggregate refresh, replication) consumes ``changes_since(offset)`` and
reprocesses only the rows a commit touched — never the table. Verified
here by the strongest available oracle: replaying the full feed through
a pure-Python mirror reproduces the table head exactly."""

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.snaplog import SnaplogTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _changes(t, lo, hi=None):
    return [
        (r.k, r.v, r._change_type, r._commit_version)
        for r in t.table_changes(lo, hi).collect()
    ]


def test_append_overwrite_changes_derive_from_file_actions(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))  # feed flag NOT needed
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.write(_df(spark, [(3, "c")]), mode="append")
    t.write(_df(spark, [(9, "z")]), mode="overwrite")

    assert sorted(_changes(t, 0, 0)) == [(1, "a", "insert", 0), (2, "b", "insert", 0)]
    assert sorted(_changes(t, 1, 1)) == [(3, "c", "insert", 1)]
    # overwrite = delete everything + insert the new rows
    assert sorted(_changes(t, 2, 2)) == [
        (1, "a", "delete", 2),
        (2, "b", "delete", 2),
        (3, "c", "delete", 2),
        (9, "z", "insert", 2),
    ]
    # full-range read stitches all three commits
    assert len(_changes(t, 0)) == 2 + 1 + 4


def test_merge_changes_tag_insert_update_delete(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), mode="overwrite")
    src = _df(spark, [(2, "B"), (3, "x"), (4, "d")])
    t.merge(src, ["k"])
    got = sorted(_changes(t, 1, 1))
    assert got == [
        (2, "B", "update_postimage", 1),
        (2, "b", "update_preimage", 1),
        (3, "c", "update_preimage", 1),
        (3, "x", "update_postimage", 1),
        (4, "d", "insert", 1),
    ]


def test_merge_delete_predicate_changes(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.merge(
        _df(spark, [(2, "DEAD"), (5, "e")]),
        ["k"],
        delete_predicate="s.v = 'DEAD'",
    )
    got = sorted(_changes(t, 1, 1))
    assert got == [(2, "b", "delete", 1), (5, "e", "insert", 1)]


def test_delete_and_update_changes(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), mode="overwrite")
    t.delete([("k", "=", 2)])
    t.update([("k", "=", 3)], set={"v": F.lit("C")})
    assert _changes(t, 1, 1) == [(2, "b", "delete", 1)]
    assert sorted(_changes(t, 2, 2)) == [
        (3, "C", "update_postimage", 2),
        (3, "c", "update_preimage", 2),
    ]


def test_compact_is_invisible_to_the_feed(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    for i in range(3):
        t.write(_df(spark, [(i, f"r{i}")]), mode="append")
    assert t.compact(target_file_mb=1) is not None
    # the compact commit exists but contributes zero change rows
    assert [c.operation for c in t.history()][-1] == "compact"
    assert len(_changes(t, 0)) == 3
    assert all(c[2] == "insert" for c in _changes(t, 0))


def test_feed_off_rowlevel_commit_raises(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))  # change_feed OFF
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    t.delete([("k", "=", 1)])
    with pytest.raises(ValueError, match="change_feed"):
        t.table_changes(1, 1)
    # reserved column guard: a table with _change_type would poison reads
    with pytest.raises(ValueError, match="reserved"):
        t.write(
            spark.createDataFrame([(1, "x")], "k long, _change_type string"),
            mode="overwrite",
        )


def test_changes_since_offset_loop_reconstructs_head(spark, tmp_path):
    """The consumption contract end-to-end: a pure-Python mirror applying
    each incremental batch in commit order converges to the table head
    after EVERY batch — inserts add, deletes remove, updates replace."""
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    mirror: dict[int, str] = {}
    offset = None

    def sync():
        nonlocal offset
        changes, offset = t.changes_since(offset)
        rows = changes.orderBy("_commit_version").collect()
        for v in sorted({r._commit_version for r in rows}):
            batch = [r for r in rows if r._commit_version == v]
            for r in batch:
                if r._change_type == "insert" or r._change_type == "update_postimage":
                    mirror[r.k] = r.v
            for r in batch:
                if r._change_type == "delete":
                    mirror.pop(r.k, None)
        head = {r.k: r.v for r in t.read().collect()}
        assert mirror == head, (mirror, head)

    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    sync()
    t.write(_df(spark, [(3, "c")]), mode="append")
    t.merge(_df(spark, [(2, "B"), (4, "d")]), ["k"])
    sync()
    t.delete([("k", "in", [1, 3])])
    t.update([("k", ">=", 4)], set={"v": F.lit("D")})
    sync()
    t.compact(target_file_mb=1)
    sync()  # layout-only: no changes, mirror still matches
    # current consumer gets the typed empty frame, not an error
    changes, head = t.changes_since(offset)
    assert changes.count() == 0 and head == t.version()


def test_vacuum_prunes_cdc_with_clear_error(spark, tmp_path):
    t = SnaplogTable(
        spark, str(tmp_path / "t"), change_feed=True, checkpoint_interval=100
    )
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.delete([("k", "=", 1)])
    t.write(_df(spark, [(9, "z")]), mode="append")
    assert len(_changes(t, 1, 1)) == 1
    deleted = t.vacuum(keep_versions=1)
    assert deleted > 0
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.table_changes(1, 1)
    # retained head still reads fine
    assert t.read().count() == 2


def test_change_feed_flag_persists_as_table_property(spark, tmp_path):
    """Review finding: an independently-constructed handle (the governed
    merge path builds its own SnaplogTable) must keep writing CDC once
    any handle enabled the feed — the flag is a TABLE property, not a
    per-handle option."""
    path = str(tmp_path / "t")
    t = SnaplogTable(spark, path, change_feed=True)
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")

    fresh = SnaplogTable(spark, path)  # default flag OFF
    assert fresh.change_feed  # persisted property wins
    fresh.delete([("k", "=", 1)])
    # the delete, executed through the flag-less handle, still fed CDC
    assert _changes(t, 1, 1) == [(1, "a", "delete", 1)]

    # the governed merge path (its own handle) also keeps the feed whole
    from dc43_spark.contracts.model import Contract, SchemaObject, SchemaProperty
    from dc43_spark.io.merge import merge_with_contract

    contract = Contract(
        id="t.cdc", version="0.1.0",
        schema_objects=[SchemaObject(name="t", properties=[
            SchemaProperty("k", "bigint", required=True),
            SchemaProperty("v", "string", required=True),
        ])],
    )
    merge_with_contract(
        spark, _df(spark, [(2, "B")]), contract,
        keys=["k"], path=path, format="snaplog",
    )
    assert sorted(_changes(t, 2, 2)) == [
        (2, "B", "update_postimage", 2),
        (2, "b", "update_preimage", 2),
    ]


def test_zero_change_merge_keeps_feed_readable(spark, tmp_path):
    """Review finding: a merge that produces no change rows must still
    mark its commit as feed-on (empty cdc list), and the ignore/ignore
    degenerate merge must not crash building the change frame."""
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    # every source key matches + when_matched update -> changes exist; use
    # ignore/insert with full overlap for a zero-change commit
    t.merge(_df(spark, [(1, "X")]), ["k"], when_matched="ignore")
    assert _changes(t, 1, 1) == []  # readable, empty — NOT an error
    # ignore/ignore merge: no clause can touch anything, so since r12 it
    # is a NO-OP (no commit, no identical-rewrite) instead of an empty
    # feed-on commit
    stats = t.merge(
        _df(spark, [(1, "Y"), (9, "z")]), ["k"],
        when_matched="ignore", when_not_matched="ignore",
    )
    assert t.version() == 1 and stats.files_rewritten == 0
    # the whole feed stitches cleanly across the empty commit
    assert len(_changes(t, 0)) == 1


def test_overwrite_with_active_dvs_does_not_double_delete(spark, tmp_path):
    """ADVICE r7 (medium): an overwrite while merge-on-read deletion
    vectors are active derives its delete events from the removed files —
    rows ALREADY deleted by the DV commit's own CDC must be subtracted or
    a CDC consumer (e.g. an IVM view) double-counts the delete."""
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), mode="overwrite")  # v0
    t.delete([("k", "=", 2)], strategy="merge_on_read")  # v1: CDC delete of (2,b)
    t.write(_df(spark, [(9, "z")]), mode="overwrite")  # v2: removes v0's files

    # v2 deletes only the rows still LIVE before it: (1,a) and (3,c)
    assert sorted(_changes(t, 2, 2)) == [
        (1, "a", "delete", 2),
        (3, "c", "delete", 2),
        (9, "z", "insert", 2),
    ]
    # across the whole feed, k=2 is deleted exactly once (at v1)
    full = _changes(t, 0)
    assert [c for c in full if c[0] == 2 and c[2] == "delete"] == [(2, "b", "delete", 1)]
    # signed replay of the feed reproduces the head exactly
    live = {}
    for k, v, typ, _ in sorted(full, key=lambda c: c[3]):
        if typ in ("insert", "update_postimage"):
            live[k] = v
        elif typ in ("delete",):
            live.pop(k, None)
    assert live == {9: "z"}


def test_deep_append_range_batches_insert_frames(spark, tmp_path):
    """r13: append-derived inserts batch ACROSS commits into one scan
    per schema generation (plan build was otherwise O(commits) union
    branches, superlinear past ~64): 25 appends emit per-version rows
    correctly through ONE parquet scan; a mid-range merge_schema append
    opens a second generation (second scan) and the frames align by
    name with the missing column NULL."""
    t = SnaplogTable(spark, str(tmp_path / "t"))
    for v in range(25):
        t.write(_df(spark, [(v, f"s{v}")]),
                mode="overwrite" if v == 0 else "append")
    ch = t.table_changes(0, 24)
    got = {(r.k, r._change_type, r._commit_version) for r in ch.collect()}
    assert got == {(v, "insert", v) for v in range(25)}
    # AQE's toString prints Final AND Initial plans — count one section
    plan = (ch._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Scan parquet") <= 1, plan[:2000]

    # schema evolution mid-range: a second generation, second scan
    t.write(
        spark.createDataFrame([(100, "x", 7)], "k long, v string, extra long"),
        mode="append", merge_schema=True,
    )
    allch = t.table_changes(0, 25)
    rows = {(r.k, r._commit_version, r.extra) for r in allch.collect()}
    assert (100, 25, 7) in rows
    assert all(e is None for k, v, e in rows if v < 25)
    plan2 = (allch._jdf.queryExecution().executedPlan().toString()
             .split("== Initial Plan ==")[0])
    assert plan2.count("Scan parquet") <= 2, plan2[:2000]


def _fenced_op_jobs(spark, op):
    """Run ``op`` under its own job group, between two marker jobs in
    fence groups. Returns (the op group's job ids, every job id launched
    between the fences, ungrouped job ids that appeared meanwhile)."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = uuid.uuid4().hex

    def run_in(group, fn):
        sc.setJobGroup(f"{group}-{tag}", group)
        fn()

    def ids(group):
        # job starts reach the tracker through the async listener bus
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(f"{group}-{tag}") and time.time() < deadline:
            time.sleep(0.05)
        return set(tracker.getJobIdsForGroup(f"{group}-{tag}"))

    try:
        run_in("fence-pre", lambda: spark.range(1).count())
        pre = ids("fence-pre")
        ungrouped = set(tracker.getJobIdsForGroup(None))
        run_in("op", op)
        run_in("fence-post", lambda: spark.range(1).count())
        post = ids("fence-post")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return (
        ids("op"),
        set(range(max(pre) + 1, min(post))),
        set(tracker.getJobIdsForGroup(None)) - ungrouped,
    )


def test_concurrent_staging_jobs_keep_the_callers_job_group(spark, tmp_path):
    """A change-feed op stages its CDC files and its data files
    concurrently (tablecore.stage_concurrently). The pool threads must
    inherit the caller's job group, so every job the op launches is
    attributed to it and none runs ungrouped."""
    import os

    from dc43_spark.io.delta_dml import delta_delete
    from dc43_spark.io.delta_log import DeltaLogTable, delta_write

    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_df(spark, [(i, f"v{i}") for i in range(8)]), mode="overwrite")
    delta_path = str(tmp_path / "d")
    delta_write(
        spark, _df(spark, [(i, f"v{i}") for i in range(8)]).coalesce(1),
        delta_path, checkpoint_interval=None,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    ops = {
        "snaplog merge": lambda: t.merge(
            _df(spark, [(1, "u"), (20, "n")]), ["k"]
        ),
        "delta COW delete": lambda: delta_delete(
            spark, delta_path, "k IN (2, 5)"
        ),
    }
    for name, op in ops.items():
        grouped, launched, ungrouped = _fenced_op_jobs(spark, op)
        assert grouped, name
        assert ungrouped == set(), name
        assert grouped == launched, name
    # both ops took the two-job path: change files beside the rewrite
    assert os.listdir(t.cdc_dir)
    assert os.listdir(os.path.join(delta_path, "_change_data"))
    assert not any(f.dv for f in DeltaLogTable(spark, delta_path).snapshot().files)


def test_concurrent_staging_jobs_name_a_library_call_site(spark):
    """PySpark names a job's call site after the frame that calls its
    first PySpark frame; in a pool thread (with a live session, so the
    jobs run through PySpark's inheriting wrapper) that frame is the
    wrapper's caller, which ``stage_concurrently`` keeps in
    ``io/tablecore.py`` rather than the stdlib executor."""
    import os

    from pyspark.traceback_utils import first_spark_call

    from dc43_spark.io.tablecore import stage_concurrently

    sites = stage_concurrently([first_spark_call, first_spark_call])
    assert [os.path.basename(s.file) for s in sites] == ["tablecore.py"] * 2
