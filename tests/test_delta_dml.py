"""Jar-less Delta MERGE / UPDATE / DELETE (io/delta_dml.py): deletion-
vector and copy-on-write strategies, CDF emission, rule enforcement,
and optimistic concurrency — every mutation read back through the
independent protocol reader and (for merge) checked against literal
expected rows."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.delta_dml import delta_delete, delta_merge, delta_update
from dc43_spark.io.delta_log import (
    DeltaLogTable,
    DeltaWriteError,
    delta_write,
)


def _df(spark, rows, schema="k long, v string, amt long"):
    return spark.createDataFrame(rows, schema).coalesce(1)


def _mk(spark, path, n=8, **kw):
    delta_write(
        spark,
        _df(spark, [(i, f"s{i}", i * 10) for i in range(n)]),
        path,
        checkpoint_interval=None,
        **kw,
    )
    return DeltaLogTable(spark, path)


def _rows(t, **kw):
    return {(r.k, r.v, r.amt) for r in t.read(**kw).collect()}


# ---------------- DELETE


def test_delete_with_dvs_no_rewrite(spark, tmp_path):
    """DV delete: rows vanish, the data file is NOT rewritten (same
    path re-added with a descriptor), time travel still shows them."""
    t = _mk(spark, str(tmp_path / "t"))
    files0 = {f.path for f in t.snapshot().files}
    v = delta_delete(spark, t.path, "k >= 6", use_dvs=True)
    assert v == 1
    assert {r.k for r in t.read().collect()} == set(range(6))
    assert {r.k for r in t.read(version_as_of=0).collect()} == set(range(8))
    snap = t.snapshot()
    assert {f.path for f in snap.files} == files0  # same file, new DV
    assert sum(1 for f in snap.files if f.dv) == 1
    assert any(n.endswith(".bin") for n in os.listdir(t.path))
    # protocol upgraded in the same commit
    d = t.describe_detail()
    assert "deletionVectors" in d["readerFeatures"]
    assert "deletionVectors" in d["writerFeatures"]
    # a second delete MERGES the existing vector (old deletes stay)
    assert delta_delete(spark, t.path, "k = 0", use_dvs=True) == 2
    assert {r.k for r in t.read().collect()} == {1, 2, 3, 4, 5}
    # no matches: no commit
    assert delta_delete(spark, t.path, "k = 999", use_dvs=True) is None
    assert t.version() == 2


def test_delete_copy_on_write_default(spark, tmp_path):
    """Without the DV feature the default strategy rewrites the touched
    file (any Delta reader keeps working) — no .bin files appear."""
    t = _mk(spark, str(tmp_path / "t"))
    v = delta_delete(spark, t.path, "k IN (2, 5)")
    assert v == 1
    assert {r.k for r in t.read().collect()} == {0, 1, 3, 4, 6, 7}
    snap = t.snapshot()
    assert all(f.dv is None for f in snap.files)
    assert not any(n.endswith(".bin") for n in os.listdir(t.path))
    d = t.describe_detail()
    assert d["minReaderVersion"] == 1  # protocol untouched


def test_delete_whole_file_emits_plain_remove(spark, tmp_path):
    """A DV covering every physical row of a file degenerates to a
    remove action — no dead file with a 100% vector."""
    path = str(tmp_path / "t")
    delta_write(spark, _df(spark, [(1, "a", 10), (2, "b", 20)]), path,
                checkpoint_interval=None)
    delta_write(spark, _df(spark, [(3, "c", 30)]), path,
                checkpoint_interval=None)
    t = DeltaLogTable(spark, path)
    assert delta_delete(spark, path, "k <= 2", use_dvs=True) == 2
    snap = t.snapshot()
    assert len(snap.files) == 1 and snap.files[0].dv is None
    assert {r.k for r in t.read().collect()} == {3}


def test_delete_on_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    delta_write(spark, df, path, partition_by=["p"], checkpoint_interval=None)
    t = DeltaLogTable(spark, path)
    assert delta_delete(spark, path, "p = 1 AND k < 7", use_dvs=True) == 1
    got = {(r.k, r.p) for r in t.read().collect()}
    assert got == {(i, i % 3) for i in range(12)} - {(1, 1), (4, 1)}
    # partition pruning still composes with the DV mask
    assert {r.k for r in t.read(filters=[("p", "=", 1)]).collect()} == {7, 10}


# ---------------- UPDATE


def test_update_rewrites_matched_rows(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v = delta_update(
        spark, t.path,
        {"v": "concat(v, '!')", "amt": "amt + 1"},
        "k >= 6",
        use_dvs=True,
    )
    assert v == 1
    got = _rows(t)
    assert got == {(i, f"s{i}", i * 10) for i in range(6)} | {
        (6, "s6!", 61), (7, "s7!", 71)
    }
    # old row versions stay time-travelable
    assert _rows(t, version_as_of=0) == {
        (i, f"s{i}", i * 10) for i in range(8)
    }
    assert delta_update(spark, t.path, {"amt": "0"}, "k = 999") is None


def test_update_refuses_set_on_generated_and_recomputes(spark, tmp_path):
    """SET on a GENERATED ALWAYS AS column refuses; updating its source
    recomputes the generated value (delta-spark's rule)."""
    path = str(tmp_path / "t")
    delta_write(spark, _df(spark, [(1, "a", 10), (2, "b", 20)]), path,
                checkpoint_interval=None)
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    for a in actions:
        md = a.get("metaData")
        if md:
            schema = json.loads(md["schemaString"])
            schema["fields"].append({
                "name": "amt2", "type": "long", "nullable": True,
                "metadata": {"delta.generatedAlwaysAs": "amt * 2"},
            })
            md["schemaString"] = json.dumps(schema)
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions
                      if "add" not in a)
    with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps(
            {"commitInfo": {"timestamp": 1, "operation": "DELETE"}}) + "\n")
        for f in DeltaLogTable(spark, path).snapshot(0).files:
            fh.write(json.dumps(
                {"remove": {"path": f.path, "dataChange": True}}) + "\n")
    delta_write(spark, _df(spark, [(1, "a", 10), (2, "b", 20)]), path,
                checkpoint_interval=None)

    with pytest.raises(DeltaWriteError, match="GENERATED"):
        delta_update(spark, path, {"amt2": "5"}, "k = 1")
    assert delta_update(spark, path, {"amt": "amt + 5"}, "k = 1") == 4
    got = {(r.k, r.amt, r.amt2)
           for r in DeltaLogTable(spark, path).read().collect()}
    assert got == {(1, 15, 30), (2, 20, 40)}


def test_update_enforces_constraints_on_new_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    delta_write(
        spark, _df(spark, [(1, "a", 10)]), path,
        checkpoint_interval=None,
        configuration={"delta.constraints.amt_pos": "amt >= 0"},
    )
    with pytest.raises(DeltaWriteError, match="amt_pos"):
        delta_update(spark, path, {"amt": "-5"}, "k = 1")
    # nothing landed
    assert DeltaLogTable(spark, path).version() == 0


# ---------------- MERGE


def test_merge_update_insert_delete_matches_oracle(spark, tmp_path):
    """The DV merge's row fates match literal expected rows: matched
    rows update unless the delete predicate fires, unmatched source rows
    insert (the delete predicate never reaches them), untouched target
    rows stay."""
    t = _mk(spark, str(tmp_path / "t"))
    target0 = t.read().select("k", "v", "amt")
    source = _df(spark, [
        (5, "upd5", 500),    # matched -> update
        (6, "del6", -1),     # matched -> delete (amt < 0)
        (100, "new", 1000),  # unmatched -> insert
        (101, "neg", -7),    # unmatched -> insert (delete pred ignores)
    ])
    expected = (
        {(i, f"s{i}", i * 10) for i in (0, 1, 2, 3, 4, 7)}
        | {(5, "upd5", 500), (100, "new", 1000), (101, "neg", -7)}
    )
    v = delta_merge(
        spark, source, t.path, ["k"],
        delete_predicate="s.amt < 0", use_dvs=True,
    )
    assert v == 1
    assert _rows(t) == expected
    # the untouched files carried over; touched ones are DV'd not rewritten
    snap = t.snapshot()
    assert sum(1 for f in snap.files if f.dv) == 1
    # time travel to the pre-merge state
    assert _rows(t, version_as_of=0) == {tuple(r) for r in target0.collect()}


def test_merge_job_count_all_clause_kinds(spark, tmp_path):
    """The Spark jobs of ONE merge with matched-delete, matched-update,
    insert and by-source clauses on a small DV table with CDF on. The
    merge builds one tagged join, persists it once and counts its fates
    in one pass. On local[4] with AQE this merge ran 17 jobs when it
    built three fate joins, persisted them apart and counted their
    union, and runs 11 now."""
    import time
    import uuid

    t = _mk(spark, str(tmp_path / "t"), configuration={
        "delta.enableChangeDataFeed": "true",
        "delta.enableDeletionVectors": "true",
    })
    source = _df(spark, [(5, "upd5", 500), (6, "del6", -1), (100, "new", 1000)])
    sc, group = spark.sparkContext, f"merge-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        delta_merge(
            spark, source, t.path, ["k"],
            delete_predicate="s.amt < 0",
            when_not_matched_by_source={"v": "'gone'"},
            not_matched_by_source_predicate="t.k < 2",
            use_dvs=True,
        )
        fence = f"{group}-fence"
        sc.setJobGroup(fence, fence)
        spark.range(1).count()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30  # job starts reach the tracker async
    while not tracker.getJobIdsForGroup(fence) and time.time() < deadline:
        time.sleep(0.05)
    assert _rows(t) == (
        {(i, f"s{i}", i * 10) for i in (2, 3, 4, 7)}
        | {(0, "gone", 0), (1, "gone", 10), (5, "upd5", 500), (100, "new", 1000)}
    )
    assert len(tracker.getJobIdsForGroup(group)) <= 12


def test_merge_clause_variants(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=4)
    # ignore matched, insert only the rows passing insert_predicate
    v = delta_merge(
        spark,
        _df(spark, [(2, "skip", 0), (50, "in", 1), (51, "out", -1)]),
        t.path, ["k"],
        when_matched="ignore",
        insert_predicate="s.amt > 0",
        use_dvs=True,
    )
    assert v == 1
    assert _rows(t) == {(i, f"s{i}", i * 10) for i in range(4)} | {(50, "in", 1)}
    # ignore unmatched: update only
    v = delta_merge(
        spark,
        _df(spark, [(0, "upd0", 7), (99, "nope", 9)]),
        t.path, ["k"],
        when_not_matched="ignore",
        use_dvs=True,
    )
    assert v == 2
    assert (0, "upd0", 7) in _rows(t) and not any(
        k == 99 for k, _v, _a in _rows(t)
    )
    # no-op merge commits nothing
    assert delta_merge(
        spark, _df(spark, [(999, "x", 1)]), t.path, ["k"],
        when_not_matched="ignore",
    ) is None
    # duplicate source keys refuse (SQL MERGE ambiguity)
    with pytest.raises(ValueError, match="duplicate"):
        delta_merge(
            spark, _df(spark, [(1, "a", 1), (1, "b", 2)]), t.path, ["k"]
        )


def test_merge_copy_on_write(spark, tmp_path):
    """COW merge rewrites only the touched file; no DV artifacts."""
    path = str(tmp_path / "t")
    delta_write(spark, _df(spark, [(1, "a", 10), (2, "b", 20)]), path,
                checkpoint_interval=None)
    delta_write(spark, _df(spark, [(3, "c", 30)]), path,
                checkpoint_interval=None)
    t = DeltaLogTable(spark, path)
    v = delta_merge(
        spark, _df(spark, [(2, "B", 200), (9, "i", 90)]), path, ["k"],
        use_dvs=False,
    )
    assert v == 2
    assert _rows(t) == {(1, "a", 10), (2, "B", 200), (3, "c", 30), (9, "i", 90)}
    snap = t.snapshot()
    assert all(f.dv is None for f in snap.files)
    assert not any(n.endswith(".bin") for n in os.listdir(path))


def test_merge_source_schema_gates(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n=2)
    with pytest.raises(DeltaWriteError, match="lacks table column"):
        delta_merge(
            spark,
            spark.createDataFrame([(1, "x")], "k long, v string").coalesce(1),
            t.path, ["k"],
        )
    with pytest.raises(DeltaWriteError, match="not in the table"):
        delta_merge(
            spark,
            spark.createDataFrame(
                [(1, "x", 1, 9)], "k long, v string, amt long, zz long"
            ).coalesce(1),
            t.path, ["k"],
        )


def test_dml_refuses_append_only(spark, tmp_path):
    path = str(tmp_path / "t")
    delta_write(spark, _df(spark, [(1, "a", 10)]), path,
                checkpoint_interval=None,
                configuration={"delta.appendOnly": "true"})
    for op in (
        lambda: delta_delete(spark, path, "k = 1"),
        lambda: delta_update(spark, path, {"amt": "0"}),
        lambda: delta_merge(spark, _df(spark, [(1, "b", 1)]), path, ["k"]),
    ):
        with pytest.raises(DeltaWriteError, match="appendOnly"):
            op()


# ---------------- change data feed


def test_dml_emits_authoritative_cdf(spark, tmp_path):
    """With delta.enableChangeDataFeed=true every DML commit writes
    _change_data files + cdc actions; table_changes serves them as
    authoritative (update pre/post images, merge inserts/deletes)."""
    path = str(tmp_path / "t")
    delta_write(
        spark, _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
        path, checkpoint_interval=None,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaLogTable(spark, path)
    assert delta_update(spark, path, {"amt": "amt + 1"}, "k = 2",
                        use_dvs=True) == 1
    assert delta_merge(
        spark, _df(spark, [(3, "C", 300), (4, "d", 40), (1, "x", -1)]),
        path, ["k"], delete_predicate="s.amt < 0", use_dvs=True,
    ) == 2
    assert os.path.isdir(os.path.join(path, "_change_data"))

    ch1 = {(r.k, r.amt, r._change_type)
           for r in t.table_changes(1, 1).collect()}
    assert ch1 == {(2, 20, "update_preimage"), (2, 21, "update_postimage")}
    ch2 = {(r.k, r.v, r._change_type)
           for r in t.table_changes(2, 2).collect()}
    assert ch2 == {
        (3, "c", "update_preimage"), (3, "C", "update_postimage"),
        (4, "d", "insert"), (1, "a", "delete"),
    }
    # the table itself reads correctly after both ops
    assert _rows(t) == {(2, "b", 21), (3, "C", 300), (4, "d", 40)}


def test_dml_cdf_on_partitioned_table(spark, tmp_path):
    """Partitioned CDF: change files store partition values in dirs +
    cdc partitionValues (delta-spark's layout); the reader attaches
    them back as typed literals."""
    path = str(tmp_path / "t")
    df = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    delta_write(spark, df, path, partition_by=["p"],
                checkpoint_interval=None,
                configuration={"delta.enableChangeDataFeed": "true"})
    t = DeltaLogTable(spark, path)
    assert delta_delete(spark, path, "k IN (2, 3)", use_dvs=True) == 1
    ch = {(r.k, r.p, r._change_type)
          for r in t.table_changes(1, 1).collect()}
    assert ch == {(2, 0, "delete"), (3, 1, "delete")}
    got = {(r.k, r.p) for r in t.read().collect()}
    assert got == {(i, i % 2) for i in range(8)} - {(2, 0), (3, 1)}


def test_derived_cdf_without_change_files(spark, tmp_path):
    """Without CDF enabled, table_changes still derives merge effects
    from file actions: new adds -> inserts, DV growth -> deletes."""
    t = _mk(spark, str(tmp_path / "t"), n=4)
    delta_merge(
        spark, _df(spark, [(1, "U", 100), (9, "i", 90)]), t.path, ["k"],
        use_dvs=True,
    )
    ch = {(r.k, r._change_type) for r in t.table_changes(1, 1).collect()}
    # an update without cdc files derives as delete(old) + insert(new)
    assert ch == {(1, "delete"), (1, "insert"), (9, "insert")}


# ---------------- streams + governed routing


def test_stream_sees_dml_under_ignore_changes(spark, tmp_path):
    from dc43_spark.io.delta_source import DeltaLogDataSource

    spark.dataSource.register(DeltaLogDataSource)
    t = _mk(spark, str(tmp_path / "t"), n=4)
    delta_delete(spark, t.path, "k = 1", use_dvs=True)

    def run(opts, cp, out):
        reader = spark.readStream.format("deltalog")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(t.path)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        if q.exception():
            raise RuntimeError(str(q.exception()))

    with pytest.raises(Exception, match="ignoreChanges"):
        run({"startingVersion": 0}, str(tmp_path / "cp1"), str(tmp_path / "o1"))
    run({}, str(tmp_path / "cp2"), str(tmp_path / "o2"))  # snapshot start
    assert {r.k for r in spark.read.parquet(str(tmp_path / "o2")).collect()} \
        == {0, 2, 3}


def test_governed_merge_routes_jarlessly(spark, tmp_path):
    """merge_with_contract(format='delta') now lands on the protocol
    MERGE when the jar is absent — the reference's primary write
    surface, end-to-end under contract validation."""
    from dc43_spark.contracts import Contract, SchemaObject, SchemaProperty
    from dc43_spark.io.merge import merge_with_contract
    from dc43_spark.io.read import read_with_contract

    path = str(tmp_path / "t")
    contract = Contract(
        id="dml.orders", version="1.0.0", status="active",
        schema_objects=[
            SchemaObject(
                name="t",
                properties=[
                    SchemaProperty("k", "bigint", required=True),
                    SchemaProperty("v", "string"),
                    SchemaProperty("amt", "bigint"),
                ],
            )
        ],
    )
    src0 = _df(spark, [(1, "a", 10), (2, "b", 20)])
    r0 = merge_with_contract(spark, src0, contract, keys=["k"], path=path,
                             format="delta")
    assert r0.strategy == "initial-write"
    r1 = merge_with_contract(
        spark, _df(spark, [(2, "B", 200), (3, "c", 30)]), contract,
        keys=["k"], path=path, format="delta",
    )
    assert r1.strategy == "delta-log-dml"
    df, _validation = read_with_contract(
        spark, contract, path=path, format="delta", metrics=False
    )
    assert {(r.k, r.v, r.amt) for r in df.collect()} == {
        (1, "a", 10), (2, "B", 200), (3, "c", 30),
    }


# ---------------- concurrency soak (r9 ask #9)


def test_dml_concurrency_soak(spark, tmp_path):
    """3 blind appenders race 2 mergers on one Delta table: every append
    lands exactly once, every merger retries through conflicts, and the
    final state equals the sequential model (appends are key-disjoint
    from merges, so order doesn't matter)."""
    path = str(tmp_path / "t")
    delta_write(
        spark, _df(spark, [(i, f"s{i}", i * 10) for i in range(6)]), path,
        checkpoint_interval=None,
    )
    errors = []

    def appender(lo):
        try:
            delta_write(
                spark, _df(spark, [(lo, "app", lo)]), path,
                checkpoint_interval=None,
            )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    def merger(k, tag):
        try:
            delta_merge(
                spark, _df(spark, [(k, tag, k * 1000)]), path, ["k"],
                use_dvs=True,
            )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = (
        [threading.Thread(target=appender, args=(lo,))
         for lo in (100, 200, 300)]
        + [threading.Thread(target=merger, args=args)
           for args in ((1, "m1"), (4, "m4"))]
    )
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors

    t = DeltaLogTable(spark, path)
    assert t.version() == 5  # 1 create + 3 appends + 2 merges
    expected = {(i, f"s{i}", i * 10) for i in range(6)} - {
        (1, "s1", 10), (4, "s4", 40)
    } | {(1, "m1", 1000), (4, "m4", 4000)} | {
        (lo, "app", lo) for lo in (100, 200, 300)
    }
    assert _rows(t) == expected


def test_restore_to_earlier_version(spark, tmp_path):
    """RESTORE: one commit returns the live set (incl. DV state) to the
    target version; the restored-away future stays navigable; a swept
    file refuses; restoring to the current state is a no-op."""
    from dc43_spark.io.delta_log import DeltaProtocolError, delta_restore

    t = _mk(spark, str(tmp_path / "t"))                       # v0: 0..7
    delta_write(spark, _df(spark, [(100, "x", 1)]), t.path,
                checkpoint_interval=None)                      # v1
    # deletes k=6,7 via a DV on file A and ALL of file B (k=100) -> remove
    delta_delete(spark, t.path, "k >= 6", use_dvs=True)        # v2: DV
    delta_write(spark, _df(spark, [(200, "y", 2)]), t.path,
                mode="overwrite")                              # v3

    assert {r.k for r in t.read().collect()} == {200}
    v = delta_restore(spark, t.path, version=2)
    assert v == 4
    assert {r.k for r in t.read().collect()} == set(range(6))
    # the DV state came back with the restore
    assert sum(1 for f in t.snapshot().files if f.dv) == 1
    # the restored-away overwrite is still navigable
    assert {r.k for r in t.read(version_as_of=3).collect()} == {200}
    # restore to where we are: no-op
    assert delta_restore(spark, t.path, version=2) is None

    # restore to v0 (pre-DV, pre-append) round-trips too
    assert delta_restore(spark, t.path, version=0) == 5
    assert {r.k for r in t.read().collect()} == set(range(8))

    # a vacuumed target refuses loudly
    from dc43_spark.io.delta_log import delta_vacuum

    delta_vacuum(spark, t.path, retain_hours=0)  # sweeps v3's overwrite file
    with pytest.raises(DeltaProtocolError, match="vacuumed"):
        delta_restore(spark, t.path, version=3)


def test_shallow_and_deep_clone(spark, tmp_path):
    """CLONE: shallow points at the source's files by absolute path
    (zero copy, DVs re-described as absolute 'p' descriptors) and is an
    independent table — DML and VACUUM on the clone never touch the
    source; deep clone links the files in. No history carries over."""
    from dc43_spark.io.delta_log import delta_clone, delta_vacuum

    src = _mk(spark, str(tmp_path / "src"))
    delta_delete(spark, src.path, "k IN (2, 3)", use_dvs=True)
    src_rows = _rows(src)

    # shallow
    c1 = delta_clone(spark, src.path, str(tmp_path / "c1"), shallow=True)
    t1 = DeltaLogTable(spark, c1)
    assert t1.version() == 0  # fresh history
    assert _rows(t1) == src_rows
    # DML on the clone: deletes land in the CLONE's log/dir only
    delta_delete(spark, c1, "k = 0", use_dvs=True)
    assert _rows(t1) == src_rows - {(0, "s0", 0)}
    assert _rows(src) == src_rows  # source untouched
    # vacuum on the clone can't reach the source's files
    delta_vacuum(spark, c1, retain_hours=0)
    assert _rows(src) == src_rows
    assert _rows(t1) == src_rows - {(0, "s0", 0)}
    # and a write to the clone appends independently
    delta_write(spark, _df(spark, [(500, "c", 5)]), c1,
                checkpoint_interval=None)
    assert (500, "c", 5) in _rows(t1) and (500, "c", 5) not in _rows(src)

    # deep
    c2 = delta_clone(spark, src.path, str(tmp_path / "c2"))
    t2 = DeltaLogTable(spark, c2)
    assert _rows(t2) == src_rows
    # deep clone owns its bytes: removing the source leaves it readable
    import shutil

    shutil.rmtree(src.path)
    assert _rows(t2) == src_rows
    # destination collision refuses
    with pytest.raises(ValueError, match="already has"):
        delta_clone(spark, c2, c1, shallow=True)


def test_dml_and_optimize_on_column_mapped_table(spark, tmp_path):
    """DV DML, CDF, and OPTIMIZE all run on a column-mapped table:
    physical names stay in the files, logical names in the API — a
    rename mid-history doesn't disturb row mutation (r10: the last
    mapped-table refusal closed)."""
    from dc43_spark.io.delta_log import (
        delta_enable_column_mapping,
        delta_optimize,
        delta_rename_column,
    )

    path = str(tmp_path / "t")
    delta_write(
        spark, _df(spark, [(i, f"s{i}", i * 10) for i in range(6)]), path,
        checkpoint_interval=None,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_enable_column_mapping(spark, path)
    delta_rename_column(spark, path, "v", "label")
    t = DeltaLogTable(spark, path)

    # DELETE via DV on the mapped table, predicate over the NEW name
    assert delta_delete(spark, path, "label = 's2'", use_dvs=True) == 3
    got = {(r.k, r.label) for r in t.read().collect()}
    assert got == {(i, f"s{i}") for i in range(6)} - {(2, "s2")}
    # CDF change files round-trip with logical names
    ch = {(r.k, r.label, r._change_type)
          for r in t.table_changes(3, 3).collect()}
    assert ch == {(2, "s2", "delete")}

    # MERGE with update+insert on the mapped table
    assert delta_merge(
        spark,
        spark.createDataFrame([(1, "ONE", 100), (9, "nine", 90)],
                              "k long, label string, amt long").coalesce(1),
        path, ["k"], use_dvs=True,
    ) == 4
    got = {(r.k, r.label, r.amt) for r in t.read().collect()}
    assert (1, "ONE", 100) in got and (9, "nine", 90) in got

    # a second small file without a deletion vector beside the merge's
    # one (the merge writes its updated and inserted rows as one file)
    assert delta_write(
        spark, _df(spark, [(20, "t20", 200)], "k long, label string, amt long"),
        path, checkpoint_interval=None,
    ) == 5
    got.add((20, "t20", 200))

    # OPTIMIZE packs the mapped files; rows and names unchanged
    assert delta_optimize(spark, path, target_file_mb=64) == 6
    t = DeltaLogTable(spark, path)
    assert {(r.k, r.label, r.amt) for r in t.read().collect()} == got
    # zorder on the LOGICAL name resolves to the physical column
    assert delta_optimize(spark, path, target_file_mb=64,
                          zorder_by=["label"]) is not None
    assert {(r.k, r.label, r.amt)
            for r in DeltaLogTable(spark, path).read().collect()} == got


def test_cdf_derives_through_restore(spark, tmp_path):
    """A RESTORE shrinks a file's deletion vector: CDF (batch and
    streaming) derives the uncovered rows as inserts and the re-deleted
    rows as deletes — no refusal, no cdc files needed."""
    from dc43_spark.io.delta_log import delta_restore
    from dc43_spark.io.delta_source import DeltaLogDataSource

    spark.dataSource.register(DeltaLogDataSource)
    t = _mk(spark, str(tmp_path / "t"), n=4)
    delta_delete(spark, t.path, "k IN (1, 2)", use_dvs=True)   # v1
    assert delta_restore(spark, t.path, version=0) == 2        # v2: DV shrinks

    ch = {(r.k, r._change_type) for r in t.table_changes(2, 2).collect()}
    assert ch == {(1, "insert"), (2, "insert")}
    # a window SPANNING the DV commit and the restore: the running state
    # must keep the superseded add alive through its same-commit remove
    # (regression: the advance once applied adds before removes, dropping
    # the path and misreading the restore as a whole-file insert)
    spanning = {(r.k, r._change_type, r._commit_version)
                for r in t.table_changes(1, 2).collect()}
    assert spanning == {
        (1, "delete", 1), (2, "delete", 1),
        (1, "insert", 2), (2, "insert", 2),
    }

    q = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true").option("startingVersion", 1)
        .load(t.path)
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
    assert by_v[1] == {(1, "delete"), (2, "delete")}
    assert by_v[2] == {(1, "insert"), (2, "insert")}


def test_ivm_refresh_over_delta_change_feed(spark, tmp_path):
    """Incremental view maintenance SOURCED from a real Delta log: the
    signed-delta refresh consumes the jar-less change feed (derived
    inserts, cdc pre/post images, DV-growth deletes), the offset rides
    the view's own txn marker, and every refresh matches a full
    recompute — including MIN going NULL-safe through deletes."""
    from dc43_spark.io.ivm import refresh_view, view_select
    from dc43_spark.io.snaplog import SnaplogTable

    src_path = str(tmp_path / "src")
    delta_write(
        spark,
        _df(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
            "k long, grp string, amt long"),
        src_path, checkpoint_interval=None,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    src = DeltaLogTable(spark, src_path)
    view = SnaplogTable(spark, str(tmp_path / "view"))

    def recompute():
        return {
            (r.grp, r.rev, r.lo, r.n_rows)
            for r in src.read()
            .groupBy("grp")
            .agg(F.sum("amt").alias("rev"), F.min("amt").alias("lo"),
                 F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }

    def materialized():
        return {
            (r.grp, r.rev, r.lo, r.n_rows)
            for r in view_select(
                view, sums=["rev"], mins=["lo"]
            ).collect()
        }

    kw = dict(keys=["grp"], sums={"rev": "amt"}, mins={"lo": "amt"})
    st = refresh_view(view, src, **kw)
    assert materialized() == recompute()

    # append (derived inserts) + cdc update + DV delete, one refresh each
    delta_write(spark, _df(spark, [(4, "b", 5)],
                           "k long, grp string, amt long"),
                src_path, checkpoint_interval=None)
    assert refresh_view(view, src, **kw).groups_changed > 0
    assert materialized() == recompute()

    delta_update(spark, src_path, {"amt": "amt + 100"}, "k = 2",
                 use_dvs=True)
    refresh_view(view, src, **kw)
    assert materialized() == recompute()

    # deleting the group minimum forces the targeted dirty-group rescan
    delta_delete(spark, src_path, "k = 4", use_dvs=True)
    refresh_view(view, src, **kw)
    assert materialized() == recompute()
    # caller current: no-op
    assert refresh_view(view, src, **kw).strategy == "no-op"


def test_merge_prunes_candidate_files_by_source_key_range(spark, tmp_path):
    """Merge file pruning: only target files whose stats envelope
    intersects the source's key range enter the lineage scan — a
    key-clustered 100 TB table merges against the files the CDC batch
    touches, not the world. NULL source keys disable pruning (eqNullSafe
    semantics), and results always match the unpruned algebra."""
    from dc43_spark.io.delta_dml import _merge_candidate_files

    path = str(tmp_path / "t")
    for lo in (0, 100, 200):  # three key-disjoint files
        delta_write(
            spark,
            _df(spark, [(lo + i, f"s{lo + i}", lo) for i in range(4)]),
            path, checkpoint_interval=None,
        )
    t = DeltaLogTable(spark, path)
    src = _df(spark, [(101, "U", 1), (102, "U", 2), (150, "new", 3)])
    snap = t.snapshot()
    cands = _merge_candidate_files(src, snap, ["k"])
    assert len(cands) == 1  # only the 100..103 file intersects [101,150]
    assert len(snap.files) == 3

    assert delta_merge(spark, src, path, ["k"], use_dvs=True) == 3
    got = _rows(t)
    assert (101, "U", 1) in got and (102, "U", 2) in got
    assert (150, "new", 3) in got
    assert (0, "s0", 0) in got and (200, "s200", 200) in got
    # only the intersecting file acquired a deletion vector
    snap = t.snapshot()
    assert sum(1 for f in snap.files if f.dv) == 1

    # a NULL source key disables pruning on that key — never wrong
    src_null = spark.createDataFrame(
        [(None, "n", 9)], "k long, v string, amt long"
    ).coalesce(1)
    assert len(_merge_candidate_files(src_null, snap, ["k"])) == len(snap.files)


def test_optimize_races_dml_without_resurrecting_deletes(spark, tmp_path):
    """OPTIMIZE racing deletion-vector DML under true parallelism: the
    compaction either lands before the DML (whose retry recomputes over
    the packed layout) or aborts on the DV conflict (ADVICE r9 fix) and
    retries — in EVERY interleaving the deleted rows stay deleted and
    appended rows land exactly once."""
    from dc43_spark.io.delta_log import DeltaProtocolError, delta_optimize

    path = str(tmp_path / "t")
    for lo in (0, 8):  # two small files so optimize has work
        delta_write(
            spark,
            _df(spark, [(lo + i, f"s{lo + i}", lo) for i in range(8)]),
            path, checkpoint_interval=None,
        )
    errors, outcomes = [], {}

    def deleter():
        try:
            outcomes["delete"] = delta_delete(
                spark, path, "k IN (1, 9)", use_dvs=True
            )
        except Exception as exc:  # pragma: no cover
            errors.append(("delete", exc))

    def optimizer():
        # the conflict abort is a legal outcome; retry once like a
        # maintenance job would
        for _ in range(3):
            try:
                outcomes["optimize"] = delta_optimize(
                    spark, path, target_file_mb=64
                )
                return
            except DeltaProtocolError:
                continue
            except Exception as exc:  # pragma: no cover
                errors.append(("optimize", exc))
                return
        outcomes["optimize"] = "aborted"

    def appender():
        try:
            outcomes["append"] = delta_write(
                spark, _df(spark, [(500, "app", 5)]), path,
                checkpoint_interval=None,
            )
        except Exception as exc:  # pragma: no cover
            errors.append(("append", exc))

    threads = [threading.Thread(target=f)
               for f in (deleter, optimizer, appender)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors
    assert outcomes["delete"] is not None

    t = DeltaLogTable(spark, path)
    got = {r.k for r in t.read().collect()}
    assert got == (set(range(16)) - {1, 9}) | {500}  # no resurrections
    # rows survive a follow-up full compaction of DV-free files too
    delta_optimize(spark, path, target_file_mb=64)
    assert {r.k for r in DeltaLogTable(spark, path).read().collect()} == got


def test_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True: extra source columns evolve the table schema
    inside the MERGE commit (old rows read them as NULL); source-missing
    columns keep the TARGET's value on update and insert NULL — Delta's
    updateAll/insertAll-under-evolution rules. Without the flag both
    shapes refuse."""
    t = _mk(spark, str(tmp_path / "t"), n=4)

    with pytest.raises(DeltaWriteError, match="autoMerge|merge_schema"):
        delta_merge(
            spark,
            spark.createDataFrame([(1, "x", 1, 9)],
                                  "k long, v string, amt long, tag long")
            .coalesce(1),
            t.path, ["k"],
        )

    # extra column: evolves; missing column (v): target kept on update
    src = spark.createDataFrame(
        [(1, 111, 9), (50, 500, 8)], "k long, amt long, tag long"
    ).coalesce(1)
    assert delta_merge(spark, src, t.path, ["k"], use_dvs=True,
                       merge_schema=True) == 1
    t = DeltaLogTable(spark, t.path)
    assert "tag" in [f.name for f in t.snapshot().schema.fields]
    got = {(r.k, r.v, r.amt, r.tag) for r in t.read().collect()}
    assert (1, "s1", 111, 9) in got       # update: v kept from target
    assert (50, None, 500, 8) in got      # insert: v is NULL
    assert (0, "s0", 0, None) in got      # old rows: evolved col NULL
    assert len(got) == 5


def test_checkpoint_sourced_state_stays_protocol_shaped(spark, tmp_path):
    """Adds materialized from a parquet checkpoint carry MAP columns as
    tuple lists; every re-EMIT site (DV supersession, restore) must
    write protocol-shaped JSON — partitionValues as an OBJECT, no
    explicit nulls (review r10: a partitioned table past its first
    checkpoint wrote [["p","0"]] into the log, unreadable by any real
    Delta reader)."""
    from dc43_spark.io.delta_log import delta_restore, write_delta_checkpoint

    path = str(tmp_path / "t")
    df = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    ).coalesce(1)  # one multi-row file per partition dir
    delta_write(spark, df, path, partition_by=["p"], checkpoint_interval=None)
    t = DeltaLogTable(spark, path)
    write_delta_checkpoint(t)
    os.unlink(os.path.join(path, "_delta_log", f"{0:020d}.json"))

    # DV delete on checkpoint-materialized state: supersession add must
    # be a protocol-shaped JSON object
    assert delta_delete(spark, path, "k = 2", use_dvs=True) == 1
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json")) as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds, actions
    for a in adds:
        assert isinstance(a["partitionValues"], dict), a["partitionValues"]
        assert None not in a.values()
    got = {(r.k, r.p) for r in DeltaLogTable(spark, path).read().collect()}
    assert got == {(i, i % 2) for i in range(8)} - {(2, 0)}

    # restore across the checkpoint boundary: no-op detection holds
    # (canonical state comparison) and re-adds stay protocol-shaped
    from dc43_spark.io.delta_log import delta_restore as _rst

    assert _rst(spark, path, version=1) is None  # already at target
    assert _rst(spark, path, version=0) == 2
    with open(os.path.join(path, "_delta_log", f"{2:020d}.json")) as fh:
        for ln in fh:
            a = json.loads(ln)
            if "add" in a:
                assert isinstance(a["add"]["partitionValues"], dict)
    assert {(r.k, r.p)
            for r in DeltaLogTable(spark, path).read().collect()} == {
        (i, i % 2) for i in range(8)
    }


def test_derived_cdf_on_partitioned_table_without_change_files(spark, tmp_path):
    """Derived (no-cdc) table_changes on a PARTITIONED table: partition
    columns attach from the add actions (review r10: the batch kernel
    crashed resolving them; the streaming reader already handled it)."""
    path = str(tmp_path / "t")
    df = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    delta_write(spark, df, path, partition_by=["p"], checkpoint_interval=None)
    t = DeltaLogTable(spark, path)
    delta_delete(spark, path, "k IN (2, 3)", use_dvs=True)
    ch = {(r.k, r.p, r._change_type) for r in t.table_changes(0).collect()}
    assert {(i, i % 2, "insert") for i in range(8)} <= ch
    assert (2, 0, "delete") in ch and (3, 1, "delete") in ch

    # and the IVM consumer contract works over the partitioned feed
    changes, head = t.changes_since(0)
    assert head == 1
    assert {(r.k, r._change_type) for r in changes.collect()} == {
        (2, "delete"), (3, "delete"),
    }


def test_changes_since_refuses_cleaned_history(spark, tmp_path):
    """A change consumer bootstrapping (offset None) over a table whose
    early commits were cleaned up must get a clear refusal, not a
    FileNotFoundError mid-replay (review r10)."""
    from dc43_spark.io.delta_log import (
        DeltaProtocolError,
        write_delta_checkpoint,
    )

    path = str(tmp_path / "t")
    for i in range(3):
        delta_write(spark, _df(spark, [(i, "x", i)]), path,
                    checkpoint_interval=None)
    t = DeltaLogTable(spark, path)
    write_delta_checkpoint(t, 1)
    os.unlink(os.path.join(path, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(DeltaProtocolError, match="cleaned up"):
        t.changes_since(None)
    # explicit offsets over retained commits keep working
    changes, head = t.changes_since(1)
    assert head == 2 and changes.count() == 1


def test_delta_write_configuration_refused_on_existing_table(spark, tmp_path):
    path = str(tmp_path / "t")
    delta_write(spark, _df(spark, [(1, "a", 1)]), path,
                checkpoint_interval=None)
    with pytest.raises(ValueError, match="CREATE time"):
        delta_write(spark, _df(spark, [(2, "b", 2)]), path,
                    configuration={"delta.appendOnly": "true"})


def test_merge_schema_evolution_on_mapped_table(spark, tmp_path):
    """r11: merge_schema evolution on a NAME-mapped table — the new
    column gets a fresh id + col-<uuid> physical name in the SAME merge
    commit; old rows read it as NULL, staged files carry the physical
    name, and a later rename of the evolved column costs nothing."""
    import json as _json
    import os

    from dc43_spark.io.delta_log import (
        delta_enable_column_mapping,
        delta_rename_column,
    )
    from dc43_spark.io.delta_dml import delta_merge

    path = str(tmp_path / "t")
    delta_write(
        spark, _df(spark, [(i, f"s{i}", i * 10) for i in range(4)]), path,
        checkpoint_interval=None,
    )
    delta_enable_column_mapping(spark, path)
    delta_rename_column(spark, path, "v", "label")
    src = spark.createDataFrame(
        [(0, "upd", 5, "x0"), (9, "new", 95, "x9")],
        "k long, label string, amt long, extra string",
    ).coalesce(1)
    v = delta_merge(spark, src, path, ["k"], merge_schema=True)
    t = DeltaLogTable(spark, path)
    snap = t.snapshot()
    fields = {f.name: f for f in snap.schema.fields}
    assert "extra" in fields
    phys = (fields["extra"].metadata or {}).get(
        "delta.columnMapping.physicalName"
    )
    assert phys and phys.startswith("col-")
    got = {(r.k, r.label, r.extra) for r in t.read().collect()}
    assert got == {
        (0, "upd", "x0"), (1, "s1", None), (2, "s2", None),
        (3, "s3", None), (9, "new", "x9"),
    }
    # the staged files hold the PHYSICAL name, never the logical one
    with open(os.path.join(
        path, "_delta_log", f"{v:020d}.json"
    )) as fh:
        adds = [
            a["add"] for a in map(_json.loads, fh) if "add" in a
        ]
    assert adds
    for a in adds:
        st = _json.loads(a["stats"])
        assert "extra" not in st["minValues"]
    # id-mode stays refused with a pointer
    delta_rename_column(spark, path, "extra", "extra2")
    got = {(r.k, r.extra2) for r in t.read().collect()}
    assert (9, "x9") in got
