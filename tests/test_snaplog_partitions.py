"""Snaplog hive-style partition columns (Delta's ``partitionBy`` — the
first knob a migrating Delta user reaches for, VERDICT r7 #3).

Partition values are recorded per file in the manifest and folded into
the stats envelopes as exact min==max ranges, so EVERY pruning path
(read filters, merge key ranges, the data source's pushed filters) gets
exact partition pruning with zero reliance on parquet footer stats; the
scan layer reconstructs the columns from the col=val directories via
Spark's own basePath partition parsing (typed by the snapshot schema).
"""

import os

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.snaplog import SnaplogTable


def _df(spark, rows, schema="k long, region string, v string"):
    return spark.createDataFrame(rows, schema)


def _base(spark):
    return _df(
        spark,
        [(i, ["us", "eu", "ap"][i % 3], f"v{i}") for i in range(30)],
    )


def test_partitioned_write_read_roundtrip_and_layout(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    snap = t.snapshot()
    assert snap.partition_by == ("region",)
    # hive layout on disk, partition values in the manifest AND the stats
    assert all(f.path.startswith("data/region=") for f in snap.files)
    assert all(f.partition["region"] in ("us", "eu", "ap") for f in snap.files)
    assert all(
        f.stats["region"]["min"] == f.stats["region"]["max"] == f.partition["region"]
        for f in snap.files
    )
    got = t.read()
    assert got.columns == ["k", "region", "v"]
    assert sorted((r.k, r.region) for r in got.collect()) == sorted(
        (i, ["us", "eu", "ap"][i % 3]) for i in range(30)
    )


def test_partition_filter_opens_only_matching_files(spark, tmp_path):
    """The VERDICT-prescribed inputFiles pin: a partition-filtered read
    must not open the other partitions' files."""
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    df = t.read(filters=[("region", "=", "eu")])
    opened = df.inputFiles()
    assert opened and all("region=eu" in p for p in opened)
    assert sorted(r.k for r in df.collect()) == [i for i in range(30) if i % 3 == 1]
    # exact != pruning too (a real min/max range could never prune this)
    df2 = t.read(filters=[("region", "!=", "eu")])
    assert all("region=eu" not in p for p in df2.inputFiles())
    assert sorted(r.k for r in df2.collect()) == [i for i in range(30) if i % 3 != 1]


def test_append_inherits_spec_and_mismatch_raises(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    t.write(_df(spark, [(100, "us", "new")]), mode="append")  # inherits
    assert t.snapshot().partition_by == ("region",)
    assert all(f.path.startswith("data/region=") for f in t.snapshot().files)
    with pytest.raises(ValueError, match="does not match"):
        t.write(_df(spark, [(101, "us", "x")]), mode="append", partition_by=["v"])
    assert t.read().count() == 31


def test_repartition_via_overwrite_keeps_history_readable(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark), mode="overwrite")  # v0: unpartitioned
    t.write(_base(spark), mode="overwrite", partition_by=["region"])  # v1
    assert t.snapshot(0).partition_by == ()
    assert t.snapshot(1).partition_by == ("region",)
    # both layouts read correctly under their own snapshot
    assert t.read(version_as_of=0).count() == 30
    assert sorted(r.k for r in t.read(version_as_of=1).collect()) == list(range(30))


def test_merge_prunes_by_partition_before_stats(spark, tmp_path):
    """A merge keyed on the partition column prunes non-matching
    partitions at level 1 (stats intersection over the exact min==max
    partition envelopes) — before any data is read."""
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    n_eu = len([f for f in t.snapshot().files if f.partition["region"] == "eu"])
    n_all = len(t.snapshot().files)
    assert n_eu < n_all
    src = _df(spark, [(1, "eu", "UPD"), (999, "eu", "NEW")])
    stats = t.merge(src, ["region", "k"])
    assert stats.candidates_after_stats <= n_eu  # partition-pruned, exactly
    assert stats.files_rewritten <= stats.candidates_after_stats
    got = {(r.k, r.region, r.v) for r in t.read().collect()}
    assert (1, "eu", "UPD") in got and (999, "eu", "NEW") in got
    assert len(got) == 31
    # rewritten files stayed in the hive layout
    assert all(f.path.startswith("data/region=") for f in t.snapshot().files)


def test_delete_on_partition_column_drops_whole_partition(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    n_ap = len([f for f in t.snapshot().files if f.partition["region"] == "ap"])
    st = t.delete([("region", "=", "ap")])
    assert st.candidates_after_stats == n_ap  # exact partition prune
    assert st.files_rewritten == n_ap and st.files_added == 0  # whole-file drop
    assert sorted({r.region for r in t.read().collect()}) == ["eu", "us"]


def test_int_partition_values_are_typed(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(
        _df(spark, [(1, "us", "a")]).withColumn("bucket", F.col("k") % 2),
        mode="overwrite",
        partition_by=["bucket"],
    )
    t.write(
        _df(spark, [(2, "eu", "b")]).withColumn("bucket", F.col("k") % 2),
        mode="append",
    )
    snap = t.snapshot()
    assert {f.partition["bucket"] for f in snap.files} == {0, 1}  # ints, not "0"/"1"
    got = t.read(filters=[("bucket", "=", 0)])
    assert all("bucket=0" in p for p in got.inputFiles())
    assert [(r.k, r.bucket) for r in got.collect()] == [(2, 0)]
    assert dict(got.dtypes)["bucket"] == "bigint"


def test_null_and_special_char_partition_values(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    rows = [(1, None, "a"), (2, "us east/1", "b"), (3, "us", "c")]
    t.write(_df(spark, rows), mode="overwrite", partition_by=["region"])
    snap = t.snapshot()
    assert {f.partition["region"] for f in snap.files} == {None, "us east/1", "us"}
    got = sorted((r.k, r.region) for r in t.read().collect())
    assert got == [(1, None), (2, "us east/1"), (3, "us")]
    # NULL-partition files carry no envelope -> never wrongly pruned
    assert sorted(r.k for r in t.read(filters=[("region", "=", "us")]).collect()) == [3]


def test_compact_preserves_layout_and_zorder_refuses(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark).repartition(4), mode="overwrite", partition_by=["region"])
    n_before = len(t.snapshot().files)
    assert t.compact(target_file_mb=64) is not None
    snap = t.snapshot()
    assert len(snap.files) < n_before
    assert all(f.path.startswith("data/region=") for f in snap.files)
    assert sorted(r.k for r in t.read().collect()) == list(range(30))
    with pytest.raises(ValueError, match="must not repeat"):
        t.compact(target_file_mb=64, zorder_by=["region", "k"])
    # vacuum walks the nested layout and sweeps the pre-compaction files
    deleted = t.vacuum(keep_versions=1)
    assert deleted >= n_before
    assert sorted(r.k for r in t.read().collect()) == list(range(30))


def test_update_keeps_partition_layout(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    t.update([("region", "=", "us")], {"v": F.lit("patched")})
    snap = t.snapshot()
    assert all(f.path.startswith("data/region=") for f in snap.files)
    got = {r.v for r in t.read(filters=[("region", "=", "us")]).collect()}
    assert got == {"patched"}
    assert t.read().count() == 30


def test_cdf_on_partitioned_table_carries_partition_columns(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_base(spark), mode="overwrite", partition_by=["region"])  # v0
    t.write(_df(spark, [(100, "eu", "new")]), mode="append")  # v1
    t.delete([("region", "=", "ap")])  # v2 (CDC written)
    changes = t.table_changes(0)
    assert "region" in changes.columns
    v1 = [(r.k, r.region, r._change_type) for r in changes.filter("_commit_version = 1").collect()]
    assert v1 == [(100, "eu", "insert")]
    v2 = {(r.k, r.region) for r in changes.filter("_commit_version = 2").collect()}
    assert v2 == {(i, "ap") for i in range(30) if i % 3 == 2}


def test_data_source_batch_and_stream_on_partitioned_table(spark, tmp_path):
    from dc43_spark.io.snaplog_source import SnaplogDataSource

    spark.dataSource.register(SnaplogDataSource)
    path = str(tmp_path / "t")
    t = SnaplogTable(spark, path)
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    got = spark.read.format("snaplog").load(path)
    assert got.columns == ["k", "region", "v"]
    assert sorted((r.k, r.region) for r in got.collect()) == sorted(
        (i, ["us", "eu", "ap"][i % 3]) for i in range(30)
    )
    # streaming pass serves the partition column too
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    q = (
        spark.readStream.format("snaplog")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    assert sorted((r.k, r.region) for r in streamed.collect()) == sorted(
        (i, ["us", "eu", "ap"][i % 3]) for i in range(30)
    )


def test_data_source_pushdown_prunes_partitions(spark, tmp_path):
    from dc43_spark.io.snaplog_source import (
        SnaplogDataSource,
        SnaplogPushdownBatchReader,
    )
    from pyspark.sql.datasource import EqualTo

    spark.dataSource.register(SnaplogDataSource)
    path = str(tmp_path / "t")
    t = SnaplogTable(spark, path)
    t.write(_base(spark), mode="overwrite", partition_by=["region"])
    r = SnaplogPushdownBatchReader(path, {})
    r._schema = t.read().schema
    r.pushFilters([EqualTo(("region",), "eu")])
    parts = r.partitions()
    assert parts and all("region=eu" in p.path for p in parts)


def test_zorder_compaction_within_partitions(spark, tmp_path):
    """Delta's OPTIMIZE ZORDER scope on a partitioned table: clustering
    runs WITHIN each hive partition — the layout survives, every file
    stays single-partition, and a (partition, zorder-col) filter prunes
    to a file subset through BOTH mechanisms."""
    t = SnaplogTable(spark, str(tmp_path / "t"))
    rows = [(i, ["us", "eu"][i % 2], i * 7 % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, region string, x long").repartition(8)
    t.write(df, mode="overwrite", partition_by=["region"])
    v = t.compact(target_file_mb=1, zorder_by=["k"], min_files=2)
    assert v is not None
    snap = t.snapshot()
    assert snap.partition_by == ("region",)
    assert all(f.path.startswith("data/region=") for f in snap.files)
    # per-partition files cover contiguous, mostly non-overlapping k
    # ranges; a narrow k filter within one partition opens a file subset
    per_region = {}
    for f in snap.files:
        per_region.setdefault(f.partition["region"], []).append(f)
    assert set(per_region) == {"us", "eu"}
    got = t.read(filters=[("region", "=", "us"), ("k", "=", 4)])
    opened = got.inputFiles()
    assert all("region=us" in p for p in opened)
    assert len(opened) < len(per_region["us"]) or len(per_region["us"]) == 1
    assert [r.k for r in got.collect()] == [4]
    # full content intact
    assert t.read().count() == 2000


def test_cluster_compaction_within_partitions(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    rows = [(i, ["us", "eu"][i % 2], f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, region string, v string").repartition(8)
    t.write(df, mode="overwrite", partition_by=["region"])
    assert t.compact(target_file_mb=1, cluster_by=["k"], min_files=2) is not None
    snap = t.snapshot()
    assert all(f.path.startswith("data/region=") for f in snap.files)
    # clustered: within a partition, files' k-ranges don't overlap
    for region, files in (
        ("us", [f for f in snap.files if f.partition["region"] == "us"]),
    ):
        spans = sorted((f.stats["k"]["min"], f.stats["k"]["max"]) for f in files)
        for (al, ah), (bl, bh) in zip(spans, spans[1:]):
            assert ah <= bl
    assert t.read().count() == 2000


def _data_files(root):
    """Relative paths of every data parquet file under ``root`` (log,
    staging and other ``_``-prefixed dirs excluded)."""
    out = set()
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not n.startswith("_")]
        out |= {os.path.relpath(os.path.join(d, n), root)
                for n in names if n.endswith(".parquet")}
    return out


@pytest.mark.parametrize("case", ["layout", "empty_frame", "failing_job"])
def test_staging_kernel_partitioned_cases(spark, tmp_path, case):
    """The staging kernel (io/tablecore.py::stage_parquet) under snaplog;
    test_delta_write.py runs the same case under the Delta writer."""
    t = SnaplogTable(spark, str(tmp_path / "t"))
    rows = [(i, [None, "a/b c", "us"][i % 3], f"v{i}") for i in range(12)]
    # round-robin: every task writes into every partition dir, so Spark
    # hands the same part basename to several dirs
    t.write(_df(spark, rows).repartition(3), mode="overwrite",
            partition_by=["region"])
    v, on_disk = t.version(), _data_files(t.path)
    files = t.snapshot().files
    if case == "layout":
        assert {f.partition["region"] for f in files} == {None, "a/b c", "us"}
        assert len({os.path.dirname(f.path) for f in files}) == 3
        assert {f.path for f in files} == on_disk
        names = [os.path.basename(f.path) for f in files]
        assert len(names) > 3 and len(set(names)) == len(names)
        got = sorted((r.k, r.region) for r in t.read().collect())
        assert got == sorted((k, p) for k, p, _ in rows)
        assert [r.k for r in t.read(filters=[("region", "=", "a/b c")])
                .orderBy("k").collect()] == [1, 4, 7, 10]
    elif case == "empty_frame":
        t.write(_df(spark, []), mode="append")
        assert _data_files(t.path) == on_disk
        assert t.read().count() == len(rows)
    else:
        boom = _df(spark, rows).withColumn(
            "v", F.when(F.col("k") == 5, F.raise_error(F.lit("boom")))
            .otherwise(F.col("v"))
        )
        with pytest.raises(Exception, match="boom"):
            t.write(boom, mode="append")
        assert not [n for n in os.listdir(t.path) if n.startswith("_staging_")]
        assert t.version() == v
        assert _data_files(t.path) == on_disk


def _staged_files(root):
    """Every parquet file under ``root`` outside ``_snaplog`` (data AND
    change-feed files, committed or orphaned)."""
    out = set()
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if n != "_snaplog"]
        out |= {os.path.relpath(os.path.join(d, n), root)
                for n in names if n.endswith(".parquet")}
    return out


def test_staging_kernel_failing_merge_job(
    spark, tmp_path, fail_first_staging_job
):
    """The ``failing_job`` case under a change-feed MERGE, whose change
    files and data files stage as two concurrent jobs: one job fails,
    nothing commits, and vacuum reclaims the other job's files;
    test_delta_write.py runs the same case under the Delta merge."""
    from dc43_spark.io import snaplog

    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_df(spark, [(i, "us", f"v{i}") for i in range(6)]).coalesce(1),
            mode="overwrite")
    v, committed = t.version(), _staged_files(t.path)
    fail_first_staging_job(snaplog)
    with pytest.raises(Exception, match="boom"):
        t.merge(_df(spark, [(1, "us", "m"), (9, "us", "n")]), ["k"])
    reader = SnaplogTable(spark, t.path)
    assert reader.version() == v and reader.read().count() == 6
    assert _staged_files(t.path) > committed  # the surviving job's files
    t.vacuum()
    assert _staged_files(t.path) == committed
