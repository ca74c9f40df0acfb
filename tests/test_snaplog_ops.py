"""Operational surface: time-based VACUUM retention, VACUUM dry run,
and DESCRIBE DETAIL."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.snaplog import SnaplogTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("long"), F.lit("x").alias("v")
    ).repartition(1)


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 10))
    t.write(_df(spark, 0, 5), mode="overwrite")  # v0's file now dead
    listed = t.vacuum(dry_run=True)
    assert isinstance(listed, list) and len(listed) == 1
    assert listed[0].startswith("data/")
    # nothing was touched: the old version still reads
    assert t.read(version_as_of=0).count() == 10
    # the real run deletes exactly what the dry run listed
    assert t.vacuum() == 1
    assert not os.path.exists(os.path.join(t.path, listed[0]))
    with pytest.raises(Exception):
        t.read(version_as_of=0).count()


def test_vacuum_retention_hours_keeps_young_versions(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 5))
    t.write(_df(spark, 5, 10))
    t.write(_df(spark, 10, 15))
    # everything committed seconds ago: a 1h retention retains ALL
    # versions even though keep_versions=1 alone would sweep two
    assert t.vacuum(keep_versions=1, retention_hours=1.0) == 0
    assert t.read(version_as_of=0).count() == 5
    # zero-hour retention falls back to the keep_versions floor
    t.write(_df(spark, 0, 3), mode="overwrite")
    deleted = t.vacuum(keep_versions=1, retention_hours=0.0)
    assert deleted == 3
    assert t.read().count() == 3


@pytest.mark.parametrize("keep", [1, 2])
def test_vacuum_replays_each_retained_version_once(
    spark, tmp_path, monkeypatch, keep
):
    """The data, deletion-vector and bloom sweeps share one
    ``snapshot()`` replay per retained version, and the head's replay
    also yields its tags: 4 replays for the default single version
    before."""
    t = SnaplogTable(spark, str(tmp_path / "t"), bloom_columns=["id"])
    t.write(_df(spark, 0, 10))
    t.write(_df(spark, 10, 20))
    t.delete(where="id < 3", strategy="merge_on_read")
    t.write(_df(spark, 0, 5), mode="overwrite")
    calls = []
    real = SnaplogTable.snapshot

    def counted(self, *a, **kw):
        calls.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(SnaplogTable, "snapshot", counted)
    deleted = t.vacuum(keep_versions=keep)
    assert len(calls) == keep
    monkeypatch.setattr(SnaplogTable, "snapshot", real)
    assert deleted == (3 if keep == 1 else 0)  # two data files and a DV
    assert t.read().count() == 5


def test_describe_detail(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    df = spark.range(20).select(
        F.col("id").cast("long"),
        (F.col("id") % 2).cast("long").alias("p"),
        F.lit("x").alias("v"),
    )
    t.write(df, partition_by=["p"])
    t.rename_column("v", "val")
    t.add_check_constraint("v_set", "val IS NOT NULL")
    d = t.describe_detail()
    assert d["format"] == "snaplog" and d["location"] == t.path
    assert d["version"] == t.version()
    assert d["num_rows"] == 20 and d["num_files"] >= 2
    assert d["size_bytes"] > 0
    assert d["partition_columns"] == ["p"]
    assert d["columns"] == ["id", "p", "val"]
    assert d["column_mapping"] == {"val": "v"}
    assert d["constraints"] == {"v_set": "val IS NOT NULL"}
    assert d["change_feed"] is True
    assert d["active_deletion_vectors"] == 0
    assert d["created_at"] <= d["last_modified"]


def test_describe_detail_missing_table(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "none"))
    with pytest.raises(FileNotFoundError):
        t.describe_detail()


def test_vacuum_min_file_age_protects_young_orphans(spark, tmp_path):
    """Delta's unsafe-VACUUM mitigation: unreferenced files YOUNGER than
    min_file_age_hours survive the sweep (an in-flight writer's staged
    data is indistinguishable from an orphan until it ages)."""
    import os
    import time

    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 5))
    t.write(_df(spark, 0, 3), mode="overwrite")  # v0's file now unreferenced
    # age-guarded: everything is seconds old -> nothing deleted
    assert t.vacuum(keep_versions=1, min_file_age_hours=1.0) == 0
    assert t.read(version_as_of=0).count() == 5  # still fully readable
    # back-date the orphan: now it is a true orphan and sweeps
    for root, _dirs, names in os.walk(t.data_dir):
        for n in names:
            os.utime(os.path.join(root, n), (time.time() - 7200,) * 2)
    assert t.vacuum(keep_versions=1, min_file_age_hours=1.0) == 1
    assert t.read().count() == 3
