"""A governed merge aggregates its source once.

``merge_with_contract`` into a snaplog or jar-less Delta table hands the
contract metrics to the engine as a ``mergecore.SourceCheck``: they ride
in the engine's one source aggregate (key envelope + duplicate-key
probe), and the verdict runs on that row before anything is pruned,
probed or staged. So validation adds no Spark job to the merge, and a
blocked merge leaves the table exactly as it was.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

from dc43_spark.contracts import Contract, QualityRule, SchemaObject, SchemaProperty
from dc43_spark.io.delta_dml import delta_merge
from dc43_spark.io.delta_log import DeltaLogTable, delta_write
from dc43_spark.io.merge import merge_with_contract, require_unique_merge_keys
from dc43_spark.io.read import ValidationBlockedError
from dc43_spark.io.snaplog import SnaplogTable

SCHEMA = "k bigint, v string, amt bigint"
ENGINES = ("snaplog", "delta")


def _contract() -> Contract:
    return Contract(
        id="t.source_check", version="0.1.0",
        schema_objects=[SchemaObject(name="t", properties=[
            SchemaProperty("k", "bigint", required=True, unique=True),
            SchemaProperty("v", "string", required=True,
                           quality=[QualityRule("enum", ["a", "b", "x"])]),
            SchemaProperty("amt", "bigint", quality=[QualityRule("ge", 0)]),
        ])],
    )


def _table(spark, fmt: str, path: str) -> str:
    rows = spark.createDataFrame(
        [(i, "a", i * 10) for i in range(20)], SCHEMA
    ).repartition(2)
    if fmt == "snaplog":
        SnaplogTable(spark, path).write(rows, mode="overwrite")
    else:
        delta_write(spark, rows, path, checkpoint_interval=None)
    return path


def _version(spark, fmt: str, path: str):
    table = SnaplogTable(spark, path) if fmt == "snaplog" else DeltaLogTable(spark, path)
    return table.version()


def _files(path: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), path)
        for d, _, names in os.walk(path)
        for f in names
    }


def _count_jobs(spark, fn) -> int:
    sc, group = spark.sparkContext, f"source-check-{uuid.uuid4().hex}"
    fence = f"{group}-fence"
    sc.setJobGroup(group, group)
    try:
        fn()
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
    return len(tracker.getJobIdsForGroup(group))


@pytest.mark.parametrize("fmt", ENGINES)
def test_validation_adds_no_job_to_the_merge(spark, tmp_path, fmt):
    """The governed merge runs exactly the jobs of the same merge without
    a contract (on local[4] the parent ran 3 more: the separate metrics
    aggregate)."""
    src = spark.createDataFrame([(3, "x", 1), (5, "b", 2), (100, "a", 3)], SCHEMA)
    plain = _table(spark, fmt, str(tmp_path / "plain"))
    governed = _table(spark, fmt, str(tmp_path / "governed"))
    if fmt == "snaplog":
        want = _count_jobs(spark, lambda: SnaplogTable(spark, plain).merge(src, ["k"]))
    else:
        want = _count_jobs(spark, lambda: delta_merge(spark, src, plain, ["k"]))
    result = {}
    got = _count_jobs(spark, lambda: result.setdefault("r", merge_with_contract(
        spark, src, _contract(), keys=["k"], path=governed, format=fmt,
    )))
    assert result["r"].validation.status == "ok"
    assert result["r"].validation.metrics["row_count"] == 3
    assert got == want


@pytest.mark.parametrize("fmt", ENGINES)
def test_blocked_merge_stages_nothing(spark, tmp_path, fmt):
    path = _table(spark, fmt, str(tmp_path / "t"))
    version, files = _version(spark, fmt, path), _files(path)
    src = spark.createDataFrame([(3, "zz", -1), (100, "a", 3)], SCHEMA)
    with pytest.raises(ValidationBlockedError) as err:
        merge_with_contract(spark, src, _contract(), keys=["k"], path=path, format=fmt)
    assert err.value.result.metrics["violations.enum_v"] == 1
    assert _version(spark, fmt, path) == version
    assert _files(path) == files


@pytest.mark.parametrize("fmt", ENGINES)
def test_duplicate_source_keys_raise_the_probe_error(spark, tmp_path, fmt):
    path = _table(spark, fmt, str(tmp_path / "t"))
    src = spark.createDataFrame([(3, "a", 1), (7, "b", 2), (7, "x", 3)], SCHEMA)
    with pytest.raises(ValueError) as want:
        require_unique_merge_keys(src, ["k"])
    with pytest.raises(ValueError) as got:
        merge_with_contract(
            spark, src, _contract(), keys=["k"], path=path, format=fmt,
            enforce=False,
        )
    assert str(got.value) == str(want.value)
    assert "duplicate keys (e.g. {'k': 7})" in str(got.value)


def test_evaluate_dataset_records_a_merge_verdict_without_jobs(spark, tmp_path):
    """``evaluate_dataset(..., validation=MergeResult.validation)`` runs no
    metrics pass and stores the payload a recomputing call stores."""
    from dc43_spark.governance import GovernanceService

    path = _table(spark, "snaplog", str(tmp_path / "t"))
    src = spark.createDataFrame([(3, "zz", 1), (100, "a", -3)], SCHEMA)
    merged = merge_with_contract(
        spark, src, _contract(), keys=["k"], path=path, format="snaplog",
        enforce=False,
    )
    assert merged.validation.status == "block"
    services = [GovernanceService(clock=lambda: "2026-01-01T00:00:00+00:00") for _ in "ab"]
    kw = dict(dataset_id="t", dataset_version="1", operation="write")
    outcome = {}
    jobs = _count_jobs(spark, lambda: outcome.setdefault("o", services[0].evaluate_dataset(
        src, _contract(), validation=merged.validation, **kw,
    )))
    services[1].evaluate_dataset(src, _contract(), **kw)
    assert jobs == 0
    assert outcome["o"].validation is merged.validation
    assert services[0].dataset_status("t", "1") == services[1].dataset_status("t", "1")


def test_missing_snaplog_target_judges_before_the_initial_write(spark, tmp_path):
    from dc43_spark.engine.validation import evaluate_dataframe

    path = str(tmp_path / "t")
    bad = spark.createDataFrame([(1, "zz", 5), (2, "a", -1)], SCHEMA)
    with pytest.raises(ValidationBlockedError):
        merge_with_contract(spark, bad, _contract(), keys=["k"], path=path, format="snaplog")
    assert SnaplogTable(spark, path).version() is None
    good = spark.createDataFrame([(1, "a", 5), (2, "b", None)], SCHEMA)
    result = merge_with_contract(spark, good, _contract(), keys=["k"], path=path, format="snaplog")
    assert result.strategy == "snaplog-initial-write"
    want = evaluate_dataframe(good, _contract(), operation="write")
    assert result.validation.to_dict() == want.to_dict()
    assert SnaplogTable(spark, path).read().count() == 2


@pytest.mark.parametrize("fmt", ENGINES)
def test_source_check_without_materialization(spark, tmp_path, fmt):
    """Under ``mergeMaterializeSource=none`` the fused aggregate runs over
    the unmaterialized source and judges it the same way."""
    from dc43_spark.engine.validation import evaluate_dataframe
    from dc43_spark.io.mergecore import MATERIALIZE_CONF

    path = _table(spark, fmt, str(tmp_path / "t"))
    src = spark.createDataFrame([(3, "zz", 1), (100, "a", -3), (None, "b", 2)], SCHEMA)
    spark.conf.set(MATERIALIZE_CONF, "none")
    try:
        result = merge_with_contract(
            spark, src, _contract(), keys=["k"], path=path, format=fmt,
            enforce=False,
        )
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
    want = evaluate_dataframe(src, _contract(), operation="write")
    assert result.validation.to_dict() == want.to_dict()
    assert want.metrics["violations.enum_v"] == 1
