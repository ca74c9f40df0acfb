from __future__ import annotations

import pytest

from dc43_spark.contracts import Contract, QualityRule, SchemaObject, SchemaProperty
from dc43_spark.io.merge import merge_with_contract
from dc43_spark.io.read import ValidationBlockedError

SCHEMA = "k long, v string, amount double"


def contract() -> Contract:
    return Contract(
        id="test.merge",
        version="0.1.0",
        status="active",
        schema_objects=[
            SchemaObject(
                name="t",
                properties=[
                    SchemaProperty("k", "bigint", required=True),
                    SchemaProperty("v", "string"),
                    SchemaProperty(
                        "amount", "double", quality=[QualityRule("gt", 0.0)]
                    ),
                ],
            )
        ],
    )


def rows(df):
    return sorted((r.k, r.v, r.amount) for r in df.collect())


def test_merge_into_missing_target_inserts_all(spark, tmp_path):
    target = str(tmp_path / "t")
    src = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    res = merge_with_contract(spark, src, contract(), keys=["k"], path=target)
    assert res.strategy == "initial-write"
    assert rows(spark.read.parquet(target)) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_merge_update_and_insert(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    merge_with_contract(spark, base, contract(), keys=["k"], path=target)

    src = spark.createDataFrame([(2, "B", 20.0), (3, "c", 3.0)], SCHEMA)
    res = merge_with_contract(spark, src, contract(), keys=["k"], path=target)
    assert res.strategy == "outer-join-rewrite"
    assert rows(spark.read.parquet(target)) == [
        (1, "a", 1.0),  # untouched
        (2, "B", 20.0),  # updated
        (3, "c", 3.0),  # inserted
    ]


def test_merge_matched_ignore_keeps_target(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    merge_with_contract(spark, base, contract(), keys=["k"], path=target)

    src = spark.createDataFrame([(1, "X", 9.0), (2, "b", 2.0)], SCHEMA)
    merge_with_contract(
        spark, src, contract(), keys=["k"], path=target, when_matched="ignore"
    )
    assert rows(spark.read.parquet(target)) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_merge_not_matched_ignore_drops_new(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    merge_with_contract(spark, base, contract(), keys=["k"], path=target)

    src = spark.createDataFrame([(1, "A", 10.0), (2, "b", 2.0)], SCHEMA)
    merge_with_contract(
        spark, src, contract(), keys=["k"], path=target, when_not_matched="ignore"
    )
    assert rows(spark.read.parquet(target)) == [(1, "A", 10.0)]


def test_merge_delete_predicate(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    merge_with_contract(spark, base, contract(), keys=["k"], path=target)

    src = spark.createDataFrame([(1, "tombstone", 0.5), (3, "c", 3.0)], SCHEMA)
    merge_with_contract(
        spark, src, contract(), keys=["k"], path=target,
        delete_predicate="s.v = 'tombstone'",
    )
    assert rows(spark.read.parquet(target)) == [(2, "b", 2.0), (3, "c", 3.0)]


def test_merge_blocks_on_violations(spark, tmp_path):
    target = str(tmp_path / "t")
    src = spark.createDataFrame([(1, "a", -1.0)], SCHEMA)
    with pytest.raises(ValidationBlockedError):
        merge_with_contract(spark, src, contract(), keys=["k"], path=target)


def test_merge_composite_keys(spark, tmp_path):
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a", 1.0), (1, "b", 2.0)], SCHEMA)
    merge_with_contract(spark, base, contract(), keys=["k", "v"], path=target)

    src = spark.createDataFrame([(1, "a", 100.0)], SCHEMA)
    merge_with_contract(spark, src, contract(), keys=["k", "v"], path=target)
    assert rows(spark.read.parquet(target)) == [(1, "a", 100.0), (1, "b", 2.0)]


def test_merge_runs_interceptors(spark, tmp_path):
    """merge_with_contract fires the same hook surface as governed
    writes: pre_write may replace the source, post_write sees the
    verdict (r6: interceptor coverage extended to the merge path)."""
    from dc43_spark.io.status import GovernanceInterceptor

    calls = []

    class Rec(GovernanceInterceptor):
        def pre_write(self, ctx, df):
            calls.append(("pre", ctx.operation))
            return df.filter("amount > 0")

        def post_write(self, ctx, result):
            calls.append(("post", result.status))

    target = str(tmp_path / "m")
    good = spark.createDataFrame([(1, "a", 5.0), (2, "b", -1.0)], SCHEMA)
    res = merge_with_contract(
        spark, good, contract(), keys=["k"], path=target, interceptors=[Rec()]
    )
    assert res.strategy == "initial-write"
    assert calls == [("pre", "merge"), ("post", "ok")]
    # the pre_write filter removed the bad row before validation/write
    assert spark.read.parquet(target).count() == 1


def test_merge_with_contract_conditional_clauses_all_strategies(spark, tmp_path):
    """r11: merge_with_contract forwards the full conditional clause
    surface (ref spark/io/merge.py:43-127's builder-modifier breadth as
    explicit kwargs) to EVERY engine — parquet outer-join rewrite,
    snaplog COW, jar-less Delta DML — with identical row fates."""
    from dc43_spark.io.delta_log import DeltaLogTable, delta_write
    from dc43_spark.io.snaplog import SnaplogTable

    base = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)]
    src = spark.createDataFrame(
        [(2, "B", 200.0), (3, "C", 300.0), (9, "i", 90.0), (11, "x", 1.0)],
        SCHEMA,
    )
    kw = dict(
        keys=["k"],
        delete_predicate="s.k = 3",
        matched_predicate="t.amount < 100",
        when_matched={"v": "upper(s.v)", "amount": "t.amount + s.amount"},
        insert_predicate="s.k < 10",
        when_not_matched={"k": "s.k", "amount": "s.amount * 2"},
        when_not_matched_by_source={"v": "'stale'"},
        not_matched_by_source_predicate="t.k = 1",
    )
    # fates: k=3 deleted; k=2 SET-updated (B, 220.0); k=1 by-source
    # 'stale'; k=4 untouched; k=9 VALUES-inserted (v NULL, 180.0);
    # k=11 gated out by insert_predicate
    expect = [
        (1, "stale", 10.0), (2, "B", 220.0), (4, "d", 40.0),
        (9, None, 180.0),
    ]

    # parquet outer-join rewrite
    p = str(tmp_path / "pq")
    spark.createDataFrame(base, SCHEMA).write.parquet(p)
    res = merge_with_contract(spark, src, contract(), path=p, **kw)
    assert res.strategy == "outer-join-rewrite"
    assert rows(spark.read.parquet(p)) == expect

    # snaplog COW
    sp = str(tmp_path / "sl")
    SnaplogTable(spark, sp).write(
        spark.createDataFrame(base, SCHEMA), mode="overwrite"
    )
    res = merge_with_contract(spark, src, contract(), path=sp,
                              format="snaplog", **kw)
    assert res.strategy.startswith("snaplog")
    assert rows(SnaplogTable(spark, sp).read()) == expect

    # jar-less Delta DML (deletion vectors)
    dp = str(tmp_path / "dl")
    delta_write(
        spark, spark.createDataFrame(base, SCHEMA), dp,
        checkpoint_interval=None,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    res = merge_with_contract(spark, src, contract(), path=dp,
                              format="delta", **kw)
    assert res.strategy == "delta-log-dml"
    assert rows(DeltaLogTable(spark, dp).read()) == expect


@pytest.mark.parametrize("fmt", ["snaplog", "deltalog"])
def test_merge_materialize_source_opt_out(spark, tmp_path, fmt):
    """spark.dc43.delta.mergeMaterializeSource=none (r14 — the
    delta-spark merge.materializeSource escape hatch), the one knob both
    table formats read: a deterministic full-table-sized source can skip
    the spillable persist and recompute per pass; results are identical
    either way."""
    from dc43_spark.io.delta_dml import delta_merge
    from dc43_spark.io.delta_log import DeltaLogTable, delta_write
    from dc43_spark.io.snaplog import SnaplogTable

    path = str(tmp_path / "t")
    base = spark.range(200).selectExpr("id AS k", "id AS v")
    src = spark.range(100).selectExpr("id AS k", "id * 5 AS v")
    if fmt == "snaplog":
        t = SnaplogTable(spark, path)
        t.write(base, mode="overwrite")
    else:
        delta_write(spark, base, path, checkpoint_interval=None)
        t = DeltaLogTable(spark, path)
    spark.conf.set("spark.dc43.delta.mergeMaterializeSource", "none")
    try:
        if fmt == "snaplog":
            assert t.merge(src, ["k"]).files_rewritten >= 1
        else:
            assert delta_merge(spark, src, path, ["k"]) == 1
    finally:
        spark.conf.unset("spark.dc43.delta.mergeMaterializeSource")
    got = {r.k: r.v for r in t.read().collect()}
    assert got[50] == 250 and got[150] == 150


@pytest.mark.parametrize("fmt", ["parquet", "delta", "snaplog"])
def test_merge_into_missing_target_refuses_values_map_and_reports_no_op(
    spark, tmp_path, fmt
):
    """A missing target takes the one initial-write path on every
    format: an insert VALUES map refuses (the unlisted-NULL columns need
    the table's schema) instead of reporting an initial write that wrote
    nothing, and a merge without an insert clause reports a no-op."""
    import os

    path = str(tmp_path / "t")
    src = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    with pytest.raises(ValueError, match="INSERT VALUES needs an existing table"):
        merge_with_contract(
            spark, src, contract(), keys=["k"], path=path, format=fmt,
            when_not_matched={"k": "s.k", "v": "s.v"},
        )
    res = merge_with_contract(
        spark, src, contract(), keys=["k"], path=path, format=fmt,
        when_not_matched="ignore",
    )
    assert res.strategy.endswith("no-op")
    assert not os.path.exists(path)
