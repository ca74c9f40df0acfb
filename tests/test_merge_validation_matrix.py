"""The verdict of a governed merge equals a standalone validation.

Under snaplog and jar-less Delta targets the contract metrics are
computed inside the engine's source aggregate (``mergecore.SourceCheck``),
over the aligned source and beside the key casts; a contract whose rules
read a column ``apply_contract`` casts falls back to aggregating the raw
frame up front. Either way ``MergeResult.validation`` must be exactly
``evaluate_dataframe(raw_source, contract, operation="write")``.
"""

from __future__ import annotations

import pytest

from dc43_spark.contracts import Contract, QualityRule, SchemaObject, SchemaProperty
from dc43_spark.engine.validation import evaluate_dataframe
from dc43_spark.io.delta_log import delta_write
from dc43_spark.io.merge import merge_with_contract
from dc43_spark.io.snaplog import SnaplogTable

TABLE = "k bigint, v string, email string, amt bigint, score double"


def _contract(*, query: bool = False) -> Contract:
    props = [
        SchemaProperty("k", "bigint", required=True),
        SchemaProperty("v", "string", required=True, quality=[
            QualityRule("enum", ["a", "b", "x"]),
            QualityRule("regex", "^[abx]$", severity="warning"),
        ]),
        SchemaProperty("email", "string", unique=True),
        SchemaProperty("amt", "bigint", quality=[
            QualityRule("ge", 0), QualityRule("le", 1000),
        ]),
        SchemaProperty("score", "double", quality=[
            QualityRule("gt", 0.0), QualityRule("lt", 100.0),
        ]),
    ]
    obj = SchemaObject(name="t", properties=props)
    if query:
        obj.quality.append(QualityRule(
            "query", "SELECT count(*) FROM _dc43_dq_tmp WHERE amt > 100",
            name="big_amt",
        ))
    return Contract(id="t.matrix", version="0.1.0", schema_objects=[obj])


# case -> (source rows, source DDL, merge keys, contract kwargs)
CASES = {
    "every_rule_kind": (
        [
            (1, None, "e1", 5, 1.0),        # not_null_v
            (2, "zz", "e2", 5, 1.0),        # enum_v + regex_v
            (3, "a", "dup", -1, 1.0),       # ge_amt, unique_email (with 4)
            (4, "b", "dup", 5000, 1.0),     # le_amt
            (5, "x", "e5", 5, 0.0),         # gt_score
            (6, "a", None, 5, 200.0),       # lt_score
            (7, "a", None, None, None),     # NULLs violate no bound rule
            (50, "a", "e50", 5, 1.0),       # insert
        ],
        TABLE, ["k"], {},
    ),
    "null_keys": (
        [(None, "a", "n1", 1, 1.0), (2, "b", "n2", 2, 2.0), (60, "x", "n3", 3, 3.0)],
        TABLE, ["k"], {},
    ),
    "composite_key": (
        [(1, "a", "c1", 1, 1.0), (1, "b", "c2", -2, 2.0), (None, "a", "c3", 3, 3.0),
         (None, "b", "c4", 4, 4.0), (70, "zz", "c5", 5, 5.0)],
        TABLE, ["k", "v"], {},
    ),
    # amt arrives as a double: apply_contract casts it to bigint, where
    # -0.5 becomes 0 and passes ge_amt, so the rules on amt must be
    # judged on the raw frame (the fallback path)
    "auto_cast_rule_column": (
        [(1, "a", "s1", 5.0, 1.0), (2, "b", "s2", -3.0, 2.0),
         (3, "x", "s3", -0.5, 3.0), (80, "a", "s4", 2000.0, 4.0)],
        "k bigint, v string, email string, amt double, score double",
        ["k"], {},
    ),
    # no score column: apply_contract synthesizes it as NULL; its rules
    # are skipped, and the schema check warns
    "missing_optional_column": (
        [(1, "a", "m1", -1), (90, "zz", "m2", 3)],
        "k bigint, v string, email string, amt bigint",
        ["k"], {},
    ),
    "query_rule": (
        [(1, "a", "q1", 500, 1.0), (2, "b", "q2", 50, 2.0), (95, "x", "q3", 700, 3.0)],
        TABLE, ["k"], {"query": True},
    ),
    "empty_source": ([], TABLE, ["k"], {}),
}


def _target(spark, fmt: str, path: str) -> None:
    rows = spark.createDataFrame(
        [(i, "a", f"t{i}", i, float(i)) for i in range(10)], TABLE
    ).repartition(2)
    if fmt == "snaplog":
        SnaplogTable(spark, path).write(rows, mode="overwrite")
    else:
        delta_write(spark, rows, path, checkpoint_interval=None)


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("fmt", ["snaplog", "delta"])
def test_merge_verdict_equals_standalone_validation(spark, tmp_path, fmt, case):
    rows, ddl, keys, kw = CASES[case]
    contract = _contract(**kw)
    source = spark.createDataFrame(rows, ddl)
    path = str(tmp_path / "t")
    _target(spark, fmt, path)
    result = merge_with_contract(
        spark, source, contract, keys=keys, path=path, format=fmt,
        enforce=False,
    )
    want = evaluate_dataframe(source, contract, operation="write")
    assert result.validation.to_dict() == want.to_dict()
    assert result.validation.metrics["row_count"] == len(rows)
