from __future__ import annotations

import pytest

from dc43_spark.contracts import Contract, QualityRule, SchemaObject, SchemaProperty
from dc43_spark.engine import compute_metrics, observe_metrics
from dc43_spark.engine.metrics import metrics_dataframe, observation_to_metrics


@pytest.fixture(scope="module")
def mini_orders(spark):
    rows = [
        (1, 101, 10.0, "EUR"),
        (2, 102, 20.5, "USD"),
        (3, 103, -5.0, "GBP"),   # gt + enum violation
        (4, None, 7.0, "EUR"),   # not_null violation
        (4, 105, None, "USD"),   # duplicate id; NULL amount is NOT a gt violation
    ]
    return spark.createDataFrame(rows, "order_id long, customer_id long, amount double, currency string")


def mini_contract() -> Contract:
    return Contract(
        id="t.mini", version="0.1.0",
        schema_objects=[
            SchemaObject(
                name="orders",
                properties=[
                    SchemaProperty("order_id", "bigint", required=True, unique=True),
                    SchemaProperty("customer_id", "bigint", required=True),
                    SchemaProperty("amount", "double", quality=[QualityRule("gt", 0.0)]),
                    SchemaProperty("currency", "string", quality=[QualityRule("enum", ["EUR", "USD"])]),
                ],
            )
        ],
    )


def test_single_pass_metrics(mini_orders):
    m = compute_metrics(mini_orders, mini_contract())
    assert m["row_count"] == 5
    assert m["violations.not_null_order_id"] == 0
    assert m["violations.unique_order_id"] == 1  # 5 rows, 4 distinct ids
    assert m["violations.not_null_customer_id"] == 1
    assert m["violations.gt_amount"] == 1  # only -5.0; NULL is not a violation
    assert m["violations.enum_currency"] == 1  # GBP


def test_unique_counts_null_as_distinct_value(spark):
    # reference semantics: select(c).distinct().count() counts NULL as one value
    df = spark.createDataFrame([(1,), (1,), (None,), (None,)], "x int")
    c = Contract(
        id="t.u", version="0.1.0",
        schema_objects=[SchemaObject(name="u", properties=[SchemaProperty("x", "int", unique=True)])],
    )
    m = compute_metrics(df, c)
    # 4 rows, distinct-including-null = {1, NULL} = 2 -> violations = 2
    assert m["violations.unique_x"] == 2


def test_query_rule(spark, mini_orders):
    c = mini_contract()
    c.schema_objects[0].quality.append(
        QualityRule("query", "SELECT count(*) FROM _dc43_dq_tmp WHERE amount < 0", name="neg")
    )
    m = compute_metrics(mini_orders, c)
    assert m["query_neg"] == 1


def test_metrics_is_single_job(mini_orders):
    # the aggregation must be ONE plan (one row out), not N jobs
    mdf = metrics_dataframe(mini_orders, mini_contract())
    rows = mdf.collect()
    assert len(rows) == 1
    assert rows[0]["row_count"] == 5


def test_observe_metrics(mini_orders):
    observed, obs = observe_metrics(mini_orders, mini_contract())
    observed.count()  # any action materialises the observation
    m = observation_to_metrics(obs.get)
    assert m["row_count"] == 5
    assert m["violations.gt_amount"] == 1
    assert "violations.unique_order_id" not in m  # distinct not allowed in observe


def test_approx_unique_strategy(mini_orders):
    m = compute_metrics(mini_orders, mini_contract(), unique_strategy="approx")
    # HLL on 4 distinct values is exact in practice
    assert m["violations.unique_order_id"] == 1


@pytest.mark.parametrize("name", ["a.b", "a`b", "a b"])
def test_metrics_quote_odd_column_names(spark, name):
    """A dot is part of the name, not a struct field, and a backtick is
    doubled inside the quotes: every metric equals the reference's
    per-rule ``filter(NOT p).count()`` / distinct count."""
    from dc43_spark.expectations.compiler import expectation_specs

    quoted = "`" + name.replace("`", "``") + "`"
    df = spark.createDataFrame(
        [(1, 5), (2, -1), (3, None), (4, 5), (5, 12)], f"id long, {quoted} long"
    )
    c = Contract(
        id="t.odd", version="0.1.0",
        schema_objects=[SchemaObject(name="o", properties=[
            SchemaProperty(name, "bigint", required=True, unique=True, quality=[
                QualityRule("ge", 0), QualityRule("enum", [5, 12]),
            ]),
        ])],
    )
    m = compute_metrics(df, c)
    want = {"row_count": 5}
    for s in expectation_specs(c):
        if s.rule == "unique":
            distinct = df.selectExpr(quoted).distinct().count()
            want[f"violations.{s.key}"] = 5 - distinct
        else:
            want[f"violations.{s.key}"] = df.filter(f"NOT ({s.predicate})").count()
    assert m == want
    assert want == {
        "row_count": 5,
        f"violations.not_null_{name}": 1,
        f"violations.unique_{name}": 1,
        f"violations.ge_{name}": 1,
        f"violations.enum_{name}": 1,
    }
