"""local_df: driver-local frames must scan JVM-only and stay
value-identical to the legacy ``createDataFrame(list)`` path (r14 —
the pickle path runs one Python worker task per default-parallelism
slice, which dominated the table-format gates' executor run time)."""

import datetime
import decimal

import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dc43_spark.localdf import local_df


TYPED = StructType(
    [
        StructField("s", StringType()),
        StructField("n", LongType()),
        StructField("d", DateType()),
        StructField("ts", TimestampType()),
        StructField("dec", DecimalType(12, 2)),
        StructField("b", BooleanType()),
        StructField("f", DoubleType()),
        StructField("arr", ArrayType(LongType())),
        StructField("blob", BinaryType()),
    ]
)
TYPED_ROWS = [
    (
        "a",
        1,
        datetime.date(2024, 1, 2),
        datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
        decimal.Decimal("12.34"),
        True,
        1.5,
        [1, 2],
        b"\x00\xff",
    ),
    (None, None, None, None, None, None, None, None, None),
    (
        "b",
        2**40,
        datetime.date(1970, 1, 1),
        datetime.datetime(1999, 12, 31, 23, 59, 59),
        decimal.Decimal("0.01"),
        False,
        -2.5,
        [],
        b"",
    ),
]


def test_values_match_legacy_path(spark):
    legacy = spark.createDataFrame(TYPED_ROWS, TYPED)
    fast = local_df(spark, TYPED_ROWS, TYPED)
    assert fast.schema == legacy.schema
    assert sorted(map(tuple, fast.collect()), key=str) == sorted(
        map(tuple, legacy.collect()), key=str
    )


def test_no_python_eval_in_plan(spark):
    df = local_df(spark, [("x", 1)], "a string, b long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_empty_frame(spark):
    df = local_df(spark, [], "a string, b long")
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<a:string,b:bigint>"
    assert df.rdd.getNumPartitions() == 0


def test_coalesce_single_partition(spark):
    df = local_df(spark, [(str(i),) for i in range(10)], "s string", coalesce=1)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 10


def test_partitions_capped_by_rows(spark):
    # one row per partition up to defaultParallelism — never empty slices
    df = local_df(spark, [("a",), ("b",)], "s string")
    assert df.rdd.getNumPartitions() == 2


def test_fallback_types_still_work(spark):
    # map values ride the legacy path if Arrow conversion declines
    schema = StructType([StructField("m", MapType(StringType(), LongType()))])
    df = local_df(spark, [({"k": 1},)], schema)
    assert df.collect()[0].m == {"k": 1}


def test_ddl_and_structtype_schemas_agree(spark):
    a = local_df(spark, [("x", 3)], "a string, b long")
    b = local_df(
        spark,
        [("x", 3)],
        StructType([StructField("a", StringType()), StructField("b", LongType())]),
    )
    assert a.schema.simpleString() == b.schema.simpleString()
    assert a.collect() == b.collect()


# Every CONCRETE DDL schema shipped at a dc43_spark local_df call site
# (grep 'local_df(' — dynamic schemas are table-derived StructTypes whose
# type domain the TYPED matrix above covers). Paired with VERDICT r14 #9:
# the Arrow path must hold for all of them, or a type change silently
# reintroduces one pickled Python task per core on every metadata scan.
_SHIPPED_SCHEMAS = [
    ("dataset_id string, operation string, contract_id string, "
     "status string, ok boolean, n_errors long, n_warnings long, "
     "blocking_violations long, row_count long, draft_created boolean, "
     "n_draft_changes long, n_added_columns long",
     ("d", "op", "c", "ok", True, 0, 0, 0, 1, False, 0, 0)),
    ("col_name string, n_nulls long, n_distinct long, is_unique boolean, "
     "min_long long, max_long long, min_str string, max_str string, "
     "enum_csv string",
     ("c", 0, 1, True, None, None, "a", "b", None)),
    ("batch_id long, reason string, n_docs long", (1, "kept", 2)),
    ("n_planes int, seed int, dim int", (8, 7, 64)),
    ("vec_id long, dup_of long, cosine double", (1, 2, 0.5)),
    ("num_hashes int, rows_per_band int, shingle_size int", (64, 4, 5)),
    ("term string, _vid int", ("t", 1)),
    ("reason string, n_docs long", ("kept", 3)),
    ("key string, n long, total long", ("k", 1, 2)),
    ("centroid_id long, centroid array<double>", (0, [0.1, 0.2])),
    ("pid long, root string, a string, b string", (0, "/t", "{}", None)),
    ("file string, rel string, relq string, storage string, spec string, "
     "off long, size long, card long",
     ("f", "r", "q", "s", "p", 0, 10, 1)),
    ("_touch_rel string", ("data/x.parquet",)),
    ("table string, files long, dry_run boolean", ("t", 1, False)),
    ("table string, version long", ("t", 0)),
    ("version long, timestamp double, operation string", (0, 1.0, "w")),
]


def test_every_shipped_schema_takes_the_arrow_path(spark):
    import dc43_spark.localdf as mod

    for ddl, row in _SHIPPED_SCHEMAS:
        before = mod._FALLBACKS
        df = local_df(spark, [row], ddl, coalesce=1)
        assert mod._FALLBACKS == before, f"Arrow path regressed for: {ddl}"
        assert df.count() == 1
        # empty frames of the same schema must stay on the Arrow path too
        before = mod._FALLBACKS
        local_df(spark, [], ddl).count()
        assert mod._FALLBACKS == before, f"empty-frame fallback for: {ddl}"


def test_fallback_is_counted_and_logged(spark, caplog, monkeypatch):
    import logging

    import dc43_spark.localdf as mod

    # force the Arrow conversion to decline (no shipped type does today —
    # the point is the fallback stays OBSERVABLE when one appears)
    import pyspark.sql.pandas.types as patypes

    def _boom(struct):
        raise TypeError("synthetic arrow refusal")

    monkeypatch.setattr(patypes, "to_arrow_schema", _boom)
    before = mod._FALLBACKS
    with caplog.at_level(logging.WARNING, logger="dc43_spark.localdf"):
        mod._WARNED_SCHEMAS.clear()
        df = local_df(spark, [("x", 1)], "a string, b long")
    assert [tuple(r) for r in df.collect()] == [("x", 1)]
    assert mod._FALLBACKS == before + 1
    assert any("pickled-RDD" in r.message for r in caplog.records)
