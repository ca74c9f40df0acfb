"""Conditional MERGE clauses (VERDICT r10 #2) across all three engines —
the jar-less Delta DML (DV + copy-on-write), snaplog's COW merge, and the
shared merge kernel's merged rows: column-level ``UPDATE SET c = expr`` maps,
per-clause predicates (``WHEN MATCHED AND pred``), column-level
``INSERT (cols) VALUES (exprs)``, and ``WHEN NOT MATCHED BY SOURCE
DELETE / UPDATE SET`` (ref spark/io/merge.py:43-127 forwards an arbitrary
merge-builder modifier — delta-spark users write exactly these clauses).

Expected row fates are computed IN PLAIN PYTHON per test (no Spark
involved), so every engine checks against an independent oracle."""

import pytest
from pyspark.sql import functions as F

from dc43_spark.io.delta_dml import delta_merge
from dc43_spark.io.delta_log import DeltaLogTable, DeltaWriteError, delta_write
from dc43_spark.io.snaplog import SnaplogTable


# target: k 0..9, v = 10k, w 't'; source: k 5..14, v = 100k, w 's', z = k%3
TGT = [(k, k * 10, "t") for k in range(10)]
SRC = [(k, k * 100, "s", k % 3) for k in range(5, 15)]
SCHEMA_T = "k long, v long, w string"
SCHEMA_S = "k long, v long, w string, z long"


def _target(spark):
    return spark.createDataFrame(TGT, SCHEMA_T).coalesce(2)


def _source(spark):
    return spark.createDataFrame(SRC, SCHEMA_S).coalesce(1)


def _read_delta(spark, path):
    return {
        (r.k, r.v, r.w)
        for r in DeltaLogTable(spark, path).read().collect()
    }


CLAUSES = dict(
    # matched: k=5 deleted (s.k%5=0 also matches k=10 but that's unmatched);
    # k∈{6,7} updated (t.v<80); k∈{8,9} matched-but-unchanged
    delete_predicate="s.k % 5 = 0",
    matched_predicate="t.v < 80",
    when_matched={"v": "s.v + t.v", "w": "'u'"},
    # unmatched source k∈{10..14}; insert only k<13; VALUES map leaves w NULL
    insert_predicate="s.k < 13",
    when_not_matched={"k": "s.k", "v": "s.v - 1"},
)


def _expected_conditional():
    out = {(k, k * 10, "t") for k in range(5)}          # target-only kept
    out |= {(k, k * 100 + k * 10, "u") for k in (6, 7)}  # updated
    out |= {(k, k * 10, "t") for k in (8, 9)}            # matched, pred fails
    out |= {(k, k * 100 - 1, None) for k in (10, 11, 12)}  # VALUES inserts
    return out  # k=5 deleted; k∈{13,14} gated out by insert_predicate


@pytest.mark.parametrize("use_dvs", [True, False], ids=["dv", "cow"])
def test_delta_conditional_set_and_values(spark, tmp_path, use_dvs):
    path = str(tmp_path / "t")
    delta_write(spark, _target(spark), path, checkpoint_interval=None)
    v = delta_merge(
        spark, _source(spark), path, ["k"], use_dvs=use_dvs, **CLAUSES
    )
    assert v == 1
    assert _read_delta(spark, path) == _expected_conditional()
    # time travel still shows the pre-merge table
    assert {
        (r.k, r.v, r.w)
        for r in DeltaLogTable(spark, path).read(version_as_of=0).collect()
    } == set(TGT)


def test_snaplog_conditional_set_and_values(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_target(spark), mode="overwrite")
    t.merge(_source(spark), ["k"], **CLAUSES)
    got = {(r.k, r.v, r.w) for r in t.read().collect()}
    assert got == _expected_conditional()


@pytest.mark.parametrize("use_dvs", [True, False], ids=["dv", "cow"])
def test_delta_not_matched_by_source_delete(spark, tmp_path, use_dvs):
    path = str(tmp_path / "t")
    delta_write(spark, _target(spark), path, checkpoint_interval=None)
    v = delta_merge(
        spark, _source(spark), path, ["k"],
        when_matched="ignore", when_not_matched="ignore",
        when_not_matched_by_source="delete",
        not_matched_by_source_predicate="t.k % 2 = 0",
        use_dvs=use_dvs,
    )
    assert v == 1
    # target-only rows are k∈0..4; evens 0,2,4 delete; matched rows stay
    assert _read_delta(spark, path) == {
        (k, k * 10, "t") for k in (1, 3, 5, 6, 7, 8, 9)
    }


def test_snaplog_not_matched_by_source_update(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(_target(spark), mode="overwrite")
    t.merge(
        _source(spark), ["k"],
        when_matched="ignore", when_not_matched="ignore",
        when_not_matched_by_source={"w": "'stale'"},
        not_matched_by_source_predicate="t.k < 3",
    )
    got = {(r.k, r.v, r.w) for r in t.read().collect()}
    expect = {(k, k * 10, "stale") for k in (0, 1, 2)}
    expect |= {(k, k * 10, "t") for k in (3, 4, 5, 6, 7, 8, 9)}
    assert got == expect


def test_delta_by_source_update_set_map(spark, tmp_path):
    path = str(tmp_path / "t")
    delta_write(spark, _target(spark), path, checkpoint_interval=None)
    delta_merge(
        spark, _source(spark), path, ["k"],
        when_matched="ignore", when_not_matched="ignore",
        when_not_matched_by_source={"v": "t.v + 1", "w": "'stale'"},
        not_matched_by_source_predicate="t.k < 3",
        use_dvs=True,
    )
    expect = {(k, k * 10 + 1, "stale") for k in (0, 1, 2)}
    expect |= {(k, k * 10, "t") for k in range(3, 10)}
    assert _read_delta(spark, path) == expect


def test_delta_all_clauses_together_cdf(spark, tmp_path):
    """Every clause firing in ONE commit, with the change feed proving
    each fate: matched delete + gated SET update + VALUES insert +
    by-source delete."""
    path = str(tmp_path / "t")
    delta_write(
        spark, _target(spark), path, checkpoint_interval=None,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_merge(
        spark, _source(spark), path, ["k"],
        when_not_matched_by_source="delete",
        not_matched_by_source_predicate="t.k = 0",
        use_dvs=True,
        **CLAUSES,
    )
    expect = _expected_conditional() - {(0, 0, "t")}
    assert _read_delta(spark, path) == expect
    t = DeltaLogTable(spark, path)
    ch = t.table_changes(1, 1)
    by_type = {
        (r.k, r["_change_type"]) for r in ch.collect()
    }
    assert (5, "delete") in by_type          # matched delete
    assert (0, "delete") in by_type          # by-source delete
    assert (6, "update_preimage") in by_type and (6, "update_postimage") in by_type
    assert (10, "insert") in by_type
    assert (8, "update_postimage") not in by_type  # matched_predicate failed
    post = {(r.k, r.v) for r in ch.filter("_change_type = 'update_postimage'").collect()}
    assert post == {(6, 660), (7, 770)}


def test_snaplog_all_clauses_cdf(spark, tmp_path):
    t = SnaplogTable(spark, str(tmp_path / "t"), change_feed=True)
    t.write(_target(spark), mode="overwrite")
    t.merge(
        _source(spark), ["k"],
        when_not_matched_by_source="delete",
        not_matched_by_source_predicate="t.k = 0",
        **CLAUSES,
    )
    got = {(r.k, r.v, r.w) for r in t.read().collect()}
    assert got == _expected_conditional() - {(0, 0, "t")}
    ch = t.table_changes(1, 1)
    by_type = {(r.k, r["_change_type"]) for r in ch.collect()}
    assert (5, "delete") in by_type and (0, "delete") in by_type
    assert (6, "update_postimage") in by_type
    assert (8, "update_postimage") not in by_type
    assert (10, "insert") in by_type and (13, "insert") not in by_type


def test_generated_columns_recompute_under_set_map(spark, tmp_path):
    """A SET map touching a generated column's INPUT forces the generated
    value to recompute from the final row; SETting the generated column
    itself refuses."""
    path = str(tmp_path / "t")
    import json

    schema_fields = [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "long", "nullable": True, "metadata": {}},
        {
            "name": "g", "type": "long", "nullable": True,
            "metadata": {"delta.generationExpression": "k + v"},
        },
    ]
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(4)], "k long, v long"
    ).withColumn("g", F.col("k") + F.col("v"))
    delta_write(spark, base, path, checkpoint_interval=None)
    # stamp the generation expression into the schema via a raw metadata
    # commit (delta_write has its own generated-column create path; this
    # keeps the fixture independent of it)
    t = DeltaLogTable(spark, path)
    from dc43_spark.io.delta_log import _metadata_commit

    def mutate(meta, protocol):
        doc = json.loads(meta["schemaString"])
        doc["fields"] = schema_fields
        meta["schemaString"] = json.dumps(doc)
        return meta, None

    _metadata_commit(spark, path, "SET SCHEMA", {}, mutate)

    src = spark.createDataFrame([(1, 777), (9, 900)], "k long, v long")
    with pytest.raises(DeltaWriteError, match="GENERATED"):
        delta_merge(
            spark, src, path, ["k"],
            when_matched={"g": "0"}, when_not_matched="ignore",
        )
    delta_merge(
        spark, src, path, ["k"],
        when_matched={"v": "s.v"},
        when_not_matched={"k": "s.k", "v": "s.v"},
        use_dvs=True,
    )
    got = {(r.k, r.v, r.g) for r in DeltaLogTable(spark, path).read().collect()}
    assert (1, 777, 778) in got      # recomputed from the SET value
    assert (9, 900, 909) in got      # recomputed on the VALUES insert
    assert (2, 20, 22) in got        # untouched


def test_set_map_refusals(spark, tmp_path):
    path = str(tmp_path / "t")
    delta_write(spark, _target(spark), path, checkpoint_interval=None)
    with pytest.raises(DeltaWriteError, match="not in schema"):
        delta_merge(
            spark, _source(spark), path, ["k"],
            when_matched={"nope": "1"},
        )
    with pytest.raises(ValueError, match="when_matched"):
        delta_merge(spark, _source(spark), path, ["k"], when_matched="bogus")
    t = SnaplogTable(spark, str(tmp_path / "s"))
    t.write(_target(spark), mode="overwrite")
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        t.merge(_source(spark), ["k"], when_not_matched_by_source="bogus")


def test_map_forms_need_only_keys_in_source(spark, tmp_path):
    """The *All forms require full column coverage; SET/VALUES maps only
    need the keys plus whatever their expressions reference."""
    path = str(tmp_path / "t")
    delta_write(spark, _target(spark), path, checkpoint_interval=None)
    thin = spark.createDataFrame([(6, 5), (20, 7)], "k long, bump long")
    delta_merge(
        spark, thin, path, ["k"],
        when_matched={"v": "t.v + s.bump"},
        when_not_matched={"k": "s.k", "w": "'new'"},
        use_dvs=True,
    )
    got = _read_delta(spark, path)
    assert (6, 65, "t") in got
    assert (20, None, "new") in got
    assert (7, 70, "t") in got  # untouched
    # snaplog twin
    t = SnaplogTable(spark, str(tmp_path / "s"))
    t.write(_target(spark), mode="overwrite")
    t.merge(
        thin, ["k"],
        when_matched={"v": "t.v + s.bump"},
        when_not_matched={"k": "s.k", "w": "'new'"},
    )
    got2 = {(r.k, r.v, r.w) for r in t.read().collect()}
    assert (6, 65, "t") in got2 and (20, None, "new") in got2


def test_by_source_scans_all_files_matched_only_prunes(spark, tmp_path):
    """Source-key file pruning must DISABLE under a by-source clause (its
    rows are target rows with no source match — any file can hold them),
    and stay ON for plain matched/insert merges."""
    from dc43_spark.io import delta_dml as dml

    path = str(tmp_path / "t")
    # two files with disjoint key ranges
    delta_write(
        spark,
        spark.createDataFrame([(k, k * 10, "t") for k in range(5)], SCHEMA_T)
        .repartitionByRange(1, "k"),
        path, checkpoint_interval=None,
    )
    delta_write(
        spark,
        spark.createDataFrame(
            [(k, k * 10, "t") for k in range(100, 105)], SCHEMA_T
        ).repartitionByRange(1, "k"),
        path, mode="append", checkpoint_interval=None,
    )
    t = DeltaLogTable(spark, path)
    assert len(list(t.snapshot().files)) == 2
    src = spark.createDataFrame([(2, 0, "s", 0)], SCHEMA_S)
    assert len(dml._merge_candidate_files(src, t.snapshot(), ["k"])) == 1
    # by-source delete of everything the source does NOT cover
    delta_merge(
        spark, src, path, ["k"],
        when_matched={"w": "'hit'"}, when_not_matched="ignore",
        when_not_matched_by_source="delete",
        not_matched_by_source_predicate="t.k >= 100",
        use_dvs=True,
    )
    got = {r.k for r in t.read().collect()}
    assert got == {0, 1, 2, 3, 4}  # the 100.. file WAS scanned and purged
    assert {r.w for r in t.read().filter("k = 2").collect()} == {"hit"}


def test_map_form_source_missing_target_column_all_engines(spark, tmp_path):
    """Review r11 fix: inactive clauses must not BUILD value expressions —
    a map-form merge whose source lacks a target column crashed the
    snaplog/merge-kernel engines on the dead insert branch's s.`col`."""
    from dc43_spark.io.mergecore import MergePlan, merged_rows, tagged_join

    tgt = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    src = spark.createDataFrame([(2, 7)], "k long, delta long")
    plan = MergePlan.of(
        when_matched={"v": "CAST(s.delta AS STRING)"},
        when_not_matched="ignore",
        delete_predicate=None,
    )
    out = merged_rows(
        tagged_join(tgt, src, ["k"], plan, keep_untouched=True), tgt.columns
    )
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a"), (2, "7")}
    # snaplog twin (catalog-SQL shaped)
    t = SnaplogTable(spark, str(tmp_path / "s"))
    t.write(tgt, mode="overwrite")
    t.merge(src, ["k"], when_matched={"v": "CAST(s.delta AS STRING)"},
            when_not_matched="ignore")
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (2, "7")}


def test_map_form_merge_stages_no_undeclared_columns(spark, tmp_path):
    """Review r11 fix: map forms never evolve the schema — the rewritten
    data files must not smuggle source-only columns into storage."""
    import glob

    t = SnaplogTable(spark, str(tmp_path / "s"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            mode="overwrite")
    t.merge(
        spark.createDataFrame([(2, 7)], "k long, delta long"), ["k"],
        when_matched={"v": "CAST(s.delta AS STRING)"},
        when_not_matched="ignore",
    )
    for f in glob.glob(str(tmp_path / "s" / "data" / "*.parquet")):
        import pyarrow.parquet as pq

        cols = set(pq.read_schema(f).names)
        assert "delta" not in cols, f


def test_snaplog_pure_insert_map_form_cdf_is_table_shaped(spark, tmp_path):
    """Review r11 fix: a map-form pure insert (no candidate file holds a
    source key) must stage TABLE-shaped change rows, not source-shaped."""
    t = SnaplogTable(spark, str(tmp_path / "s"), change_feed=True)
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"),
            mode="overwrite")
    t.merge(
        spark.createDataFrame([(50, "W")], "k long, w string"), ["k"],
        when_matched={"v": "s.w"},
        when_not_matched={"k": "s.k", "v": "s.w"},
    )
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (50, "W")}
    ch = t.table_changes(1, 1)
    assert set(ch.columns) >= {"k", "v", "_change_type"}
    assert "w" not in ch.columns
    ins = {(r.k, r.v) for r in ch.filter("_change_type = 'insert'").collect()}
    assert ins == {(50, "W")}


def test_empty_set_map_refused(spark, tmp_path):
    from dc43_spark.io.mergecore import validate_merge_clauses

    with pytest.raises(ValueError, match="NON-EMPTY"):
        validate_merge_clauses({}, "ignore")
    with pytest.raises(ValueError, match="NON-EMPTY"):
        validate_merge_clauses("ignore", {})
    with pytest.raises(ValueError, match="NON-EMPTY"):
        validate_merge_clauses("ignore", "ignore", {})


def test_mixed_clause_forms_refuse_half_applied_evolution(spark, tmp_path):
    """r12: merge_schema with *All + map clauses MIXED would silently
    drop the extra source columns during the *All alignment — refuse
    loudly instead (evolve first, or use *All clauses only)."""
    import pytest

    from dc43_spark.io.delta_dml import delta_merge
    from dc43_spark.io.delta_log import DeltaWriteError, delta_write

    t = str(tmp_path / "t")
    delta_write(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), t,
        checkpoint_interval=None,
    )
    src = spark.createDataFrame([(1, "b", 9)], "k long, v string, w long")
    with pytest.raises(DeltaWriteError, match="mixed with \\*All"):
        delta_merge(
            spark, src, t, ["k"], merge_schema=True,
            matched_clauses=[
                {"action": "update", "condition": "s.w > 0",
                 "set": {"v": "s.v"}},
                {"action": "update"},  # *All fallback
            ],
        )
    # pure *All evolution still works
    v = delta_merge(spark, src, t, ["k"], merge_schema=True)
    assert v == 1
