"""Exhaustive conditional-MERGE clause matrix vs a pure-Python model.

Every combination of {when_matched} x {matched_predicate} x
{delete_predicate} x {when_not_matched} x {insert_predicate} x
{when_not_matched_by_source} x {not_matched_by_source_predicate} runs
through the shared merge kernel (``mergecore.tagged_join``) and is
compared row-for-row with an independent Python implementation of the clause semantics (delete-first
fixed priority, NULL predicate = fail, SET/VALUES maps, by-source
actions). A deterministic sample of the matrix additionally round-trips
through the snaplog COW engine and the jar-less Delta DML engine (their
agreement with the kernel on targeted cases is pinned in
test_merge_clauses; this adds breadth)."""

import itertools

import pytest

from pyspark.sql import functions as F

from dc43_spark.io.mergecore import (
    FATE,
    MergePlan,
    change_rows,
    merged_rows,
    post_images,
    tagged_join,
)

TGT = [(k, k * 10) for k in range(10)]          # k 0..9
SRC = [(k, k * 100) for k in range(5, 15)]      # k 5..14

# SQL expression strings paired with their python twins
WM_OPTS = {
    "update": "update",
    "ignore": "ignore",
    "set": {"v": "s.v + t.v"},
}
WM_PY = {
    "update": lambda t, s: (s[0], s[1]),
    "ignore": None,
    "set": lambda t, s: (t[0], s[1] + t[1]),
}
MP_OPTS = {None: None, "t.v % 30 = 0": lambda t, s: t[1] % 30 == 0}
DP_OPTS = {None: None, "s.k % 3 = 0": lambda t, s: s[0] % 3 == 0}
WN_OPTS = {
    "insert": "insert",
    "ignore": "ignore",
    "values": {"k": "s.k", "v": "s.v - 100"},
}
WN_PY = {
    "insert": lambda s: (s[0], s[1]),
    "ignore": None,
    "values": lambda s: (s[0], s[1] - 100),
}
IP_OPTS = {None: None, "s.k % 2 = 0": lambda s: s[0] % 2 == 0}
BS_OPTS = {
    "ignore": "ignore",
    "delete": "delete",
    "set": {"v": "t.v + 1000"},
}
BS_PY = {
    "ignore": None,
    "delete": "delete",
    "set": lambda t: (t[0], t[1] + 1000),
}
BP_OPTS = {None: None, "t.k % 2 = 1": lambda t: t[0] % 2 == 1}


def py_merge(wm, mp, dp, wn, ip, bs, bp):
    """The clause semantics in plain Python (delete wins; predicates
    default True; by-source acts on target rows with NO source match)."""
    src_by_k = {r[0]: r for r in SRC}
    out = set()
    for t in TGT:
        s = src_by_k.get(t[0])
        if s is not None:                                   # matched
            if DP_OPTS[dp] is not None and DP_OPTS[dp](t, s):
                continue                                    # deleted
            fn = WM_PY[wm]
            upd_ok = MP_OPTS[mp] is None or MP_OPTS[mp](t, s)
            if fn is not None and upd_ok:
                out.add(fn(t, s))
            else:
                out.add(t)
        else:                                               # by source
            act = BS_PY[bs]
            bs_ok = BP_OPTS[bp] is None or BP_OPTS[bp](t)
            if act == "delete" and bs_ok:
                continue
            if callable(act) and bs_ok:
                out.add(act(t))
            else:
                out.add(t)
    tgt_keys = {r[0] for r in TGT}
    for s in SRC:
        if s[0] in tgt_keys:
            continue
        fn = WN_PY[wn]
        if fn is None:
            continue
        if IP_OPTS[ip] is not None and not IP_OPTS[ip](s):
            continue
        out.add(fn(s))
    return out


def py_changes(wm, mp, dp, wn, ip, bs, bp):
    """The merge's change-feed rows ``(change_type, k, v)`` under the
    same clause semantics as ``py_merge``: deletes carry the old row,
    updates a pre- and a post-image, inserts the new row."""
    src_by_k = {r[0]: r for r in SRC}
    out = set()
    for t in TGT:
        s = src_by_k.get(t[0])
        if s is not None:
            if DP_OPTS[dp] is not None and DP_OPTS[dp](t, s):
                out.add(("delete", *t))
            elif WM_PY[wm] is not None and (
                MP_OPTS[mp] is None or MP_OPTS[mp](t, s)
            ):
                out.add(("update_preimage", *t))
                out.add(("update_postimage", *WM_PY[wm](t, s)))
        elif BS_PY[bs] is not None and (BP_OPTS[bp] is None or BP_OPTS[bp](t)):
            if BS_PY[bs] == "delete":
                out.add(("delete", *t))
            else:
                out.add(("update_preimage", *t))
                out.add(("update_postimage", *BS_PY[bs](t)))
    tgt_keys = {r[0] for r in TGT}
    for s in SRC:
        if s[0] not in tgt_keys and WN_PY[wn] is not None and (
            IP_OPTS[ip] is None or IP_OPTS[ip](s)
        ):
            out.add(("insert", *WN_PY[wn](s)))
    return out


MATRIX = list(itertools.product(
    WM_OPTS, MP_OPTS, DP_OPTS, WN_OPTS, IP_OPTS, BS_OPTS, BP_OPTS,
))  # 3*2*2*3*2*3*2 = 432 combinations


def _frames(spark):
    return (
        spark.createDataFrame(TGT, "k long, v long"),
        spark.createDataFrame(SRC, "k long, v long"),
    )


def _kernel(tgt, src, **kw):
    """The copy-on-write projection of the tagged join: the merged
    table's rows."""
    frame = tagged_join(tgt, src, ["k"], MergePlan.of(**kw), keep_untouched=True)
    return merged_rows(frame, tgt.columns)


def _tables(tgt, src, combo: int, keep_untouched: bool, **kw):
    """One merge through the tagged join as ``(combo, change, k, v)``
    rows: the merged table (``change`` NULL) and the change rows. Without
    ``keep_untouched`` (the Delta shape) the table is the untouched
    target rows plus the post-images, as delta_merge writes it."""
    plan = MergePlan.of(**kw)
    frame = tagged_join(
        tgt, src, ["k"], plan, carry=["k"] if not keep_untouched else (),
        pre_images=True, keep_untouched=keep_untouched,
    )
    cols = ["k", "v"]
    if keep_untouched:
        table = merged_rows(frame, cols)
    else:
        table = tgt
        if plan.matched or plan.by_source:  # else no carry: nothing touched
            gone = frame.filter(F.col(FATE).isin("delete", "update"))
            table = tgt.join(gone.select("k"), "k", "left_anti")
        if plan.updates or plan.not_matched:  # else no post-images
            table = table.unionByName(post_images(frame, cols).drop(FATE))
    tag = F.lit(combo).alias("combo")
    no_change = F.lit(None).cast("string").alias("change")
    return table.select(tag, no_change, *cols).unionByName(
        change_rows(frame, plan, cols).select(
            tag, F.col("_change_type").alias("change"), *cols
        )
    )


def _collect_tables(parts):
    """ONE collect over the tagged union: ``{combo: (rows, changes)}``."""
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    got: dict = {}
    for r in union.collect():
        rows, changes = got.setdefault(r.combo, (set(), set()))
        if r.change is None:
            rows.add((r.k, r.v))
        else:
            changes.add((r.change, r.k, r.v))
    return got


def _matrix_kw(wm, mp, dp, wn, ip, bs, bp):
    return dict(
        when_matched=WM_OPTS[wm],
        matched_predicate=mp,
        delete_predicate=dp,
        when_not_matched=WN_OPTS[wn],
        insert_predicate=ip,
        when_not_matched_by_source=BS_OPTS[bs],
        not_matched_by_source_predicate=bp,
    )


# one matrix combo per join shape the plan can pick: (combo, keep_untouched,
# the analyzed plan's join type)
JOIN_SHAPES = [
    (("set", None, "s.k % 3 = 0", "ignore", None, "ignore", None),
     False, "Inner"),
    (("update", "t.v % 30 = 0", None, "values", None, "ignore", None),
     False, "RightOuter"),
    (("set", None, "s.k % 3 = 0", "insert", "s.k % 2 = 0", "set", "t.k % 2 = 1"),
     False, "FullOuter"),
    (("ignore", None, None, "values", "s.k % 2 = 0", "ignore", None),
     False, "LeftAnti"),
    (("update", None, "s.k % 3 = 0", "ignore", None, "delete", "t.k % 2 = 1"),
     True, "LeftOuter"),
    (("set", "t.v % 30 = 0", None, "insert", None, "ignore", None),
     True, "FullOuter"),
]


def test_tagged_join_shapes_match_python_model(spark):
    """One matrix combo per join shape (inner, source left outer, full
    outer, source left-anti, target left outer) through the tagged join:
    the join type follows the plan, and the merged table and the change
    rows match the python model — every shape in ONE collect."""
    tgt, src = _frames(spark)
    parts, expected = [], {}
    for i, (combo, keep_untouched, join) in enumerate(JOIN_SHAPES):
        kw = _matrix_kw(*combo)
        frame = tagged_join(
            tgt, src, ["k"], MergePlan.of(**kw), keep_untouched=keep_untouched
        )
        analyzed = frame._jdf.queryExecution().analyzed().toString()
        assert f"Join {join}," in analyzed, (combo, analyzed)
        parts.append(_tables(tgt, src, i, keep_untouched, **kw))
        expected[i] = (py_merge(*combo), py_changes(*combo))
    got = _collect_tables(parts)
    for i, (combo, _, _) in enumerate(JOIN_SHAPES):
        assert got.get(i, (set(), set())) == expected[i], combo


def test_kernel_matches_python_model_across_the_full_matrix(spark):
    """All 432 combinations through the tagged join, each in both
    shapes: copy-on-write (tagged ``2 * combo``) and Delta (tagged
    ``2 * combo + 1``). Each checks the merged table and the change
    rows. The merges evaluate lazily and union into tagged frames of 48
    merges, one collect each: a single union over all of them spends
    most of its time in Catalyst analysis."""
    tgt, src = _frames(spark)
    parts, expected = [], {}
    for i, combo in enumerate(MATRIX):
        want = (py_merge(*combo), py_changes(*combo))
        for tag, keep_untouched in ((2 * i, True), (2 * i + 1, False)):
            kw = _matrix_kw(*combo)
            parts.append(_tables(tgt, src, tag, keep_untouched, **kw))
            expected[tag] = want
    got: dict = {}
    for lo in range(0, len(parts), 48):
        got.update(_collect_tables(parts[lo:lo + 48]))
    for tag, want in expected.items():
        shape = "copy-on-write" if tag % 2 == 0 else "delta"
        assert got.get(tag, (set(), set())) == want, (shape, MATRIX[tag // 2])


@pytest.mark.parametrize("combo_idx", [7, 85, 160, 233, 311, 431])
def test_engines_match_python_model_on_sampled_combos(spark, tmp_path, combo_idx):
    """A deterministic sample of the matrix through the snaplog COW
    engine and the jar-less Delta DML engine (DV strategy), with the
    change feed on: both the new head and the merge's change rows match
    the python model."""
    from dc43_spark.io.delta_dml import delta_merge
    from dc43_spark.io.delta_log import DeltaLogTable, delta_write
    from dc43_spark.io.snaplog import SnaplogTable

    wm, mp, dp, wn, ip, bs, bp = MATRIX[combo_idx]
    expect = py_merge(wm, mp, dp, wn, ip, bs, bp)
    expect_changes = py_changes(wm, mp, dp, wn, ip, bs, bp)
    kw = _matrix_kw(wm, mp, dp, wn, ip, bs, bp)
    tgt, src = _frames(spark)

    def changes(table):
        return {
            (r._change_type, r.k, r.v)
            for r in table.table_changes(1, 1).collect()
        }

    t = SnaplogTable(spark, str(tmp_path / "s"), change_feed=True)
    t.write(tgt, mode="overwrite")
    t.merge(src, ["k"], **kw)
    assert {(r.k, r.v) for r in t.read().collect()} == expect
    assert changes(t) == expect_changes, "snaplog CDF"

    dp_path = str(tmp_path / "d")
    delta_write(
        spark, tgt, dp_path, checkpoint_interval=None,
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    delta_merge(spark, src, dp_path, ["k"], **kw)
    dt = DeltaLogTable(spark, dp_path)
    assert {(r.k, r.v) for r in dt.read().collect()} == expect
    assert changes(dt) == expect_changes, "delta CDF"


# ---------------- r12: ordered MULTI-clause merges (VERDICT r11 #2) ----------
# Each scenario is (matched, not_matched, by_source) clause lists in both
# vocabularies: the engine dicts and python twins (action, cond_fn, val_fn).
# First-match-wins in list order — the python model below IS the spec.

def _mk(action, cond_sql, cond_py, val_sql=None, val_py=None):
    d = {"action": action, "condition": cond_sql}
    if val_sql is not None:
        d["set" if action == "update" else "values"] = val_sql
    return d, (action, cond_py, val_py)


MULTI_SCENARIOS = {
    # two matched UPDATE clauses, different predicates/SET maps
    "two_matched_updates": (
        [
            _mk("update", "s.v > 800", lambda t, s: s[1] > 800,
                {"v": "s.v + 1"}, lambda t, s: (t[0], s[1] + 1)),
            _mk("update", None, lambda t, s: True,
                {"v": "t.v - 1"}, lambda t, s: (t[0], t[1] - 1)),
        ],
        [_mk("insert", None, lambda s: True)],
        [],
    ),
    # UPDATE listed BEFORE DELETE: rows hitting the update never delete
    "update_then_delete": (
        [
            _mk("update", "s.k % 2 = 0", lambda t, s: s[0] % 2 == 0,
                {"v": "s.v"}, lambda t, s: (t[0], s[1])),
            _mk("delete", None, lambda t, s: True),
        ],
        [],
        [],
    ),
    # DELETE first, two updates after (3 matched clauses)
    "delete_then_two_updates": (
        [
            _mk("delete", "s.k = 6", lambda t, s: s[0] == 6),
            _mk("update", "t.v >= 80", lambda t, s: t[1] >= 80,
                {"v": "t.v * 2"}, lambda t, s: (t[0], t[1] * 2)),
            _mk("update", None, lambda t, s: True, None,
                lambda t, s: (s[0], s[1])),  # updateAll
        ],
        [_mk("insert", "s.k % 2 = 1", lambda s: s[0] % 2 == 1)],
        [],
    ),
    # two INSERT clauses: conditional VALUES map first, insertAll after
    "two_inserts": (
        [_mk("update", None, lambda t, s: True, None,
             lambda t, s: (s[0], s[1]))],
        [
            _mk("insert", "s.k >= 13", lambda s: s[0] >= 13,
                {"k": "s.k", "v": "0"}, lambda s: (s[0], 0)),
            _mk("insert", None, lambda s: True, None, lambda s: (s[0], s[1])),
        ],
        [],
    ),
    # two BY SOURCE clauses: conditional DELETE, then SET fallback
    "two_by_source": (
        [],
        [],
        [
            _mk("delete", "t.k < 2", lambda t: t[0] < 2),
            _mk("update", None, lambda t: True,
                {"v": "t.v + 7"}, lambda t: (t[0], t[1] + 7)),
        ],
    ),
    # all three kinds multi/mixed at once
    "kitchen_sink": (
        [
            _mk("delete", "s.v >= 1200", lambda t, s: s[1] >= 1200),
            _mk("update", "t.k = 5", lambda t, s: t[0] == 5,
                {"v": "-1"}, lambda t, s: (t[0], -1)),
            _mk("update", None, lambda t, s: True,
                {"v": "s.v"}, lambda t, s: (t[0], s[1])),
        ],
        [
            _mk("insert", "s.k = 10", lambda s: s[0] == 10,
                {"k": "s.k", "v": "999"}, lambda s: (s[0], 999)),
            _mk("insert", "s.k > 12", lambda s: s[0] > 12),
        ],
        [
            _mk("update", "t.k = 0", lambda t: t[0] == 0,
                {"v": "t.v + 5"}, lambda t: (t[0], t[1] + 5)),
            _mk("delete", "t.k >= 3", lambda t: t[0] >= 3),
        ],
    ),
}


def py_multi_merge(matched, not_matched, by_source):
    """First-match-wins multi-clause semantics in plain Python."""
    def first(clauses, *args):
        for action, cond, val in clauses:
            if cond(*args):
                return action, val
        return None, None

    src_by_k = {r[0]: r for r in SRC}
    out = set()
    for t in TGT:
        s = src_by_k.get(t[0])
        if s is not None:
            action, val = first([p for _, p in matched], t, s)
            if action == "delete":
                continue
            out.add(val(t, s) if action == "update"
                    else (val(s) if action == "insert" else t))
        else:
            action, val = first([p for _, p in by_source], t)
            if action == "delete":
                continue
            out.add(val(t) if action == "update" else t)
    tgt_keys = {r[0] for r in TGT}
    for s in SRC:
        if s[0] in tgt_keys:
            continue
        action, val = first([p for _, p in not_matched], s)
        if action == "insert":
            out.add(val(s) if val is not None else (s[0], s[1]))
    return out


@pytest.mark.parametrize("name", sorted(MULTI_SCENARIOS))
def test_multi_clause_orderings_match_python_model(spark, tmp_path, name):
    """Each multi-clause ordering through ALL THREE engines (the tagged
    join's merged rows, snaplog COW, jar-less Delta DML with DVs) vs the
    python model — first-match-wins in user order is the spec."""
    from dc43_spark.io.delta_dml import delta_merge
    from dc43_spark.io.delta_log import DeltaLogTable, delta_write
    from dc43_spark.io.snaplog import SnaplogTable

    m, nm, bs = MULTI_SCENARIOS[name]
    kw = dict(
        matched_clauses=[d for d, _ in m],
        not_matched_clauses=[d for d, _ in nm],
        not_matched_by_source_clauses=[d for d, _ in bs],
    )
    expect = py_multi_merge(
        [p for p in m], [p for p in nm], [p for p in bs]
    )
    tgt, src = _frames(spark)

    out = _kernel(tgt, src, **kw)
    assert {(r.k, r.v) for r in out.collect()} == expect, "kernel"

    t = SnaplogTable(spark, str(tmp_path / "s"))
    t.write(tgt, mode="overwrite")
    t.merge(src, ["k"], **kw)
    assert {(r.k, r.v) for r in t.read().collect()} == expect, "snaplog"

    dp = str(tmp_path / "d")
    delta_write(
        spark, tgt, dp, checkpoint_interval=None,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    delta_merge(spark, src, dp, ["k"], **kw)
    assert {
        (r.k, r.v) for r in DeltaLogTable(spark, dp).read().collect()
    } == expect, "delta-dml"


def test_multi_clause_validation_rules(spark):
    """Unconditional non-last clauses refuse; list+legacy kwargs for the
    same kind refuse; bad actions refuse."""
    from dc43_spark.io.mergecore import normalize_merge_clauses

    with pytest.raises(ValueError, match="LAST 'when matched'"):
        normalize_merge_clauses(matched_clauses=[
            {"action": "update"}, {"action": "delete", "condition": "t.k=1"},
        ])
    with pytest.raises(ValueError, match="not both"):
        normalize_merge_clauses(
            matched_clauses=[{"action": "delete", "condition": "t.k=1"}],
            matched_predicate="t.k = 2",
        )
    with pytest.raises(ValueError, match="action must be one of"):
        normalize_merge_clauses(not_matched_clauses=[{"action": "update"}])
    with pytest.raises(ValueError, match="by-source UPDATE needs a SET"):
        normalize_merge_clauses(
            not_matched_by_source_clauses=[{"action": "update"}]
        )
    # legacy kwargs normalize to the documented fixed order: delete first
    m, nm, bs = normalize_merge_clauses(
        when_matched={"v": "s.v"}, delete_predicate="s.k = 1",
        when_not_matched="insert", insert_predicate="s.k > 2",
        when_not_matched_by_source="delete",
    )
    assert [c.action for c in m] == ["delete", "update"]
    assert m[0].condition == "s.k = 1" and m[1].assignments == {"v": "s.v"}
    assert nm[0].condition == "s.k > 2" and nm[0].assignments is None
    assert bs[0].action == "delete" and bs[0].condition is None


def test_multi_clause_cdf_change_rows(spark, tmp_path):
    """CDF emission under MULTI-clause merges: change rows split by each
    row's first-matching clause — update pre/post images for update-fate
    rows, deletes for delete-fate rows, first-match VALUES for inserts —
    in BOTH change-feed engines (snaplog and delta_dml, both through
    mergecore.change_rows)."""
    from dc43_spark.io.delta_dml import delta_merge
    from dc43_spark.io.delta_log import DeltaLogTable, delta_write
    from dc43_spark.io.snaplog import SnaplogTable

    kw = dict(
        matched_clauses=[
            {"action": "delete", "condition": "s.k = 6"},
            {"action": "update", "condition": "t.v >= 80",
             "set": {"v": "t.v * 2"}},
            {"action": "update", "set": {"v": "s.v"}},
        ],
        not_matched_clauses=[
            {"action": "insert", "condition": "s.k = 10",
             "values": {"k": "s.k", "v": "0"}},
            {"action": "insert", "condition": "s.k >= 13"},
        ],
        not_matched_by_source_clauses=[
            {"action": "delete", "condition": "t.k < 2"},
            {"action": "update", "condition": "t.k = 3",
             "set": {"v": "t.v + 1"}},
        ],
    )
    # TGT k 0..9 (v=k*10), SRC k 5..14 (v=k*100); matched fates:
    # k=6 delete; k=8,9 (v>=80) double; k=5,7 take s.v.
    # inserts: k=10 -> 0 (first clause), k=13,14 insertAll; 11,12 dropped.
    # by source: k=0,1 delete; k=3 -> 31; k=2,4 untouched.
    expected = {
        ("delete", 6, 60), ("delete", 0, 0), ("delete", 1, 10),
        ("update_preimage", 8, 80), ("update_postimage", 8, 160),
        ("update_preimage", 9, 90), ("update_postimage", 9, 180),
        ("update_preimage", 5, 50), ("update_postimage", 5, 500),
        ("update_preimage", 7, 70), ("update_postimage", 7, 700),
        ("update_preimage", 3, 30), ("update_postimage", 3, 31),
        ("insert", 10, 0), ("insert", 13, 1300), ("insert", 14, 1400),
    }
    tgt, src = _frames(spark)

    st = SnaplogTable(spark, str(tmp_path / "s"), change_feed=True)
    st.write(tgt, mode="overwrite")
    st.merge(src, ["k"], **kw)
    got = {
        (r._change_type, r.k, r.v)
        for r in st.table_changes(1, 1).collect()
    }
    assert got == expected, "snaplog CDF"

    dp = str(tmp_path / "d")
    delta_write(
        spark, tgt, dp, checkpoint_interval=None,
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    delta_merge(spark, src, dp, ["k"], **kw)
    dt = DeltaLogTable(spark, dp)
    got = {
        (r._change_type, r.k, r.v)
        for r in dt.table_changes(1, 1).collect()
    }
    assert got == expected, "delta CDF"


def test_multi_clause_merge_keeps_file_pruning(spark, tmp_path):
    """Scale shape under multi-clause: matched/insert-only clause lists
    keep source-key-range FILE PRUNING; any by-source clause provably
    disables it (its rows are defined by having NO source match)."""
    from dc43_spark.io.snaplog import SnaplogTable

    t = SnaplogTable(spark, str(tmp_path / "t"))
    t.write(
        spark.range(400).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).repartitionByRange(4, "k").sortWithinPartitions("k"),
        mode="overwrite",
    )
    src = spark.createDataFrame([(5, 1), (7, 2)], "k long, v long")
    stats = t.merge(
        src, ["k"],
        matched_clauses=[
            {"action": "update", "condition": "s.v = 1", "set": {"v": "0"}},
            {"action": "update", "set": {"v": "s.v"}},
        ],
        not_matched_clauses=[{"action": "insert"}],
    )
    assert stats.files_total == 4
    assert stats.candidates_after_stats == 1  # keys 5,7 live in one file
    assert stats.files_rewritten == 1

    stats = t.merge(
        src, ["k"],
        matched_clauses=[],
        not_matched_clauses=[],
        not_matched_by_source_clauses=[
            {"action": "delete", "condition": "t.k = 399"},
        ],
    )
    assert stats.candidates_after_stats == stats.files_total  # pruning off
    assert stats.files_rewritten == 1  # exact probe keeps the rewrite tight


def _random_clause_lists(rng):
    """One random multi-clause configuration (engine dicts + python
    twins), honoring the only-last-unconditional rule."""
    m_conds = [
        ("s.v > 800", lambda t, s: s[1] > 800),
        ("t.v % 30 = 0", lambda t, s: t[1] % 30 == 0),
        ("s.k % 3 = 0", lambda t, s: s[0] % 3 == 0),
    ]
    m_updates = [
        (None, lambda t, s: (s[0], s[1])),                    # updateAll
        ({"v": "s.v + t.v"}, lambda t, s: (t[0], s[1] + t[1])),
        ({"v": "t.v - 1"}, lambda t, s: (t[0], t[1] - 1)),
    ]
    i_conds = [
        ("s.k % 2 = 0", lambda s: s[0] % 2 == 0),
        ("s.k >= 12", lambda s: s[0] >= 12),
    ]
    i_vals = [
        (None, lambda s: (s[0], s[1])),                       # insertAll
        ({"k": "s.k", "v": "s.v - 100"}, lambda s: (s[0], s[1] - 100)),
    ]
    bs_conds = [
        ("t.k % 2 = 1", lambda t: t[0] % 2 == 1),
        ("t.k < 3", lambda t: t[0] < 3),
    ]
    bs_sets = [({"v": "t.v + 1000"}, lambda t: (t[0], t[1] + 1000))]

    def pick_clauses(n, conds, build):
        out = []
        for i in range(n):
            last = i == n - 1
            cond = rng.choice(conds + [None]) if last else rng.choice(conds)
            out.append(build(cond))
        return out

    def m_build(cond):
        c_sql, c_py = cond if cond else (None, lambda t, s: True)
        if rng.random() < 0.3:
            return _mk("delete", c_sql, c_py)
        v_sql, v_py = rng.choice(m_updates)
        return _mk("update", c_sql, c_py, v_sql, v_py)

    def i_build(cond):
        c_sql, c_py = cond if cond else (None, lambda s: True)
        v_sql, v_py = rng.choice(i_vals)
        return _mk("insert", c_sql, c_py, v_sql, v_py)

    def bs_build(cond):
        c_sql, c_py = cond if cond else (None, lambda t: True)
        if rng.random() < 0.5:
            return _mk("delete", c_sql, c_py)
        v_sql, v_py = rng.choice(bs_sets)
        return _mk("update", c_sql, c_py, v_sql, v_py)

    return (
        pick_clauses(rng.randint(0, 3), m_conds, m_build),
        pick_clauses(rng.randint(0, 3), i_conds, i_build),
        pick_clauses(rng.randint(0, 2), bs_conds, bs_build),
    )


def test_random_multi_clause_sweep_matches_python_model(spark):
    """30 seeded-random multi-clause configurations through the kernel
    in ONE Spark job (tagged union), each vs the python model — breadth
    beyond the handcrafted scenarios."""
    import random

    rng = random.Random(1202)
    tgt, src = _frames(spark)
    tagged, expected = [], {}
    for i in range(30):
        m, nm, bs = _random_clause_lists(rng)
        out = _kernel(
            tgt, src,
            matched_clauses=[d for d, _ in m],
            not_matched_clauses=[d for d, _ in nm],
            not_matched_by_source_clauses=[d for d, _ in bs],
        )
        tagged.append(out.select(F.lit(i).alias("combo"), "k", "v"))
        expected[i] = py_multi_merge(m, nm, bs)
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    got: dict = {}
    for r in union.collect():
        got.setdefault(r.combo, set()).add((r.k, r.v))
    for i in range(30):
        assert got.get(i, set()) == expected[i], f"combo {i}"
