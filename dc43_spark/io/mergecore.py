"""The merge kernel under ``SnaplogTable.merge`` (io/snaplog.py), the
jar-less Delta ``delta_merge`` (io/delta_dml.py) and the parquet
fallback of ``merge_with_contract`` (io/merge.py).

- **Clauses.** :func:`normalize_merge_clauses` turns the legacy kwargs
  or ordered clause lists into first-match-wins :class:`MergeClause`
  lists; :class:`MergePlan` holds them with the flags engines branch on.
- **Frames.** :func:`fate_frames` builds the matched, by-source and
  insert joins; :func:`change_rows` turns them into change-feed rows;
  :func:`outer_join_merge` is MERGE as one full-outer join.
- **Glue.** :func:`source_key_stats`, :func:`materialized_source` and
  :func:`initial_write` (the missing-target path).

A format keeps its own physical strategy: which target rows enter the
joins, how deleted rows disappear and how the commit is written.
"""

from __future__ import annotations

import functools
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: ``none`` skips the source materialization (delta-spark's
#: ``merge.materializeSource`` escape hatch) for deterministic
#: full-table-sized sources where recompute beats spilling a copy.
MATERIALIZE_CONF = "spark.dc43.delta.mergeMaterializeSource"
CHANGE_TYPE = "_change_type"
_DEL, _UPD = "_dc43_del", "_dc43_upd"


def source_key_stats(source: DataFrame, keys: list[str], *, check_unique: bool = True):
    """ONE pass over the merge source computing the per-key pruning
    envelope (fields ``_lo_{i}`` / ``_hi_{i}`` / ``_null_{i}`` by key
    position) and, when ``check_unique``, the duplicate-key probe fused
    into the same job — the source scan is the cost at scale. min/max
    are duplicate-insensitive and a NULL key survives as a NULL group,
    so aggregating over the grouped keys is exact. On a duplicate hit
    the standalone probe re-runs only to name an example key."""
    aggs = (
        [F.min(F.col(k)).alias(f"_lo_{i}") for i, k in enumerate(keys)]
        + [F.max(F.col(k)).alias(f"_hi_{i}") for i, k in enumerate(keys)]
        + [
            F.max(F.col(k).isNull()).alias(f"_null_{i}")
            for i, k in enumerate(keys)
        ]
    )
    if not check_unique:
        return source.select(*aggs).first()
    grouped = source.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("_dc43_cnt")
    )
    row = grouped.select(
        F.max("_dc43_cnt").alias("_dc43_maxcnt"), *aggs
    ).first()
    if row["_dc43_maxcnt"] is not None and row["_dc43_maxcnt"] > 1:
        require_unique_merge_keys(source, keys)
    return row


def require_unique_merge_keys(source: DataFrame, keys: list[str]) -> None:
    """SQL MERGE rejects a source with duplicate keys: one target row
    matching several source rows is ambiguous (Delta raises
    MULTIPLE_SOURCE_ROWS_MATCHED; the outer-join rewrite would silently
    DUPLICATE the target row instead)."""
    dup = (
        source.groupBy(*[F.col(k) for k in keys])
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key_vals = {k: dup[0][k] for k in keys}
        raise ValueError(
            f"merge source has duplicate keys (e.g. {key_vals}); SQL MERGE "
            "is ambiguous under multiple source matches — deduplicate the "
            "source first"
        )


# ---------------------------------------------------------------- clauses


@dataclass(frozen=True)
class MergeClause:
    """One ordered MERGE clause — delta-spark's builder surface, where
    ``whenMatched*``/``whenNotMatched*``/``whenNotMatchedBySource*`` may
    each be chained MULTIPLE times and the clauses of a kind evaluate
    first-match-wins in user order (ref spark/io/merge.py:43-127 forwards
    the builder freely; VERDICT r11 #2).

    ``action``: ``update`` | ``delete`` (matched / by-source kinds) or
    ``insert`` (not-matched kind). ``condition``: SQL gate (NULL verdict =
    fail); None = unconditional. ``assignments``: the SET / VALUES map;
    None means updateAll / insertAll (never valid for delete, and a
    by-source update always needs a map — there is no source row)."""

    action: str
    condition: Optional[str] = None
    assignments: Optional[dict] = None


_CLAUSE_ACTIONS = {
    "matched": ("update", "delete"),
    "not_matched": ("insert",),
    "not_matched_by_source": ("update", "delete"),
}


def _coerce_clause(c, kind: str) -> MergeClause:
    """A MergeClause or a ``{"action": ..., "condition": ...,
    "set"/"values": {...}}`` dict -> a validated MergeClause for
    ``kind``."""
    if isinstance(c, MergeClause):
        cl = c
    elif isinstance(c, dict):
        extra = set(c) - {"action", "condition", "set", "values"}
        if extra:
            raise ValueError(
                f"unknown {kind} clause key(s) {sorted(extra)}; use "
                "action/condition/set/values"
            )
        if "set" in c and "values" in c:
            raise ValueError(f"{kind} clause has both 'set' and 'values'")
        cl = MergeClause(
            action=c.get("action", "insert" if kind == "not_matched" else "update"),
            condition=c.get("condition"),
            assignments=c.get("set", c.get("values")),
        )
    else:
        raise ValueError(
            f"{kind} clause must be a MergeClause or dict, got {c!r}"
        )
    if cl.action not in _CLAUSE_ACTIONS[kind]:
        raise ValueError(
            f"{kind} clause action must be one of "
            f"{_CLAUSE_ACTIONS[kind]}, got {cl.action!r}"
        )
    if cl.action == "delete" and cl.assignments is not None:
        raise ValueError(f"{kind} DELETE clause takes no SET map")
    if cl.assignments is not None and not cl.assignments:
        raise ValueError(f"{kind} clause SET/VALUES map must be non-empty")
    if (
        kind == "not_matched_by_source"
        and cl.action == "update"
        and cl.assignments is None
    ):
        raise ValueError(
            "a by-source UPDATE needs a SET map (there is no source row "
            "for UPDATE SET *)"
        )
    return cl


def normalize_merge_clauses(
    *,
    when_matched="update",
    when_not_matched="insert",
    delete_predicate: Optional[str] = None,
    insert_predicate: Optional[str] = None,
    matched_predicate: Optional[str] = None,
    when_not_matched_by_source="ignore",
    not_matched_by_source_predicate: Optional[str] = None,
    matched_clauses: Optional[list] = None,
    not_matched_clauses: Optional[list] = None,
    not_matched_by_source_clauses: Optional[list] = None,
) -> tuple:
    """The single clause vocabulary every merge engine shares:
    ``(matched, not_matched, by_source)`` ordered MergeClause lists with
    first-match-wins semantics.

    Two input surfaces, per kind mutually exclusive: the legacy
    fixed-priority kwargs (matched delete first, then the update clause
    — exactly the order the kwargs historically applied), or an explicit
    ordered ``*_clauses`` list (delta-spark's multi-clause builder).

    - ``when_matched``: ``"update"`` (updateAll), ``"ignore"``, or a
      ``{col: SQL expr}`` SET map over ``t.``/``s.`` — unset columns keep
      the target's value; ``matched_predicate`` gates it and
      ``delete_predicate`` (checked first) deletes.
    - ``when_not_matched``: ``"insert"`` (insertAll), ``"ignore"``, or a
      VALUES map over ``s.`` — unlisted columns insert NULL;
      ``insert_predicate`` gates it.
    - ``when_not_matched_by_source``: ``"ignore"``, ``"delete"``, or a SET
      map over ``t.``; ``not_matched_by_source_predicate`` gates it.

    Per delta-spark's rule, only the LAST clause of a kind may omit its
    condition — an unconditional earlier clause makes the rest dead."""
    validate_merge_clauses(when_matched, when_not_matched, when_not_matched_by_source)

    def _map(form):
        return form if isinstance(form, dict) else None

    legacy = {
        "matched": (
            ([MergeClause("delete", delete_predicate)] if delete_predicate else [])
            + ([] if when_matched == "ignore" else [
                MergeClause("update", matched_predicate, _map(when_matched))
            ]),
            when_matched != "update" or delete_predicate is not None
            or matched_predicate is not None,
            "when_matched/delete_predicate/matched_predicate",
        ),
        "not_matched": (
            [] if when_not_matched == "ignore" else [
                MergeClause("insert", insert_predicate, _map(when_not_matched))
            ],
            when_not_matched != "insert" or insert_predicate is not None,
            "when_not_matched/insert_predicate",
        ),
        "not_matched_by_source": (
            [] if when_not_matched_by_source == "ignore" else [MergeClause(
                "delete" if when_not_matched_by_source == "delete" else "update",
                not_matched_by_source_predicate,
                _map(when_not_matched_by_source),
            )],
            when_not_matched_by_source != "ignore"
            or not_matched_by_source_predicate is not None,
            "when_not_matched_by_source/not_matched_by_source_predicate",
        ),
    }
    out = []
    for (kind, (clauses, legacy_set, names)), given in zip(
        legacy.items(),
        (matched_clauses, not_matched_clauses, not_matched_by_source_clauses),
    ):
        if given is not None and legacy_set:
            raise ValueError(
                f"pass {kind}_clauses OR the legacy {names} kwargs, not both"
            )
        out.append(
            clauses if given is None else [_coerce_clause(c, kind) for c in given]
        )
    for kind, lst in zip(("matched", "not matched", "not matched by source"), out):
        for cl in lst[:-1]:
            if cl.condition is None:
                raise ValueError(
                    f"only the LAST 'when {kind}' clause may omit its "
                    "condition — an unconditional earlier clause makes "
                    "every later one dead (delta-spark's rule)"
                )
    return tuple(out)


def validate_merge_clauses(
    when_matched,
    when_not_matched,
    when_not_matched_by_source="ignore",
) -> None:
    """Argument gate for the legacy string/map clause kwargs. The dict
    forms are delta-spark's column-level clauses:
    ``whenMatchedUpdate(set=...)``, ``whenNotMatchedInsert(values=...)``,
    ``whenNotMatchedBySourceUpdate(set=...)``."""
    for name, form, words, kind in (
        ("when_matched", when_matched, ("update", "ignore"), "SET"),
        ("when_not_matched", when_not_matched, ("insert", "ignore"), "VALUES"),
        ("when_not_matched_by_source", when_not_matched_by_source,
         ("ignore", "delete"), "SET"),
    ):
        if not (form in words or (isinstance(form, dict) and form)):
            raise ValueError(
                f"{name} must be {'|'.join(words)} or a NON-EMPTY "
                f"{{col: expr}} {kind} map, got {form!r}"
            )


def clause_gate(cl: MergeClause):
    """The clause's condition as a Column gate: NULL verdict = fail,
    missing condition = always-on."""
    if cl.condition is None:
        return F.lit(True)
    return F.coalesce(F.expr(cl.condition), F.lit(False))


def any_clause_ok(clauses):
    """OR of the clauses' gates (does ANY clause fire for this row)."""
    out = F.lit(False)
    for cl in clauses:
        out = out | clause_gate(cl)
    return out


def _gated(clauses, guard=None) -> list:
    """``(clause, gate)`` pairs, each gate AND-ed with ``guard``. Every
    Column a merge builds is a round trip to the JVM, so a gate is built
    once per clause and shared by all the columns' expressions."""
    return [
        (cl, clause_gate(cl) if guard is None else guard & clause_gate(cl))
        for cl in clauses
    ]


def first_fate(clauses, action: str):
    """True iff the FIRST clause (user order) whose condition passes has
    ``action`` — the row's fate under first-match-wins."""
    return _first_fate(_gated(clauses), action)


def _first_fate(gated, action: str):
    chain = None
    for cl, cond in gated:
        hit = F.lit(cl.action == action)
        chain = F.when(cond, hit) if chain is None else chain.when(cond, hit)
    if chain is None:
        return F.lit(False)
    return F.coalesce(chain, F.lit(False))


def _assigned(expr: str, tgt_type):
    e = F.expr(expr)
    return e.cast(tgt_type) if tgt_type is not None else e


def clause_value(
    clauses, kind: str, c: str, types: dict,
    keep_t=(), guard=None, otherwise=None,
):
    """Column ``c``'s output value under first-match-wins: the first
    passing clause's value, else ``otherwise`` (default ``t.c``). A SET
    map leaves unset columns at the target's value, a VALUES map leaves
    unlisted ones NULL; updateAll takes the source side except for the
    ``keep_t`` columns (schema evolution null-filled them in the
    source); a delete branch is a NULL placeholder that only SHADOWS
    later clauses (the caller drops its rows). Expressions build only
    for clauses that exist — a dead branch's value would still need to
    resolve. ``guard`` (optional Column) pre-conditions every branch."""
    return _clause_value(
        _gated(clauses, guard), kind, c, types, keep_t, otherwise
    )


def _clause_value(gated, kind: str, c: str, types: dict, keep_t=(), otherwise=None):
    fallback = otherwise if otherwise is not None else F.col(f"t.`{c}`")
    tgt_type = types.get(c)
    chain = None
    for cl, cond in gated:
        amap = cl.assignments
        if cl.action == "delete":
            val = F.lit(None)
        elif amap is not None and c in amap:
            val = _assigned(amap[c], tgt_type)
        elif amap is not None and kind == "not_matched":
            val = F.lit(None).cast(tgt_type) if tgt_type is not None else F.lit(None)
        elif amap is not None or (kind != "not_matched" and c in keep_t):
            val = F.col(f"t.`{c}`")
        else:
            val = F.col(f"s.`{c}`")
        chain = F.when(cond, val) if chain is None else chain.when(cond, val)
    if chain is None:
        return fallback
    return chain.otherwise(fallback)


def _insert_values(s: DataFrame, not_matched, cols, types: dict) -> DataFrame:
    """Table-shaped inserted rows from the source rows ``s`` (alias
    ``s``, already filtered to rows some insert clause accepts)."""
    gated = _gated(not_matched)
    return s.select(*[
        _clause_value(
            gated, "not_matched", c, types,
            otherwise=F.lit(None).cast(types[c]) if c in types else F.lit(None),
        ).alias(c)
        for c in cols
    ])


def insert_only_frame(source: DataFrame, not_matched, cols=None, types=None):
    """The rows a MERGE inserts when NOTHING can match (absent/empty
    target, or no candidate file held a key): first-match-wins across the
    not-matched clauses. ``cols``/``types`` (the table shape) are
    required when any clause carries a VALUES map — unlisted columns
    insert NULL at the TABLE's types."""
    s = source.alias("s").filter(any_clause_ok(not_matched))
    if all(cl.assignments is None for cl in not_matched):
        return s
    if cols is None:
        raise ValueError(
            "column-level INSERT VALUES needs an existing table (its "
            "schema defines the unlisted-NULL columns); create the table "
            "first"
        )
    return _insert_values(s, not_matched, cols, types or {})


# ---------------------------------------------------------------- plan


@dataclass(frozen=True)
class MergePlan:
    """One MERGE's normalized clauses and the clause-form flags the
    engines branch on. ``MergePlan.of(**clauses)`` takes the
    ``normalize_merge_clauses`` kwargs."""

    matched: tuple
    not_matched: tuple
    by_source: tuple

    @classmethod
    def of(cls, **clauses) -> "MergePlan":
        m, nm, bs = normalize_merge_clauses(**clauses)
        return cls(tuple(m), tuple(nm), tuple(bs))

    @property
    def clauses(self) -> dict:  # the kwargs that rebuild this plan
        return dict(
            matched_clauses=list(self.matched),
            not_matched_clauses=list(self.not_matched),
            not_matched_by_source_clauses=list(self.by_source),
        )

    @property
    def dict_clauses(self) -> bool:  # some clause has a SET/VALUES map
        return any(
            cl.assignments is not None
            for cl in (*self.matched, *self.not_matched, *self.by_source)
        )

    @property
    def all_update(self) -> bool:  # some matched clause is updateAll
        return any(
            cl.action == "update" and cl.assignments is None
            for cl in self.matched
        )

    @property
    def all_insert(self) -> bool:  # some insert clause is insertAll
        return any(cl.assignments is None for cl in self.not_matched)

    @property
    def all_forms(self) -> bool:  # the source must carry the table's columns
        return self.all_update or self.all_insert

    @property
    def insert_maps(self) -> bool:  # some insert clause has a VALUES map
        return any(cl.assignments is not None for cl in self.not_matched)

    @property
    def upd_form(self) -> bool:
        return any(cl.action == "update" for cl in self.matched)

    @property
    def bs_upd_form(self) -> bool:
        return any(cl.action == "update" for cl in self.by_source)

    def refuse_generated(self, generated, error=ValueError) -> None:
        """A SET/VALUES map may not write a generated column: its value
        recomputes from the expression (delta-spark's rule)."""
        for clauses, kind in (
            (self.matched, "when_matched SET"),
            (self.not_matched, "when_not_matched VALUES"),
            (self.by_source, "when_not_matched_by_source SET"),
        ):
            for cl in clauses:
                bad = sorted(set(cl.assignments or ()) & set(generated))
                if bad:
                    raise error(
                        f"column(s) {bad} in {kind} are generated "
                        "(GENERATED ALWAYS AS); their values recompute "
                        "from the expression"
                    )


# ---------------------------------------------------------------- frames


@dataclass(frozen=True)
class FateFrames:
    """The row-level inputs of one MERGE. ``matched`` and ``by_source``
    hold the target rows some clause acts on, with the boolean fate
    flags, the carried columns, pre-images ``_t_<c>`` (when asked for)
    and post-images ``_n_<c>`` (when the kind updates); ``inserts`` is
    table-shaped. A frame is None when its kind has no clause."""

    matched: Optional[DataFrame]
    by_source: Optional[DataFrame]
    inserts: Optional[DataFrame]


def fate_frames(
    target: DataFrame,
    source: DataFrame,
    keys,
    plan: MergePlan,
    *,
    cols,
    types: dict,
    carry=(),
    pre_images: bool = False,
    keep_target_cols=(),
    target_cols=None,
) -> FateFrames:
    """The three joins of a row-level MERGE, null-safe on ``keys``:
    target rows matched by the source (inner), target rows no source row
    matches (anti, by-source clauses only) and source rows no target row
    matches (anti, insert clauses only). ``cols``/``types`` are the
    output table shape; ``target_cols`` (default: all of the target's)
    are the ones the target carries — the rest (evolved columns) read
    as typed NULL. ``carry`` target columns ride along unchanged (e.g.
    a row's file and position). Frames are lazy; the caller decides
    what to persist."""
    present = set(target.columns if target_cols is None else target_cols)

    def t_side(c):
        if c in present:
            return F.col(f"t.`{c}`")
        return F.lit(None).cast(types[c])

    t, s = target.alias("t"), source.alias("s")
    cond = [F.col(f"t.`{k}`").eqNullSafe(F.col(f"s.`{k}`")) for k in keys]

    def fates(rows: DataFrame, clauses, kind: str, keep_t=()):
        # a row's fate is its FIRST passing clause's action (user order);
        # rows no clause fires on stay untouched and are dropped here
        gated = _gated(clauses)
        sel = [
            *[F.col(f"t.`{c}`").alias(c) for c in carry],
            _first_fate(gated, "delete").alias(_DEL),
            _first_fate(gated, "update").alias(_UPD),
        ]
        if pre_images:
            sel += [t_side(c).alias(f"_t_{c}") for c in cols]
        if any(cl.action == "update" for cl in clauses):
            sel += [
                _clause_value(
                    gated, kind, c, types, keep_t, otherwise=t_side(c)
                ).alias(f"_n_{c}")
                for c in cols
            ]
        return rows.select(*sel).filter(F.col(_DEL) | F.col(_UPD))

    matched = by_source = inserts = None
    if plan.matched:
        matched = fates(
            t.join(s, cond, "inner"), plan.matched, "matched",
            keep_t=keep_target_cols,
        )
    if plan.by_source:
        unmatched = t.join(s.select(*keys), cond, "left_anti").alias("t")
        by_source = fates(unmatched, plan.by_source, "not_matched_by_source")
    if plan.not_matched:
        anti = s.join(t.select(*keys).alias("t"), cond, "left_anti").alias("s")
        inserts = _insert_values(
            anti.filter(any_clause_ok(plan.not_matched)),
            plan.not_matched, cols, types,
        )
    return FateFrames(matched, by_source, inserts)


def fate_rows(
    frame: DataFrame, fate: str, image: str, cols, *extra: str
) -> DataFrame:
    """The ``cols``-shaped ``image`` (``"_t_"`` pre or ``"_n_"`` post) of
    the rows of a fate frame whose fate is ``fate`` (delete|update),
    plus the ``extra`` SQL select expressions. One SQL projection, not a
    Column per field: each Column is a round trip to the JVM."""
    flag = _DEL if fate == "delete" else _UPD
    return frame.filter(F.col(flag)).selectExpr(
        *[f"`{image}{c}` AS `{c}`" for c in cols], *extra
    )


def change_rows(
    frames: FateFrames,
    plan: MergePlan,
    cols,
    regen: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> DataFrame:
    """The MERGE's row-level change rows in Delta CDF's vocabulary
    (delete / update_preimage / update_postimage / insert), ``cols``
    plus ``_change_type``. The fate frames must carry pre-images.
    ``regen`` finalizes post-images, and inserts when an insert clause
    carries a VALUES map (e.g. recomputing generated columns from the
    final row). Only the actions the plan holds emit a union leg."""

    def tag(change: str) -> str:
        return f"'{change}' AS {CHANGE_TYPE}"

    def tagged(df: DataFrame, change: str) -> DataFrame:
        return df.selectExpr(*[f"`{c}`" for c in cols], tag(change))

    parts = []
    for frame, clauses in (
        (frames.matched, plan.matched), (frames.by_source, plan.by_source)
    ):
        if frame is None:
            continue
        actions = {cl.action for cl in clauses}
        if "delete" in actions:
            parts.append(fate_rows(frame, "delete", "_t_", cols, tag("delete")))
        if "update" in actions:
            parts.append(
                fate_rows(frame, "update", "_t_", cols, tag("update_preimage"))
            )
            if regen is None:
                post = fate_rows(
                    frame, "update", "_n_", cols, tag("update_postimage")
                )
            else:
                post = tagged(
                    regen(fate_rows(frame, "update", "_n_", cols)),
                    "update_postimage",
                )
            parts.append(post)
    if frames.inserts is not None:
        inserts = frames.inserts
        if regen is not None and plan.insert_maps:
            inserts = regen(inserts)
        parts.append(tagged(inserts, "insert"))
    return functools.reduce(DataFrame.unionByName, parts)


def outer_join_merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    keep_target_cols: tuple = (),
    **clauses,
) -> DataFrame:
    """MERGE semantics as one full-outer join (``clauses``: the
    ``normalize_merge_clauses`` kwargs). Callers must validate
    source-key uniqueness (``require_unique_merge_keys``) first.

    First-match-wins per kind: a key in both sides takes its first
    passing matched clause (delete drops it, update applies its value,
    none leaves it unchanged); a key only in the target its first
    by-source clause (none keeps it); a key only in the source is
    inserted iff some insert clause passes. NULL conditions never fire.

    ``keep_target_cols``: columns the SOURCE genuinely lacks (schema
    evolution null-filled them) — updates retain the target's value
    there, Delta's updateAll-under-evolution rule, while inserts still
    take the source-side NULL.
    """
    plan = MergePlan.of(**clauses)
    types = {f.name: f.dataType for f in target.schema.fields}
    # Explicit presence flags, NOT key-isNotNull probes: the join matches
    # with eqNullSafe, so a NULL key is a legitimate value — a target row
    # with key NULL must read as "present" or merges silently drop it
    # (caught by the IVM recompute oracle on a NULL group key).
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = source.withColumn("_s_present", F.lit(True)).alias("s")
    joined = t.join(
        s, on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
        how="full_outer",
    )
    has_t = F.coalesce(F.col("t._t_present"), F.lit(False))
    has_s = F.coalesce(F.col("s._s_present"), F.lit(False))
    m_guard, bs_guard, ins_guard = has_t & has_s, has_t & ~has_s, ~has_t & has_s
    keep_row = (
        (m_guard & ~first_fate(plan.matched, "delete"))
        | (bs_guard & ~first_fate(plan.by_source, "delete"))
        | (ins_guard & any_clause_ok(plan.not_matched))
    )
    kinds = (
        ("not_matched", _gated(plan.not_matched, ins_guard)),
        ("not_matched_by_source", _gated(plan.by_source, bs_guard)),
        ("matched", _gated(plan.matched, m_guard)),
    )

    def _out(c):
        # the join sides' guards are exclusive, so nesting the kinds'
        # chains keeps each kind's first-match-wins order
        val = F.col(f"t.`{c}`")
        for kind, gated in kinds:
            val = _clause_value(gated, kind, c, types, keep_target_cols, val)
        return val.alias(c)

    return joined.filter(keep_row).select(*[_out(c) for c in target.columns])


# ---------------------------------------------------------------- glue


@contextmanager
def materialized_source(source: DataFrame):
    """ONE spillable materialization of the merge source for every pass
    over it: otherwise each pass re-scans the source, and a
    NON-DETERMINISTIC source could yield different rows per pass
    (delta-spark materializes merge sources for both reasons).
    MEMORY_AND_DISK keeps lineage; released on every exit.
    ``MATERIALIZE_CONF=none`` opts out."""
    conf = source.sparkSession.conf.get(MATERIALIZE_CONF, "auto")
    if conf.lower() == "none":
        yield source
        return
    cached = source.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield cached
    finally:
        cached.unpersist()


def initial_write(
    source: DataFrame,
    keys,
    plan: MergePlan,
    write: Callable[[DataFrame], object],
    *,
    check_source_keys: bool = True,
) -> str:
    """MERGE into a target that does not exist yet: ``write`` the rows
    the insert clauses accept and return ``"initial-write"``, or
    ``"no-op"`` when there is no insert clause. A VALUES map refuses —
    the unlisted-NULL columns need the table's schema."""
    if check_source_keys:
        require_unique_merge_keys(source, list(keys))
    if not plan.not_matched:
        return "no-op"
    write(insert_only_frame(source, plan.not_matched))
    return "initial-write"
