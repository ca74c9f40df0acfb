"""The merge kernel under ``SnaplogTable.merge`` (io/snaplog.py), the
jar-less Delta ``delta_merge`` (io/delta_dml.py) and the parquet
fallback of ``merge_with_contract`` (io/merge.py).

- **Clauses.** :func:`normalize_merge_clauses` turns the legacy kwargs
  or ordered clause lists into first-match-wins :class:`MergeClause`
  lists; :class:`MergePlan` holds them with the flags engines branch on.
- **The join.** :func:`tagged_join` is MERGE as ONE join whose type
  follows the clause set, each row tagged with its fate (``keep`` |
  ``delete`` | ``update`` | ``insert``); :func:`merged_rows`,
  :func:`post_images` and :func:`change_rows` are projections of it.
- **Glue.** :func:`source_key_stats` (the one source aggregate, which
  carries a governed merge's :class:`SourceCheck`),
  :func:`materialized_source` and :func:`initial_write` (the
  missing-target path).

A format keeps its own physical strategy: which target rows enter the
join, how deleted rows disappear and how the commit is written.
Copy-on-write formats (snaplog, the parquet fallback) keep the
untouched target rows they pass in and write ``merged_rows``; the Delta
engine keeps only the touched ones and writes deletion vectors (or
rewrites) for them plus ``post_images``.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dc43_spark.expectations.compiler import quote_identifier

#: ``none`` skips the source materialization (delta-spark's
#: ``merge.materializeSource`` escape hatch) for deterministic
#: full-table-sized sources where recompute beats spilling a copy.
MATERIALIZE_CONF = "spark.dc43.delta.mergeMaterializeSource"
CHANGE_TYPE = "_change_type"
_DEL, _UPD = "_dc43_del", "_dc43_upd"


@dataclass(frozen=True)
class SourceCheck:
    """A contract check riding in the merge's one source aggregate
    (:func:`source_key_stats`). ``aggregates`` are aliased SQL aggregates
    over the source as the engine received it, before its own key casts;
    ``verdict`` judges the aggregate row, raising to block the merge,
    before the engine prunes, probes or stages anything."""

    aggregates: Sequence[str]
    verdict: Callable[[Row], None]


def source_key_stats(
    source: DataFrame,
    keys: list[str],
    *,
    check_unique: bool = True,
    key_types: Optional[dict] = None,
    check: Optional[SourceCheck] = None,
):
    """ONE flat aggregate over the merge source — the source scan is the
    cost at scale — carrying:

    - ``check``'s aggregates (the contract metrics of a governed merge),
      whose ``verdict`` then runs on the row;
    - the per-key pruning envelope, fields ``_lo_{i}`` / ``_hi_{i}`` /
      ``_null_{i}`` by key position, over each key cast to
      ``key_types[k]`` (the table's type, as the join sees it; a key the
      source lacks is a typed NULL);
    - when ``check_unique``, the duplicate-key probe: ``count(1) -
      count(DISTINCT k) - max(k IS NULL)`` for one key, which is the
      ``groupBy(k)`` test (a NULL key is one group) and shares Spark's
      distinct group with a contract ``unique_k`` metric; ``count(1) -
      count(DISTINCT struct(k1, k2, ...))`` for a composite key (a
      struct is never NULL, so NULL parts group as ``groupBy`` does).

    On a duplicate hit the standalone probe re-runs only to name an
    example key."""
    types = {f.name: f.dataType for f in source.schema.fields}
    cast_to = key_types or {}
    key_sql = []
    for k in keys:
        t, c = cast_to.get(k), quote_identifier(k)
        if t is not None and k not in types:
            c = f"CAST(NULL AS {t.simpleString()})"
        elif t is not None and types[k] != t:
            c = f"CAST({c} AS {t.simpleString()})"
        key_sql.append(c)
    aggs = list(check.aggregates) if check is not None else []
    for i, c in enumerate(key_sql):
        aggs += [f"min({c}) AS _lo_{i}", f"max({c}) AS _hi_{i}", f"max({c} IS NULL) AS _null_{i}"]
    if check_unique:
        if len(keys) == 1:
            c = key_sql[0]
            dups = f"count(1) - count(DISTINCT {c}) - max(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
        else:
            dups = f"count(1) - count(DISTINCT struct({', '.join(key_sql)}))"
        aggs.append(f"{dups} AS _dc43_dups")
    row = source.selectExpr(*aggs).first()
    if check is not None:
        check.verdict(row)
    if check_unique and row["_dc43_dups"]:
        require_unique_merge_keys(
            source.selectExpr(*[
                f"{c} AS {quote_identifier(k)}" for k, c in zip(keys, key_sql)
            ]),
            keys,
        )
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


def _clause_value(gated, kind: str, c: str, types: dict, keep_t, otherwise):
    """Column ``c``'s output value under first-match-wins: the first
    passing clause's value, else ``otherwise``. A SET map leaves unset
    columns at the target's value, a VALUES map leaves unlisted ones
    NULL; updateAll takes the source side except for the ``keep_t``
    columns (schema evolution null-filled them in the source); a delete
    branch is a NULL placeholder that only SHADOWS later clauses (its
    row is dropped). Expressions build only for clauses that exist — a
    dead branch's value would still need to resolve."""
    tgt_type = types.get(c)
    chain = None
    for cl, cond in gated:
        amap = cl.assignments
        if cl.action == "delete":
            val = F.lit(None)
        elif amap is not None and c in amap:
            val = F.expr(amap[c])
            val = val.cast(tgt_type) if tgt_type is not None else val
        elif amap is not None and kind == "not_matched":
            val = F.lit(None).cast(tgt_type) if tgt_type is not None else F.lit(None)
        elif amap is not None or (kind != "not_matched" and c in keep_t):
            val = F.col(f"t.`{c}`")
        else:
            val = F.col(f"s.`{c}`")
        chain = F.when(cond, val) if chain is None else chain.when(cond, val)
    if chain is None:
        return otherwise
    return chain.otherwise(otherwise)


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
    def all_forms(self) -> bool:  # the source must carry the table's columns
        return self.all_update or any(
            cl.assignments is None for cl in self.not_matched  # insertAll
        )

    @property
    def insert_maps(self) -> bool:  # some insert clause has a VALUES map
        return any(cl.assignments is not None for cl in self.not_matched)

    @property
    def updates(self) -> bool:  # some matched or by-source clause updates
        return any(cl.action == "update" for cl in (*self.matched, *self.by_source))

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


# ---------------------------------------------------------------- the join

#: Each row's fate in a :func:`tagged_join` frame: ``keep`` | ``delete`` |
#: ``update`` | ``insert``.
FATE = "_dc43_fate"
_TP, _SP = "_dc43_tp", "_dc43_sp"


def tagged_join(
    target: Optional[DataFrame],
    source: DataFrame,
    keys,
    plan: MergePlan,
    *,
    cols=None,
    types: Optional[dict] = None,
    carry=(),
    pre_images: bool = False,
    keep_target_cols=(),
    target_cols=None,
    keep_untouched: bool = False,
) -> DataFrame:
    """MERGE as ONE join, null-safe on ``keys``, each row tagged in
    :data:`FATE` by first-match-wins per clause kind: a key in both sides
    takes its first passing matched clause, a key only in the target its
    first by-source clause (none: ``keep``), a key only in the source is
    an ``insert`` iff some insert clause passes. NULL conditions never
    fire. Callers validate source-key uniqueness first.

    The join type follows the plan: unmatched target rows enter for a
    by-source clause or ``keep_untouched`` (copy-on-write formats
    rewrite every target row they pass in), unmatched source rows for an
    insert clause — full outer for both, left or right outer for one,
    inner for neither. An insert-only plan that keeps no target row is a
    source left-anti join; ``target=None`` reads the source alone.

    Columns: ``carry`` target columns (none without a target side),
    ``FATE``, pre-images ``_t_<c>`` when ``pre_images`` and post-images
    ``_n_<c>`` when a clause writes or ``keep_untouched``.
    ``cols``/``types`` are the output shape (default: the target's); the
    target carries ``target_cols`` (default: all), the rest read as typed
    NULL. ``keep_target_cols``: columns schema evolution null-filled in
    the SOURCE — updates keep the target's value there (Delta's
    updateAll-under-evolution rule). The frame is lazy."""
    cols = target.columns if cols is None else cols
    types = types or {f.name: f.dataType for f in target.schema.fields}
    want_t = keep_untouched or bool(plan.by_source)
    want_s = bool(plan.not_matched)
    joined = target is not None and (want_t or bool(plan.matched))
    yes, no = F.lit(True), F.lit(False)
    has_t = has_s = yes
    on = [F.col(f"t.`{k}`").eqNullSafe(F.col(f"s.`{k}`")) for k in keys]
    s, present = source.alias("s"), ()
    if not joined:  # insert-only: no target row survives the join
        has_t, rows = no, s if target is None else s.join(
            target.select(*keys).alias("t"), on, "left_anti"
        )
    else:
        present = set(target.columns if target_cols is None else target_cols)
        # explicit presence flags, NOT key-isNotNull probes: the join
        # matches with eqNullSafe, so a NULL key is a legitimate value
        t = target
        if want_s:
            t, has_t = t.withColumn(_TP, yes), F.coalesce(F.col(f"t.{_TP}"), no)
        if want_t:
            s, has_s = s.withColumn(_SP, yes), F.coalesce(F.col(f"s.{_SP}"), no)
        how = ("full" if want_s else "left") if want_t else (
            "right" if want_s else "inner"
        )
        rows = t.alias("t").join(s.alias("s"), on, how)

    def t_side(c):
        if c in present:
            return F.col(f"t.`{c}`")
        return F.lit(None).cast(types[c])

    # (clause, gate) pairs per kind, each gate built ONCE and shared by
    # every column's expression (each Column is a round trip to the JVM).
    # The kinds' guards are exclusive, so one chain over all of them keeps
    # each kind's first-match-wins order; without a target side only the
    # insert clauses can fire (the others' values would not resolve).
    kinds = [
        (kind, [
            (cl, guard & clause_gate(cl))
            for cl in (clauses if joined or kind == "not_matched" else ())
        ])
        for kind, clauses, guard in (
            ("matched", plan.matched, has_t & has_s),
            ("not_matched_by_source", plan.by_source, has_t & ~has_s),
            ("not_matched", plan.not_matched, ~has_t & has_s),
        )
    ]
    fate = None
    for _, gated in kinds:
        for cl, cond in gated:
            act = F.lit(cl.action)
            fate = F.when(cond, act) if fate is None else fate.when(cond, act)
    keep = F.lit("keep")
    fate = F.when(has_t, keep) if fate is None else fate.when(has_t, keep)

    sel = [F.col(f"t.`{c}`").alias(c) for c in carry if joined]
    sel.append(fate.alias(FATE))
    if pre_images:
        sel += [t_side(c).alias(f"_t_{c}") for c in cols]
    if keep_untouched or plan.not_matched or plan.updates:

        def post(c):
            val = t_side(c)
            for kind, gated in kinds:
                val = _clause_value(gated, kind, c, types, keep_target_cols, val)
            return val.alias(f"_n_{c}")

        sel += [post(c) for c in cols]
    out = rows.select(*sel)
    if keep_untouched:
        return out.filter(F.col(FATE).isNotNull())
    return out.filter(F.col(FATE) != "keep")


def _image(frame: DataFrame, fates, image: str, cols, *extra: str) -> DataFrame:
    """The ``cols``-shaped ``image`` (``"_t_"`` pre or ``"_n_"`` post) of
    the rows whose fate is in ``fates``, plus ``extra`` SQL expressions —
    one SQL projection, not a Column (a JVM round trip) per field."""
    return frame.filter(F.col(FATE).isin(*fates)).selectExpr(
        *[f"`{image}{c}` AS `{c}`" for c in cols], *extra
    )


def merged_rows(frame: DataFrame, cols) -> DataFrame:
    """The MERGE's resulting rows: the post-images of a
    ``keep_untouched`` tagged frame's rows that are not deleted."""
    return _image(frame, ("keep", "update", "insert"), "_n_", cols)


def post_images(frame: DataFrame, cols, *extra: str) -> DataFrame:
    """The rows a MERGE writes anew: update post-images and inserts,
    ``cols`` plus ``FATE`` plus the ``extra`` SQL select expressions."""
    return _image(frame, ("update", "insert"), "_n_", cols, FATE, *extra)


def change_rows(
    frame: DataFrame,
    plan: MergePlan,
    cols,
    regen: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> DataFrame:
    """The MERGE's row-level change rows in Delta CDF's vocabulary,
    ``cols`` plus ``_change_type``, from a tagged frame with pre-images:
    one leg of delete and update pre-images, one of update post-images
    and inserts. ``regen`` finalizes the second leg (e.g. recomputing
    generated columns from the final row); it sees ``FATE``. A leg the
    plan's actions cannot fill is left out (a plan without clauses
    keeps the empty first leg)."""
    pre = _image(
        frame, ("delete", "update"), "_t_", cols,
        f"IF({FATE} = 'delete', 'delete', 'update_preimage') AS {CHANGE_TYPE}",
    )
    if not (plan.updates or plan.not_matched):
        return pre
    post = post_images(frame, cols)
    if regen is not None:
        post = regen(post)
    post = post.selectExpr(
        *[f"`{c}`" for c in cols],
        f"IF({FATE} = 'insert', 'insert', 'update_postimage') AS {CHANGE_TYPE}",
    )
    return pre.unionByName(post) if plan.matched or plan.by_source else post


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
    if plan.insert_maps:
        raise ValueError(
            "column-level INSERT VALUES needs an existing table (its "
            "schema defines the unlisted-NULL columns); create the table "
            "first"
        )
    write(source.alias("s").filter(any_clause_ok(plan.not_matched)))
    return "initial-write"
