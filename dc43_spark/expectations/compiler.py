"""Expectation compiler: contract rules -> Spark SQL predicates.

Mirrors the reference's spec materialisation and predicate emission
(ref: dc43-service-backends data_quality/backend/engine.py:37-163 and
predicates.py:21-70), producing the same metric keys:

  not_null_<col>  -> ``col` IS NOT NULL``           (from required=True)
  gt/ge/lt/le_<col> -> ``col` > lit`` etc.
  enum_<col>      -> ``col` IN ('a','b')``
  regex_<col>     -> ``col` RLIKE 'pat'``
  unique_<col>    -> metric-only (no row predicate)
  query_<name>    -> raw SQL metric forwarded (engine spark_sql)

The serialised plan (``expectation_plan``) — ``{key, rule, column, optional,
params, predicate}`` — is the IR shared between compiler, engine, violation
strategies, streaming observer, and the DLT exporter.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from dc43_spark.contracts.model import Contract, QualityRule, SchemaProperty

_BOUND_RULES = {"gt": ">", "ge": ">=", "lt": "<", "le": "<="}


@dataclass(frozen=True)
class ExpectationSpec:
    """One compiled expectation."""

    key: str
    rule: str
    column: Optional[str] = None
    params: dict[str, Any] = field(default_factory=dict, hash=False)
    optional: bool = False  # warning-severity rule or rule on non-required col
    predicate: Optional[str] = None  # Spark SQL boolean; None for unique/query
    query: Optional[str] = None  # raw SQL for query rules

    def to_dict(self) -> dict[str, Any]:
        return {
            "key": self.key,
            "rule": self.rule,
            "column": self.column,
            "optional": self.optional,
            "params": dict(self.params),
            "predicate": self.predicate,
            **({"query": self.query} if self.query else {}),
        }


def _sql_literal(value: Any) -> str:
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    return "'" + str(value).replace("'", "''") + "'"


def quote_identifier(name: str) -> str:
    """``name`` as a Spark SQL identifier: backtick-quoted with inner
    backticks doubled, so dots, spaces and backticks stay part of the
    name (``a.b`` is one column, not field ``b`` of struct ``a``)."""
    return "`" + name.replace("`", "``") + "`"


def sql_predicate(rule: str, column: str, value: Any = None) -> Optional[str]:
    """Emit the Spark SQL predicate for one rule (ref predicates.py:21-50)."""
    col = quote_identifier(column)
    if rule in ("not_null", "required"):
        return f"{col} IS NOT NULL"
    if rule in _BOUND_RULES:
        return f"{col} {_BOUND_RULES[rule]} {_sql_literal(value)}"
    if rule == "enum":
        values = ", ".join(_sql_literal(v) for v in (value or []))
        return f"{col} IN ({values})"
    if rule == "regex":
        return f"{col} RLIKE {_sql_literal(value)}"
    if rule in ("unique", "query"):
        return None  # metric-only
    raise ValueError(f"unsupported rule: {rule!r}")


def _specs_for_property(prop: SchemaProperty) -> list[ExpectationSpec]:
    specs: list[ExpectationSpec] = []
    c = prop.name
    if prop.required:
        specs.append(
            ExpectationSpec(
                key=f"not_null_{c}",
                rule="not_null",
                column=c,
                predicate=sql_predicate("not_null", c),
            )
        )
    if prop.unique:
        specs.append(ExpectationSpec(key=f"unique_{c}", rule="unique", column=c))
    for q in prop.quality:
        optional = q.severity == "warning"
        if q.rule == "unique":
            specs.append(
                ExpectationSpec(key=f"unique_{c}", rule="unique", column=c, optional=optional)
            )
            continue
        if q.rule == "query":
            specs.append(
                ExpectationSpec(
                    key=f"query_{q.name or c}",
                    rule="query",
                    column=c,
                    optional=optional,
                    query=str(q.value),
                )
            )
            continue
        specs.append(
            ExpectationSpec(
                key=f"{q.rule}_{c}",
                rule=q.rule,
                column=c,
                params={"value": q.value},
                optional=optional,
                predicate=sql_predicate(q.rule, c, q.value),
            )
        )
    return specs


def expectation_specs(contract: Contract) -> list[ExpectationSpec]:
    """All expectations for a contract, de-duplicated by key (first wins,
    ref engine.py:37-163)."""
    specs: list[ExpectationSpec] = []
    seen: set[str] = set()
    for prop in contract.schema_object.properties:
        for spec in _specs_for_property(prop):
            if spec.key not in seen:
                seen.add(spec.key)
                specs.append(spec)
    for idx, q in enumerate(contract.schema_object.quality):
        if q.rule != "query":
            continue
        key = f"query_{q.name or idx}"
        if key not in seen:
            seen.add(key)
            specs.append(
                ExpectationSpec(
                    key=key,
                    rule="query",
                    optional=q.severity == "warning",
                    query=str(q.value),
                )
            )
    return specs


def expectation_plan(contract: Contract) -> list[dict[str, Any]]:
    """Serialised plan entries — the wire IR (ref predicates.py:53-70)."""
    return [s.to_dict() for s in expectation_specs(contract)]


def row_predicates(specs: list[ExpectationSpec], *, include_optional: bool = False) -> dict[str, str]:
    """key -> predicate for all row-level (filterable) expectations."""
    return {
        s.key: s.predicate
        for s in specs
        if s.predicate is not None and (include_optional or not s.optional)
    }
