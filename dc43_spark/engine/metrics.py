"""Single-pass validation metrics.

The reference computes one Spark job per expectation — ``df.count()`` plus
``filter(NOT p).count()`` per rule plus ``select(c).distinct().count()`` per
unique column (ref: dc43-integrations spark/data_quality.py:98-196). That is
N+1 full scans per validation. Here ALL row-level metrics collapse into ONE
aggregate pass, compiled to SQL strings (:func:`metric_sql`) and submitted
in one ``selectExpr`` call:

    count(1) AS `row_count`,
    CAST(sum(CASE WHEN NOT (p) THEN 1 ELSE 0 END) AS BIGINT) AS `v_<key>`, ...
    CAST(count(1) - (count(DISTINCT c) + max(CASE WHEN c IS NULL ...)) ...

which Catalyst executes as a single scan with map-side partial aggregation —
at 100 TB that's the difference between one pass over the table and N. One
string per rule also keeps the driver cheap: a ``Column`` tree costs about
ten py4j calls per rule, a string none until Spark parses the projection.

A governed merge does not even run this pass on its own: the strings ride
in the merge engine's source aggregate next to the key envelope and the
duplicate-key probe (``io/mergecore.py::source_key_stats``), so the source
is aggregated once for both, and :func:`metrics_from_row` reads the
metrics back out of that row.

Semantics parity notes (the metric VALUES must match the reference exactly):

- ``violations.<key>`` counts rows where ``NOT (predicate)`` is TRUE; a NULL
  predicate result (e.g. NULL compared with a bound) is NOT a violation —
  identical to ``filter(NOT p).count()`` null semantics.
- ``violations.unique_<col>`` = total - distinct-count-including-NULL,
  because the reference uses ``df.select(c).distinct().count()`` which counts
  NULL as one distinct value (data_quality.py:138-145).

``unique_strategy='approx'`` swaps exact distinct for HyperLogLog
``approx_count_distinct`` — the sanctioned fast path for very wide tables
(SURVEY §4); exact stays the default for oracle parity.

``observe_metrics`` piggybacks the same expressions on an existing action via
``DataFrame.observe`` — zero extra scans (used by streaming, SURVEY §2.6).
Distinct aggregates are not allowed in observations, so unique metrics are
computed separately (or approximated) in that mode.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from dc43_spark.contracts.model import Contract
from dc43_spark.expectations.compiler import (
    ExpectationSpec,
    expectation_specs,
    quote_identifier,
)

QUERY_VIEW_NAME = "_dc43_dq_tmp"  # fixed, matches ref data_quality.py:180-191

SpecsOrContract = Union[Contract, Sequence[ExpectationSpec]]


def _as_specs(source: SpecsOrContract) -> list[ExpectationSpec]:
    if isinstance(source, Contract):
        return expectation_specs(source)
    return list(source)


def metric_sql(
    source: SpecsOrContract,
    *,
    unique_strategy: str = "exact",
    include_unique: bool = True,
    available_columns: Optional[Sequence[str]] = None,
) -> list[str]:
    """The one-pass metric aggregates as aliased SQL strings.

    Aliases are ``row_count`` and ``v_<key>`` (``compute_metrics`` maps
    them back to ``violations.<key>``). Specs on columns absent from
    ``available_columns`` are skipped — the schema check reports those as
    missing-column errors instead.
    """
    specs = _as_specs(source)
    if available_columns is not None:
        present = set(available_columns)
        specs = [s for s in specs if s.column is None or s.column in present]
    out = ["count(1) AS `row_count`"]
    for s in specs:
        if s.rule == "unique":
            if not include_unique:
                continue
            c = quote_identifier(s.column)
            distinct = (
                f"approx_count_distinct({c})"
                if unique_strategy == "approx"
                else f"count(DISTINCT {c})"
            )
            agg = f"count(1) - ({distinct} + max(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END))"
        elif s.predicate is not None:
            agg = f"sum(CASE WHEN NOT ({s.predicate}) THEN 1 ELSE 0 END)"
        else:
            continue
        out.append(f"CAST({agg} AS BIGINT) AS {quote_identifier('v_' + s.key)}")
    return out


def metric_expressions(
    source: SpecsOrContract,
    *,
    unique_strategy: str = "exact",
    include_unique: bool = True,
    available_columns: Optional[Sequence[str]] = None,
) -> list[Column]:
    """:func:`metric_sql` as aggregate ``Column`` objects."""
    return [
        F.expr(e)
        for e in metric_sql(
            source,
            unique_strategy=unique_strategy,
            include_unique=include_unique,
            available_columns=available_columns,
        )
    ]


def metrics_from_row(row: dict[str, Any]) -> dict[str, Any]:
    """Canonical metric keys from an aggregate row (or an
    ``Observation.get`` dict) carrying the :func:`metric_sql` aliases;
    other fields are ignored."""
    metrics: dict[str, Any] = {}
    for k, v in row.items():
        if k == "row_count":
            metrics["row_count"] = int(v or 0)
        elif k.startswith("v_"):
            metrics[f"violations.{k[2:]}"] = int(v or 0)
    return metrics


def query_metrics(df: DataFrame, source: SpecsOrContract) -> dict[str, Any]:
    """The raw ``query`` rules, one job each (irreducible), run against
    ``df`` registered as ``_dc43_dq_tmp``."""
    query_specs = [s for s in _as_specs(source) if s.rule == "query" and s.query]
    metrics: dict[str, Any] = {}
    if query_specs:
        spark = df.sparkSession
        df.createOrReplaceTempView(QUERY_VIEW_NAME)
        try:
            for s in query_specs:
                rows = spark.sql(s.query).collect()
                metrics[s.key] = rows[0][0] if rows and len(rows[0]) else None
        finally:
            spark.catalog.dropTempView(QUERY_VIEW_NAME)
    return metrics


def compute_metrics(
    df: DataFrame,
    source: SpecsOrContract,
    *,
    unique_strategy: str = "exact",
) -> dict[str, Any]:
    """All contract metrics in one aggregate action (+ one job per raw
    ``query`` rule, which is irreducible).

    Returns ``{"row_count": n, "violations.<key>": int, "query_<name>": x}``
    — same keys as the reference (data_quality.py:116-193).
    """
    specs = _as_specs(source)
    exprs = metric_sql(
        specs, unique_strategy=unique_strategy, available_columns=df.columns
    )
    metrics = metrics_from_row(df.selectExpr(*exprs).collect()[0].asDict())
    metrics.update(query_metrics(df, specs))
    return metrics


def metrics_dataframe(
    df: DataFrame,
    source: SpecsOrContract,
    *,
    unique_strategy: str = "exact",
) -> DataFrame:
    """The one-pass metric aggregation as a 1-row DataFrame (lazy)."""
    return df.selectExpr(*metric_sql(source, unique_strategy=unique_strategy))


def observe_metrics(
    df: DataFrame,
    source: SpecsOrContract,
    *,
    name: str = "dc43_metrics",
) -> tuple[DataFrame, Observation]:
    """Attach metrics to ``df`` via ``DataFrame.observe`` — the metrics ride
    along with whatever action consumes the frame (a write, a stream batch),
    costing zero extra scans. Unique metrics are excluded (Spark forbids
    distinct aggregates in observations); callers needing them run
    ``compute_metrics`` separately or accept approx in a later pass.
    """
    obs = Observation(name)
    exprs = metric_expressions(source, include_unique=False)
    return df.observe(obs, *exprs), obs


#: an ``Observation.get`` dict carries the same aliases
observation_to_metrics = metrics_from_row
