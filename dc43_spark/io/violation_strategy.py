"""Write violation strategies: what to do with rows that fail the contract.

ref: dc43-integrations spark/violation_strategy.py —
NoOp :156-208, Split :211-417, Flag :420-522, Strict :526-623.

Semantics parity:
- Split valid side filters on the CONJUNCTION of row-level predicates; the
  reject side on ``NOT (conjunction)``. Rows whose conjunction evaluates to
  NULL land in NEITHER subset — exactly like the reference's two
  ``df.filter`` calls (:285, :297). Dataset ids get ``::valid``/``::reject``
  suffixes and paths/tables ``<p>/valid`` | ``<t>_reject`` (:291-294).
- Flag appends an array column (default ``_corrupted_data``) holding the
  violated rule keys per row, empty -> NULL (:499-522).

Scale notes (100 TB): the strategy receives the aligned DataFrame
uncached, and each subset's write re-reads the source as the reference
does (violation_strategy.py:297-343): a scan-backed frame is cheaper to
re-read than to cache, and the writer overlaps the subsets' saves
(``io/write.py::execute_write_plan``). Filters are plain Catalyst
predicates so both subsets pushdown/prune; the flag column is a single
projection, no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional, Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dc43_spark.engine.results import ValidationResult


@dataclass
class WriteRequest:
    """One physical write to perform."""

    df: DataFrame
    path: Optional[str] = None
    table: Optional[str] = None
    format: Optional[str] = None
    mode: str = "append"
    options: dict[str, str] = field(default_factory=dict)
    dataset_suffix: Optional[str] = None  # "::valid" / "::reject"


@dataclass
class WriteStrategyContext:
    df: DataFrame  # raw incoming frame
    aligned_df: DataFrame  # after apply_contract (not cached)
    validation: ValidationResult
    predicates: dict[str, str]  # key -> row-level SQL predicate
    path: Optional[str] = None
    table: Optional[str] = None
    format: Optional[str] = None
    mode: str = "append"
    options: dict[str, str] = field(default_factory=dict)

    def base_request(self, df: Optional[DataFrame] = None) -> WriteRequest:
        return WriteRequest(
            df=df if df is not None else self.aligned_df,
            path=self.path,
            table=self.table,
            format=self.format,
            mode=self.mode,
            options=dict(self.options),
        )

    @property
    def conjunction(self) -> Optional[str]:
        if not self.predicates:
            return None
        return " AND ".join(f"({p})" for p in self.predicates.values())


@dataclass
class WritePlan:
    requests: list[WriteRequest]
    fail_message: Optional[str] = None  # Strict: raise after planning


class WriteViolationStrategy(Protocol):
    def plan(self, ctx: WriteStrategyContext) -> WritePlan: ...


class NoOpWriteViolationStrategy:
    """Write the aligned frame as-is (ref :156-208)."""

    def plan(self, ctx: WriteStrategyContext) -> WritePlan:
        return WritePlan([ctx.base_request()])


class SplitWriteViolationStrategy:
    """Route passing rows to ``<target>/valid`` and failing rows to
    ``<target>/reject`` (tables: ``<t>_valid`` / ``<t>_reject``).

    ``write_primary`` additionally writes the full frame to the base target
    (ref ``include_full`` behaviour)."""

    def __init__(
        self,
        *,
        valid_suffix: str = "valid",
        reject_suffix: str = "reject",
        write_primary: bool = False,
        include_valid: bool = True,
        include_reject: bool = True,
    ) -> None:
        self.valid_suffix = valid_suffix
        self.reject_suffix = reject_suffix
        self.write_primary = write_primary
        self.include_valid = include_valid
        self.include_reject = include_reject

    def _derive(self, req: WriteRequest, suffix: str) -> WriteRequest:
        out = replace(req, options=dict(req.options), dataset_suffix=f"::{suffix}")
        if req.path:
            out.path = req.path.rstrip("/") + "/" + suffix
        if req.table:
            out.table = f"{req.table}_{suffix}"
        return out

    def plan(self, ctx: WriteStrategyContext) -> WritePlan:
        conj = ctx.conjunction
        if conj is None or ctx.validation.violations_total == 0:
            return WritePlan([ctx.base_request()])
        requests: list[WriteRequest] = []
        if self.write_primary:
            requests.append(ctx.base_request())
        if self.include_valid:
            requests.append(
                self._derive(ctx.base_request(ctx.aligned_df.filter(conj)), self.valid_suffix)
            )
        if self.include_reject:
            requests.append(
                self._derive(
                    ctx.base_request(ctx.aligned_df.filter(f"NOT ({conj})")),
                    self.reject_suffix,
                )
            )
        return WritePlan(requests)


class FlagWriteViolationStrategy:
    """Append an array column naming the violated rules per row (ref :420-522)."""

    def __init__(self, column: str = "_corrupted_data") -> None:
        self.column = column

    def plan(self, ctx: WriteStrategyContext) -> WritePlan:
        if not ctx.predicates:
            return WritePlan([ctx.base_request()])
        flags = F.array_compact(
            F.array(
                *[
                    F.when(~F.expr(pred), F.lit(key))
                    for key, pred in ctx.predicates.items()
                ]
            )
        )
        flagged = ctx.aligned_df.withColumn(
            self.column, F.when(F.size(flags) > 0, flags)
        )
        return WritePlan([ctx.base_request(flagged)])


class StrictWriteViolationStrategy:
    """Decorator: plan via the wrapped strategy, then fail the write when any
    blocking violation exists (ref :526-623)."""

    def __init__(self, wrapped: Optional[WriteViolationStrategy] = None) -> None:
        self.wrapped = wrapped or NoOpWriteViolationStrategy()

    def plan(self, ctx: WriteStrategyContext) -> WritePlan:
        plan = self.wrapped.plan(ctx)
        total = ctx.validation.violations_total
        if total > 0 or not ctx.validation.ok:
            plan.fail_message = (
                f"strict violation strategy: {total} violating rows, "
                f"status={ctx.validation.status}"
            )
        return plan
