"""Streaming contract enforcement.

Two mechanisms (SURVEY §2.6):

1. ``StreamingGovernedWriter`` — a ``foreachBatch`` sink that validates each
   micro-batch with the single-pass metrics kernel, appends a timeline record
   ``{batch_id, timestamp, row_count, violations, status}`` (shape from ref
   streaming.py:258-291), routes rows through the violation strategy, and
   enforces a kill-switch: after ``max_failed_batches`` blocking batches the
   query raises and Structured Streaming stops it (ref streaming.py:302-317,
   461-495). Dataset-version templates ``{batch_id}``/``{timestamp}``/
   ``{unix_timestamp}`` mirror ref common.py:44-63.

2. ``observe_stream`` + ``MetricsQueryListener`` — attach the metric
   expressions via ``DataFrame.observe`` so they ride along with the sink's
   own job at ZERO extra scans, surfaced per batch through
   ``StreamingQueryListener`` progress events. This is the idiomatic
   replacement for the reference's recompute-per-batch observation writer
   (streaming.py:350-497) and the right default at scale.

Evaluation stays driver-side in both paths — no service objects are pickled
to executors (avoids the reference's Spark Connect pickling dance,
streaming.py:153-234).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQueryListener

from dc43_spark.contracts.model import Contract
from dc43_spark.engine.metrics import compute_metrics, observation_to_metrics
from dc43_spark.engine.results import ValidationResult
from dc43_spark.engine.validation import apply_contract, evaluate_contract
from dc43_spark.contracts.schema import schema_snapshot
from dc43_spark.expectations.compiler import expectation_specs, row_predicates
from dc43_spark.io.violation_strategy import (
    NoOpWriteViolationStrategy,
    WriteStrategyContext,
    WriteViolationStrategy,
)
from dc43_spark.io.write import execute_write_plan


def format_dataset_version(
    template: str, *, batch_id: int, now: Optional[datetime] = None
) -> str:
    """``{batch_id}`` / ``{timestamp}`` / ``{unix_timestamp}`` templates."""
    ts = now or datetime.now(timezone.utc)
    return (
        template.replace("{batch_id}", str(batch_id))
        .replace("{timestamp}", ts.strftime("%Y%m%dT%H%M%SZ"))
        .replace("{unix_timestamp}", str(int(ts.timestamp())))
    )


@dataclass
class BatchRecord:
    batch_id: int
    timestamp: str
    row_count: int
    violations: int
    status: str
    metrics: dict[str, Any] = field(default_factory=dict)


class StreamingEnforcementError(RuntimeError):
    def __init__(self, message: str, record: BatchRecord) -> None:
        super().__init__(message)
        self.record = record


InterventionStrategy = Callable[[BatchRecord, int], Optional[str]]
"""(record, consecutive_failed) -> 'stop' | None (continue)."""


class StreamingGovernedWriter:
    """Contract-governed ``foreachBatch`` sink with timeline + kill-switch."""

    def __init__(
        self,
        contract: Optional[Contract] = None,
        *,
        product: Optional[str] = None,
        port: Optional[str] = None,
        registry=None,
        path: Optional[str] = None,
        table: Optional[str] = None,
        format: Optional[str] = "parquet",
        mode: str = "append",
        options: Optional[dict[str, str]] = None,
        strategy: Optional[WriteViolationStrategy] = None,
        enforce: bool = True,
        max_failed_batches: int = 1,
        intervention: Optional[InterventionStrategy] = None,
        version_template: Optional[str] = None,
        skip_empty_batches: bool = True,
        on_batch: Optional[Callable[[BatchRecord], None]] = None,
        txn_app_id: Optional[str] = None,
    ) -> None:
        # port-bound streaming sink: same resolution as batch writes
        if contract is None:
            from dc43_spark.io.read import resolve_port_contract

            contract = resolve_port_contract(
                registry, product, port, operation="write"
            )
        elif product is not None or port is not None:
            raise ValueError("pass either contract= or product=/port=, not both")
        self.contract = contract
        self.path = path
        self.table = table
        self.format = format
        self.mode = mode
        self.options = dict(options or {})
        self.strategy = strategy or NoOpWriteViolationStrategy()
        self.enforce = enforce
        self.max_failed_batches = max_failed_batches
        self.intervention = intervention
        self.version_template = version_template
        self.skip_empty_batches = skip_empty_batches
        self.on_batch = on_batch
        #: opt-in exactly-once: per-batch (txn_app_id, batch_id) options on
        #: every write request — honored natively by snaplog (write_txn)
        #: and by Delta's writer (the option names ARE Delta's txnAppId/
        #: txnVersion), so replayed micro-batches dedupe at the sink.
        #: Opt-in because two independent queries appending the same
        #: target under one app id would wrongly skip each other.
        self.txn_app_id = txn_app_id
        self.timeline: list[BatchRecord] = []
        self._failed = 0
        self._lock = threading.Lock()
        self._specs = expectation_specs(contract)
        self._predicates = row_predicates(self._specs)

    # -- per-batch processing (ref streaming.py:350-497) -------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.skip_empty_batches and batch_df.isEmpty():
            return
        metrics = compute_metrics(batch_df, self._specs)
        validation = evaluate_contract(
            self.contract,
            schema=schema_snapshot(batch_df),
            metrics=metrics,
            operation="write",
        )
        record = BatchRecord(
            batch_id=batch_id,
            timestamp=datetime.now(timezone.utc).isoformat(),
            row_count=int(metrics.get("row_count", 0)),
            violations=validation.violations_total,
            status=validation.status,
            metrics=metrics,
        )
        with self._lock:
            self.timeline.append(record)
            if validation.status == "block":
                self._failed += 1
            else:
                self._failed = 0
            failed = self._failed
        if self.on_batch:
            self.on_batch(record)

        blocked = validation.status == "block"
        if blocked and self.enforce:
            decision = (
                self.intervention(record, failed)
                if self.intervention
                else ("stop" if failed >= self.max_failed_batches else None)
            )
            if decision == "stop":
                raise StreamingEnforcementError(
                    f"batch {batch_id} blocked "
                    f"({record.violations} violations, {failed} consecutive failures)",
                    record,
                )
            return  # intervened: drop the batch, keep the query alive

        aligned = apply_contract(batch_df, self.contract)
        ctx = WriteStrategyContext(
            df=batch_df,
            aligned_df=aligned,
            validation=validation,
            predicates=self._predicates,
            path=self._versioned(self.path, batch_id),
            table=self.table,
            format=self.format,
            mode=self.mode,
            options={
                **self.options,
                **(
                    {"txnAppId": self.txn_app_id, "txnVersion": str(batch_id)}
                    if self.txn_app_id
                    else {}
                ),
            },
        )
        plan = self.strategy.plan(ctx)
        if plan.fail_message:
            raise StreamingEnforcementError(plan.fail_message, record)
        execute_write_plan(plan.requests)

    def _versioned(self, path: Optional[str], batch_id: int) -> Optional[str]:
        if path is None or not self.version_template:
            return path
        sub = format_dataset_version(self.version_template, batch_id=batch_id)
        return path.rstrip("/") + "/" + sub

    # -- query wiring -------------------------------------------------------
    def start(
        self,
        df: DataFrame,
        *,
        checkpoint: str,
        query_name: str = "dc43_governed_write",
        trigger: Optional[dict[str, Any]] = None,
    ):
        writer = (
            df.writeStream.foreachBatch(self.process_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .queryName(query_name)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()


# ---------------------------------------------------------------- observe


def observe_stream(df: DataFrame, contract: Contract, *, name: str = "dc43_metrics"):
    """Attach single-pass metric expressions to a streaming frame; metrics
    surface in each batch's progress event (zero extra scans).

    Uses the string-named ``observe`` form — ``Observation`` objects are
    batch-only; streaming metrics arrive via ``StreamingQueryListener``."""
    from dc43_spark.engine.metrics import metric_expressions

    exprs = metric_expressions(contract, include_unique=False, available_columns=df.columns)
    return df.observe(name, *exprs)


class MetricsQueryListener(StreamingQueryListener):
    """Collects per-batch observed metrics + verdicts from progress events.

    Driver-side only; pair with ``observe_stream``. ``timeline`` mirrors the
    foreachBatch writer's records so downstream governance code can consume
    either source interchangeably.
    """

    def __init__(
        self,
        contract: Contract,
        *,
        observation_name: str = "dc43_metrics",
        on_batch: Optional[Callable[[BatchRecord], None]] = None,
    ) -> None:
        self.contract = contract
        self.observation_name = observation_name
        self.on_batch = on_batch
        self.timeline: list[BatchRecord] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryProgress(self, event) -> None:
        progress = event.progress
        observed = (progress.observedMetrics or {}).get(self.observation_name)
        if observed is None:
            return
        metrics = observation_to_metrics(observed.asDict())
        # metrics-only verdict (schema was checked once at stream start):
        # any violation warns; not_null (required) failures block writes
        violations = 0
        status = "ok"
        for key, v in metrics.items():
            if key.startswith("violations.") and int(v or 0) > 0:
                violations += int(v)
                spec_key = key[len("violations.") :]
                status = "block" if spec_key.startswith("not_null_") else (
                    status if status == "block" else "warn"
                )
        record = BatchRecord(
            batch_id=progress.batchId,
            timestamp=progress.timestamp,
            row_count=int(metrics.get("row_count", 0)),
            violations=violations,
            status=status,
            metrics=metrics,
        )
        with self._lock:
            self.timeline.append(record)
        if self.on_batch:
            self.on_batch(record)

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryIdle(self, event) -> None:  # pragma: no cover - no-op
        pass
