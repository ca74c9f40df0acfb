"""Governed batch write: validate -> align -> strategy plan -> execute.

ref: dc43-integrations spark/io/write.py:36-106 and BaseWriteExecutor
(spark/io/base.py:672-992).

Cost-shape improvements over the reference (SURVEY §4):
- pre-write validation is ONE aggregate pass (not job-per-rule);
- a plan's writes run at once (``execute_write_plan``), so Split's valid
  and reject saves overlap their driver work (planning, committer set-up,
  job commit) instead of queueing behind each other. Each save re-reads
  the source, as the reference does per subset (violation_strategy.py:
  297-343): a scan-backed frame is cheaper to re-read than to cache. A
  100k-row parquet split write (perfbench ``governed_ingest``, 4-core VM,
  interleaved in one session) took 0.70 s with the cache, 0.65 s without
  it, and 0.58 s without it and with overlapping saves (medians of 16).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (re-export convenience)

from dc43_spark.contracts.model import Contract
from dc43_spark.contracts.schema import schema_snapshot
from dc43_spark.engine.metrics import compute_metrics
from dc43_spark.engine.results import ValidationResult
from dc43_spark.engine.validation import apply_contract, evaluate_contract
from dc43_spark.expectations.compiler import expectation_specs, row_predicates
from dc43_spark.io.read import (
    DEFAULT_ALLOWED_STATUSES,
    ValidationBlockedError,
    check_contract_status,
)
from dc43_spark.io.tablecore import stage_concurrently
from dc43_spark.io.violation_strategy import (
    NoOpWriteViolationStrategy,
    WriteRequest,
    WriteStrategyContext,
    WriteViolationStrategy,
)


@dataclass
class WriteResult:
    validation: ValidationResult
    requests: list[WriteRequest] = field(default_factory=list)
    written: list[str] = field(default_factory=list)  # dataset ids written


def _dataset_id(req: WriteRequest) -> str:
    base = f"table:{req.table}" if req.table else f"path:{req.path}"
    return base + (req.dataset_suffix or "")


def execute_write_request(req: WriteRequest, writer_modifier=None) -> None:
    """One physical batch write (ref base.py:984-990).

    ``writer_modifier`` is the reference's writer-hook extension point
    (base.py:971, 988): a callable receiving the configured
    ``DataFrameWriter`` and returning a (possibly re-configured) writer —
    e.g. to add ``partitionBy``/``bucketBy`` for scale layouts."""
    if req.format == "snaplog":
        from dc43_spark.io.snaplog import SnaplogTable

        if req.table or not req.path:
            raise ValueError("snaplog targets are path-based")
        table = SnaplogTable(req.df.sparkSession, req.path)
        opts = req.options or {}
        app_id, txn_version = opts.get("txnAppId"), opts.get("txnVersion")
        if app_id is not None and txn_version is not None:
            # Delta's idempotent-writer option names, honored by the
            # in-repo format: (app, version) lands at most once
            if req.mode != "append":
                raise ValueError("snaplog txn writes are append-only")
            table.write_txn(req.df, app_id=str(app_id), version=int(txn_version))
            return
        table.write(req.df, mode=req.mode)
        return
    if req.format == "delta" and req.path:
        from dc43_spark.io.merge import delta_available

        if not delta_available():
            # jar-less protocol writer: create / append / overwrite with
            # constraint+invariant validation (io/delta_log.py delta_write);
            # row-mutating ops still need the jar or snaplog + sync mirror
            from dc43_spark.io.delta_log import delta_write

            opts = req.options or {}
            app_id, txn_version = opts.get("txnAppId"), opts.get("txnVersion")
            txn = (
                {"appId": str(app_id), "version": int(txn_version)}
                if app_id is not None and txn_version is not None
                else None
            )
            # honor the delta-spark writer option spellings the governed
            # route forwards: mergeSchema (additive evolution) and a
            # comma-separated partitionBy (new-table layout)
            pb = opts.get("partitionBy")
            delta_write(
                req.df.sparkSession, req.df, req.path, mode=req.mode, txn=txn,
                merge_schema=str(opts.get("mergeSchema", "")).lower() == "true",
                partition_by=(
                    [c.strip() for c in str(pb).split(",") if c.strip()]
                    if pb else None
                ),
            )
            return
    writer = req.df.write.mode(req.mode)
    if req.format:
        writer = writer.format(req.format)
    if req.options:
        writer = writer.options(**req.options)
    if writer_modifier is not None:
        writer = writer_modifier(writer) or writer
    if req.table:
        writer.saveAsTable(req.table)
    else:
        writer.save(req.path)


def _nests(a: WriteRequest, b: WriteRequest) -> bool:
    """Whether two requests write overlapping targets: the same table, or
    two paths one of which lies under (or is) the other."""
    if a.table or b.table:
        return a.table == b.table
    if not (a.path and b.path):
        return False
    pa, pb = a.path.rstrip("/") + "/", b.path.rstrip("/") + "/"
    return pa.startswith(pb) or pb.startswith(pa)


def execute_write_plan(requests: list[WriteRequest], writer_modifier=None) -> list[str]:
    """Run a plan's write requests; return their dataset ids in plan order.

    Requests run at once through ``tablecore.stage_concurrently``, whose
    pool threads keep the caller's job group and local properties. One
    ordering rule: requests whose targets nest do not overlap. A request
    that nests with one in the current batch starts the next batch, so
    Split's ``write_primary`` overwrite of ``<p>`` lands before the writes
    under ``<p>/valid`` and ``<p>/reject`` start. A failing request
    raises after its batch's other writes finish; later batches never
    start."""
    batches: list[list[WriteRequest]] = []
    for req in requests:
        if not batches or any(_nests(req, other) for other in batches[-1]):
            batches.append([])
        batches[-1].append(req)
    for batch in batches:
        stage_concurrently([
            lambda req=req: execute_write_request(req, writer_modifier) for req in batch
        ])
    return [_dataset_id(req) for req in requests]


def write_with_contract(
    df: DataFrame,
    contract: Optional[Contract] = None,
    *,
    product: Optional[str] = None,
    port: Optional[str] = None,
    registry: Optional[object] = None,
    path: Optional[str] = None,
    table: Optional[str] = None,
    format: Optional[str] = None,
    mode: str = "append",
    options: Optional[dict[str, str]] = None,
    strategy: Optional[WriteViolationStrategy] = None,
    enforce: bool = True,
    auto_cast: bool = True,
    allowed_statuses: tuple[str, ...] = DEFAULT_ALLOWED_STATUSES,
    unique_strategy: str = "exact",
    locator: Optional["DatasetLocator"] = None,
    interceptors: Optional[list["GovernanceInterceptor"]] = None,
    writer_modifier: Optional[callable] = None,
) -> WriteResult:
    """Write a DataFrame under contract governance.

    Pre-write validation runs on the INCOMING frame; ``enforce`` raises
    before any write when the verdict blocks (write violations block —
    ref local.py:1990-2003, base.py:798-799). The violation strategy then
    shapes the physical writes (split/flag/strict).

    Instead of a ``contract``, pass ``registry=``, ``product=`` and
    ``port=`` to write through the product's OUTPUT port binding.

    The write caches nothing: validation and each physical write read
    ``df`` anew. A caller whose ``df`` is costly to recompute (a wide
    join, a Python UDF) persists it before the call and owns that
    persist, unpersisting it afterwards."""
    if contract is None:
        from dc43_spark.io.read import resolve_port_contract

        contract = resolve_port_contract(registry, product, port, operation="write")
    elif product is not None or port is not None:
        raise ValueError("pass either contract= or product=/port=, not both")
    check_contract_status(contract, allowed_statuses, enforce=enforce)
    if locator is not None:
        from dc43_spark.io.locators import DatasetResolution

        res = locator.for_write(
            contract,
            DatasetResolution(
                path=path, table=table, format=format, options=dict(options or {})
            ),
        )
        path, table, format = res.path, res.table, res.format
        options = res.options
        dataset_version = res.dataset_version
    if path is None and table is None:
        for server in contract.servers:
            path, table = server.path, server.table
            format = format or server.format
            if path or table:
                break
    if path is None and table is None:
        raise ValueError("write target missing: no path/table and no contract server")
    if format is None and path is not None:
        format = "parquet"

    if interceptors is None:
        from dc43_spark.io.status import discover_interceptors

        interceptors = discover_interceptors(df.sparkSession, "write")
    io_ctx = None
    if interceptors:
        from dc43_spark.io.status import IoContext

        io_ctx = IoContext(
            operation="write", contract=contract,
            path=path, table=table, format=format,
        )
        for hook in interceptors:
            replacement = hook.pre_write(io_ctx, df)
            if replacement is not None:
                df = replacement

    snapshot = schema_snapshot(df)
    metrics = compute_metrics(df, contract, unique_strategy=unique_strategy)
    validation = evaluate_contract(
        contract, schema=snapshot, metrics=metrics, operation="write"
    )
    if enforce and validation.status == "block":
        raise ValidationBlockedError(
            f"write blocked for {contract.id}:{contract.version}: {validation.errors}",
            validation,
        )

    aligned = apply_contract(df, contract, auto_cast=auto_cast)
    strategy = strategy or NoOpWriteViolationStrategy()
    specs = expectation_specs(contract)
    ctx = WriteStrategyContext(
        df=df,
        aligned_df=aligned,
        validation=validation,
        predicates=row_predicates(specs),
        path=path,
        table=table,
        format=format,
        mode=mode,
        options=dict(options or {}),
    )
    plan = strategy.plan(ctx)

    if plan.fail_message:
        # Strict strategy fails the write even when executor-level
        # enforcement is off (ref violation_strategy.py:585-623)
        raise ValidationBlockedError(plan.fail_message, validation)
    written = execute_write_plan(plan.requests, writer_modifier)
    if (
        format == "snaplog"
        and path is not None
        and locator is not None
        and dataset_version
        and dataset_version != "latest"
    ):
        # governance versions == table refs: tag the committed head so
        # read pins by the SAME symbolic version resolve format-level
        # time travel (re-writing a version moves its tag, matching the
        # folder-per-version strategy's replace semantics). Mirror the
        # read-side routing (locators.py ContractVersionLocator.for_read):
        # pure digits resolve as versionAsOf and ISO instants as
        # timestampAsOf, so tagging those would create a ref the reader
        # never consults — and instants contain ':'/'+' which the tag-name
        # grammar rejects AFTER the data commit, turning a landed write
        # into an error whose retry duplicates the append.
        from dc43_spark.io.locators import _is_instant
        from dc43_spark.io.snaplog import SnaplogTable, SnapshotConflictError

        version_str = str(dataset_version)
        if not version_str.isdigit() and not _is_instant(version_str):
            tagger = SnaplogTable(df.sparkSession, path)
            try:
                tagger.create_tag(version_str, replace=True)
            except SnapshotConflictError:
                # a concurrent commit raced the ref update; the data is
                # already durable, so retry the tag once rather than
                # failing (and re-running) the whole write
                tagger.create_tag(version_str, replace=True)
    if interceptors:
        for hook in interceptors:
            hook.post_write(io_ctx, validation)
    return WriteResult(validation=validation, requests=plan.requests, written=written)
