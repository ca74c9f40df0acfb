"""Governance orchestrator: evaluate datasets, persist verdicts, link, draft.

ref: dc43-service-backends governance/backend/local.py —
``evaluate_dataset`` :232-331, verdict derivation :1958-2016, links :425-454,
pipeline activity :490-930, draft-on-violation hook :2018-2061.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame

from dc43_spark.contracts.drafting import DraftResult, draft_on_violation
from dc43_spark.contracts.model import Contract
from dc43_spark.contracts.schema import schema_snapshot
from dc43_spark.contracts.store import ContractStore, MemoryContractStore
from dc43_spark.engine.metrics import compute_metrics
from dc43_spark.engine.results import ValidationResult
from dc43_spark.engine.validation import evaluate_contract
from dc43_spark.governance.stores import GovernanceStore, MemoryGovernanceStore


def _utcnow_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


@dataclass
class EvaluationOutcome:
    validation: ValidationResult
    dataset_id: str
    dataset_version: str
    contract_id: str
    contract_version: str
    draft: Optional[DraftResult] = None


@dataclass
class GovernanceService:
    """In-process governance backend (the reference's local backend collapsed
    to one object; remote/HTTP topology is deployment plumbing, not engine
    capability — SURVEY §7.1)."""

    contract_store: ContractStore = field(default_factory=MemoryContractStore)
    store: GovernanceStore = field(default_factory=MemoryGovernanceStore)
    clock: Callable[[], str] = _utcnow_iso
    draft_on_block: bool = False
    # called after every dataset<->contract link with
    # (dataset_id, dataset_version, contract_id, contract_version) —
    # catalog sync (e.g. catalog_sync.UnityCatalogLinkHook) plugs in here
    # (ref local.py:425-454 runs its hook list at the same point)
    link_hooks: list[Callable[[str, str, str, str], None]] = field(default_factory=list)

    # -- contract resolution (ref local.py:932-988) -----------------------
    def resolve_contract(self, contract_id: str, selector: str = "latest") -> Contract:
        contract = self.contract_store.resolve(contract_id, selector)
        if contract is None:
            raise LookupError(f"no contract {contract_id} matching {selector!r}")
        return contract

    # -- evaluation (ref local.py:232-331) --------------------------------
    def evaluate_dataset(
        self,
        df: DataFrame,
        contract: Contract,
        *,
        dataset_id: str,
        dataset_version: str = "latest",
        operation: str = "read",
        pipeline: str = "pipeline",
        unique_strategy: str = "exact",
        track_drift: bool = False,
        validation: Optional[ValidationResult] = None,
    ) -> EvaluationOutcome:
        """Judge ``df`` against ``contract`` and record the verdict.
        ``validation`` is a verdict already computed for these rows (e.g.
        ``MergeResult.validation``): it is recorded as is, and no metrics
        pass runs."""
        if validation is None:
            validation = evaluate_contract(
                contract,
                schema=schema_snapshot(df),
                metrics=compute_metrics(df, contract, unique_strategy=unique_strategy),
                operation=operation,
            )
        profile_doc = None
        if track_drift:
            # profile THIS version (one extra aggregate pass) and diff
            # against the newest previously-stored profile: drifting
            # columns surface as verdict warnings, and the profile rides
            # in the status payload so the NEXT version diffs without
            # ever re-reading this data
            from dc43_spark.contracts.profiling import (
                profile_columns,
                profile_drift,
                profile_from_dict,
                profile_to_dict,
            )

            profile_doc = profile_to_dict(profile_columns(df))
            prior = [
                row
                for row in self.store.status_matrix(dataset_id)
                if row.get("profile") and row.get("dataset_version") != dataset_version
            ]
            if prior:
                prior.sort(key=lambda r: str(r.get("recorded_at", "")))
                report = profile_drift(
                    profile_from_dict(prior[-1]["profile"]),
                    profile_from_dict(profile_doc),
                )
                drifted = report.significant()
                if drifted:
                    validation = validation.merge(
                        ValidationResult(
                            warnings=[
                                "drift vs "
                                f"{prior[-1]['dataset_version']}: "
                                + ", ".join(drifted)
                            ],
                            status="warn",
                        )
                    )
        draft: Optional[DraftResult] = None
        if self.draft_on_block and validation.status == "block":
            draft = draft_on_violation(
                contract,
                validation=validation,
                observed_df=df,
                dataset_id=dataset_id,
                pipeline=pipeline,
            )
            self.contract_store.put(draft.contract)

        payload: dict[str, Any] = {
            "status": validation.status,
            "ok": validation.ok,
            "errors": validation.errors,
            "warnings": validation.warnings,
            "metrics": validation.metrics,
            "contract_id": contract.id,
            "contract_version": contract.version,
            "operation": operation,
            "recorded_at": self.clock(),
            **({"draft_version": draft.contract.version} if draft else {}),
            **({"profile": profile_doc} if profile_doc else {}),
        }
        self.store.save_status(dataset_id, dataset_version, payload)
        self.store.link(dataset_id, contract.id, contract.version)
        for hook in self.link_hooks:
            hook(dataset_id, dataset_version, contract.id, contract.version)
        self.store.record_activity(
            {
                "dataset_id": dataset_id,
                "dataset_version": dataset_version,
                "contract_id": contract.id,
                "contract_version": contract.version,
                "operation": operation,
                "pipeline": pipeline,
                "status": validation.status,
                "recorded_at": payload["recorded_at"],
            }
        )
        return EvaluationOutcome(
            validation=validation,
            dataset_id=dataset_id,
            dataset_version=dataset_version,
            contract_id=contract.id,
            contract_version=contract.version,
            draft=draft,
        )

    # -- record access ----------------------------------------------------
    def dataset_status(self, dataset_id: str, dataset_version: str = "latest"):
        return self.store.load_status(dataset_id, dataset_version)

    def dataset_contract(self, dataset_id: str):
        return self.store.get_link(dataset_id)

    def pipeline_activity(self, dataset_id: Optional[str] = None):
        return self.store.activity(dataset_id)

    def status_matrix(self, dataset_id: str):
        return self.store.status_matrix(dataset_id)
