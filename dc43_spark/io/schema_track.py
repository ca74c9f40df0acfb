"""Streaming schema-tracking log — delta-spark's
``schemaTrackingLocation`` (r14, VERDICT r13 #2).

delta-spark's streaming sources cannot serve a NON-additive schema
change (rename, drop, type change) mid-stream: the query's schema is
fixed at start. With ``schemaTrackingLocation`` set, the source
persists a tiny schema log under the caller-supplied directory
(conventionally inside the query's checkpoint) and follows the
documented evolution ladder (delta-spark
``DeltaSourceMetadataTrackingLog``):

1. stream start, empty log: the resolved source schema is recorded as
   entry 0 (keyed by the commit version it was resolved at);
2. the offset walk hits a schema-bearing commit ``v`` with a DIFFERENT
   schema: the source appends entry ``{v, new schema}`` and fails the
   query ONCE with a restart pointer — never silently misreading rows;
3. the restart resolves its schema FROM THE LOG (the evolved schema),
   sets its schema epoch to ``v``, and replays the pending range clean
   — commits at-or-after ``v`` read natively, commits before it read
   under the evolved schema through the same executor kernel every
   historical read uses (NULL-fill for added columns, physical-name
   mapping for renames, widening casts) — so each restart processes
   exactly one schema generation and no commit is lost or duplicated.

The log itself is write-once-per-entry JSON (``0.json``, ``1.json``,
...), claimed through the commit loop both table formats use
(``tablecore.commit_loop`` over ``LinkCommitClaimer``: temp file +
atomic ``os.link``) so two racing drivers cannot both record entry N.
Entries carry the owning table's path and (for Delta) its
``metaData.id`` — reusing one tracking directory for a different table
refuses instead of serving the wrong schema.

Reference surface: delta-spark option ``schemaTrackingLocation``
(docs "Delta table streaming reads and writes — schema tracking");
the reference repo delegates this to the delta-spark jar, so this is
a from-scratch implementation of the documented contract.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from dc43_spark.io.tablecore import Done, LinkCommitClaimer, commit_loop


class SchemaTrackingError(ValueError):
    """The tracking log refuses: wrong table, or a corrupt entry."""


class SchemaTrackingLog:
    """Persisted schema-generation log under ``location``.

    One JSON file per entry, named by sequence number; the live schema
    is the highest sequence. Entries are immutable once claimed."""

    def __init__(self, location: str):
        self.dir = location

    def _entries(self) -> list[int]:
        if not os.path.isdir(self.dir):
            return []
        out = []
        for n in os.listdir(self.dir):
            stem, ext = os.path.splitext(n)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def latest(self) -> Optional[dict]:
        seqs = self._entries()
        if not seqs:
            return None
        with open(os.path.join(self.dir, f"{seqs[-1]}.json")) as fh:
            entry = json.load(fh)
        entry["seq"] = seqs[-1]
        return entry

    def append(self, entry: dict) -> dict:
        """Claim the next sequence number for ``entry`` (atomic link —
        a racing writer loses and re-reads, up to
        ``tablecore.CLAIM_TRIES`` times). Returns the stored entry.
        Appending a fingerprint the latest entry already carries is a
        no-op (idempotent under offset-walk replays)."""

        def attempt():
            latest = self.latest()
            if (
                latest is not None
                and latest.get("schema_json") == entry.get("schema_json")
                and latest.get("partition_columns")
                == entry.get("partition_columns")
            ):
                return Done(latest)
            seq = 0 if latest is None else latest["seq"] + 1
            return seq, json.dumps(
                {k: v for k, v in entry.items() if k != "seq"},
                sort_keys=True,
            )

        got = commit_loop(
            attempt, claimer=LinkCommitClaimer(), log_dir=self.dir,
            path=self.dir, error=SchemaTrackingError,
            name=lambda seq: f"{seq}.json",
        )
        return got if isinstance(got, dict) else {**entry, "seq": got}

    def validate_owner(self, table_path: str, table_id: Optional[str]) -> None:
        """Refuse a tracking directory that belongs to a DIFFERENT
        table — serving table A's schema for table B's files is silent
        corruption. Identity = normalized table path, plus the Delta
        ``metaData.id`` when both sides have one (survives moves)."""
        entry = self.latest()
        if entry is None:
            return
        e_id = entry.get("table_id")
        if table_id and e_id and e_id != table_id:
            raise SchemaTrackingError(
                f"schemaTrackingLocation {self.dir} tracks table id "
                f"{e_id!r}, not {table_id!r}; use a fresh location per "
                "source table"
            )
        e_path = entry.get("table_path")
        if (
            e_path
            and not (table_id and e_id)
            and os.path.abspath(e_path) != os.path.abspath(table_path)
        ):
            raise SchemaTrackingError(
                f"schemaTrackingLocation {self.dir} tracks "
                f"{e_path!r}, not {table_path!r}; use a fresh location "
                "per source table"
            )
