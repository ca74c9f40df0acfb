"""The kernel both table formats share: snaplog (``io/snaplog.py``) and the
jar-less Delta log (``io/delta_log.py`` / ``io/delta_dml.py``).

Each format keeps only its adapter — how a staged file becomes a log
entry (a typed snaplog ``FileEntry`` vs a Delta ``add`` action) and how
its commits are laid out. The mechanisms below are decided once:

- **Claiming** a commit: ``CommitClaimer`` (atomic put-if-absent) with
  the POSIX-link and HTTP conditional-put implementations, and
  ``commit_loop``, the one bounded claim-retry loop every commit of
  either format runs through.
- **Footer stats**: per-column min/max/null counts read from a staged
  parquet footer, with a Spark fallback for footers pyarrow can't parse.
- **Staging**: ``stage_parquet`` writes a frame through an invisible
  ``_staging_<uuid>`` dir and moves each file to a per-file UUID name;
  ``stage_concurrently`` overlaps independent staging jobs.
- **Stats-envelope pruning**: pyarrow-style DNF filters checked against
  per-file ``{"min", "max", "nulls"}`` envelopes, row-at-a-time and as
  arrow-compute masks, plus the same predicate as a residual Spark
  ``Column``.
- **Scan keying**: ``uri_suffix`` (a relative path as it ends a scan's
  ``_metadata.file_path``) and ``dv_join_side`` (the broadcast-or-shuffle
  choice for a join against expanded deletion-vector positions).
"""

from __future__ import annotations

import datetime
import decimal
import functools
import operator
import os
import posixpath
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Optional, Protocol, Sequence
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

_STATS_MAX_COLUMNS = 32  # delta-style cap: stats for the first N columns
# Parquet writers may TRUNCATE long binary min/max statistics (parquet-mr
# truncates at 64 bytes; the footer carries no exactness flag pyarrow
# exposes). A truncated max understates the real max and would make
# pruning WRONG, not just loose — so string stats at or beyond this
# length are discarded at commit time and those files are never pruned.
_STATS_MAX_STRING = 64
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


# ---------------- claiming a commit


class CommitClaimer(Protocol):
    """Atomic put-if-absent of a commit manifest — the ONLY primitive the
    log needs from storage. ``claim`` writes ``payload`` to ``dest_name``
    iff no file exists there, returning False (and writing nothing) when
    a rival already claimed it. Implementations: ``LinkCommitClaimer``
    (POSIX/HDFS hard link, the default); an object-store claimer maps to
    the store's conditional put (S3 ``If-None-Match: *``, GCS
    ``ifGenerationMatch=0``, ADLS ``If-None-Match: *``)."""

    def claim(self, log_dir: str, dest_name: str, payload: str) -> bool: ...


class LinkCommitClaimer:
    """Default claimer: write a temp file, ``os.link`` it to the commit
    name. ``link`` is atomic and fails with ``FileExistsError`` when the
    version is taken, so two concurrent committers can never both win."""

    def claim(self, log_dir: str, dest_name: str, payload: str) -> bool:
        os.makedirs(log_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=log_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                fh.write(payload)
            try:
                os.link(tmp, os.path.join(log_dir, dest_name))
            except FileExistsError:
                return False
            return True
        finally:
            os.unlink(tmp)


class HttpCommitClaimer:
    """Object-store claimer: mutual exclusion via HTTP conditional put
    (``PUT If-None-Match: *`` — the S3/GCS/ADLS create-if-absent
    primitive; 412 = a rival already holds the version). After winning,
    the manifest is PUBLISHED to the local log dir so readers see it; in
    a real object store the accepted PUT is itself the publish, so the
    split only exists where (as here) a filesystem mirrors the store.

    Crash recovery: losing a claim whose winner died between the
    store-accept and the publish would strand readers — so on 412 the
    claimer GETs the winning payload and completes the publish
    idempotently (every later writer heals the gap; same trick as
    S3-committer "complete the other guy's commit")."""

    def __init__(self, base_url: str, *, timeout: float = 10.0):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout

    def _url(self, dest_name: str) -> str:
        from urllib.parse import quote

        return f"{self.base_url}/{quote(dest_name)}"

    def claim(self, log_dir: str, dest_name: str, payload: str) -> bool:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self._url(dest_name),
            data=payload.encode(),
            method="PUT",
            headers={"If-None-Match": "*", "Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                if resp.status not in (200, 201):
                    raise OSError(
                        f"conditional put of {dest_name} returned {resp.status}"
                    )
        except urllib.error.HTTPError as exc:
            if exc.code != 412:
                raise
            self._heal(log_dir, dest_name)
            return False
        self._publish(log_dir, dest_name, payload)
        return True

    def _publish(self, log_dir: str, dest_name: str, payload: str) -> None:
        os.makedirs(log_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=log_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(log_dir, dest_name))

    def _heal(self, log_dir: str, dest_name: str) -> None:
        """The version is claimed in the store but may not be published
        locally (winner crashed mid-commit): fetch and publish it."""
        import urllib.request

        if os.path.exists(os.path.join(log_dir, dest_name)):
            return
        with urllib.request.urlopen(self._url(dest_name), timeout=self.timeout) as r:
            self._publish(log_dir, dest_name, r.read().decode())


#: Claims one commit may lose to rivals before it gives up.
CLAIM_TRIES = 20


def commit_name(version: int) -> str:
    """``<version>.json``, zero-padded to 20 digits (both formats)."""
    return f"{version:020d}.json"


@dataclass(frozen=True)
class Done:
    """An attempt's answer that needs no commit (a replayed txn, a no-op
    restore): ``commit_loop`` returns ``value`` without claiming."""

    value: object = None


def commit_loop(
    attempt: Callable[[], "tuple[int, str] | Done"],
    *,
    claimer: CommitClaimer,
    log_dir: str,
    path: str,
    error: type,
    after_claim: Optional[Callable[[int], None]] = None,
    name: Callable[[int], str] = commit_name,
):
    """Claim one commit, retrying on a lost claim. Each pass calls
    ``attempt()``, which re-reads the head, runs the op's own re-checks
    (raising on a real conflict) and returns ``(version, payload)`` to
    claim, or a ``Done`` to return early. A won claim runs
    ``after_claim(version)`` (checkpoint, table properties) and returns
    the version; a lost one re-runs the attempt against the new head.
    After ``CLAIM_TRIES`` lost claims it raises ``error``."""
    for _ in range(CLAIM_TRIES):
        got = attempt()
        if isinstance(got, Done):
            return got.value
        version, payload = got
        if claimer.claim(log_dir, name(version), payload):
            if after_claim is not None:
                after_claim(version)
            return version
    raise error(f"could not claim a commit on {path} after {CLAIM_TRIES} tries")


# ---------------- file entries and footer stats


@dataclass(frozen=True)
class FileEntry:
    """One immutable data file as recorded in the log."""

    path: str  # relative to the table root, e.g. "data/part-...parquet"
    rows: int
    bytes: int
    stats: dict  # {col: {"min": v, "max": v, "nulls": n}} (prunable cols only)
    # hive-style partition values for this file ({col: value}, JSON
    # scalars, None = NULL partition); empty for unpartitioned tables.
    # Partition values are ALSO folded into ``stats`` as exact
    # min==max envelopes, so every pruning path (read filters, merge
    # key ranges, pushed filters) short-circuits on them for free.
    partition: dict = field(default_factory=dict)


def json_safe(value):
    """Footer stat -> JSON scalar; None when the type can't round-trip."""
    if isinstance(value, bool) or value is None:
        return value
    if isinstance(value, (int, float, str)):
        return value
    if isinstance(value, (datetime.date, datetime.datetime)):
        return value.isoformat()
    if isinstance(value, decimal.Decimal):
        return str(value)
    return None


def footer_stats_safe(
    spark: SparkSession, abs_path: str
) -> tuple[int, int, dict]:
    """``footer_stats``, tolerant of footers this pyarrow can't parse:
    Spark writes logical types (VARIANT) newer than the installed
    pyarrow's Thrift schema. Falls back to a Spark footer-only row count
    (count pushdown reads no data pages) plus one stats aggregate over
    the prunable primitive columns — variant columns never carry stats
    either way."""
    try:
        return footer_stats(abs_path)
    except OSError:
        df_f = spark.read.parquet(abs_path)
        simple = {
            "byte", "short", "integer", "long", "float", "double",
            "decimal", "string", "boolean", "date", "timestamp",
            "timestamp_ntz",
        }
        prunable = [
            f.name for f in df_f.schema.fields
            if f.dataType.typeName() in simple
        ]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in prunable:
            aggs += [
                F.min(c).alias(f"__min_{c}"),
                F.max(c).alias(f"__max_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nul_{c}"),
            ]
        row = df_f.agg(*aggs).collect()[0].asDict()
        stats = {
            c: {
                "min": json_safe(row[f"__min_{c}"]),
                "max": json_safe(row[f"__max_{c}"]),
                "nulls": int(row[f"__nul_{c}"] or 0),
            }
            for c in prunable
            if row[f"__min_{c}"] is not None
        }
        return int(row["__rows"]), os.path.getsize(abs_path), stats


def footer_stats(abs_path: str) -> tuple[int, int, dict]:
    """(rows, bytes, per-column min/max/nulls) from the parquet footer —
    no data pages are read; the stats were computed by the writer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    rows = md.num_rows
    size = os.path.getsize(abs_path)
    acc: dict[str, Optional[dict]] = {}  # name -> {"min","max","nulls"} | None
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(min(g.num_columns, _STATS_MAX_COLUMNS)):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf — not prunable at top level
                continue
            if name in acc and acc[name] is None:
                continue  # already disqualified (missing/unsafe stats)
            try:
                st = col.statistics
                lo = json_safe(st.min) if st is not None and st.has_min_max else None
                hi = json_safe(st.max) if st is not None and st.has_min_max else None
            except Exception:  # pyarrow can't decode stats for some
                # physical types (e.g. decimals on this version) — the
                # column simply doesn't prune; correctness is unaffected
                acc[name] = None
                continue
            if lo is None or hi is None:
                acc[name] = None
                continue
            if isinstance(lo, str) and (
                len(lo) >= _STATS_MAX_STRING or len(hi) >= _STATS_MAX_STRING
            ):
                acc[name] = None  # possibly writer-truncated -> unsafe to prune on
                continue
            n_null = int(st.null_count or 0)
            prev = acc.get(name)
            if prev is None and name not in acc:
                acc[name] = {"min": lo, "max": hi, "nulls": n_null}
            else:
                try:
                    prev["min"] = min(prev["min"], lo)
                    prev["max"] = max(prev["max"], hi)
                    prev["nulls"] += n_null
                except TypeError:  # incomparable across groups -> disqualify
                    acc[name] = None
    return rows, size, {k: v for k, v in acc.items() if v is not None}


# ---------------- staging


def _partition_dirs(rel_dir: str, part_names: Sequence[str]) -> dict:
    """``region=us/n=10`` (as written by Spark's partitionBy) -> raw
    {col: value}: URL-decoded strings, ``__HIVE_DEFAULT_PARTITION__`` =
    None. Every segment is checked against the partition spec."""
    parts = [p for p in rel_dir.split(os.sep) if p]
    if len(parts) != len(part_names):
        raise ValueError(
            f"staged file dir {rel_dir!r} does not match partition spec "
            f"{list(part_names)}"
        )
    out: dict = {}
    for col, seg in zip(part_names, parts):
        name, _, raw = seg.partition("=")
        if name != col:
            raise ValueError(
                f"staged dir segment {seg!r} does not match partition column {col!r}"
            )
        raw = unquote(raw)
        out[col] = None if raw == HIVE_NULL else raw
    return out


def stage_parquet(
    df: DataFrame, table_root: str, dest_rel: str, part_names: Sequence[str]
) -> list[FileEntry]:
    """Write ``df`` as parquet under ``table_root/dest_rel`` through an
    invisible ``_staging_<uuid>`` dir (hive ``col=val/...`` layout when
    ``part_names`` is given) and return one entry per non-empty file:
    path relative to ``table_root``, footer rows/bytes/stats, and the RAW
    partition values (decoded strings, None = NULL) — each format types
    or serializes them itself. Files stay invisible until a commit
    references them. 0-row files are dropped (the schema travels in the
    commit), and the staging dir is removed on success and failure."""
    staging = os.path.join(table_root, f"_staging_{uuid.uuid4().hex}")
    dest_root = os.path.join(table_root, dest_rel)
    entries: list[FileEntry] = []
    try:
        writer = df.write.mode("overwrite")
        if part_names:
            writer = writer.partitionBy(*part_names)
        writer.parquet(staging)
        for root, _dirs, names in os.walk(staging):
            rel_dir = os.path.relpath(root, staging)
            if part_names and rel_dir == ".":
                continue  # only _SUCCESS/marker files live at the root
            partition = _partition_dirs(rel_dir, part_names) if part_names else {}
            sub = "" if rel_dir == "." else rel_dir
            for src_name in sorted(names):
                if not src_name.endswith(".parquet") or src_name.startswith((".", "_")):
                    continue
                # Rename to a per-file UUID: Spark part names reuse one
                # job UUID across a dynamic-partition write, so the SAME
                # basename can land in two partition dirs — and DV state
                # is keyed by basename (scans join on
                # _metadata.file_name), so colliding names would
                # cross-apply one file's deletes to the other
                name = f"part-{uuid.uuid4().hex}.parquet"
                os.makedirs(os.path.join(dest_root, sub), exist_ok=True)
                dest = os.path.join(dest_root, sub, name)
                os.rename(os.path.join(root, src_name), dest)
                rows, size, stats = footer_stats_safe(df.sparkSession, dest)
                if rows == 0:
                    os.unlink(dest)
                    continue
                entries.append(FileEntry(
                    posixpath.join(dest_rel, sub, name), rows, size, stats,
                    partition,
                ))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return entries


def stage_concurrently(jobs: Sequence[Optional[Callable[[], object]]]) -> list:
    """Run independent staging jobs CONCURRENTLY; return their results in
    call order (None for a ``None`` job). A DML commit's CDC staging and
    its rewrite/DV staging read the same pinned inputs but are otherwise
    independent Spark actions, so overlapping them lets the second job's
    tasks back-fill the first's tail. One live job runs inline. Pool
    threads inherit the caller's Spark local properties (job group,
    scheduler pool) and session tags, so every job of an op stays
    attributed to it. On a failure every job still finishes before the
    first error (in call order) is raised."""
    live = [i for i, job in enumerate(jobs) if job is not None]
    out: list = [None] * len(jobs)
    if len(live) == 1:
        out[live[0]] = jobs[live[0]]()
    elif live:
        session = SparkSession.getActiveSession()
        inherit = inheritable_thread_target(session) if session is not None else None
        if not callable(inherit):  # no active session / pinned threads off
            inherit = inheritable_thread_target
        with ThreadPoolExecutor(max_workers=len(live)) as pool:
            futures = {i: pool.submit(_run, inherit(jobs[i])) for i in live}
        for i, fut in futures.items():
            out[i] = fut.result()
    return out


def _run(target: Callable[[], object]) -> object:
    """A pool thread's entry: PySpark names a job's call site after the
    frame that calls its first PySpark frame (the inheriting wrapper),
    so calling the wrapper from here names ``io/tablecore.py`` instead
    of the stdlib executor."""
    return target()


# ---------------- scan keying


def uri_suffix(rel: str) -> str:
    """``/rel`` as it ends ``_metadata.file_path``, a ``java.net.URI``:
    ASCII outside RFC 2396's path set is percent-encoded (space, ``%``
    — so a hive-escaped ``%2F`` dir reads ``%252F`` — ``#``, ...), while
    its punctuation (``=``, ``+``, ...) and non-ASCII stay raw."""
    return "/" + "".join(
        c if ord(c) > 127 else quote(c, safe="/=,;:$&+@!'()*")
        for c in rel.lstrip("/")
    )


#: Broadcast ceiling for expanded deletion-vector positions (one row per
#: deleted position). Spark's broadcast relation caps at 8 GB and builds
#: ON THE DRIVER; ~10M (rel, pos) rows is comfortably inside that while a
#: MOR-heavy 100 TB table written by another engine can carry billions —
#: those must shuffle. Overridable per session via
#: ``spark.dc43.delta.dvBroadcastMaxPositions``.
DV_BROADCAST_MAX_POSITIONS = 10_000_000


def dv_join_side(spark: SparkSession, deleted: DataFrame, total_card: int) -> DataFrame:
    """The join's build side for expanded DV positions: broadcast
    only while the descriptors' summed cardinality fits the gate; above
    it (or when cardinality is unknown) hint a sort-merge join so the
    positions shuffle instead of materializing one row per deleted
    position in an 8 GB-capped driver-built broadcast relation."""
    limit = int(
        spark.conf.get(
            "spark.dc43.delta.dvBroadcastMaxPositions",
            str(DV_BROADCAST_MAX_POSITIONS),
        )
    )
    if 0 <= total_card <= limit:
        return F.broadcast(deleted)
    return deleted.hint("merge")


# ---------------- stats-envelope pruning (pyarrow-DNF-style filters)

FILTER_OPS = ("=", "==", "!=", "<", "<=", ">", ">=", "in", "not in")


def normalize_filters(filters) -> list[list[tuple]]:
    """Accept pyarrow's two spellings — a flat list of ``(col, op, val)``
    tuples (implicit AND) or a list of such lists (OR of ANDs) — and
    return the canonical OR-of-ANDs form, validated."""
    if not filters:
        raise ValueError("filters must be a non-empty list")
    flat = not isinstance(filters[0], list)
    groups = [list(filters)] if flat else [list(g) for g in filters]
    for g in groups:
        if not g:
            raise ValueError("empty AND-group in filters")
        for cond in g:
            if not (isinstance(cond, tuple) and len(cond) == 3):
                raise ValueError(f"filter condition must be (col, op, value): {cond!r}")
            col, op, _ = cond
            if not isinstance(col, str):
                raise ValueError(f"filter column must be a string: {col!r}")
            if op not in FILTER_OPS:
                raise ValueError(f"unsupported filter op {op!r} (have {FILTER_OPS})")
    return groups


def cond_may_match(stats: Optional[dict], op: str, val) -> bool:
    """Can ANY row of a file with footer ``stats`` satisfy ``col op val``?
    Conservative: missing stats, NULL literals, or incomparable types
    answer True (keep the file). SQL three-valued semantics: a NULL cell
    never satisfies any of these ops, so null counts are irrelevant —
    only the non-null [min, max] envelope decides."""
    if stats is None:
        return True
    lo, hi = stats["min"], stats["max"]
    vals = list(val) if op in ("in", "not in") else [val]
    if any(v is None for v in vals):
        return True  # NULL literal: Spark yields no rows, but don't reason here
    if lo is None and hi is None:
        # an EXACT envelope (a partition value: min==max by construction)
        # that is NULL means the column is NULL on every row — NULL
        # satisfies none of these comparisons, so the file prunes; a
        # footer-stats null min/max just means omitted/truncated stats
        # (long strings) and stays conservative
        return not stats.get("exact", False)
    try:
        if op in ("=", "=="):
            return lo <= val <= hi
        if op == "!=":
            return not (lo == hi == val)
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "in":
            return any(lo <= v <= hi for v in vals)
        if op == "not in":
            return not (lo == hi and lo in vals)
    except TypeError:
        return True  # stats/literal types don't compare -> can't prune
    return True


def file_may_match(f, groups: list[list[tuple]]) -> bool:
    """DNF evaluation over one file (anything with a ``stats`` envelope
    dict — a ``FileEntry`` or a Delta ``DeltaFile``): keep if ANY
    or-group survives, a group survives if EVERY condition may match."""
    return any(
        all(cond_may_match(f.stats.get(col), op, val) for col, op, val in g)
        for g in groups
    )


def vectorized_cond(arrs, op: str, val):
    """The arrow-compute twin of ``cond_may_match``: a boolean array
    over ALL files (True / null = may match) for one condition. Returns
    None when the condition can't exclude anything (NULL literal);
    raises Arrow errors on type mismatch (caller falls back)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mins, maxs, _nulls = arrs
    if op in ("in", "not in"):
        vals = list(val)
        if any(v is None for v in vals):
            return None
        if op == "in":
            m = None
            for v in vals:
                c = pc.and_(pc.less_equal(mins, v), pc.greater_equal(maxs, v))
                m = c if m is None else pc.or_(m, c)
            return m
        return pc.invert(
            pc.and_(pc.equal(mins, maxs), pc.is_in(mins, value_set=pa.array(vals)))
        )
    if val is None:
        return None
    if op in ("=", "=="):
        return pc.and_(pc.less_equal(mins, val), pc.greater_equal(maxs, val))
    if op == "!=":
        return pc.invert(pc.and_(pc.equal(mins, val), pc.equal(maxs, val)))
    if op == "<":
        return pc.less(mins, val)
    if op == "<=":
        return pc.less_equal(mins, val)
    if op == ">":
        return pc.greater(maxs, val)
    if op == ">=":
        return pc.greater_equal(maxs, val)
    return None


def filters_to_column(groups: list[list[tuple]]):
    """The SAME predicate as a Spark Column — applied residually after
    file pruning so results are row-exact regardless of pruning power."""

    def cond(col, op, val):
        c = F.col(col)
        if op in ("=", "=="):
            return c == F.lit(val)
        if op == "!=":
            return c != F.lit(val)
        if op == "<":
            return c < F.lit(val)
        if op == "<=":
            return c <= F.lit(val)
        if op == ">":
            return c > F.lit(val)
        if op == ">=":
            return c >= F.lit(val)
        if op == "in":
            return c.isin(list(val))
        return ~c.isin(list(val))  # not in

    ands = [
        functools.reduce(operator.and_, [cond(*t) for t in g]) for g in groups
    ]
    return functools.reduce(operator.or_, ands)
