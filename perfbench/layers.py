"""Layer tracing for the traced benchmark run.

Spans are ``dc43_spark.governance.lineage.Span`` records collected by its
``SpanRecorder``. The wrappers patch the layers' public functions in the
module that defines them and in every ``dc43_spark`` module that bound the
name at import time, so the split follows the real call path. Each span
carries the op id, its own id and its parent's id in its attributes; a
span's self time is its duration minus the time its children cover.

Spark-side counts come from the UI REST API, attributed to ops by the job
group the benchmark sets around each op.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from dc43_spark.governance.lineage import SpanRecorder

# (module, attribute, span name). A dotted attribute names a class method.
TARGETS = [
    ("dc43_spark.engine.metrics", "compute_metrics", "engine.compute_metrics"),
    ("dc43_spark.engine.validation", "apply_contract", "engine.apply_contract"),
    ("dc43_spark.engine.validation", "evaluate_contract", "engine.evaluate_contract"),
    ("dc43_spark.expectations.compiler", "expectation_specs", "expectations.compile"),
    ("dc43_spark.expectations.compiler", "row_predicates", "expectations.compile"),
    ("dc43_spark.io.write", "execute_write_request", "io.execute_write_request"),
    ("dc43_spark.io.read", "load_dataframe", "io.load_dataframe"),
    ("dc43_spark.io.snaplog", "SnaplogTable.merge", "io.snaplog.merge"),
    ("dc43_spark.io.snaplog", "SnaplogTable.snapshot", "io.snaplog.snapshot"),
    ("dc43_spark.io.snaplog", "SnaplogTable.read", "io.snaplog.read"),
    ("dc43_spark.io.snaplog", "SnaplogTable.table_changes", "io.snaplog.table_changes"),
    (
        "dc43_spark.governance.orchestrator",
        "GovernanceService.evaluate_dataset",
        "governance.evaluate_dataset",
    ),
]


class Tracer:
    """Span recorder plus the patches that feed it; inactive until installed."""

    def __init__(self) -> None:
        self.recorder = SpanRecorder()
        self.op: str | None = None
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    @property
    def active(self) -> bool:
        return bool(self._saved)

    @contextmanager
    def span(self, name: str):
        """Record one span under the current op; a no-op while inactive."""
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        stack.append(sid)
        try:
            with self.recorder.span(name, op=self.op, span_id=sid, parent=parent):
                yield
        finally:
            stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, span_name in TARGETS:
            module = sys.modules[mod_name]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(module, cls_name)
                original = cls.__dict__[meth]
                self._saved.append((cls, meth, original))
                setattr(cls, meth, self._wrap(original, span_name))
                continue
            original = getattr(module, attr)
            wrapped = self._wrap(original, span_name)
            for name, mod in list(sys.modules.items()):
                if name.startswith("dc43_spark") and getattr(mod, attr, None) is original:
                    self._saved.append((mod, attr, original))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def self_times(self) -> dict[str, dict[str, float]]:
        """{op: {span name: summed self seconds}}."""
        spans = self.recorder.spans
        children: dict[int, list] = {}
        for s in spans:
            parent = s.attributes["parent"]
            if parent is not None:
                children.setdefault(parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            kids = children.get(s.attributes["span_id"], [])
            covered = _union_ns([(c.start_ns, c.end_ns) for c in kids])
            own = (s.end_ns - s.start_ns - covered) / 1e9
            per_op = out.setdefault(s.attributes["op"], {})
            per_op[s.name] = per_op.get(s.name, 0.0) + own
        return out

    def counts(self) -> dict[str, dict[str, int]]:
        """{op: {span name: number of spans}}."""
        out: dict[str, dict[str, int]] = {}
        for s in self.recorder.spans:
            per_op = out.setdefault(s.attributes["op"], {})
            per_op[s.name] = per_op.get(s.name, 0) + 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.recorder.spans:
                f.write(json.dumps({
                    "name": s.name, "start_ns": s.start_ns, "end_ns": s.end_ns,
                    "status": s.status, **s.attributes,
                }) + "\n")


def _union_ns(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def udf_profile_seconds(spark) -> float:
    """Total time the built-in Python UDF profiler has collected so far."""
    results = spark.profile.profiler_collector._perf_profile_results
    return sum(stats.total_tt for stats in results.values())


# ------------------------------------------------------------ Spark REST


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def spark_op_metrics(spark, ops: dict[str, tuple[float, float]]) -> dict[str, dict[str, float]]:
    """Per-op jobs, tasks, shuffle bytes, executor CPU and driver time.

    ``ops`` maps the job group of each op to its (start, end) epoch
    seconds. Jobs launched from library pool threads carry no group; they
    are attributed to the op whose interval holds their submission.
    ``driver_s`` is the op's wall time minus the union of its job
    intervals."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs: list = []
    for _ in range(50):  # the status store trails the listener bus
        jobs = _api(base, "/jobs")
        if not any(j["status"] == "RUNNING" for j in jobs):
            break
        time.sleep(0.2)
    stages = {s["stageId"]: s for s in _api(base, "/stages?status=complete")}
    by_op: dict[str, list] = {op: [] for op in ops}
    for job in jobs:
        op = job.get("jobGroup")
        if op not in ops and "submissionTime" in job:
            t = _epoch(job["submissionTime"])
            op = next((o for o, (a, b) in ops.items() if a <= t <= b), None)
        if op in by_op:
            by_op[op].append(job)
    out = {}
    for op, (start, end) in ops.items():
        op_jobs = by_op[op]
        # a stage id can appear in several jobs of one op (AQE lists reused
        # query stages again as skipped), so each stage counts once
        stage_ids = {s for j in op_jobs for s in j.get("stageIds", [])}
        op_stages = [stages[s] for s in stage_ids if s in stages]
        spans = [
            (max(start, _epoch(j["submissionTime"])), min(end, _epoch(j["completionTime"])))
            for j in op_jobs
            if "completionTime" in j
        ]
        busy = _union_ns([(a, b) for a, b in spans if b > a])
        out[op] = {
            "spark.jobs": len(op_jobs),
            "spark.tasks": sum(j.get("numCompletedTasks", 0) for j in op_jobs),
            "spark.shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in op_stages),
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in op_stages) / 1e9,
            "driver_s": max(0.0, (end - start) - busy),
        }
    return out


def tail(values: list[float]) -> tuple[float | None, float | None, int]:
    """Highest percentile with at least ten samples beyond it: (value,
    percentile, sample count). With ten samples or fewer no percentile
    qualifies, and value and percentile are None."""
    n = len(values)
    if n <= 10:
        return None, None, n
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n
