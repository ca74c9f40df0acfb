"""Profile bench queries: walls, Spark counts, call sites, streaming phases.

Usage: python tools/job_profile.py <query> [<query> ...] [--reps N] [--detail]

Builds bench.py's session (plus the UI server whose REST API the counts
come from), runs bench.py's untimed warm-up, then runs each query as
``bench.run_once`` does under the job group ``<query>#<rep>``. Each rep
prints its wall and the traced benchmark's counts, taken by
``perfbench/layers.py::spark_op_metrics``: it waits until no job is
running, counts each AQE-reused stage once and attributes jobs without
the rep's group (pool threads, streaming) by submission time. Job and
shuffle counts do not move with host noise, so they compare checkouts
where walls cannot.

After the reps it prints, per query, a rollup of jobs, tasks and summed
job seconds by Spark job name (PySpark names a job after the first
frame outside pyspark, so a name is the library call site that ran it),
and for every streaming query its summed progress phases (durationMs),
batches, input rows and state-store update+commit ms. ``--detail``
adds per-job lines and per-stage lines sorted by executor run time.

Like bench.py it reads the data directory from $SPARK_GRAFT_SF_DIR (here
required) and the core count from $SPARK_GRAFT_CPUS (default 32).
``session`` is the one builder of bench.py's session for the tools
(tools/ladder.py and tools/capture_plans.py build theirs with it).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from perfbench.layers import _api, _epoch, spark_op_metrics  # noqa: E402

COUNTS = ("spark.jobs", "spark.tasks", "spark.shuffle_bytes",
          "spark.executor_cpu_s", "driver_s")


def count_line(op: str, wall: float, counts: dict) -> str:
    return f"{op}: wall={wall:.3f}s " + " ".join(
        f"{k}={counts[k]:.3f}" if isinstance(counts[k], float)
        else f"{k}={counts[k]}" for k in COUNTS)


def _site(item: dict) -> str:
    """A job's or stage's name, its call site relative to the repository."""
    return item.get("name", "").replace(REPO + os.sep, "")


def _job_s(job: dict) -> float:
    if "completionTime" not in job:
        return 0.0
    return _epoch(job["completionTime"]) - _epoch(job["submissionTime"])


def _rep_jobs(base: str, op: str, start: float, end: float) -> list[dict]:
    """The jobs ``spark_op_metrics`` counts for ``op``: its job group, or
    submitted inside its interval."""
    return sorted(
        (j for j in _api(base, "/jobs")
         if j.get("jobGroup") == op
         or ("submissionTime" in j and start <= _epoch(j["submissionTime"]) <= end)),
        key=lambda j: j["jobId"],
    )


def _print_detail(base: str, jobs: list[dict]) -> None:
    for j in jobs:
        print(f"  job {j['jobId']:>5} tasks={j.get('numCompletedTasks', 0):>4} "
              f"ms={_job_s(j) * 1e3:>7.0f} {_site(j)}")
    ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = [s for s in _api(base, "/stages?status=complete") if s["stageId"] in ids]
    for s in sorted(stages, key=lambda s: -s.get("executorRunTime", 0)):
        print(f"  stage {s['stageId']:>5} tasks={s['numCompleteTasks']:>4}"
              f" run={s.get('executorRunTime', 0) / 1e3:.2f}s"
              f" cpu={s.get('executorCpuTime', 0) / 1e9:.2f}s"
              f" shufR={s.get('shuffleReadBytes', 0) / 1e6:.2f}MB"
              f" shufW={s.get('shuffleWriteBytes', 0) / 1e6:.2f}MB"
              f" {_site(s)}")


def _print_rollup(jobs: list[dict]) -> None:
    sites: dict[str, list] = defaultdict(lambda: [0, 0, 0.0])
    for j in jobs:
        row = sites[_site(j)]
        row[0] += 1
        row[1] += j.get("numCompletedTasks", 0)
        row[2] += _job_s(j)
    print(f"  {'jobs':>5} {'tasks':>6} {'job_s':>7}  name")
    for site, (n, tasks, secs) in sorted(sites.items(), key=lambda kv: -kv[1][2]):
        print(f"  {n:>5} {tasks:>6} {secs:>7.2f}  {site}")


def _progress_listener(progress: dict, live: set):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            live.add(event.id)

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            progress[p.name or str(p.id)].append(json.loads(p.json))

        def onQueryTerminated(self, event):  # noqa: N802
            live.discard(event.id)

    return Progress()


def _print_streams(progress: dict) -> None:
    for name, events in progress.items():
        phases: dict[str, int] = defaultdict(int)
        rows = state_ms = 0
        for ev in events:
            for k, v in (ev.get("durationMs") or {}).items():
                phases[k] += int(v)
            rows += int(ev.get("numInputRows") or 0)
            for so in ev.get("stateOperators") or []:
                state_ms += int(so.get("allUpdatesTimeMs") or 0)
                state_ms += int(so.get("commitTimeMs") or 0)
        print(f"== stream {name}: batches={len(events)} input_rows={rows} "
              f"state_update+commit_ms={state_ms}")
        for k, v in sorted(phases.items(), key=lambda kv: -kv[1]):
            print(f"  {k:>20} {v:>8} ms")


def session(app_name: str = "dc43-profile"):
    """bench.py's session (tests/test_profile_tool.py keeps the two equal)
    on $SPARK_GRAFT_CPUS cores (default 32), plus the UI server: its REST
    API, on any free port, serves the counts and retains every job and
    stage a rep may count."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.driver.memory", "16g")
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--detail", action="store_true")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to a scale-factor data directory")

    import __spark_entry__ as entrymod

    queries = {**entrymod.extra_queries(), **entrymod.queries()}
    unknown = [q for q in args.queries if q not in queries]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    spark = session()
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    bench.warm_up(spark, sf_dir, str(sc.defaultParallelism), queries)
    progress: dict[str, list] = defaultdict(list)
    live: set = set()
    spark.streams.addListener(_progress_listener(progress, live))

    rollups: dict[str, list[dict]] = defaultdict(list)
    for name in args.queries:
        for rep in range(args.reps):
            op = f"{name}#{rep}"
            sc.setJobGroup(op, op)
            start = time.time()
            wall = bench.run_once(spark, sf_dir, name, queries[name])
            end = time.time()
            counts = spark_op_metrics(spark, {op: (start, end)})[op]
            print(count_line(op, wall, counts), flush=True)
            jobs = _rep_jobs(base, op, start, end)
            rollups[name].extend(jobs)
            if args.detail:
                _print_detail(base, jobs)

    for name, jobs in rollups.items():
        print(f"== rollup {name} ({args.reps} reps): {len(jobs)} jobs")
        _print_rollup(jobs)
    deadline = time.time() + 30  # listener events trail the queries
    while live and time.time() < deadline:
        time.sleep(0.2)
    _print_streams(progress)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
