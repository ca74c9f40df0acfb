"""Governed-pipeline benchmark for dc43_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload governed_ingest --seed 1 --seconds 12 --trace 0

Workloads: governed_ingest, upsert_history, curate_corpus (see
perfbench/DESIGN.md). Each is a closed loop with one client in a single
Python process on a local Spark session with a fixed core count. After
set-up and a fixed number of untimed warm-up cycles, a fixed number of
timed cycles runs: ``--seconds`` divided by the workload's nominal cycle
time, so every build being compared runs the same cycles. Every op's
output is checked against a driver-side model of the generated inputs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A line before it records the
run's host and Spark core counts, its steadiness record and its tails.
Traced runs also write their spans under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

PROCESS_START = time.perf_counter()  # set-up time counts the imports below
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import workloads  # noqa: E402  (needs the repository root on the path)
from layers import Tracer, spark_op_metrics, tail, udf_profile_seconds  # noqa: E402

WORKLOADS = {
    c.name: c for c in (workloads.GovernedIngest, workloads.UpsertHistory, workloads.CurateCorpus)
}
SPARK_CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
BUILD_REPEATS = 3  # set-up's input build runs this often; its median counts
# the steadiness record compares two halves of at least two cycles each
MIN_TIMED_CYCLES = 4
# the governed_ingest traced run also traces a few small curate_corpus
# passes, so the functions and Python-boundary layers are measured on a
# gated workload: untraced warm-up passes first, then traced ones
CURATE_PROBE = {"docs": 3_000, "warmup": 1, "passes": 2}

END_TO_END = {
    "setup_s": "s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "rows_per_s": "1/s",
}
# curate_corpus runs by hand only (see DESIGN.md); a pass is its write
# (the four curation stages) plus its read (the similarity search)
CURATE_END_TO_END = {
    "setup_s": "s",
    "pass_p50_s": "s",
    "rows_per_s": "1/s",
}

PER_LAYER = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "driver_s": "s",
    "engine.compute_metrics_s": "s",
    "engine.apply_contract_s": "s",
    "engine.evaluate_contract_s": "s",
    "expectations.compile_s": "s",
    "io.execute_write_request_s": "s",
    "io.write_requests": "count",
    "io.load_dataframe_s": "s",
    "storage.bytes_per_row": "bytes/row",
    "storage.files_written": "count",
    "io.snaplog.merge_s": "s",
    "io.snaplog.snapshot_s": "s",
    "io.snaplog.snapshot_calls": "count",
    "governance.evaluate_dataset_s": "s",
    "io.snaplog.read_s": "s",
    "io.snaplog.table_changes_s": "s",
    "storage.rewrite_amplification": "ratio",
    "io.snaplog.files_live": "count",
    "io.snaplog.log_bytes": "bytes",
    "trace.overhead_s": "s",
}
# per-layer counts taken as the number of spans of one name
SPAN_COUNTS = {
    "io.write_requests": "io.execute_write_request",
    "io.snaplog.snapshot_calls": "io.snaplog.snapshot",
}
# the functions and Python-boundary layers, from curate_corpus passes
CURATE_LAYER = {
    "functions.corpus_filter_s": "s",
    "functions.exact_dedup_s": "s",
    "functions.minhash_near_duplicates_s": "s",
    "functions.dedup_clusters_s": "s",
    "functions.cosine_topk_matmul_s": "s",
    "functions.pair_yield": "ratio",
    "functions.near_dup_recall": "ratio",
    "functions.pass_s": "s",
    "python.udf_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_session(scratch: str, traced: bool):
    from dc43_spark.session import governed_session

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything Spark and PySpark spill or stage stays in the run's scratch
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed heap (initial = max): a heap that grows from its default
        # initial size slowed the first ten-odd cycles by up to a third
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:ReservedCodeCacheSize=1g -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = governed_session(
        "perfbench", master=f"local[{SPARK_CORES}]",
        shuffle_partitions=SPARK_CORES, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


class Bench:
    def __init__(self, spark, workload, tracer, prefix: str = "") -> None:
        self.spark, self.wl, self.tracer, self.prefix = spark, workload, tracer, prefix
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.attempted = self.failed = 0

    def cycle(self, i: int, traced: bool, check: bool = True) -> dict | None:
        """One write op and one read op; None when an op raised. Warm-up
        cycles skip the per-cycle check (``check=False``): the first timed
        cycle's checks cover the state they left behind."""
        wl, spark = self.wl, self.spark
        wl.prepare(i)
        rec = {"cycle": i, "traced": traced, "ops": {}}
        if traced:
            self.tracer.install()
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            spark.profile.clear()
        outs = []
        try:
            for kind, op in (("write", wl.write), ("read", wl.read)):
                op_id = f"{self.prefix}c{i}.{kind}"
                self.tracer.op = op_id
                spark.sparkContext.setJobGroup(op_id, op_id)
                self.attempted += 1
                t0, p0 = time.time(), time.perf_counter()
                try:
                    outs.append(op(i))
                except Exception:
                    self.failed += 1
                    self.errors.append(f"{op_id} raised")
                    traceback.print_exc()
                    return None
                rec[kind] = time.perf_counter() - p0
                rec["ops"][op_id] = (t0, time.time())
                spark.sparkContext.setJobGroup("perfbench.untimed", "untimed")
                spark.catalog.clearCache()
        finally:
            if traced:
                self.tracer.uninstall()
                rec["python.udf_s"] = udf_profile_seconds(spark)
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
        t = time.perf_counter()
        errors = wl.verify(i, *outs) if check else []
        print(f"{self.prefix}cycle {i}: write {rec['write']:.3f}s read {rec['read']:.3f}s "
              f"verify {time.perf_counter() - t:.3f}s", file=sys.stderr)
        if errors:
            self.failed += 1
            self.errors.extend(f"{self.prefix}c{i}: {e}" for e in errors)
        if traced:
            rec.update(wl.storage(i))
        spark.catalog.clearCache()
        return rec


def timed_cycle_count(wl, seconds: float) -> int:
    """Timed cycles of a run: ``seconds`` over the workload's nominal cycle
    time. The count never depends on how fast the cycles actually run, so
    two builds compared on the same ``--seconds`` time the same cycles (in
    upsert_history: merge into the same table versions)."""
    return max(MIN_TIMED_CYCLES, round(seconds / wl.CYCLE_S))


def end_to_end(records: list[dict], unit_rows: int, setup_s: float) -> dict:
    write = [r["write"] for r in records]
    read = [r["read"] for r in records]
    cycle = [w + r for w, r in zip(write, read)]
    return {
        "setup_s": setup_s,
        "write_p50_s": statistics.median(write),
        "read_p50_s": statistics.median(read),
        "pass_p50_s": statistics.median(cycle),
        "rows_per_s": unit_rows * len(records) / sum(cycle),
    }


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks from /proc/stat; (0, 0) where it is absent."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steadiness(records: list[dict]) -> dict:
    """First-half vs second-half medians of the timed cycles, and the
    first half's excess over the second as a share of the second.

    Unfinished warm-up shows as a first half slower than the second in
    most runs. A single run cannot tell it from the host slowing down or
    speeding up mid-run, which on the hosts this was tuned on moved two
    cycles by up to 45%, so the excess is recorded here and judged over a
    set of seeds by spread.py: the set fails when the median excess is
    beyond the metric's bound in BENCHMARK.json."""
    half = len(records) // 2
    out = {}
    for metric in ("write_p50_s", "read_p50_s"):
        a, b = (end_to_end(part, 1, 0.0)[metric] for part in (records[:half], records[half:]))
        out[metric] = {"first": a, "second": b, "excess": (a - b) / b}
    return out


def layer_rows(tracer, traced: list[dict], spark_ops: dict) -> list[dict]:
    """One row per traced cycle: its span self times and span counts, the
    Spark metrics of its ops and the values the cycle recorded itself."""
    self_times, counts = tracer.self_times(), tracer.counts()
    rows = []
    for r in traced:
        row = {k: v for k, v in r.items() if k in PER_LAYER or k in CURATE_LAYER}
        row["functions.pass_s"] = r["write"] + r["read"]
        for op in r["ops"]:
            for k, v in spark_ops.get(op, {}).items():
                row[k] = row.get(k, 0) + v
            for name, secs in self_times.get(op, {}).items():
                row[f"{name}_s"] = row.get(f"{name}_s", 0) + secs
            for metric, span in SPAN_COUNTS.items():
                row[metric] = row.get(metric, 0) + counts.get(op, {}).get(span, 0)
        rows.append(row)
    return rows


def medians(rows: list[dict], names) -> dict:
    return {name: statistics.median(row.get(name, 0) for row in rows) for name in names}


def per_layer(bench: Bench, tracer, traced: list[dict], plain: list[dict]) -> dict:
    spark_ops = spark_op_metrics(bench.spark, {k: v for r in traced for k, v in r["ops"].items()})
    out = medians(layer_rows(tracer, traced, spark_ops), PER_LAYER)
    cyc = lambda recs: statistics.median(r["write"] + r["read"] for r in recs)
    out["trace.overhead_s"] = cyc(traced) - cyc(plain)
    out.update(bench.wl.end_state())
    return out


def tails(records: list[dict]) -> dict:
    """Tail diagnostics of the untraced timed cycles; a tail is absent
    (value null) when there are too few cycles for one."""
    out = {}
    for metric, kind in (("write_tail_s", "write"), ("read_tail_s", "read"), ("pass_tail_s", None)):
        vals = [r["write"] + r["read"] if kind is None else r[kind] for r in records]
        value, pct, n = tail(vals)
        out[metric] = {"value": value, "percentile": pct, "samples": n}
    return out


def curate_probe(spark, scratch: str, seed: int, tracer) -> tuple[Bench, dict]:
    """Small traced curate_corpus passes: the functions stages, the Python
    UDF boundary and the near-duplicate pair yield, checked like any op."""
    wl = workloads.CurateCorpus(spark, os.path.join(scratch, "curate"), seed, tracer,
                                docs=CURATE_PROBE["docs"])
    wl.build()
    wl.start()
    probe = Bench(spark, wl, tracer, prefix="curate.")
    for i in range(CURATE_PROBE["warmup"] + CURATE_PROBE["passes"]):
        warm = i < CURATE_PROBE["warmup"]
        rec = probe.cycle(i, traced=not warm, check=not warm)
        if rec is None:
            return probe, {}
        if rec["traced"]:
            probe.records.append(rec)
    if probe.errors:
        return probe, {}
    out = medians(layer_rows(tracer, probe.records, {}), CURATE_LAYER)
    out.update(wl.end_state())
    return probe, out


def run(args, scratch: str) -> int:
    spark = start_session(scratch, traced=bool(args.trace))
    try:
        session_s = time.perf_counter() - PROCESS_START
        tracer = Tracer()
        wl = WORKLOADS[args.workload](spark, os.path.join(scratch, "data"), args.seed, tracer)
        builds = []
        for _ in range(BUILD_REPEATS):
            t = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.start()
        start_s = time.perf_counter() - t
        bench = Bench(spark, wl, tracer)
        t = time.perf_counter()
        for i in range(wl.WARMUP):
            if bench.cycle(i, traced=False, check=False) is None:
                break
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + start_s + warm_s
        warm_failed, bench.failed, bench.attempted = bench.failed, 0, 0

        n_timed = timed_cycle_count(wl, args.seconds)
        t_loop, steal0 = time.perf_counter(), steal_ticks()
        for i in range(wl.WARMUP, wl.WARMUP + n_timed):
            if warm_failed:
                break
            rec = bench.cycle(i, traced=bool(args.trace) and i % 2 == 0)
            if rec is None:
                break
            bench.records.append(rec)
        loop_s = time.perf_counter() - t_loop
        steal = [b - a for a, b in zip(steal0, steal_ticks())]
        plain = [r for r in bench.records if not r["traced"]]
        traced = [r for r in bench.records if r["traced"]]
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host_cores": os.cpu_count(), "spark_cores": SPARK_CORES,
            "driver_memory": DRIVER_MEMORY, "warmup_cycles": wl.WARMUP,
            "timed_cycles": len(bench.records), "session_s": session_s,
            "build_s": builds, "start_s": start_s, "warmup_s": warm_s, "loop_s": loop_s,
            "cpu_steal_share": steal[0] / steal[1] if steal[1] else None,
            "cycles_s": [(r["write"], r["read"]) for r in bench.records],
            "tails": tails(plain),
        }
        if len(bench.records) < n_timed:
            bench.errors.append(f"{len(bench.records)} of {n_timed} timed cycles ran")
        correct = not warm_failed and not bench.errors
        attempted, failed = bench.attempted, bench.failed + warm_failed
        if args.trace:
            metrics = per_layer(bench, tracer, traced, plain) if correct else {}
            units = {**PER_LAYER, **CURATE_LAYER}
            if correct and args.workload == "governed_ingest":
                t = time.perf_counter()
                probe, curate = curate_probe(spark, scratch, args.seed, tracer)
                info["curate_probe_s"] = time.perf_counter() - t
                attempted, failed = attempted + probe.attempted, failed + probe.failed
                bench.errors.extend(probe.errors)
                correct = correct and not probe.errors and bool(curate)
                metrics.update(curate)
            elif correct and args.workload == "curate_corpus":
                metrics.update(medians(layer_rows(tracer, traced, {}), CURATE_LAYER))
                metrics.update(wl.end_state())
            out_dir = os.path.join(REPO, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(plain, wl.unit_rows, setup_s) if correct else {}
            if correct:
                info["steady"] = steadiness(plain)
            units = CURATE_END_TO_END if args.workload == "curate_corpus" else END_TO_END
        info["errors"] = bench.errors[:20]
        print(json.dumps(info))
        print(json.dumps({
            "correct": correct,
            "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    scratch = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        return run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
