"""Empirical scale ladder for the snaplog table format: measure the
O(files changed) claims instead of arguing them from manifest shape.

Builds key-clustered snaplog tables at 1x / 4x / 16x row counts (and
proportional file counts) in a temp dir and measures, per size:

1. point-lookup read  — ``read(filters=[k = x])`` wall time and files
   opened. Expected: files opened == 1 at every size (data skipping);
   wall time FLAT while the full-scan filter grows with the table.
2. 1-row MERGE        — upsert of a single key. Expected: rewrites one
   file at every size; wall time FLAT (two-level pruning bounds the
   rewrite set by the key's cluster, not the table).
3. IVM refresh        — a fixed-size append then ``refresh_sum_view``.
   Expected: FLAT (cost follows the change window, not the table).

Usage: python tools/snaplog_ladder.py [--scales 1,4,16] [--reps 2]
Markdown table to stdout, one JSON line at the end (the host is noisy:
reps take the MIN; run on an idle host).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_table(spark, path: str, n_rows: int, n_files: int):
    from pyspark.sql import functions as F

    from dc43_spark.io.snaplog import SnaplogTable

    t = SnaplogTable(spark, path, change_feed=True)
    df = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("g"),
            (F.col("id") * 3).alias("x"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        .repartitionByRange(n_files, "k")
        .sortWithinPartitions("k")
    )
    t.write(df, mode="overwrite")
    return t


def timed(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        best = min(best, time.monotonic() - t0)
    return best


def metadata_ladder(entry_counts, reps: int) -> None:
    """Driver-side METADATA ladder (no Spark): synthesize checkpoints of
    N file entries in both formats and measure what a reader pays —

    - ``snapshot()``       log load only (lazy: no per-file objects)
    - ``prune 1 col``      snapshot + stats-prune one filter column to
                           a handful of files (the selective-read path)
    - ``materialize``      snapshot + full .files tuple (the worst case:
                           every per-file Python object built)

    This is the honest version of the 'JSON checkpoint parse is the one
    O(table-files) single-threaded step' concern: at 100k+ entries the
    dominant cost is building 100k FileEntry + ~500k stats dicts, not
    bytes parsed — which is why the parquet checkpoint is read lazily
    (arrow columns converted per-need) instead of just re-encoded."""
    import random

    from dc43_spark.io.snaplog import SnaplogTable
    from dc43_spark.io.tablecore import FileEntry

    rng = random.Random(7)
    results = []
    for n in entry_counts:
        root = tempfile.mkdtemp(prefix="snaplog_meta_")
        try:
            row = {"entries": n}
            for fmt in ("json", "parquet"):
                path = os.path.join(root, fmt)
                t = SnaplogTable.__new__(SnaplogTable)
                t.spark = None
                t.path = path
                t.checkpoint_interval = 10
                t.checkpoint_format = fmt
                os.makedirs(t.log_dir)
                # synthetic live set: n clustered files, 4 stat columns
                entries = tuple(
                    FileEntry(
                        f"data/part-{i:07d}-{rng.getrandbits(64):016x}.parquet",
                        10_000,
                        5_000_000,
                        {
                            c: {
                                "min": i * 10_000 + off,
                                "max": (i + 1) * 10_000 + off,
                                "nulls": 0,
                            }
                            for off, c in enumerate(("k", "g", "x", "ts"))
                        },
                    )
                    for i in range(n)
                )
                snap = type(
                    "S", (), {"files": entries, "dvs": (), "schema_json": "{}",
                              "partition_by": (), "timestamp": 1.0,
                              "constraints": {}, "column_mapping": {},
                              "retired": (), "refs": {}, "generated": {}}
                )()
                if fmt == "parquet":
                    t._write_parquet_checkpoint(10, snap)
                else:
                    rec = {
                        "version": 10, "timestamp": 1.0, "schema_json": "{}",
                        "partition_by": [],
                        "files": [t._entry_record(f) for f in entries],
                        "dvs": [],
                    }
                    with open(
                        os.path.join(t.log_dir, "%020d.checkpoint.json" % 10), "w"
                    ) as fh:
                        json.dump(rec, fh)
                with open(os.path.join(t.log_dir, "%020d.json" % 10), "w") as fh:
                    json.dump({"operation": "append", "add": [], "remove": [],
                               "timestamp": 1.0}, fh)
                del entries

                probe = (n // 2) * 10_000 + 5
                row[f"{fmt}_snapshot_s"] = round(
                    timed(lambda: t.snapshot(10), reps), 3
                )
                row[f"{fmt}_prune_s"] = round(
                    timed(lambda: t.snapshot(10).prune([[("k", "=", probe)]]), reps),
                    3,
                )
                row[f"{fmt}_materialize_s"] = round(
                    timed(lambda: len(t.snapshot(10).files), reps), 3
                )
                row[f"{fmt}_bytes_mb"] = round(
                    os.path.getsize(
                        os.path.join(
                            t.log_dir,
                            "%020d.checkpoint.%s"
                            % (10, "parquet" if fmt == "parquet" else "json"),
                        )
                    )
                    / 1e6,
                    1,
                )
            results.append(row)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    hdr = list(results[0].keys())
    print("| " + " | ".join(hdr) + " |")
    print("|" + "---|" * len(hdr))
    for r in results:
        print("| " + " | ".join(str(r[h]) for h in hdr) + " |")
    print(json.dumps({"snaplog_metadata_ladder": results}))


def bloom_ladder(file_counts, rows_per_file: int, reps: int) -> None:
    """Bloom data-skipping ladder: the workload min/max stats CANNOT
    prune. Keys are written hash-interleaved across files, so every
    file's [min, max] envelope straddles every probe value — a stats-
    only point lookup opens ALL files; the bloom pass should open ~1
    (+fpp). Measures, per table size:

    - files opened, bloom vs stats-only (same data, twin tables)
    - cold planning (first probe: sidecar index load) and warm planning
      wall time — both DRIVER-side only, zero Spark jobs
    - end-to-end lookup (plan + collect) bloom vs stats-only
    - sidecar bytes per data file

    Expected at scale: warm planning FLAT-ish (index dict hit + one
    512-row row-group decode); end-to-end speedup grows with file count
    because the stats-only scan reads O(table)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dc43_spark.io.snaplog import BLOOM_DIR, SnaplogTable

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for n_files in file_counts:
        root = tempfile.mkdtemp(prefix="snaplog_bloom_")
        try:
            n_rows = n_files * rows_per_file
            df = spark.range(n_rows).select(
                F.col("id").alias("k"),
                F.md5(F.col("id").cast("string")).alias("payload"),
            ).repartition(n_files, F.col("k") % n_files)
            tb = SnaplogTable(spark, os.path.join(root, "b"), bloom_columns=["k"])
            tb.write(df, mode="overwrite")
            tn = SnaplogTable(spark, os.path.join(root, "n"))
            tn.write(df, mode="overwrite")
            probe = n_rows // 2 + 1
            row = {"files": n_files, "rows": n_rows}

            t0 = time.monotonic()
            cold = tb.read(filters=[("k", "=", probe)])
            row["bloom_plan_cold_s"] = round(time.monotonic() - t0, 4)
            row["bloom_files_opened"] = len(cold.inputFiles())
            row["stats_files_opened"] = len(
                tn.read(filters=[("k", "=", probe)]).inputFiles()
            )
            row["bloom_plan_warm_s"] = round(
                timed(lambda: tb.read(filters=[("k", "=", probe + 2)]), reps), 4
            )
            row["bloom_lookup_s"] = round(
                timed(
                    lambda: tb.read(filters=[("k", "=", probe + 4)]).collect(), reps
                ),
                3,
            )
            row["stats_lookup_s"] = round(
                timed(
                    lambda: tn.read(filters=[("k", "=", probe + 4)]).collect(), reps
                ),
                3,
            )
            bdir = os.path.join(tb.path, BLOOM_DIR)
            row["sidecar_kb_per_file"] = round(
                sum(os.path.getsize(os.path.join(bdir, f)) for f in os.listdir(bdir))
                / 1024.0
                / n_files,
                1,
            )
            results.append(row)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    hdr = list(results[0].keys())
    print("| " + " | ".join(hdr) + " |")
    print("|" + "---|" * len(hdr))
    for r in results:
        print("| " + " | ".join(str(r[h]) for h in hdr) + " |")
    print(json.dumps({"snaplog_bloom_ladder": results}))
    spark.stop()


def optimize_ladder(append_counts, reps: int) -> None:
    """Small-file ingest ladder: N tiny appends on a PLAIN table vs an
    AUTO-COMPACT table — head file count and point-read wall time; plus
    the optimizeWrite pin (files per multi-partition write, with vs
    without the aligned shuffle). Expected: plain file count grows
    linearly with appends and the read slows with it; auto-compact
    keeps both flat; optimizeWrite lands one file per partition value."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dc43_spark.io.snaplog import SnaplogTable

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="snaplog_optimize_")
    results = []
    try:
        for n in append_counts:
            row = {"appends": n}
            for kind in ("plain", "auto_compact"):
                t = SnaplogTable(
                    spark,
                    f"{root}/{kind}{n}",
                    auto_compact=(kind == "auto_compact"),
                    auto_compact_min_files=8,
                )
                for i in range(n):
                    t.write(
                        spark.createDataFrame(
                            [(i, f"s{i}")], "k long, v string"
                        ).coalesce(1),
                        mode="append",
                    )
                files = t.snapshot().num_files
                t_read = timed(
                    lambda t=t: t.read(filters=[("k", "=", 1)]).collect(), reps
                )
                compacts = sum(
                    1 for c in t.history() if c.operation == "compact"
                )
                row[f"{kind}_files"] = files
                row[f"{kind}_read_s"] = round(t_read, 3)
                if kind == "auto_compact":
                    row["compact_commits"] = compacts
                shutil.rmtree(f"{root}/{kind}{n}", ignore_errors=True)
            results.append(row)

        # optimizeWrite pin: 16 input partitions x 8 partition values
        df = (
            spark.range(80_000)
            .select(
                (F.col("id") % 8).cast("string").alias("p"),
                F.col("id").alias("k"),
            )
            .repartition(16)
        )
        for ow in (False, True):
            t = SnaplogTable(spark, f"{root}/ow{ow}", optimize_write=ow)
            t0 = time.monotonic()
            t.write(df, mode="overwrite", partition_by=["p"])
            dt = time.monotonic() - t0
            results.append(
                {
                    "appends": f"optimize_write={ow}",
                    "plain_files": t.snapshot().num_files,
                    "plain_read_s": round(dt, 3),
                }
            )
            shutil.rmtree(f"{root}/ow{ow}", ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    hdr = ["appends", "plain_files", "plain_read_s", "auto_compact_files",
           "auto_compact_read_s", "compact_commits"]
    print("| " + " | ".join(hdr) + " |")
    print("|" + "---|" * len(hdr))
    for r in results:
        print("| " + " | ".join(str(r.get(h, "")) for h in hdr) + " |")
    print(json.dumps({"optimize_ladder": results}))
    spark.stop()


def wap_ladder(scales, reps: int, base_rows: int = 100_000, base_files: int = 8) -> None:
    """Publish-cost ladder: a FIXED-SIZE branch (one small merge + one
    small append) published into tables of growing size. Expected:
    publish wall time and files adopted stay FLAT — the commit is
    O(files the branch changed), never O(table)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dc43_spark.io.snaplog import SnaplogTable

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="snaplog_wap_")
    results = []
    try:
        for s in scales:
            n_rows = base_rows * s
            t = build_table(spark, f"{root}/t{s}", n_rows, base_files * s)
            pre_files = t.snapshot().num_files

            def one_publish(i=[0]):
                i[0] += 1
                b = t.branch_out(f"{root}/b{s}_{i[0]}")
                b.merge(
                    spark.createDataFrame(
                        [(n_rows // 2 + j, 0, 0, "wap") for j in range(5)],
                        "k long, g long, x long, payload string",
                    ).coalesce(1),
                    ["k"],
                )
                b.write(
                    spark.createDataFrame(
                        [(10 * n_rows + i[0], 0, 0, "new")],
                        "k long, g long, x long, payload string",
                    ).coalesce(1),
                    mode="append",
                )
                t.publish(b)

            dt = timed(one_publish, reps)
            post = t.snapshot()
            results.append(
                {
                    "scale": s,
                    "rows": n_rows,
                    "table_files_before": pre_files,
                    "publish_s": round(dt, 3),
                    "files_changed_by_last_publish": post.num_files
                    - pre_files
                    + 1,  # merge rewrote 1, append+insert added
                }
            )
            shutil.rmtree(f"{root}/t{s}", ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    hdr = list(results[0].keys())
    print("| " + " | ".join(hdr) + " |")
    print("|" + "---|" * len(hdr))
    for r in results:
        print("| " + " | ".join(str(r[h]) for h in hdr) + " |")
    print(json.dumps({"wap_ladder": results}))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--base-rows", type=int, default=200_000)
    ap.add_argument("--base-files", type=int, default=8)
    ap.add_argument(
        "--metadata",
        default=None,
        help="run the driver-side metadata ladder instead, at these "
        "synthetic checkpoint entry counts (e.g. 10000,100000)",
    )
    ap.add_argument(
        "--bloom",
        default=None,
        help="run the bloom data-skipping ladder instead, at these file "
        "counts (e.g. 64,256,1024)",
    )
    ap.add_argument("--rows-per-file", type=int, default=10_000)
    ap.add_argument(
        "--optimize",
        default=None,
        help="run the small-file ingest ladder instead, at these tiny-"
        "append counts (e.g. 32,128)",
    )
    ap.add_argument(
        "--wap",
        default=None,
        help="run the publish-cost ladder instead, at these table scales "
        "(e.g. 1,4,16)",
    )
    args = ap.parse_args()
    if args.wap:
        wap_ladder([int(s) for s in args.wap.split(",")], args.reps)
        return
    if args.optimize:
        optimize_ladder([int(s) for s in args.optimize.split(",")], args.reps)
        return
    if args.metadata:
        metadata_ladder([int(s) for s in args.metadata.split(",")], args.reps)
        return
    if args.bloom:
        bloom_ladder(
            [int(s) for s in args.bloom.split(",")], args.rows_per_file, args.reps
        )
        return
    scales = [int(s) for s in args.scales.split(",")]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dc43_spark.io.ivm import refresh_sum_view
    from dc43_spark.io.snaplog import SnaplogTable

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="snaplog_ladder_")
    results = []
    try:
        for s in scales:
            n_rows = args.base_rows * s
            n_files = args.base_files * s
            path = f"{root}/t{s}"
            t = build_table(spark, path, n_rows, n_files)

            probe_key = n_rows // 2
            lookup = t.read(filters=[("k", "=", probe_key)])
            files_opened = len(lookup.inputFiles())
            t_lookup = timed(
                lambda: t.read(filters=[("k", "=", probe_key)]).collect(),
                args.reps,
            )
            t_fullscan = timed(
                lambda: t.read().filter(F.col("k") == probe_key).collect(),
                args.reps,
            )

            src = spark.createDataFrame(
                [(probe_key, probe_key % 97, 0, "upsert")],
                "k long, g long, x long, payload string",
            )
            merge_stats = []

            def one_merge():
                merge_stats.append(t.merge(src, ["k"]))

            t_merge = timed(one_merge, args.reps)
            rewritten = max(m.files_rewritten for m in merge_stats)

            view = SnaplogTable(spark, f"{root}/view{s}")
            refresh_sum_view(view, t, keys=["g"], sums={"sx": "x"})
            # fixed-size delta regardless of table size
            t.write(
                spark.range(1000).select(
                    (F.col("id") + 10 * n_rows).alias("k"),
                    (F.col("id") % 97).alias("g"),
                    F.col("id").alias("x"),
                    F.lit("delta").alias("payload"),
                )
            )
            t0 = time.monotonic()
            st = refresh_sum_view(view, t, keys=["g"], sums={"sx": "x"})
            t_refresh = time.monotonic() - t0

            results.append(
                {
                    "scale": s,
                    "rows": n_rows,
                    "files": len(t.snapshot().files),
                    "lookup_files_opened": files_opened,
                    "lookup_s": round(t_lookup, 3),
                    "fullscan_s": round(t_fullscan, 3),
                    "merge_rewritten_files": rewritten,
                    "merge_s": round(t_merge, 3),
                    "ivm_refresh_s": round(t_refresh, 3),
                    "ivm_strategy": st.strategy,
                }
            )
            shutil.rmtree(path, ignore_errors=True)
            shutil.rmtree(f"{root}/view{s}", ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    hdr = list(results[0].keys())
    print("| " + " | ".join(hdr) + " |")
    print("|" + "---|" * len(hdr))
    for r in results:
        print("| " + " | ".join(str(r[h]) for h in hdr) + " |")
    print(json.dumps({"snaplog_ladder": results}))
    spark.stop()


if __name__ == "__main__":
    main()
