"""Deep-range change-feed ladder (r13): measure ``table_changes`` over
append-only histories of N commits on BOTH table formats — the shape an
IVM consumer or batch-CDF read hits when sweeping thousands of retained
commits.

Before r13 each commit contributed its own union branch and driver plan
construction grew superlinearly (256 Delta commits: 9.2 s build + 5.2 s
count). Since r13, no-DV adds/removes batch across the whole range into
one plan per change type (Delta) / one scan per schema generation
(snaplog), with commit stamps riding a broadcast identity/stamp join —
so build time is flat-ish and the ladder should show near-constant
build_df with count growing only with data volume. Each rung also
counts the ``Scan parquet`` nodes and broadcast joins of the frame's
executed plan: an append-only range plans one of each at every depth.

Usage: python tools/cdf_range_ladder.py [--commits 16,64,256,1024]
       [--rows-per-commit 1000] [--format delta|snaplog|both]
Prints a markdown table + one JSON line (SCALE.md material).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _build_delta(root: str, n_commits: int, rows: int) -> None:
    os.makedirs(os.path.join(root, "_delta_log"))
    data = pa.table({"k": pa.array(np.arange(rows), pa.int64())})
    head = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "ladder",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps({
                          "type": "struct",
                          "fields": [{"name": "k", "type": "long",
                                      "nullable": True, "metadata": {}}],
                      }),
                      "partitionColumns": [], "configuration": {}}},
    ]
    for v in range(n_commits):
        name = f"f{v:06d}.parquet"
        pq.write_table(data, os.path.join(root, name))
        acts = (head if v == 0 else []) + [
            {"add": {"path": name, "partitionValues": {}, "size": 1,
                     "dataChange": True,
                     "stats": json.dumps({"numRecords": rows})}}
        ]
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"),
                  "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in acts)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--commits", default="16,64,256,1024")
    ap.add_argument("--rows-per-commit", type=int, default=1000)
    ap.add_argument("--format", default="both",
                    choices=("delta", "snaplog", "both"))
    args = ap.parse_args()
    depths = [int(s) for s in args.commits.split(",")]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("cdf_range_ladder")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows_out = []

    def _measure(fmt, make_table):
        for n in depths:
            root = tempfile.mkdtemp(prefix="cdf_range_")
            try:
                t = make_table(root, n)
                t0 = time.perf_counter()
                df = t.table_changes(0, n - 1)
                build_s = time.perf_counter() - t0
                t1 = time.perf_counter()
                cnt = df.count()
                versions = df.agg(
                    F.countDistinct("_commit_version")
                ).collect()[0][0]
                count_s = time.perf_counter() - t1
                # AQE's toString prints Final AND Initial plans: count one
                plan = (df._jdf.queryExecution().executedPlan().toString()
                        .split("== Initial Plan ==")[0])
                assert cnt == n * args.rows_per_commit and versions == n, (
                    fmt, n, cnt, versions)
                rows_out.append({
                    "format": fmt, "commits": n,
                    "build_df_sec": round(build_s, 2),
                    "count_sec": round(count_s, 2),
                    "parquet_scans": plan.count("Scan parquet"),
                    "broadcast_joins": len(
                        re.findall(r"Broadcast\w*Join", plan)),
                })
            finally:
                shutil.rmtree(root, ignore_errors=True)

    if args.format in ("delta", "both"):
        from dc43_spark.io.delta_log import DeltaLogTable

        def make_delta(root, n):
            _build_delta(root, n, args.rows_per_commit)
            return DeltaLogTable(spark, root)

        _measure("delta", make_delta)
    if args.format in ("snaplog", "both"):
        from dc43_spark.io.snaplog import SnaplogTable

        def make_snaplog(root, n):
            t = SnaplogTable(spark, os.path.join(root, "t"))
            base = spark.range(args.rows_per_commit).select(
                F.col("id").alias("k")
            ).coalesce(1)
            for v in range(n):
                t.write(base, mode="overwrite" if v == 0 else "append")
            return t

        _measure("snaplog", make_snaplog)

    print("| format | commits | build_df s | count s | parquet scans "
          "| broadcast joins |")
    print("|---|---|---|---|---|---|")
    for r in rows_out:
        print(f"| {r['format']} | {r['commits']:,} | {r['build_df_sec']} "
              f"| {r['count_sec']} | {r['parquet_scans']} "
              f"| {r['broadcast_joins']} |")
    print(json.dumps({"metric": "cdf_range_ladder", "rows": rows_out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
