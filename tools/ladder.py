"""Scale ladders: each O(files changed) or O(data) claim measured as a
curve over growing sizes.

Usage: python tools/ladder.py <name> [--rungs a,b,c] [--reps N]

Each ladder is a rung function registered under its name with default
rung sizes; ``--rungs`` overrides the sizes. For each size the harness
makes a fresh temporary directory, runs the rung under the job group
``<name>@<size>`` and prints its wall with the traced benchmark's counts
(``perfbench/layers.py::spark_op_metrics``, the line
``tools/job_profile.py`` prints). Counts cover the whole rung, table
build and every rep included; they repeat between processes where walls
do not. The timings inside a rung are the minimum of ``--reps`` runs
(the host is noisy). After the last rung it prints the rungs' rows as a
markdown table and one JSON line.

Spark ladders build ``job_profile.py``'s session: bench.py's settings on
$SPARK_GRAFT_CPUS cores (default 32). The driver-only ladders (metadata,
dv, rt_backfill) start no session; their count line reads zero jobs and
the whole wall as driver time. ``scale`` and ``ann_recall`` read the
data directory $SPARK_GRAFT_SF_DIR.

Each ladder's envelope is a test calling its rung at a small size
(tests/test_ladders.py, or the existing test named in the rung).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import re
import resource
import shutil
import sys
import tempfile
import time
import uuid
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_ROW = "k long, g long, x long, payload string"


@dataclass
class Run:
    """What a rung gets: the session (None for a driver-only ladder), a
    fresh directory it may fill, the reps its timings take the minimum
    of, and the data directory."""

    spark: object
    root: str
    reps: int = 1
    sf_dir: str | None = None

    def best(self, fn: Callable) -> float:
        return min(timed(fn)[0] for _ in range(self.reps))

    def data(self, table: str) -> str:
        if not self.sf_dir:
            raise SystemExit("set SPARK_GRAFT_SF_DIR to a scale-factor data directory")
        return os.path.join(self.sf_dir, f"{table}.parquet")


@dataclass(frozen=True)
class Ladder:
    fn: Callable
    rungs: str
    spark: bool


LADDERS: dict[str, Ladder] = {}


def ladder(rungs: str, *, spark: bool = True, name: str | None = None, **fixed):
    """Register the decorated rung ``fn(run, size)`` under ``name``
    (default its own) with its default rung sizes; ``fixed`` binds
    keyword arguments for this name."""

    def register(fn):
        LADDERS[name or fn.__name__] = Ladder(functools.partial(fn, **fixed), rungs, spark)
        return fn

    return register


def timed(fn: Callable):
    """(wall seconds, result) of one call of ``fn``."""
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def delta_log(root: str, commits, columns=("k",), partition_by=(), dv=False) -> None:
    """Hand-author a ``_delta_log`` under ``root``: version v commits the
    add actions ``commits[v]``, and version 0 opens with the protocol
    (deletion vectors on when ``dv``) and a table of long ``columns``."""
    protocol = (
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["deletionVectors"], "writerFeatures": ["deletionVectors"]}
        if dv else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    schema = {"type": "struct", "fields": [
        {"name": c, "type": "long", "nullable": True, "metadata": {}} for c in columns]}
    head = [{"protocol": protocol}, {"metaData": {
        "id": "ladder", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema), "partitionColumns": list(partition_by),
        "configuration": {}}}]
    os.makedirs(os.path.join(root, "_delta_log"))
    for v, adds in enumerate(commits):
        actions = (head if v == 0 else []) + [{"add": a} for a in adds]
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in actions)


def add(path: str, rows: int, **extra) -> dict:
    """An add action for a data file of ``rows`` rows, stats carried."""
    return {"path": path, "partitionValues": {}, "size": 1, "modificationTime": 0,
            "dataChange": True, "stats": json.dumps({"numRecords": rows}), **extra}


def _write_long_file(path: str, values) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": pa.array(values, pa.int64())}), path)


# ------------------------------------------------------------- snaplog


def _clustered_table(spark, path: str, n_rows: int, n_files: int):
    from pyspark.sql import functions as F

    from dc43_spark.io.snaplog import SnaplogTable

    t = SnaplogTable(spark, path, change_feed=True)
    t.write(
        spark.range(n_rows).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("g"),
            (F.col("id") * 3).alias("x"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        ).repartitionByRange(n_files, "k").sortWithinPartitions("k"),
        mode="overwrite",
    )
    return t


@ladder("1,4,16")
def snaplog(run: Run, scale: int, base_rows: int = 200_000, base_files: int = 8):
    """A key-clustered snaplog table of ``scale`` x ``base_rows`` rows.
    A point lookup opens one file and stays flat while the full-scan
    filter grows with the table; a 1-row merge rewrites one file
    (test_snaplog.py::test_merge_rewrites_only_matched_files); a
    fixed-size IVM refresh is flat."""
    from pyspark.sql import functions as F

    from dc43_spark.io.ivm import refresh_sum_view
    from dc43_spark.io.snaplog import SnaplogTable

    spark = run.spark
    n_rows = base_rows * scale
    t = _clustered_table(spark, f"{run.root}/t", n_rows, base_files * scale)
    probe = n_rows // 2
    opened = len(t.read(filters=[("k", "=", probe)]).inputFiles())
    lookup_s = run.best(lambda: t.read(filters=[("k", "=", probe)]).collect())
    fullscan_s = run.best(lambda: t.read().filter(F.col("k") == probe).collect())
    src = spark.createDataFrame([(probe, probe % 97, 0, "upsert")], _ROW)
    merges = []
    merge_s = run.best(lambda: merges.append(t.merge(src, ["k"])))
    view = SnaplogTable(spark, f"{run.root}/view")
    refresh_sum_view(view, t, keys=["g"], sums={"sx": "x"})
    t.write(spark.range(1000).select(  # the same delta at every size
        (F.col("id") + 10 * n_rows).alias("k"),
        (F.col("id") % 97).alias("g"),
        F.col("id").alias("x"),
        F.lit("delta").alias("payload"),
    ))
    refresh_s, st = timed(lambda: refresh_sum_view(view, t, keys=["g"], sums={"sx": "x"}))
    return {
        "scale": scale, "rows": n_rows, "files": len(t.snapshot().files),
        "lookup_files_opened": opened, "lookup_s": lookup_s, "fullscan_s": fullscan_s,
        "merge_rewritten_files": max(m.files_rewritten for m in merges),
        "merge_s": merge_s, "ivm_refresh_s": refresh_s, "ivm_strategy": st.strategy,
    }


@ladder("10000,100000", spark=False)
def metadata(run: Run, entries: int):
    """What a reader pays for a checkpoint of ``entries`` files, JSON
    against columnar parquet: the log load, a stats prune to one file,
    and every per-file object built. The cost is Python objects, not
    bytes, which is why the parquet checkpoint is read lazily."""
    import random

    from dc43_spark.io.snaplog import SnaplogTable
    from dc43_spark.io.tablecore import FileEntry

    rng = random.Random(7)
    row = {"entries": entries}
    for fmt in ("json", "parquet"):
        t = SnaplogTable.__new__(SnaplogTable)
        t.spark = None
        t.path = os.path.join(run.root, fmt)
        t.checkpoint_interval = 10
        t.checkpoint_format = fmt
        os.makedirs(t.log_dir)
        files = tuple(
            FileEntry(
                f"data/part-{i:07d}-{rng.getrandbits(64):016x}.parquet", 10_000, 5_000_000,
                {c: {"min": i * 10_000 + off, "max": (i + 1) * 10_000 + off, "nulls": 0}
                 for off, c in enumerate(("k", "g", "x", "ts"))},
            )
            for i in range(entries)
        )
        if fmt == "parquet":
            t._write_parquet_checkpoint(10, SimpleNamespace(
                files=files, dvs=(), schema_json="{}", partition_by=(), timestamp=1.0,
                constraints={}, column_mapping={}, retired=(), refs={}, generated={}))
        else:
            with open(os.path.join(t.log_dir, "%020d.checkpoint.json" % 10), "w") as fh:
                json.dump({"version": 10, "timestamp": 1.0, "schema_json": "{}",
                           "partition_by": [], "dvs": [],
                           "files": [t._entry_record(f) for f in files]}, fh)
        with open(os.path.join(t.log_dir, "%020d.json" % 10), "w") as fh:
            json.dump({"operation": "append", "add": [], "remove": [], "timestamp": 1.0}, fh)
        del files
        probe = (entries // 2) * 10_000 + 5
        row[f"{fmt}_snapshot_s"] = run.best(lambda: t.snapshot(10))
        row[f"{fmt}_prune_s"] = run.best(lambda: t.snapshot(10).prune([[("k", "=", probe)]]))
        row[f"{fmt}_materialize_s"] = run.best(lambda: len(t.snapshot(10).files))
        row[f"{fmt}_mb"] = os.path.getsize(
            os.path.join(t.log_dir, "%020d.checkpoint.%s" % (10, fmt))) / 1e6
    return row


@ladder("64,256,1024")
def bloom(run: Run, files: int):
    """Keys hash-interleaved over ``files`` files, so min/max stats
    cannot prune: a bloom point lookup opens about one file while a
    stats-only twin opens most of the table (tests/test_snaplog_bloom.py
    pins the files opened); warm planning is driver-side and flat."""
    from pyspark.sql import functions as F

    from dc43_spark.io.snaplog import BLOOM_DIR, SnaplogTable

    spark = run.spark
    n_rows = files * 10_000
    df = spark.range(n_rows).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("payload"),
    ).repartition(files, F.col("k") % files)
    tb = SnaplogTable(spark, os.path.join(run.root, "b"), bloom_columns=["k"])
    tb.write(df, mode="overwrite")
    tn = SnaplogTable(spark, os.path.join(run.root, "n"))
    tn.write(df, mode="overwrite")
    probe = n_rows // 2 + 1
    cold_s, cold = timed(lambda: tb.read(filters=[("k", "=", probe)]))
    bdir = os.path.join(tb.path, BLOOM_DIR)
    return {
        "files": files, "rows": n_rows, "bloom_plan_cold_s": cold_s,
        "bloom_files_opened": len(cold.inputFiles()),
        "stats_files_opened": len(tn.read(filters=[("k", "=", probe)]).inputFiles()),
        "bloom_plan_warm_s": run.best(lambda: tb.read(filters=[("k", "=", probe + 2)])),
        "bloom_lookup_s": run.best(lambda: tb.read(filters=[("k", "=", probe + 4)]).collect()),
        "stats_lookup_s": run.best(lambda: tn.read(filters=[("k", "=", probe + 4)]).collect()),
        "sidecar_kb_per_file": sum(
            os.path.getsize(os.path.join(bdir, f)) for f in os.listdir(bdir)) / 1024 / files,
    }


@ladder("32,128")
def optimize(run: Run, appends: int):
    """``appends`` one-row appends: a plain table's file count grows with
    them and an auto-compact table's stays flat
    (tests/test_snaplog_optimize.py). Then one write of ``appends``
    input partitions into 8 partition values: optimizeWrite lands one
    file per value, the plain write one per (partition, value)."""
    from pyspark.sql import functions as F

    from dc43_spark.io.snaplog import SnaplogTable

    spark = run.spark
    row = {"appends": appends}
    for kind in ("plain", "auto_compact"):
        t = SnaplogTable(spark, f"{run.root}/{kind}", auto_compact=kind == "auto_compact",
                         auto_compact_min_files=8)
        for i in range(appends):
            t.write(spark.createDataFrame([(i, f"s{i}")], "k long, v string").coalesce(1),
                    mode="append")
        row[f"{kind}_files"] = t.snapshot().num_files
        row[f"{kind}_read_s"] = run.best(lambda: t.read(filters=[("k", "=", 1)]).collect())
        if kind == "auto_compact":
            row["compact_commits"] = sum(1 for c in t.history() if c.operation == "compact")
    df = spark.range(10_000 * appends).select(
        (F.col("id") % 8).cast("string").alias("p"), F.col("id").alias("k"),
    ).repartition(appends)
    for kind in ("write", "optimize_write"):
        t = SnaplogTable(spark, f"{run.root}/{kind}", optimize_write=kind == "optimize_write")
        row[f"{kind}_s"], _ = timed(lambda: t.write(df, mode="overwrite", partition_by=["p"]))
        row[f"{kind}_files"] = t.snapshot().num_files
    return row


@ladder("1,4,16")
def wap(run: Run, scale: int):
    """A fixed-size branch (a 5-key merge and a 1-row append) published
    into a table of ``scale`` x 100k rows: publish wall and files
    changed stay flat, the commit is O(files the branch changed)."""
    import itertools

    spark = run.spark
    n_rows = 100_000 * scale
    t = _clustered_table(spark, f"{run.root}/t", n_rows, 8 * scale)
    before = t.snapshot().num_files
    branches = itertools.count()

    def publish():
        i = next(branches)
        b = t.branch_out(f"{run.root}/b{i}")
        b.merge(spark.createDataFrame(
            [(n_rows // 2 + j, 0, 0, "wap") for j in range(5)], _ROW).coalesce(1), ["k"])
        b.write(spark.createDataFrame([(10 * n_rows + i, 0, 0, "new")], _ROW).coalesce(1),
                mode="append")
        t.publish(b)

    publish_s = run.best(publish)
    return {
        "scale": scale, "rows": n_rows, "table_files_before": before, "publish_s": publish_s,
        # the merge rewrote one file; the append and the insert added
        "files_changed_by_last_publish": t.snapshot().num_files - before + 1,
    }


# ------------------------------------------------------------- corpus scale


def _replicas(spark, base, k: int):
    """``k`` variants of every document. Replica r reorders each
    document's tokens by xxhash64(token, r), so every corpus-filter
    signal (token count, stopwords, language markers, distinct count,
    punctuation) survives and each replica keeps about the base
    document set, while the k-token shingles differ, so replicas are
    not near-duplicates of each other and the pair count grows linearly
    with k. Replica 0 is the original text."""
    from pyspark.sql import functions as F

    if k == 1:
        return base
    keyed = F.transform(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda t: F.struct(F.xxhash64(t, F.col("_rep")).alias("k"), t.alias("t")),
    )
    reordered = F.concat_ws(" ", F.transform(F.array_sort(keyed), lambda s: s["t"]))
    return base.crossJoin(F.broadcast(spark.range(k).select(F.col("id").alias("_rep")))).select(
        (F.col("doc_id") * k + F.col("_rep")).alias("doc_id"),
        F.when(F.col("_rep") == 0, F.col("text")).otherwise(reordered).alias("text"),
        "lang", "source", "n_chars",
    )


@ladder("1,10,30")
def scale(run: Run, k: int):
    """``k`` replicas of the documents at $SPARK_GRAFT_SF_DIR. An LSH
    index probe with a fixed 50-document batch is flat in index size;
    the curation capstone (filter, LSH, CC, canonical, encode) is linear
    in corpus size, and its output rows grow with ``k``."""
    from dc43_spark import showcase_curation
    from dc43_spark.functions import dedup_index as di

    spark = run.spark
    base = spark.read.parquet(run.data("documents"))
    corpus_dir = os.path.join(run.root, "corpus")
    _replicas(spark, base, k).write.parquet(os.path.join(corpus_dir, "documents.parquet"))
    corpus = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    index = os.path.join(run.root, "index")
    di.minhash_index_write(corpus.select("doc_id", "text"), index)
    batch = spark.createDataFrame(
        [(int(r.doc_id), r.text) for r in base.limit(50).collect()], "doc_id long, text string")
    probe_s = run.best(lambda: di.minhash_index_probe(spark, index, batch).count())
    out = []
    capstone_s = run.best(lambda: out.append(
        showcase_curation.q_curation_pipeline_documents(spark, corpus_dir).count()))
    return {"scale": k, "docs": corpus.count(), "probe_s": probe_s,
            "capstone_s": capstone_s, "capstone_rows": out[-1]}


@ladder("64,512,4096,32768")
def cc_chain(run: Run, chain: int):
    """Connected components over a chain of ``chain`` edges, the longest
    graph of its size: it collapses to one root in O(log chain)
    large/small-star rounds (the driver threshold is off so the
    distributed branch runs)."""
    from pyspark.sql import functions as F

    from dc43_spark.functions import dedup as dd

    edges = run.spark.range(chain).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    stats: dict = {}
    cc_s, roots = timed(lambda: dd.connected_components(
        edges, driver_threshold=0, max_iterations=40, stats=stats
    ).select("root").distinct().count())
    return {"chain": chain, "rounds": stats["rounds"], "roots": roots, "s": cc_s}


# ------------------------------------------------------------- jar-less Delta


@ladder("1000000,10000000", spark=False)
def dv(run: Run, positions: int):
    """The driver half of snaplog-to-Delta DV export at ``positions``
    deleted positions over 64 files: the union of a snapshot's
    (file, pos) parquet (``_snaplog_dv_positions``) and its re-encoding
    as protocol deletion vectors (``_emit_dv_file``), wall and peak RSS."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dc43_spark.io.delta_log import _emit_dv_file, _snaplog_dv_positions

    files = 64
    rng = np.random.default_rng(7)
    names = np.array([f"part-{i:05d}.parquet" for i in range(files)])
    codes = rng.integers(0, files, positions)
    pos = rng.integers(0, 4_000_000, positions)
    os.makedirs(os.path.join(run.root, "dv"))
    rels = []
    # two DV parquet files: the shape several merge-on-read commits stage
    for i, part in enumerate((slice(0, positions // 2), slice(positions // 2, None))):
        rels.append(f"dv/dv-{i}.parquet")
        pq.write_table(
            pa.table({"file": pa.array(names[codes[part]]), "pos": pa.array(pos[part], pa.int64())}),
            os.path.join(run.root, rels[-1]),
        )
    table = SimpleNamespace(path=run.root)
    snap = SimpleNamespace(dvs=[SimpleNamespace(path=r) for r in rels])
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    union_s = run.best(lambda: _snaplog_dv_positions(table, snap))
    by_file = _snaplog_dv_positions(table, snap)
    encode_s, descs = timed(lambda: _emit_dv_file(run.root, by_file))
    return {
        "positions": positions, "files": files, "union_s": union_s, "encode_s": encode_s,
        "rss_delta_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - rss0) / 1024,
        "unique_positions": sum(d["cardinality"] for d in descs.values()),
    }


_DV_GATE = "spark.dc43.delta.dvBroadcastMaxPositions"


@ladder("1000000,10000000,100000000", name="dv_read_cdf", mode="cdf")
@ladder("1000000,10000000,100000000", name="dv_read_source", mode="source")
@ladder("1000000,10000000,100000000")
def dv_read(run: Run, positions: int, mode: str = "scan"):
    """Deletion vectors of ``positions`` deleted positions over a fixed
    2M-row scan of 64 files (real parquet, real DV blobs,
    a hand-authored log). ``scan``: ``DeltaLogTable.read()``'s DV
    anti-join on both sides of ``dvBroadcastMaxPositions`` (broadcast
    only up to 10M positions, the driver-OOM shape the gate forbids).
    ``cdf``: ``table_changes(1, 1)`` over a commit that re-adds each
    file with a grown vector, diffed executor-side, gated the same way.
    ``source``: the deltalog stream to a noop sink, which ships only
    O(1) DV descriptors to the executors."""
    import numpy as np

    from dc43_spark.io import dv as dvmod
    from dc43_spark.io.delta_log import DeltaLogTable

    def descriptor(kept) -> dict:
        blob = dvmod.serialize_dv_blob(kept)
        u = uuid.uuid4()
        (off,) = dvmod.write_dv_file(os.path.join(run.root, f"deletion_vector_{u}.bin"), [blob])
        return {"storageType": "u", "pathOrInlineDv": dvmod.z85_encode(u.bytes),
                "offset": off, "sizeInBytes": len(blob), "cardinality": int(len(kept))}

    files = 64
    per_file = 2_000_000 // files
    rng = np.random.default_rng(11)
    first, grown = [], []
    for i in range(files):
        name = f"part-{i:05d}.parquet"
        _write_long_file(os.path.join(run.root, name), np.arange(per_file))
        # spread over a 64M space, mostly past the physical rows: probe
        # misses are the common case on a merge-on-read table's bitmap
        pos = np.unique(rng.integers(0, 64_000_000, positions // files).astype(np.int64))
        first.append(add(name, per_file, deletionVector=descriptor(
            pos[: len(pos) // 2] if mode == "cdf" else pos)))
        if mode == "cdf":
            grown.append(add(name, per_file, deletionVector=descriptor(pos)))
    delta_log(run.root, [first, grown] if mode == "cdf" else [first], dv=True)
    spark = run.spark
    if mode == "source":
        from dc43_spark.io.delta_source import DeltaLogDataSource

        spark.dataSource.register(DeltaLogDataSource)

        def stream() -> None:
            q = (spark.readStream.format("deltalog").load(run.root).writeStream.format("noop")
                 .option("checkpointLocation", tempfile.mkdtemp(dir=run.root))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            if q.exception():
                raise RuntimeError(str(q.exception()))

        return {"positions": positions, "mode": mode, "s": run.best(stream)}
    t = DeltaLogTable(spark, run.root)
    out = []
    try:
        for join in ("shuffle",) if positions > 10_000_000 else ("broadcast", "shuffle"):
            spark.conf.set(_DV_GATE, str(positions + 1 if join == "broadcast" else 0))
            out.append({"positions": positions, "mode": f"{mode}-{join}", "s": run.best(
                lambda: (t.table_changes(1, 1) if mode == "cdf" else t.read()).count())})
    finally:
        spark.conf.unset(_DV_GATE)
    return out


def _storage_mb(spark) -> float:
    """Block-manager storage in use across executors (MB)."""
    used = 0
    it = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().iterator()
    while it.hasNext():
        max_rem = it.next()._2()  # (max, remaining)
        used += int(max_rem._1()) - int(max_rem._2())
    return used / (1 << 20)


@ladder("1000000,10000000")
def dml_touch(run: Run, hit_rows: int, files: int = 16):
    """Jar-less Delta UPDATE, MERGE and DELETE each touching
    ``hit_rows`` rows of a 2 x ``hit_rows`` table. The touch frames are
    persisted spillable and released when each op returns: storage in
    use after the UPDATE is the leak, and should read 0."""
    from pyspark.sql import functions as F

    from dc43_spark.io.delta_dml import delta_delete, delta_merge, delta_update
    from dc43_spark.io.delta_log import DeltaLogTable, delta_write

    spark = run.spark
    path = os.path.join(run.root, "t")
    build_s, _ = timed(lambda: delta_write(
        spark,
        spark.range(2 * hit_rows).select(
            F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v"),
            F.sha1(F.col("id").cast("string")).alias("pad"),
        ).repartition(files),
        path, checkpoint_interval=None, configuration={"delta.enableDeletionVectors": "true"},
    ))
    update_s, _ = timed(lambda: delta_update(spark, path, {"v": "v + 1"}, "k % 2 = 0"))
    leaked = _storage_mb(spark)
    merge_s, _ = timed(lambda: delta_merge(spark, spark.range(hit_rows).select(
        (F.col("id") * 2 + 1).alias("k"), F.lit(-1).alias("v"), F.lit("m").alias("pad"),
    ), path, ["k"]))
    delete_s, _ = timed(lambda: delta_delete(spark, path, "k % 4 = 0"))
    return {
        "hit_rows": hit_rows, "table_rows": 2 * hit_rows, "build_s": build_s,
        "update_s": update_s, "merge_s": merge_s, "delete_s": delete_s,
        "storage_after_release_mb": leaked,
        "rows_after": DeltaLogTable(spark, path).read().count(),
    }


@ladder("1000,5000,10000")
def lineage_plan(run: Run, partitions: int):
    """A table of one 4-row file per partition value: the DML lineage
    scan (``delta_dml._live_lineage``) and the reader plan one parquet
    scan plus a broadcast file-identity join, so analysis stays flat in
    partition count (SCALE.md r11 records the per-partition union it
    replaced)."""
    from dc43_spark.io.delta_dml import _live_lineage
    from dc43_spark.io.delta_log import DeltaLogTable

    adds = []
    for i in range(partitions):
        name = f"part-{i:06d}.parquet"
        _write_long_file(os.path.join(run.root, name), range(4))
        adds.append(add(name, 4, partitionValues={"p": str(i)}))
    delta_log(run.root, [adds], columns=("k", "p"), partition_by=("p",))
    t = DeltaLogTable(run.spark, run.root)
    snap = t.snapshot()

    def analyzed(frame):
        df = frame()
        df.schema  # forces analysis
        return df

    out = []
    for mode, frame in (("identity-join", lambda: _live_lineage(t, snap)), ("reader", t.read)):
        analyze_s, df = timed(lambda: analyzed(frame))
        job_s, n = timed(df.count)
        out.append({"partitions": partitions, "mode": mode, "analyze_s": analyze_s,
                    "first_job_s": job_s, "rows": n})
    return out


_BROADCAST_JOIN = re.compile(r"Broadcast\w*Join")


@ladder("16,64,256,1024")
def cdf_range(run: Run, commits: int, rows_per_commit: int = 1000):
    """``table_changes`` over an append-only history of ``commits``
    commits, jar-less Delta (hand-authored log) and snaplog: one parquet
    scan per change type and one broadcast stamp join at every depth,
    so frame build stays flat and the count grows with data only."""
    from pyspark.sql import functions as F

    from dc43_spark.io.delta_log import DeltaLogTable
    from dc43_spark.io.snaplog import SnaplogTable

    spark = run.spark
    names = [f"f{v:06d}.parquet" for v in range(commits)]
    for name in names:
        _write_long_file(os.path.join(run.root, name), range(rows_per_commit))
    delta_log(run.root, [[add(name, rows_per_commit)] for name in names])
    snap = SnaplogTable(spark, os.path.join(run.root, "snaplog"))
    batch = spark.range(rows_per_commit).select(F.col("id").alias("k")).coalesce(1)
    for v in range(commits):
        snap.write(batch, mode="overwrite" if v == 0 else "append")
    out = []
    for fmt, t in (("delta", DeltaLogTable(spark, run.root)), ("snaplog", snap)):
        build_s, df = timed(lambda: t.table_changes(0, commits - 1))
        count_s, (n, versions) = timed(
            lambda: df.agg(F.count(F.lit(1)), F.countDistinct("_commit_version")).first())
        # AQE prints the final plan and then the initial one: count the first
        plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        out.append({
            "format": fmt, "commits": commits, "build_df_s": build_s, "count_s": count_s,
            "rows": n, "versions": versions, "parquet_scans": plan.count("Scan parquet"),
            "broadcast_joins": len(_BROADCAST_JOIN.findall(plan)),
        })
    return out


@ladder("1000,10000,100000", spark=False)
def rt_backfill(run: Run, files: int):
    """``delta_enable_row_tracking`` on a table of ``files`` live files
    re-adds every file in one commit with a fresh ``baseRowId``; with
    stats in every add it opens no data file, so the cost is the O(files)
    commit build and write."""
    from dc43_spark.io.delta_log import DeltaLogTable, delta_enable_row_tracking

    delta_log(run.root, [[add(f"part-{i:06d}.parquet", 1000) for i in range(files)]])
    enable_s, v = timed(lambda: delta_enable_row_tracking(None, run.root))
    commit = os.path.join(run.root, "_delta_log", f"{v:020d}.json")
    reconstruct_s, (adds, _, _, _) = timed(lambda: DeltaLogTable(None, run.root)._collect_state(v))
    return {
        "files": files, "enable_s": enable_s, "commit_mb": os.path.getsize(commit) / 1e6,
        "reconstruct_s": reconstruct_s, "adds": len(adds),
        "base_row_ids": sum(a.get("baseRowId") is not None for a in adds.values()),
    }


# ------------------------------------------------------------- functions


@ladder("10000,1000000,10000000")
def hh(run: Run, distinct: int, rows: int = 20_000_000, frac: float = 0.001):
    """Heavy hitters over ``rows`` rows, half on 20 hot keys and half
    spread over ``distinct`` cold keys: the naive group-by shuffles one
    row per distinct key, the two-pass Misra-Gries plan
    (functions/sketch.py) O(partitions x capacity) rows, and both find
    the same hitters."""
    from pyspark.sql import functions as F

    from dc43_spark.functions.sketch import _mg_summaries, default_capacity, heavy_hitters

    spark = run.spark
    # the modulus runs over id DIV 2 so each branch sees every residue
    half = F.floor(F.col("id") / 2)
    df = spark.range(rows).repartition(spark.sparkContext.defaultParallelism).select(
        F.when(F.col("id") % 2 == 0, (half % 20).cast("string"))
        .otherwise(F.concat(F.lit("u"), (half % distinct).cast("string"))).alias("k")
    ).persist()
    try:
        n = df.count()
        naive_s, naive = timed(lambda: df.groupBy("k").count()
                               .filter(F.col("count") >= F.lit(frac * n)).count())
        two_pass_s, hitters = timed(lambda: heavy_hitters(df, "k", frac).count())
        summary_rows = df.select(F.col("k").alias("key")).mapInPandas(
            _mg_summaries(default_capacity(frac)), "key string, cnt long").count()
    finally:
        df.unpersist()
    return {
        "rows": n, "distinct_cold_keys": distinct, "naive_hitters": naive, "hitters": hitters,
        "naive_s": naive_s, "two_pass_s": two_pass_s, "stage1_shuffle_rows": summary_rows,
        "naive_shuffle_rows_approx": distinct + 20,
    }


@ladder("8,32,64")
def profile_width(run: Run, width: int):
    """``profile_columns`` over ``width`` columns of 2M rows, exact
    against approx: exact plans one countDistinct per column, which
    Catalyst runs as N Expand copies of the scan, so it grows with
    width; approx swaps them for HLL sketches over one stream."""
    from pyspark.sql import functions as F

    from dc43_spark.contracts.profiling import profile_columns

    spark = run.spark
    rows = 2_000_000
    half = width // 2
    df = spark.range(rows, numPartitions=spark.sparkContext.defaultParallelism).select(
        *[(F.col("id") % (10 ** (1 + i % 6))).alias(f"n{i}") for i in range(half)],
        *[F.concat(F.lit(f"s{i}_"), F.col("id") % (5 + 50 * i)).alias(f"s{i}")
          for i in range(width - half)],
    )
    exact_s = run.best(lambda: profile_columns(df, distinct_strategy="exact"))
    approx_s = run.best(lambda: profile_columns(df, distinct_strategy="approx"))
    return {"width": width, "rows": rows, "exact_s": exact_s, "approx_s": approx_s,
            "speedup": exact_s / max(approx_s, 1e-9)}


def _recall(truth: dict, approx: dict) -> float:
    """Mean |approx & truth| / |truth| over queries with a non-empty truth."""
    scores = [len(approx.get(q, set()) & want) / len(want) for q, want in truth.items() if want]
    return sum(scores) / len(scores) if scores else 0.0


@ladder("10")
def ann_recall(run: Run, k: int):
    """recall@``k`` of each approximate similarity tier (LSH buckets,
    IVF partial probe, int8 IVF index, PQ with and without rescoring,
    IVF-PQ) against the exact ``cosine_topk``, over the embeddings at
    $SPARK_GRAFT_SF_DIR with the first 100 vectors as queries.
    Full probe equals brute force; the rest records what each setting
    gives up."""
    from dc43_spark.functions import similarity as sim

    spark = run.spark
    corpus = spark.read.parquet(run.data("embeddings")).select("vec_id", "embedding")
    qs = corpus.orderBy("vec_id").limit(100)

    def topk(df) -> dict:
        out: dict = {}
        for r in df.collect():
            out.setdefault(r.q_id, set()).add(r.n_id)
        return out

    truth = topk(sim.cosine_topk(qs, corpus, k=k))
    configs = {}
    for planes, probe in ((6, 0), (6, 1), (8, 1), (10, 1)):
        configs[f"lsh_planes{planes}_probe{probe}"] = lambda planes=planes, probe=probe: (
            sim.lsh_bucketed_topk(qs, corpus, k=k, n_planes=planes, multi_probe=probe))
    for nprobe in (2, 4, 8, 16):
        configs[f"ivf_c16_probe{nprobe}"] = lambda nprobe=nprobe: sim.ivf_topk(
            qs, corpus, k=k, n_centroids=16, nprobe=nprobe)
    index = os.path.join(run.root, "ivf8")
    sim.ivf_write_index_quantized(corpus, index, n_centroids=16)
    for nprobe in (4, 16):
        configs[f"ivf_int8_c16_probe{nprobe}"] = lambda nprobe=nprobe: (
            sim.ivf_query_index_quantized(spark, index, qs, corpus, k=k, nprobe=nprobe))
    rows = [{"k": k, "configuration": name, "recall": _recall(truth, topk(fn()))}
            for name, fn in configs.items()]
    for m in (8, 16):
        books = sim.train_pq(corpus, m=m, n_codes=256)
        codes = sim.pq_encode(corpus, books).cache()
        try:
            for name, extra in (("adc", {}), ("rescore8", {"corpus": corpus, "rescore_factor": 8})):
                rows.append({"k": k, "configuration": f"pq_m{m}_k256_{name}", "recall": _recall(
                    truth, topk(sim.pq_topk(qs, codes, books, k=k, **extra)))})
        finally:
            codes.unpersist()
    for nprobe in (2, 4, 8, 16):
        rows.append({"k": k, "configuration": f"ivfpq_c16_probe{nprobe}_rescore8",
                     "recall": _recall(truth, topk(sim.ivfpq_topk(
                         qs, corpus, k=k, n_centroids=16, nprobe=nprobe, rescore_factor=8)))})
    return rows


# ------------------------------------------------------------- harness


def _print_table(rows: list[dict]) -> None:
    cols = list(dict.fromkeys(c for r in rows for c in r))
    print("| " + " | ".join(cols) + " |")
    print("|" + "---|" * len(cols))
    for r in rows:
        print("| " + " | ".join(str(r.get(c, "")) for c in cols) + " |")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("name", choices=sorted(LADDERS))
    ap.add_argument("--rungs", help="comma-separated rung sizes (default: the ladder's own)")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    lad = LADDERS[args.name]

    from job_profile import count_line, session
    from perfbench.layers import spark_op_metrics

    spark = session("dc43-ladder") if lad.spark else None
    rows: list[dict] = []
    for size in (int(s) for s in (args.rungs or lad.rungs).split(",")):
        op = f"{args.name}@{size}"
        root = tempfile.mkdtemp(prefix="dc43_ladder_")
        try:
            if spark is not None:
                spark.sparkContext.setJobGroup(op, op)
            start = time.time()
            out = lad.fn(Run(spark, root, args.reps, os.environ.get("SPARK_GRAFT_SF_DIR")), size)
            end = time.time()
        finally:
            shutil.rmtree(root, ignore_errors=True)
        if spark is None:
            counts = {"spark.jobs": 0, "spark.tasks": 0, "spark.shuffle_bytes": 0,
                      "spark.executor_cpu_s": 0.0, "driver_s": end - start}
        else:
            counts = spark_op_metrics(spark, {op: (start, end)})[op]
            spark.catalog.clearCache()
        print(count_line(op, end - start, counts), flush=True)
        rows += [{c: round(v, 4) if isinstance(v, float) else v for c, v in r.items()}
                 for r in (out if isinstance(out, list) else [out])]
    _print_table(rows)
    print(json.dumps({"ladder": args.name, "rows": rows}))
    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
