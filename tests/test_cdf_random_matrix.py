"""Seeded randomized differential suite for the derived change feed.

r13 rewrote ``DeltaLogTable.table_changes``' derived path twice (executor-
side DV diffs + per-commit batched joins, then cross-commit range
batching of no-DV specs). This suite is the adversarial guard for that
rewrite: random histories — appends, DV growth, DV shrink (RESTORE
shape), full-file removes, re-adds of removed paths, no-op config
commits — are hand-authored onto a real ``_delta_log`` and replayed by a
PURE-PYTHON model of the protocol's CDF rules; every
``(k, _change_type, _commit_version)`` multiset must match exactly, over
the full range and over random sub-ranges (sub-ranges start from a
reconstructed state, exercising ``_collect_state``'s interplay with the
batching). Every range is read twice: through ``table_changes`` and
through the batch ``readChangeFeed`` source, the two readers of one
planner (``delta_source.change_partitions``)."""

from __future__ import annotations

import json
import os
import random
import urllib.parse
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dc43_spark.io import dv as dvmod
from dc43_spark.io.delta_log import DeltaLogTable
from dc43_spark.io.delta_source import DeltaLogDataSource


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    lines = [{"commitInfo": {"timestamp": 1700000000000 + version * 60000,
                             "operation": "WRITE"}}]
    lines += actions
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in lines)


def _data_file(table, rel, ks):
    abs_p = os.path.join(table, rel)
    pq.write_table(
        pa.table({"k": pa.array(ks, pa.int64())}), abs_p
    )
    return {
        "add": {
            "path": urllib.parse.quote(rel),
            "partitionValues": {},
            "size": os.path.getsize(abs_p),
            "modificationTime": 0,
            "dataChange": True,
            "stats": json.dumps({"numRecords": len(ks)}),
        }
    }


def _with_dv(table, add_action, positions):
    blob = dvmod.serialize_dv_blob(sorted(positions))
    out = json.loads(json.dumps(add_action))
    u = uuid.uuid4()
    (off,) = dvmod.write_dv_file(
        os.path.join(table, f"deletion_vector_{u}.bin"), [blob]
    )
    out["add"]["deletionVector"] = {
        "storageType": "u",
        "pathOrInlineDv": dvmod.z85_encode(u.bytes),
        "offset": off,
        "sizeInBytes": len(blob),
        "cardinality": len(set(positions)),
    }
    return out


def _protocol_meta():
    return [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "rand", "format": {"provider": "parquet",
                                               "options": {}},
                      "schemaString": json.dumps({
                          "type": "struct",
                          "fields": [{"name": "k", "type": "long",
                                      "nullable": True, "metadata": {}}],
                      }),
                      "partitionColumns": [], "configuration": {}}},
    ]


def _build_random_history(t: str, seed: int, n_commits: int):
    """Author a random history; return the pure-Python expected change
    multiset per commit: {version: Counter((k, change_type))}."""
    rng = random.Random(seed)
    next_file = [0]
    next_k = [0]
    # model state: rel -> (ks tuple, frozenset deleted positions)
    live: dict = {}
    removed_rows: dict = {}  # rel -> ks tuple (for re-add content)
    expected: dict[int, Counter] = {}

    def fresh_file():
        n = rng.randint(1, 8)
        ks = list(range(next_k[0], next_k[0] + n))
        next_k[0] += n
        rel = f"f{next_file[0]:04d}.parquet"
        next_file[0] += 1
        return rel, ks

    for v in range(n_commits):
        actions = _protocol_meta() if v == 0 else []
        exp: Counter = Counter()
        removed_pending: list = []
        n_ops = rng.randint(1, 3) if v > 0 else rng.randint(1, 2)
        ops_done = 0
        touched: set = set()
        for _ in range(n_ops):
            choices = ["add"]
            dv_capable = [r for r in live if r not in touched]
            if dv_capable:
                choices += ["grow", "shrink", "remove"]
            if removed_rows:
                choices += ["readd"]
            op = rng.choice(choices)
            if op == "add":
                rel, ks = fresh_file()
                a = _data_file(t, rel, ks)
                dels = frozenset(
                    i for i in range(len(ks)) if rng.random() < 0.25
                )
                if dels and rng.random() < 0.5:
                    a = _with_dv(t, a, dels)
                else:
                    dels = frozenset()
                actions.append(a)
                live[rel] = (tuple(ks), dels)
                touched.add(rel)
                exp.update((ks[i], "insert")
                           for i in range(len(ks)) if i not in dels)
            elif op in ("grow", "shrink"):
                rel = rng.choice(dv_capable)
                ks, old = live[rel]
                if op == "grow":
                    new = frozenset(old | {
                        i for i in range(len(ks)) if rng.random() < 0.4
                    })
                else:
                    new = frozenset(
                        i for i in old if rng.random() < 0.5
                    )
                if new == old:
                    continue
                a = _data_file(t, rel, list(ks))  # rewrite same content
                if new:
                    a = _with_dv(t, a, new)
                actions.append({"remove": {
                    "path": urllib.parse.quote(rel), "dataChange": True,
                }})
                actions.append(a)
                live[rel] = (ks, new)
                touched.add(rel)
                exp.update((ks[i], "delete") for i in new - old)
                exp.update((ks[i], "insert") for i in old - new)
            elif op == "remove":
                rel = rng.choice(dv_capable)
                ks, old = live.pop(rel)
                actions.append({"remove": {
                    "path": urllib.parse.quote(rel), "dataChange": True,
                }})
                # defer re-add availability to LATER commits: a same-
                # commit remove+re-add of one path is the protocol's DV-
                # supersession shape (the add wins, diffs only), which
                # the grow/shrink ops already model
                removed_pending.append((rel, ks))
                touched.add(rel)
                exp.update((ks[i], "delete")
                           for i in range(len(ks)) if i not in old)
            elif op == "readd":
                rel = rng.choice(sorted(removed_rows))
                ks = removed_rows.pop(rel)
                actions.append(_data_file(t, rel, list(ks)))
                live[rel] = (tuple(ks), frozenset())
                touched.add(rel)
                exp.update((k, "insert") for k in ks)
            ops_done += 1
        if ops_done == 0 and v > 0:
            # config-only commit: invisible to the feed
            actions.append({"txn": {"appId": "noop", "version": v}})
        _commit(t, v, actions)
        removed_rows.update(removed_pending)
        expected[v] = exp
    return expected


@pytest.mark.parametrize("seed", [11, 23, 37, 41, 59, 73])
def test_random_history_matches_python_model(spark, tmp_path, seed):
    t = str(tmp_path / "t")
    os.makedirs(t)
    n_commits = 12
    expected = _build_random_history(t, seed, n_commits)
    d = DeltaLogTable(spark, t)
    spark.dataSource.register(DeltaLogDataSource)

    def source_changes(lo, hi):
        return (
            spark.read.format("deltalog").option("readChangeFeed", "true")
            .option("startingVersion", lo).option("endingVersion", hi)
            .load(t)
        )

    # both readers of the planner: table_changes (compiled JVM scans)
    # and the batch readChangeFeed source (Arrow partitions)
    for read in (d.table_changes, source_changes):
        # full range
        got: dict[int, Counter] = {v: Counter() for v in range(n_commits)}
        for r in read(0, n_commits - 1).collect():
            got[r._commit_version][(r.k, r._change_type)] += 1
        for v in range(n_commits):
            assert got[v] == expected[v], f"seed={seed} v={v}"

        # random sub-ranges exercise state reconstruction + range batching
        rng = random.Random(seed + 1)
        for _ in range(3):
            lo = rng.randint(1, n_commits - 1)
            hi = rng.randint(lo, n_commits - 1)
            sub: dict[int, Counter] = {v: Counter() for v in range(lo, hi + 1)}
            for r in read(lo, hi).collect():
                sub[r._commit_version][(r.k, r._change_type)] += 1
            for v in range(lo, hi + 1):
                assert sub[v] == expected[v], (
                    f"seed={seed} range={lo}-{hi} v={v}"
                )
