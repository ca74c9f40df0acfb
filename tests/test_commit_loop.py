"""Every commit of both table formats (and the streaming schema-tracking
log) claims through ``tablecore.commit_loop``.

Each commit path runs twice:

- **one lost claim**: a rival commit lands between the op's attempt and
  its claim. The op re-runs its attempt at the new head and lands at
  rival+1 with a timestamp strictly after the rival's (snaplog's commit
  timestamp, Delta's in-commit timestamp) — or, where the op pins its
  read snapshot with no logical conflict check (snaplog overwrite and
  tags), treats the lost claim as the conflict and leaves the rival as
  the head;
- **every claim lost**: each link into the log dir fails, so the op
  raises the format's "could not claim a commit" error after
  ``CLAIM_TRIES`` claims (a pinned snaplog op: its conflict after the
  first), the head is unchanged and no claim temp file is left behind.

The ``.claim(`` structural guard at the bottom keeps it that way: no
module under ``dc43_spark/`` claims a commit outside ``io/tablecore.py``.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from dc43_spark.io import tablecore
from dc43_spark.io.delta_dml import delta_delete, delta_merge, delta_update
from dc43_spark.io.delta_log import (
    DeltaLogTable,
    DeltaProtocolError,
    delta_enable_row_tracking,
    delta_optimize,
    delta_restore,
    delta_set_properties,
    delta_write,
)
from dc43_spark.io.schema_track import SchemaTrackingError, SchemaTrackingLog
from dc43_spark.io.snaplog import SnaplogTable, SnapshotConflictError

ICT = {"delta.enableInCommitTimestamps": "true"}


def _df(spark, lo, hi, v="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(v).alias("v")
    ).coalesce(1)


class _Snaplog:
    error = SnapshotConflictError

    def __init__(self, spark, root):
        self.spark = spark
        self.t = SnaplogTable(spark, str(root / "t"))
        self.t.write(_df(spark, 0, 6), mode="overwrite")
        self.log_dir = self.t.log_dir

    def head(self):
        return SnaplogTable(self.spark, self.t.path).version()

    def rival(self):
        SnaplogTable(self.spark, self.t.path).write(_df(self.spark, 100, 102))

    def ts(self, v):
        return self.t._read_commit(v)["timestamp"]


class _Delta:
    error = DeltaProtocolError

    def __init__(self, spark, root):
        self.spark = spark
        self.path = str(root / "d")
        delta_write(spark, _df(spark, 0, 6), self.path, configuration={
            **ICT, "delta.enableChangeDataFeed": "true"})
        delta_write(spark, _df(spark, 6, 9), self.path)
        self.log_dir = os.path.join(self.path, "_delta_log")

    def head(self):
        return DeltaLogTable(self.spark, self.path).version()

    def rival(self):
        delta_write(self.spark, _df(self.spark, 100, 102), self.path)

    def ts(self, v):
        lines = DeltaLogTable(self.spark, self.path)._commit_lines(v)
        return next(a["commitInfo"]["inCommitTimestamp"]
                    for a in lines if "commitInfo" in a)


class _SchemaLog:
    error = SchemaTrackingError

    def __init__(self, spark, root):
        self.log_dir = str(root / "schema_log")
        SchemaTrackingLog(self.log_dir).append({"schema_json": "s0"})

    def head(self):
        return SchemaTrackingLog(self.log_dir).latest()["seq"]

    def rival(self):
        SchemaTrackingLog(self.log_dir).append({"schema_json": "rival"})

    ts = None


# (path id, fixture class, op, pinned: a lost claim is the conflict)
PATHS = [
    ("snaplog-append", _Snaplog,
     lambda f: f.t.write(_df(f.spark, 10, 12)), False),
    ("snaplog-overwrite", _Snaplog,
     lambda f: f.t.write(_df(f.spark, 10, 12), mode="overwrite"), True),
    ("snaplog-merge", _Snaplog,
     lambda f: f.t.merge(_df(f.spark, 1, 3, "m"), ["k"]), False),
    ("snaplog-write_txn", _Snaplog,
     lambda f: f.t.write_txn(_df(f.spark, 10, 12), app_id="a", version=0),
     False),
    ("snaplog-tag", _Snaplog, lambda f: f.t.create_tag("rel"), True),
    ("delta-write", _Delta,
     lambda f: delta_write(f.spark, _df(f.spark, 10, 12), f.path), False),
    ("delta-optimize", _Delta,
     lambda f: delta_optimize(f.spark, f.path), False),
    ("delta-restore", _Delta,
     lambda f: delta_restore(f.spark, f.path, version=0), False),
    ("delta-metadata", _Delta,
     lambda f: delta_set_properties(f.spark, f.path, {"dc43.note": "x"}),
     False),
    ("delta-row-tracking", _Delta,
     lambda f: delta_enable_row_tracking(f.spark, f.path), False),
    ("delta-delete", _Delta,
     lambda f: delta_delete(f.spark, f.path, "k < 2"), False),
    ("delta-update", _Delta,
     lambda f: delta_update(f.spark, f.path, {"v": "'u'"}, "k < 2"), False),
    ("delta-merge", _Delta,
     lambda f: delta_merge(f.spark, _df(f.spark, 1, 3, "m"), f.path, ["k"]),
     False),
    ("schema-track-append", _SchemaLog,
     lambda f: SchemaTrackingLog(f.log_dir).append({"schema_json": "s1"}),
     False),
]


@pytest.fixture(params=PATHS, ids=[p[0] for p in PATHS])
def path_case(request, spark, tmp_path):
    _id, cls, op, pinned = request.param
    return cls(spark, tmp_path), op, pinned


def test_one_lost_claim(path_case, monkeypatch):
    fx, op, pinned = path_case
    real = tablecore.LinkCommitClaimer.claim
    fired = []

    def claim(self, log_dir, name, payload):
        if not fired and log_dir == fx.log_dir:
            fired.append(name)
            fx.rival()  # its own claim runs with ``fired`` already set
        return real(self, log_dir, name, payload)

    monkeypatch.setattr(tablecore.LinkCommitClaimer, "claim", claim)
    before = fx.head()
    if pinned:
        with pytest.raises(fx.error, match="concurrent commit claimed"):
            op(fx)
        assert fx.head() == before + 1
        return
    op(fx)
    rival = before + 1
    assert fired and fx.head() == rival + 1
    if fx.ts is not None:
        assert fx.ts(rival + 1) > fx.ts(rival)


def test_every_claim_lost(path_case, monkeypatch):
    fx, op, pinned = path_case
    monkeypatch.setattr(tablecore, "CLAIM_TRIES", 3)
    real_link = os.link
    links = []

    def link(src, dst, *a, **k):
        if os.path.dirname(dst) == fx.log_dir:
            links.append(dst)
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **k)

    before = fx.head()
    monkeypatch.setattr(os, "link", link)
    with pytest.raises(fx.error, match=(
        "concurrent commit claimed" if pinned
        else "could not claim a commit on .* after 3 tries"
    )):
        op(fx)
    monkeypatch.setattr(os, "link", real_link)
    assert len(links) == (1 if pinned else 3)
    assert fx.head() == before
    assert not [n for n in os.listdir(fx.log_dir) if n.endswith(".tmp")]


def test_no_claim_outside_tablecore():
    """Every commit claims through ``tablecore.commit_loop``: no module
    under ``dc43_spark/`` calls a claimer's ``claim`` itself."""
    root = pathlib.Path(__file__).resolve().parents[1] / "dc43_spark"
    sites = []
    for py in sorted(root.rglob("*.py")):
        if py.relative_to(root).as_posix() == "io/tablecore.py":
            continue
        for node in ast.walk(ast.parse(py.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "claim"
            ):
                sites.append(f"{py.relative_to(root)}:{node.lineno}")
    assert sites == []

