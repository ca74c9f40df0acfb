"""The scale ladders' envelopes at small sizes: each test calls a rung of
tools/ladder.py on the test session and asserts the exact counts the
ladder exists to show. Envelopes an older test already pins are named
in the rung's docstring instead."""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import pytest

_spec = importlib.util.spec_from_file_location(
    "ladder", os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ladder.py")
)
ladder = sys.modules["ladder"] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ladder)


@pytest.fixture
def run(spark, tmp_path, sf_dir):
    return ladder.Run(spark, str(tmp_path), 1, sf_dir)


def test_snaplog_point_lookup_opens_one_file(run):
    row = ladder.snaplog(run, 1, base_rows=4000, base_files=4)
    assert row["files"] >= 4
    assert row["lookup_files_opened"] == 1


def test_hh_two_pass_finds_the_naive_hitters(run):
    # each of the 20 hot keys holds exactly the threshold share (1/40),
    # so the per-partition summaries undercount them below it and only
    # the Misra-Gries slack keeps them candidates
    row = ladder.hh(run, 5000, rows=40_000, frac=0.025)
    assert row["naive_hitters"] == row["hitters"] == 20


def test_cc_chain_collapses_to_one_root(run):
    row = ladder.cc_chain(run, 8)
    assert row["roots"] == 1
    assert row["rounds"] <= 2 * math.log2(8) + 4


def test_scale_replicas_flow_through_the_capstone(spark, tmp_path, sf_dir):
    # a replica reorders tokens only, so the corpus filter keeps about
    # the base document set in each and the output grows with the
    # replicas; a starved second replica leaves it at the base's
    one, two = (ladder.scale(ladder.Run(spark, str(tmp_path / str(k)), 1, sf_dir), k)
                for k in (1, 2))
    assert two["docs"] == 2 * one["docs"]
    assert two["capstone_rows"] >= 1.5 * one["capstone_rows"] > 0


def test_rt_backfill_gives_every_add_a_base_row_id(tmp_path):
    row = ladder.rt_backfill(ladder.Run(None, str(tmp_path)), 50)
    assert row["adds"] == row["base_row_ids"] == 50


def test_dml_touch_keeps_the_surviving_rows(run):
    row = ladder.dml_touch(run, 1000, files=4)
    # the delete of k % 4 = 0 drops a quarter of the 2000 rows
    assert row["rows_after"] == 1500


def test_lineage_plan_reads_every_row(run):
    rows = ladder.lineage_plan(run, 16)
    assert [(r["mode"], r["rows"]) for r in rows] == [("identity-join", 64), ("reader", 64)]


@pytest.mark.parametrize("commits", [16, 64])
def test_cdf_range_plans_one_scan_and_one_broadcast_join(run, commits):
    rows = ladder.cdf_range(run, commits, rows_per_commit=10)
    assert [
        (r["format"], r["rows"], r["versions"], r["parquet_scans"], r["broadcast_joins"])
        for r in rows
    ] == [(fmt, 10 * commits, commits, 1, 1) for fmt in ("delta", "snaplog")]
