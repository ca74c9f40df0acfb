"""tools/job_profile.py measures what bench.py runs: the same session
settings, and a count line plus a call-site rollup per query. The other
Spark tools build their session with its builder, and tools/ladder.py
prints the same count line per rung."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_COUNT_LINE = (
    r": wall=([\d.]+)s spark\.jobs=(\d+) spark\.tasks=(\d+) "
    r"spark\.shuffle_bytes=(\d+) spark\.executor_cpu_s=([\d.]+) driver_s=([\d.]+)$"
)


def _tree(path: str) -> ast.Module:
    with open(os.path.join(REPO, path)) as fh:
        return ast.parse(fh.read())


def _session_conf(path: str, func: str) -> dict[str, str]:
    """The ``.config(key, value)`` pairs in function ``func`` of ``path``,
    values as source text, ``spark.ui.*`` left out."""
    body = next(
        n for n in _tree(path).body if isinstance(n, ast.FunctionDef) and n.name == func
    )
    conf = {}
    for node in ast.walk(body):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "config"
            and len(node.args) == 2
        ):
            key = ast.literal_eval(node.args[0])
            if not key.startswith("spark.ui."):
                conf[key] = ast.unparse(node.args[1])
    return conf


def test_profile_session_matches_bench():
    bench = _session_conf("bench.py", "main")
    assert "spark.driver.extraJavaOptions" in bench, bench
    assert _session_conf("tools/job_profile.py", "session") == bench


@pytest.mark.parametrize("tool", ["tools/ladder.py", "tools/capture_plans.py"])
def test_tool_builds_the_profile_session(tool):
    # no builder of its own: job_profile.session is the only one
    tree = _tree(tool)
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.Attribute) and n.attr == "builder"]
    assert any(isinstance(n, ast.ImportFrom) and n.module == "job_profile"
               and "session" in {a.name for a in n.names} for n in ast.walk(tree))


def test_no_tool_shadows_a_stdlib_module():
    # ``python tools/x.py`` puts tools/ first on sys.path, so a
    # tools/profile.py would be the ``profile`` that pyspark's cProfile
    # imports, and every pyspark tool there would fail on import
    tools = {f[:-3] for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py")}
    assert {"job_profile", "ladder", "capture_plans"} <= tools
    assert not tools & set(sys.stdlib_module_names)


def test_profile_prints_counts_and_library_call_sites(sf_dir):
    query = "merge_upsert_orders"
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.run(
        [sys.executable, "tools/job_profile.py", query],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = re.search(rf"^{query}#0" + _COUNT_LINE, proc.stdout, re.M)
    assert line, proc.stdout[-2000:]
    assert int(line.group(2)) > 0
    rollup = proc.stdout.split(f"== rollup {query}", 1)[1]
    assert re.search(r" at dc43_spark/\S+\.py:\d+$", rollup, re.M), rollup


def test_ladder_prints_counts_per_rung():
    # one Spark ladder and one driver-only ladder, at a small rung
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    for name, rung, spark in (("lineage_plan", 8, True), ("rt_backfill", 100, False)):
        proc = subprocess.run(
            [sys.executable, "tools/ladder.py", name, "--rungs", str(rung), "--reps", "1"],
            capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        line = re.search(rf"^{name}@{rung}" + _COUNT_LINE, proc.stdout, re.M)
        assert line, proc.stdout[-2000:]
        assert (int(line.group(2)) > 0) == spark, line.group(0)
        assert proc.stdout.rstrip().endswith("]}"), proc.stdout[-2000:]
