"""tools/job_profile.py measures what bench.py runs: the same session
settings, and a count line plus a call-site rollup per query."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _session_conf(path: str) -> dict[str, str]:
    """The ``.config(key, value)`` pairs in ``main`` of ``path``, values
    as source text, ``spark.ui.*`` left out."""
    with open(os.path.join(REPO, path)) as fh:
        tree = ast.parse(fh.read())
    main = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main"
    )
    conf = {}
    for node in ast.walk(main):
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
    bench = _session_conf("bench.py")
    assert "spark.driver.extraJavaOptions" in bench, bench
    assert _session_conf("tools/job_profile.py") == bench


def test_no_tool_shadows_a_stdlib_module():
    # ``python tools/x.py`` puts tools/ first on sys.path, so a
    # tools/profile.py would be the ``profile`` that pyspark's cProfile
    # imports, and every pyspark tool there would fail on import
    tools = {f[:-3] for f in os.listdir(os.path.join(REPO, "tools")) if f.endswith(".py")}
    assert not tools & set(sys.stdlib_module_names)


def test_profile_prints_counts_and_library_call_sites(sf_dir):
    query = "merge_upsert_orders"
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.run(
        [sys.executable, "tools/job_profile.py", query],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = re.search(
        rf"^{query}#0: wall=([\d.]+)s spark\.jobs=(\d+) spark\.tasks=(\d+) "
        r"spark\.shuffle_bytes=(\d+) spark\.executor_cpu_s=([\d.]+) "
        r"driver_s=([\d.]+)$",
        proc.stdout, re.M,
    )
    assert line, proc.stdout[-2000:]
    assert int(line.group(2)) > 0
    rollup = proc.stdout.split(f"== rollup {query}", 1)[1]
    assert re.search(r" at dc43_spark/\S+\.py:\d+$", rollup, re.M), rollup
