"""Capture .explain('formatted') for declared queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query ...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix via --suffix, default
'before'). Each query function runs for real (IO gates write their
scratch tables) at $SPARK_GRAFT_SF_DIR, then the RETURNED DataFrame's
formatted physical plan is recorded — the exact plan the bench times.
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    suffix = "before"
    for a in sys.argv[1:]:
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
    if not args:
        print("usage: capture_plans.py <tag> [query ...]", file=sys.stderr)
        return 2
    tag, names = args[0], args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from job_profile import session  # puts the repository on sys.path

    spark = session("dc43-capture-plans")
    import __spark_entry__ as entrymod

    queries = {**entrymod.extra_queries(), **entrymod.queries()}
    if not names:
        names = list(queries)
    for name in names:
        fn = queries[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # capture the failure instead of dying
            plan = f"ERROR capturing plan: {exc!r}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
