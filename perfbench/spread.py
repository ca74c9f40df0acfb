"""Run the benchmark over several seeds and judge the set.

Usage (from the repository root):

    python3 perfbench/spread.py --workload upsert_history --seeds 1-10 --seconds 12

Runs are sequential, one process each. For every metric it prints the
median of the per-run values and their interquartile range as a share of
that median, the figure the bounds in BENCHMARK.json are set against.
It also judges warm-up over the set: the median over the runs of the
first timed half's excess over the second must be within the metric's
bound. It exits 1 when a run fails, is not correct, or the set's warm-up
judgement fails. Raw results are appended to
``.perfbench_out/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bound = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    excess: dict[str, list[float]] = {}
    ok = True
    with open(os.path.join(out_dir, f"spread-{args.workload}.jsonl"), "a") as log:
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(REPO, "perfbench", "run.py"),
                   "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"seed {seed}: exit {proc.returncode}", proc.stderr[-2000:], file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            info = json.loads(lines[-2]) if len(lines) > 1 else {}
            log.write(json.dumps({"seed": seed, "info": info, "result": result}) + "\n")
            log.flush()
            ok = ok and result["correct"]
            print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
                  f"failed={result['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for k, v in info.get("steady", {}).items():
                excess.setdefault(k, []).append(v["excess"])
    for k, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            print(f"{k}: median {med:.5g} iqr/median {(q3 - q1) / abs(med):.3f} "
                  f"bound {bound.get(k, '-')} (n={len(vals)})")
    for k, vals in excess.items():
        med = statistics.median(vals)
        steady = med <= bound[k]
        ok = ok and steady
        print(f"warm-up {k}: median first-half excess {med:+.3f} over {len(vals)} runs, "
              f"bound {bound[k]}: {'ok' if steady else 'NOT FINISHED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
