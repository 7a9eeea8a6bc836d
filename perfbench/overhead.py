"""Tracing overhead: traced minus untraced job wall time, same seeds.

    python3 perfbench/overhead.py --workload clinic_jobs --seeds 1 2 3

For each seed, runs ``run.py`` once with ``--trace 0`` and once with
``--trace 1`` (one after the other, never at the same time, with
``run_seconds`` from BENCHMARK.json) and
compares the untraced ``job_latency_p50_s`` with the traced
``job.wall_s``. Prints one JSON object with the per-seed differences,
their median, and the tracer's own bookkeeping time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, check=True,
        text=True, timeout=600)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    rows = []
    for seed in args.seeds:
        plain = run_once(args.workload, seed, seconds, 0)
        traced = run_once(args.workload, seed, seconds, 1)
        rows.append({
            "seed": seed,
            "untraced_s": plain["job_latency_p50_s"],
            "traced_s": traced["job.wall_s"],
            "overhead_s": traced["job.wall_s"] - plain["job_latency_p50_s"],
            "bookkeeping_s": traced["trace.bookkeeping_s"],
        })
    print(json.dumps({
        "workload": args.workload,
        "runs": rows,
        "median_overhead_s": statistics.median(r["overhead_s"] for r in rows),
        "median_bookkeeping_s": statistics.median(
            r["bookkeeping_s"] for r in rows),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
