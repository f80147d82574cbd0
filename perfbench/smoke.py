"""Smoke run: every workload, untraced and traced, on a small input.

    python3 perfbench/smoke.py [--events N] [--seed N]

Checks that each run exits 0, reports ``correct`` with no failed
operation, and prints exactly the metrics ``BENCHMARK.json`` declares:
the end-to-end ones untraced, the per-layer ones traced. Takes about nine
minutes on 4 cores.

The input must give every one of the runner's 16 buckets at least one
conversation: ``jobs/run_pipeline.py`` fails on an empty bucket.
10,000 events (150 conversations) leave one empty with a chance of
about 1 in 1,000.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--events", type=int, default=10_000)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    expected = {trace: {m["name"]: m["unit"] for m in declared[key]}
                for trace, key in ((0, "end_to_end"), (1, "per_layer"))}

    bad = 0
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(args.seed), "--seconds", "1", "--trace", str(trace),
                 "--events", str(args.events)],
                cwd=ROOT, capture_output=True, text=True, timeout=180,
            )
            problems = []
            if proc.returncode != 0:
                problems.append(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
            else:
                result = json.loads(proc.stdout.strip().splitlines()[-1])
                if not result["correct"] or result["failed"]:
                    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
                    problems.append(f"not correct: {[o for o in detail['ops'] if not o['ok']]}")
                units = {k: v["unit"] for k, v in result["metrics"].items()}
                if units != expected[trace]:
                    problems.append(f"metrics differ from the declared ones: {units}")
            print(f"{workload:7s} trace={trace}: {'ok' if not problems else problems}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
