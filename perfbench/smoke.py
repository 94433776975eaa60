"""Smoke test of the benchmark itself, at tiny size (a few thousand
turns, 50 documents, 1,000 events).

    python3 perfbench/smoke.py

For every workload: an untraced and a traced run must each emit every
metric that BENCHMARK.json names for that mode and pass their output
checks, and a run with one output row removed must report a failure.
Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ] + (["--corrupt"] if corrupt else [])
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    if len(lines) != 1:
        raise AssertionError(f"expected one stdout line, got {len(lines)}")
    return json.loads(lines[0])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            res = run(w, trace)
            missing = wanted[trace] - set(res["metrics"])
            extra = set(res["metrics"]) - wanted[trace]
            if missing or extra:
                raise AssertionError(f"{w} trace={trace}: missing {missing}, extra {extra}")
            if not res["correct"] or res["failed"]:
                raise AssertionError(f"{w} trace={trace}: outputs failed their checks")
            print(f"ok   {w} trace={trace}: {len(res['metrics'])} metrics", file=sys.stderr)
        res = run(w, 0, corrupt=True)
        if res["correct"] or res["failed"] / res["attempted"] <= 0:
            raise AssertionError(f"{w}: a removed output row went unnoticed")
        print(f"ok   {w}: removed row caught ({res['failed']}/{res['attempted']})", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
