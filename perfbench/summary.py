"""Median and quartiles over the recorded runs.

    python3 perfbench/summary.py [--trace 1] [--all]

Reads ``.perfbench_out/records/`` (written by ``run.py``) and prints,
per workload and metric, the number of runs, the median, the first and
third quartiles and the quartile spread as a share of the median. Only
runs of the current sources (same code hash) are read, unless ``--all``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

from run import code_hash

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="also runs of other sources")
    args = ap.parse_args()
    code = code_hash()
    runs: dict[str, list[dict]] = {}
    pattern = os.path.join(ROOT, ".perfbench_out", "records", f"*-trace{args.trace}.json")
    for p in sorted(glob.glob(pattern)):
        with open(p) as f:
            rec = json.load(f)
        if not args.all and rec.get("code") != code:
            continue
        runs.setdefault(rec["workload"], []).append(rec)
    for workload, recs in sorted(runs.items()):
        failed = sum(r["failed"] for r in recs)
        print(f"{workload}: {len(recs)} runs, {failed} failed outputs")
        for name in recs[0]["metrics"]:
            v = [r["metrics"][name]["value"] for r in recs]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            unit = recs[0]["metrics"][name]["unit"]
            print(f"  {name:48s} {med:12.4f} {unit:6s} q1 {q1:.4f} q3 {q3:.4f} spread {spread:.3f}")


if __name__ == "__main__":
    main()
