"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream_bulk,batch_headline} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The workload runs in a child process
(one Spark session on ``local[nproc]``); this process waits for it,
reads its peak RSS, and prints one JSON object as the last (and only)
line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Spark's own output goes to
stderr. A fuller record of each run (quartiles, host load, versions,
failures) is written under ``.perfbench_out/records/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
# all children of one run together end well within three minutes
DEADLINE_S = 170
E2E = {"setup_s": "s", "wall_s": "s"}


def run_child(args, trace: int, work: str, deadline: float) -> dict:
    """Run one workload in a fresh process group; returns its result
    with ``peak_rss_mb``, the peak RSS of the largest process in the
    child's tree (the JVM, which the child reaps before it exits)."""
    result = os.path.join(work, f"result-trace{trace}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--work", os.path.join(work, f"trace{trace}"), "--result", result,
        "--size", args.size,
    ] + (["--corrupt"] if args.corrupt else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                raise SystemExit(f"{args.workload} did not finish in {DEADLINE_S} s")
            time.sleep(0.1)
    finally:
        _kill_group(proc.pid)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        raise SystemExit(f"{args.workload} exited with {code}")
    with open(result) as f:
        res = json.load(f)
    res["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    return res


def _kill_group(pgid: int) -> None:
    """Kill whatever is left in the child's process group (after a
    timeout: the child, its JVM and Python workers) and wait until the
    group is empty. The child itself is reaped here if ``wait4`` has
    not done so, since a zombie still counts as a member."""
    while True:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        try:
            os.waitpid(pgid, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


def host_context() -> dict:
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def code_hash() -> str:
    """sha256 over the package and the benchmark sources, so records of
    different code in one checkout (git or not) are told apart."""
    h = hashlib.sha256()
    for top in ("gelly_streaming_spark", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(filenames):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def untraced_medians(workload: str, seconds: float, code: str) -> dict | None:
    """Median end-to-end values of this code's earlier untraced runs of
    the workload with the same ``--seconds``."""
    recs = []
    for p in glob.glob(os.path.join(OUT, "records", f"{workload}-*-trace0.json")):
        with open(p) as f:
            rec = json.load(f)
        if rec.get("correct") and rec.get("code") == code and rec.get("seconds") == seconds:
            recs.append(rec["e2e"])
    if not recs:
        return None
    return {k: statistics.median(r[k] for r in recs) for k in E2E}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["stream_bulk", "batch_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full", help="tiny: smoke test")
    ap.add_argument("--corrupt", action="store_true", help="drop one output row (smoke test)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gelly_streaming_spark", "__init__.py")):
        print(f"no gelly_streaming_spark package under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    from workload import layer_names

    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    load_before = os.getloadavg()
    t0 = time.time()
    deadline = time.monotonic() + DEADLINE_S
    code = code_hash()
    try:
        base = None
        if args.trace and args.size == "full":
            base = untraced_medians(args.workload, args.seconds, code)
            if base is None:
                base = run_child(args, 0, work, deadline)["e2e"]
        res = run_child(args, args.trace, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()

    failures = res["failures"]
    if args.trace:
        metrics = {n: {"value": 0.0, "unit": _layer_unit(n)} for n in layer_names()}
        for n, v in res["layer"].items():
            metrics[n]["value"] = float(v)
        metrics["process.peak_rss_mb"]["value"] = res["peak_rss_mb"]
        for k, unit in E2E.items():
            over = res["e2e"][k] - base[k] if base else 0.0
            metrics[f"overhead.{k}"] = {"value": over, "unit": unit}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E.items()}
    out = {
        "correct": not failures,
        "attempted": int(res["attempted"]),
        "failed": len(failures),
        "metrics": metrics,
    }
    record = dict(out)
    record.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "size": args.size,
            "code": code,
            "e2e": res["e2e"],
            "peak_rss_mb": res["peak_rss_mb"],
            "passes": res["passes"],
            "failures": failures,
            "detail": res["detail"],
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "elapsed_s": time.time() - t0,
            **host_context(),
        }
    )
    name = f"{args.workload}-{args.seed}-{int(t0)}-trace{args.trace}.json"
    if args.size == "full" and not args.corrupt:
        with open(os.path.join(OUT, "records", name), "w") as f:
            json.dump(record, f, indent=1, default=str)
    print(json.dumps(out))
    return 0


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_mb", "MB"), ("_per_s", "1/s"), ("_s", "s"), ("bytes", "bytes"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
