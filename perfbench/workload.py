"""One workload in one Spark session; started by ``run.py`` as a child
process. Writes its result as JSON to ``--result`` and nothing to
stdout.

    python3 perfbench/workload.py --workload stream_bulk --seed 1 \\
        --seconds 20 --trace 0 --work DIR --result FILE [--size tiny] [--corrupt]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import batch
from common import (
    ROOT,
    nproc,
    quartiles,
    start_session,
    stop_session,
)

WORKLOADS = ["stream_bulk", "batch_headline"]
# (transcript conversations, time-ordered files) for stream_bulk, and
# the row-count multiplier of the batch tables
SIZES = {
    "full": {"n_convs": 2000, "n_files": 3, "batch_scale": 1.0},
    "tiny": {"n_convs": 60, "n_files": 3, "batch_scale": 0.1},
}


def layer_names() -> list[str]:
    from traced import PHASES, PIPELINE_PHASES

    names = [f"queries.{q}.wall_s" for q in batch.HEADLINE]
    for q in batch.HEAVY:
        names += [f"queries.{q}.call_s", f"queries.{q}.driver_s", f"queries.{q}.python_s"]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    for q in ("cc", "sessions"):
        names += [f"streaming.{q}.{p}_s" for p in PHASES] + [f"streaming.{q}.triggers"]
    names += [
        "streaming.sessions.state_rows_total",
        "streaming.sessions.state_rows_updated",
        "streaming.sessions.state_commit_s",
        "streaming.sessions.state_memory_bytes",
        "streaming.sessions.rows_dropped_by_watermark",
        "streaming.pipeline.process_batch_s",
    ]
    names += [f"streaming.pipeline.{p}_s" for p in PIPELINE_PHASES]
    names += [
        "streaming.pipeline.resume_touched_s",
        "streaming.pipeline.compactions",
        "streaming.pipeline.state_bytes",
        "streaming.pipeline.state_files",
        "streaming.sink.write_batch_s",
        "streaming.sink.rows_out",
        "streaming.sink.bytes",
        "streaming.resume_s",
        "streaming.trigger_p50_s",
        "streaming.turns_per_s",
        "session.get_spark_s",
        "session.warmup_s",
        "process.peak_rss_mb",
    ]
    return names


SPARK_KEYS = [
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_s", "spill_bytes", "scan_s",
    "python_run_s", "python_start_s", "python_bytes", "jobs", "stages",
    "tasks", "driver_s", "busy_ratio",
]


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def run_batch(spark, args, work: str, cpus: int, tracing) -> dict:
    import batchdata

    data_dir = os.path.join(work, "data")
    t_in = time.perf_counter()
    batchdata.write_tables(data_dir, args.seed, SIZES[args.size]["batch_scale"])
    input_s = time.perf_counter() - t_in
    passes = []
    t_start = time.perf_counter()
    marks = []
    while True:
        t0 = time.time()
        passes.append(batch.run_pass(spark, data_dir, corrupt=args.corrupt))
        marks.append((t0, time.time()))
        if time.perf_counter() - t_start >= args.seconds:
            break

    # --- checks, outside the timed section ---
    t_check = time.perf_counter()
    last = passes[-1]
    ok = [q for q in batch.HEADLINE if q in last["schema"]]
    exp = batch.expected(spark, data_dir, ok, last["schema"])
    failed = []
    for p in passes:
        failed += [f"{q}: raised {e}" for q, e in p["raised"].items()]
        for q, got in p["observed"].items():
            if exp.get(q) != got:
                failed.append(f"{q}: got {got}, expected {exp.get(q)}")
    check_s = time.perf_counter() - t_check
    walls = [sum(p["wall_s"].values()) for p in passes]
    per_query = [w for p in passes for w in p["wall_s"].values()]
    e2e = {"wall_s": med(walls)}
    layer = {
        f"queries.{q}.wall_s": med(p["wall_s"][q] for p in passes if q in p["wall_s"])
        for q in batch.HEADLINE
    }
    for q in batch.HEAVY:
        layer[f"queries.{q}.call_s"] = med(
            p["call_s"][q] for p in passes if q in p["call_s"]
        )
    return {
        "attempted": len(batch.HEADLINE) * len(passes),
        "failures": failed,
        "e2e": e2e,
        "layer": layer,
        "passes": len(passes),
        "detail": {
            "input_s": input_s,
            "check_s": check_s,
            "pass_wall_s": walls,
            "query_wall_s": quartiles(per_query),
            "per_query_wall_s": [p["wall_s"] for p in passes],
            "windows": marks,
        },
    }


def run_stream(spark, args, work: str, cpus: int, tracing) -> dict:
    import streams

    size = SIZES[args.size]
    t_in = time.perf_counter()
    files = streams.stage_inputs(
        spark, os.path.join(work, "stage"), size["n_convs"], size["n_files"], args.seed
    )
    turns = sum(n for _, n in files)
    input_s = time.perf_counter() - t_in
    passes = []
    failed = []
    t_start = time.perf_counter()
    k = 0
    while True:
        try:
            r = streams.bulk_pass(
                spark, files, os.path.join(work, f"pass{k}"), cpus, tracing.on_start
            )
        except Exception as e:  # a failing query is counted, not fatal
            failed.append(f"pass {k}: raised {type(e).__name__}: {str(e)[:300]}")
            streams.stop_all(spark)
            r = None
        if r is not None:
            passes.append(r)
        k += 1
        if time.perf_counter() - t_start >= args.seconds or r is None:
            break

    # --- checks, outside the timed section ---
    t_check = time.perf_counter()
    ref = streams.reference_checksums(spark, files, cpus)
    attempted = len(failed)
    for i, p in enumerate(passes):
        checks = streams.check_outputs(spark, p["run"].cc, p["run"].sink, ref, args.corrupt)
        attempted += p["triggers"] + len(checks)
        failed += [f"pass {i}: {name} differs from batch" for name, ok in checks.items() if not ok]
        if p["dropped"]:
            failed.append(f"pass {i}: {p['dropped']} rows dropped by watermark")
    check_s = time.perf_counter() - t_check
    walls = [p["wall_s"] for p in passes]
    trig = [t for p in passes for t in p["trigger_s"]]
    e2e = {"wall_s": med(walls)}
    layer = {
        "streaming.trigger_p50_s": med(trig),
        "streaming.resume_s": med(p["resume_s"] for p in passes),
        "streaming.turns_per_s": med(p["turns"] / p["wall_s"] for p in passes),
        "streaming.sessions.rows_dropped_by_watermark": sum(p["dropped"] for p in passes),
    }
    return {
        "attempted": max(1, attempted),
        "failures": failed,
        "e2e": e2e,
        "layer": layer,
        "passes": len(passes),
        "detail": {
            "input_s": input_s,
            "check_s": check_s,
            "turns": turns,
            "files": len(files),
            "pass_wall_s": walls,
            "trigger_s": quartiles(trig) if trig else None,
            "resume_s": [p["resume_s"] for p in passes],
            "pass_trigger_s": [p["trigger_s"] for p in passes],
            "windows": [p["window"] for p in passes],
            "work_dirs": [p["run"].work_dir for p in passes],
        },
        "_passes": passes,
    }


class NoTracing:
    def on_start(self, run) -> None:
        pass


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    # Python workers are forked from the JVM and import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    cpus = nproc()
    # every scratch file (Spark shuffle and block files, Python and JVM
    # temp files) stays under the work directory
    tmp = os.path.join(args.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    trace_dir = os.path.join(args.work, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)

    # one cold set-up, JVM launch included, in this fresh process; the
    # spread of set-up time is taken across runs
    spark, get_s, warm_s = start_session(cpus, tmp, trace_dir)
    app_id = spark.sparkContext.applicationId

    if args.trace:
        import traced

        tracing = traced.Tracing(spark)
    else:
        tracing = NoTracing()
    run = run_batch if args.workload == "batch_headline" else run_stream
    try:
        res = run(spark, args, args.work, cpus, tracing)
        if args.trace:
            res["layer"].update(tracing.stream_layers(spark, res))
    finally:
        if args.trace:
            tracing.close(spark)
        stop_session(spark)

    res["e2e"]["setup_s"] = get_s + warm_s
    res["layer"]["session.get_spark_s"] = get_s
    res["layer"]["session.warmup_s"] = warm_s
    if args.trace:
        heavy = batch.HEAVY if args.workload == "batch_headline" else []
        res["layer"].update(traced.spark_layers(trace_dir, app_id, res, cpus, heavy))
    res.pop("_passes", None)
    res["cpus"] = cpus
    with open(args.result, "w") as f:
        json.dump(res, f, default=str)


if __name__ == "__main__":
    main()
