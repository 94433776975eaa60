"""The ``stream_bulk`` workload: time-ordered transcript files replayed
one per trigger through ``run_streaming_cc`` and
``run_streaming_session_degrees`` into an ``IdempotentUpsertSink``,
stopped half way and resumed from the checkpoints. Both outputs are
checked against batch computations over the same input."""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

from common import checksum

TSCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
SENTINEL_CONV = "zz-sentinel"
SINK_KEYS = ["sess_start", "vertex"]
# lower than the default 16 so that the CC compaction (a full fold of
# the state) runs once per pass, after the restart: on epoch 3, the
# sentinel's batch
COMPACT_EVERY = 3


def stage_inputs(spark, stage_dir: str, n_convs: int, n_files: int, seed: int):
    """Write ``make_transcripts_spark`` output as ``n_files`` parquet
    files of equal row counts, cut in event-time order (no turn of file
    i is earlier than a turn of file i-1, so the session watermark drops
    nothing), plus a last file holding one far-future sentinel turn
    that closes every open session.
    Returns [(path, rows)] in replay order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gelly_streaming_spark.fixtures import make_transcripts_spark

    os.makedirs(stage_dir, exist_ok=True)
    df = make_transcripts_spark(spark, n_convs=n_convs, turns_per_conv=40, seed=seed)
    t = df.toArrow().sort_by(
        [("ts", "ascending"), ("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    n = t.num_rows
    files = []
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        dst = os.path.join(stage_dir, f"f{i:05d}.parquet")
        pq.write_table(t.slice(lo, hi - lo), dst)
        files.append((dst, hi - lo))
    hi_us = t.column("ts").cast(pa.int64())[n - 1].as_py()
    sentinel = pa.table(
        {
            "conv_id": pa.array([SENTINEL_CONV]),
            "turn_idx": pa.array([0], pa.int32()),
            "role": pa.array(["user"]),
            "text": pa.array(["t-zz-0"]),
            "tool": pa.array(["bash"]),
            "ts": pa.array([hi_us + 2 * 86_400_000_000], pa.timestamp("us", tz="UTC")),
        }
    )
    spath = os.path.join(stage_dir, "f99999_sentinel.parquet")
    pq.write_table(sentinel, spath)
    return files + [(spath, 1)]


def reference_checksums(spark, files: list[tuple[str, int]], cpus: int) -> dict:
    """Batch answers over the same input: connected components, and the
    session-window degree aggregation without the sentinel's vertices
    (its session is never closed)."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.edges import edges_from_transcripts
    from gelly_streaming_spark.plans.connected_components import (
        connected_components,
    )

    t = spark.read.schema(TSCHEMA).parquet(*[p for p, _ in files])
    edges = edges_from_transcripts(t).df
    cc = connected_components(edges, num_shards=cpus)
    vertices = edges.select(F.explode(F.array("src", "dst")).alias("vertex"), "ts")
    sess = (
        vertices.groupBy(F.session_window("ts", "5 minutes").alias("sess"), "vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "vertex",
            "degree",
        )
        .filter(~F.col("vertex").startswith(SENTINEL_CONV))
    )
    return {
        "cc": checksum(cc.select("vertex", "component")),
        "sessions": checksum(sess),
        "turns": sum(n for _, n in files),
    }


def check_outputs(spark, cc, sink, ref: dict, corrupt: bool = False) -> dict:
    """Compare the stream's outputs with the batch reference. With
    ``corrupt`` one output row is removed first (smoke test)."""
    from pyspark.sql import functions as F

    state = cc.read_state(spark)
    if state is None:
        return {"cc": False, "sessions": False}
    state = state.select("vertex", "component")
    sess = (
        sink.read_upserted(spark)
        .select("sess_start", "sess_end", "vertex", "degree")
        .filter(~F.col("vertex").startswith(SENTINEL_CONV))
    )
    if corrupt:
        first = sess.orderBy("vertex", "sess_start").limit(1)
        sess = sess.exceptAll(first)
    got_cc = checksum(state)
    got_sess = checksum(sess)
    return {
        "cc": got_cc == ref["cc"],
        "sessions": got_sess == ref["sessions"],
    }


def _drop(src: str, in_dir: str, mtime_ns: int) -> None:
    """Make one staged file visible to the stream: stamp its mtime (the
    file source replays in mtime order and skips files older than its
    maxFileAge) and hard-link it in under a new name in one step."""
    tmp = os.path.join(in_dir, "." + os.path.basename(src))
    os.link(src, tmp)
    os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, os.path.join(in_dir, os.path.basename(src)))


def _progress(q) -> list[dict]:
    """Progress of the triggers that ran (idle reports dropped)."""
    out = []
    for p in q.recentProgress:
        p = json.loads(p.json)
        d = p.get("durationMs") or {}
        if "addBatch" not in d:
            continue
        start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc
        )
        duration = d.get("triggerExecution", 0) / 1000.0
        out.append(
            {"duration": duration, "commit": start.timestamp() + duration, "raw": p}
        )
    return out


class StreamRun:
    """One pass: fresh state, checkpoints and sink under ``work_dir``."""

    def __init__(self, spark, work_dir: str, cpus: int, on_start):
        self.spark = spark
        self.work_dir = work_dir
        self.cpus = cpus
        self.in_dir = os.path.join(work_dir, "in")
        os.makedirs(self.in_dir)
        self.on_start = on_start
        self.queries = {}
        self.cc = None
        self.sink = None
        self.progress = {"cc": [], "sessions": []}

    def start(self) -> None:
        from gelly_streaming_spark.streaming.pipeline import (
            run_streaming_cc,
            run_streaming_session_degrees,
        )
        from gelly_streaming_spark.streaming.sink import IdempotentUpsertSink

        stream = (
            self.spark.readStream.schema(TSCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )
        w = self.work_dir
        q_cc, self.cc = run_streaming_cc(
            stream, f"{w}/cc_state", f"{w}/cc_ckpt", num_shards=self.cpus,
            compact_every=COMPACT_EVERY,
        )
        self.sink = IdempotentUpsertSink(f"{w}/sess_out", keys=SINK_KEYS)
        q_sd = run_streaming_session_degrees(stream, self.sink, f"{w}/sd_ckpt")
        self.queries = {"cc": q_cc, "sessions": q_sd}
        self.on_start(self)

    def wait_all(self) -> None:
        for q in self.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for name, q in self.queries.items():
            self.progress[name].extend(_progress(q))
            q.stop()
        self.queries = {}


def _trigger_durations(progress: dict) -> list[float]:
    return [p["duration"] for name in progress for p in progress[name]]


def _dropped(progress: dict) -> int:
    n = 0
    for p in progress["sessions"]:
        for op in p["raw"].get("stateOperators", []):
            n += op.get("numRowsDroppedByWatermark", 0)
    return n


def stop_all(spark) -> None:
    for q in spark.streams.active:
        q.stop()


def bulk_pass(spark, files, work_dir: str, cpus: int, on_start) -> dict:
    """Closed loop: every file is already there, one file per trigger.
    Both queries process the first half of the files, stop, and resume
    from their checkpoints for the rest. Measured: first start until
    both queries committed all input, restart included."""
    run = StreamRun(spark, work_dir, cpus, on_start)
    half = len(files) // 2
    base = time.time_ns()
    for i, (p, _) in enumerate(files[:half]):
        _drop(p, run.in_dir, base + i * 1_000_000)
    window_start = time.time()
    t0 = time.perf_counter()
    run.start()
    run.wait_all()
    run.stop()
    n_before = {k: len(v) for k, v in run.progress.items()}
    base = time.time_ns()
    for i, (p, _) in enumerate(files[half:]):
        _drop(p, run.in_dir, base + i * 1_000_000)
    t_restart = time.time()
    run.start()
    run.wait_all()
    wall = time.perf_counter() - t0
    window_end = time.time()
    run.stop()
    resumed = [v[n_before[k]] for k, v in run.progress.items()]
    return {
        "run": run,
        "wall_s": wall,
        "turns": sum(n for _, n in files),
        "resume_s": max(p["commit"] for p in resumed) - t_restart,
        "trigger_s": _trigger_durations(run.progress),
        "triggers": sum(len(v) for v in run.progress.values()),
        "dropped": _dropped(run.progress),
        "window": (window_start, window_end),
    }
