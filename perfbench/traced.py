"""Tracing for the traced run only: a StreamingQueryListener, class-level
wrappers around ``StreamingConnectedComponents.process_batch`` and
``IdempotentUpsertSink.write_batch``, and a reader for Spark's own
(uncompressed) event log. Nothing here is installed in an untraced
run."""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ["addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets"]
PIPELINE_PHASES = ["fold", "bucketset", "touched", "resolve", "mapfold", "delta", "write"]


class ProgressListener(StreamingQueryListener):
    """Keeps every trigger's progress, as a dict, per query run id."""

    def __init__(self):
        self.by_run: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        if "addBatch" in (p.get("durationMs") or {}):
            self.by_run.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class PipelineTracer:
    """Wraps ``StreamingConnectedComponents.process_batch`` at class
    level and reads the public ``last_phase_times`` after each call."""

    def __init__(self):
        from gelly_streaming_spark.streaming.pipeline import (
            StreamingConnectedComponents,
        )

        self.cls = StreamingConnectedComponents
        self.orig = StreamingConnectedComponents.process_batch
        self.calls: list[dict] = []
        tracer = self

        def process_batch(cc, edges, epoch_id):
            t0 = time.perf_counter()
            try:
                return tracer.orig(cc, edges, epoch_id)
            finally:
                tracer.calls.append(
                    {
                        "instance": id(cc),
                        "epoch": epoch_id,
                        "wall": time.perf_counter() - t0,
                        "phases": dict(cc.last_phase_times),
                    }
                )

        self.cls.process_batch = process_batch

    def close(self) -> None:
        self.cls.process_batch = self.orig


class SinkTracer:
    """Wraps ``IdempotentUpsertSink.write_batch`` at class level (so no
    call can slip in before a wrap) and times each call per sink."""

    def __init__(self):
        from gelly_streaming_spark.streaming.sink import IdempotentUpsertSink

        self.cls = IdempotentUpsertSink
        self.orig = IdempotentUpsertSink.write_batch
        self.calls: list[tuple[int, float]] = []
        tracer = self

        def write_batch(sink, df, epoch_id):
            t0 = time.perf_counter()
            try:
                return tracer.orig(sink, df, epoch_id)
            finally:
                tracer.calls.append((id(sink), time.perf_counter() - t0))

        self.cls.write_batch = write_batch

    def close(self) -> None:
        self.cls.write_batch = self.orig


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    n = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            n += os.path.getsize(os.path.join(dp, f))
            files += 1
    return n, files


# --- Spark event log -------------------------------------------------------

_ACC = {
    "scan time": "scan_ms",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_start_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def read_event_log(path: str) -> dict:
    """Jobs (group, submit/complete ms, stage ids) and per-stage task
    metric sums from one uncompressed event log."""
    jobs = {}
    stage_job = {}
    stages = {}
    acc_names = {}
    for line in open(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "query": props.get("sql.streaming.queryId"),
                "start": ev.get("Submission Time", 0),
                "end": None,
            }
            for s in ev.get("Stage IDs", []):
                stage_job[s] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            for a in info.get("Accumulables", []):
                if a.get("Name") in _ACC:
                    acc_names[a["ID"]] = _ACC[a["Name"]]
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            tm = ev.get("Task Metrics") or {}
            st = stages.setdefault(sid, _zero())
            st["tasks"] += 1
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                st["_acc"].setdefault(a["ID"], []).append((a.get("Name"), a.get("Update")))
    for st in stages.values():
        for aid, ups in st.pop("_acc").items():
            for name, upd in ups:
                key = _ACC.get(name) or acc_names.get(aid)
                if key and isinstance(upd, (int, float, str)):
                    try:
                        st[key] += float(upd)
                    except ValueError:
                        pass
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def _zero() -> dict:
    return {
        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_ms": 0,
        "spill_bytes": 0, "scan_ms": 0.0, "python_run_ms": 0.0,
        "python_start_ms": 0.0, "python_bytes": 0.0, "_acc": {},
    }


def summarize(log: dict, job_ids: list[int], wall_s: float, cores: int) -> dict:
    """``spark.*`` metrics over the given jobs, which ran within a
    measured section of ``wall_s`` seconds."""
    sel = set(job_ids)
    stage_ids = [s for s, j in log["stage_job"].items() if j in sel]
    tot = _zero()
    tot.pop("_acc")
    n_stages = 0
    for s in stage_ids:
        st = log["stages"].get(s)
        if st is None:
            continue
        n_stages += 1
        for k in tot:
            tot[k] += st[k]
    busy = _busy_ms(log, sel)
    run_s = tot["run_ms"] / 1000.0
    return {
        "executor_run_s": run_s,
        "executor_cpu_s": tot["cpu_ns"] / 1e9,
        "gc_s": tot["gc_ms"] / 1000.0,
        "shuffle_write_bytes": tot["shuffle_write_bytes"],
        "shuffle_read_bytes": tot["shuffle_read_bytes"],
        "fetch_wait_s": tot["fetch_wait_ms"] / 1000.0,
        "spill_bytes": tot["spill_bytes"],
        "scan_s": tot["scan_ms"] / 1000.0,
        "python_run_s": tot["python_run_ms"] / 1000.0,
        "python_start_s": tot["python_start_ms"] / 1000.0,
        "python_bytes": tot["python_bytes"],
        "jobs": len(sel),
        "stages": n_stages,
        "tasks": tot["tasks"],
        "driver_s": max(0.0, wall_s - busy / 1000.0),
        "busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def _busy_ms(log: dict, job_ids) -> float:
    """Milliseconds during which at least one of the jobs ran."""
    jobs = log["jobs"]
    return _union([(jobs[j]["start"], jobs[j]["end"] or jobs[j]["start"]) for j in job_ids])


def _union(intervals: list[tuple[int, int]]) -> float:
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in_window(log: dict, t0_ms: float, t1_ms: float) -> list[int]:
    return [j for j, v in log["jobs"].items() if t0_ms <= v["start"] <= t1_ms]


def jobs_in_group(log: dict, group: str) -> list[int]:
    return [j for j, v in log["jobs"].items() if v["group"] == group]


class Tracing:
    """Everything the traced run installs, and the per-layer metrics
    read back from it."""

    def __init__(self, spark):
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.pipeline = PipelineTracer()
        self.sink = SinkTracer()
        self.starts: list[dict] = []

    def on_start(self, run) -> None:
        """Called by the stream pass right after both queries start."""
        self.starts.append(
            {
                "work_dir": run.work_dir,
                "cc": run.queries["cc"].runId,
                "sessions": run.queries["sessions"].runId,
                "instance": id(run.cc),
                "sink": id(run.sink),
            }
        )

    def close(self, spark) -> None:
        spark.streams.removeListener(self.listener)
        self.pipeline.close()
        self.sink.close()

    def stream_layers(self, spark, res: dict) -> dict:
        """Streaming metrics, each the median over passes of its
        per-pass total (or last value, for state sizes)."""
        from pyspark.sql import functions as F

        passes = res.get("_passes")
        if not passes:
            return {}
        per_pass: list[dict] = []
        for p in passes:
            wd = p["run"].work_dir
            starts = [s for s in self.starts if s["work_dir"] == wd]
            m: dict[str, float] = {}
            for q in ("cc", "sessions"):
                prog = [e for s in starts for e in self.listener.by_run.get(s[q], [])]
                for ph in PHASES:
                    m[f"streaming.{q}.{ph}_s"] = (
                        sum((e["durationMs"] or {}).get(ph, 0) for e in prog) / 1000.0
                    )
                m[f"streaming.{q}.triggers"] = len(prog)
                if q == "sessions":
                    ops = [op for e in prog for op in e.get("stateOperators", [])]
                    m["streaming.sessions.state_rows_total"] = (
                        prog[-1]["stateOperators"][0]["numRowsTotal"]
                        if prog and prog[-1].get("stateOperators")
                        else 0
                    )
                    m["streaming.sessions.state_rows_updated"] = sum(
                        op["numRowsUpdated"] for op in ops
                    )
                    m["streaming.sessions.state_commit_s"] = (
                        sum(op.get("commitTimeMs", 0) for op in ops) / 1000.0
                    )
                    m["streaming.sessions.state_memory_bytes"] = max(
                        [op.get("memoryUsedBytes", 0) for op in ops] or [0]
                    )
            insts = [s["instance"] for s in starts]
            calls = [c for c in self.pipeline.calls if c["instance"] in insts]
            resumed = [c for c in calls if c["instance"] == insts[-1]]
            m["streaming.pipeline.process_batch_s"] = sum(c["wall"] for c in calls)
            for ph in PIPELINE_PHASES:
                m[f"streaming.pipeline.{ph}_s"] = sum(
                    c["phases"].get(ph, 0.0) for c in calls
                )
            m["streaming.pipeline.resume_touched_s"] = (
                resumed[0]["phases"].get("touched", 0.0) if resumed else 0.0
            )
            state = os.path.join(wd, "cc_state", "state")
            m["streaming.pipeline.compactions"] = sum(
                1
                for d in os.listdir(state)
                if d.startswith("epoch=")
                and int(d.split("=")[1]) > 0
                and os.path.exists(os.path.join(state, d, "_BASE"))
            )
            m["streaming.pipeline.state_bytes"], m["streaming.pipeline.state_files"] = (
                dir_size(os.path.join(wd, "cc_state"))
            )
            sinks = {s["sink"] for s in starts}
            m["streaming.sink.write_batch_s"] = sum(t for i, t in self.sink.calls if i in sinks)
            sink = p["run"].sink
            m["streaming.sink.rows_out"] = int(
                sink.read_metrics(spark)
                .filter(F.col("part") == -1)
                .agg(F.sum("rows"))
                .collect()[0][0]
                or 0
            )
            m["streaming.sink.bytes"] = dir_size(os.path.join(sink.path, "data"))[0]
            per_pass.append(m)
        return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def spark_layers(trace_dir: str, app_id: str, res: dict, cores: int, heavy: list) -> dict:
    """``spark.*`` over the measured sections, and per-query driver and
    Python time for the ``heavy`` batch queries."""
    path = os.path.join(trace_dir, app_id)
    log = read_event_log(path)
    windows = res["detail"]["windows"]
    per_pass = []
    for t0, t1 in windows:
        jobs = jobs_in_window(log, t0 * 1000.0, t1 * 1000.0)
        per_pass.append(summarize(log, jobs, t1 - t0, cores))
    out = {
        f"spark.{k}": statistics.median(p[k] for p in per_pass) for k in per_pass[0]
    }
    n = max(1, res["passes"])
    for q in heavy:
        jobs = jobs_in_group(log, q)
        s = summarize(log, jobs, 1.0, cores)
        busy = _busy_ms(log, jobs) / 1000.0 / n
        out[f"queries.{q}.driver_s"] = max(0.0, res["layer"][f"queries.{q}.wall_s"] - busy)
        out[f"queries.{q}.python_s"] = (s["python_run_s"] + s["python_start_s"]) / n
    return out
