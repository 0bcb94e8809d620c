"""Per-layer numbers from Spark's own event log.

The traced run enables ``spark.eventLog`` (uncompressed) and records the
wall-clock window of every call. After ``spark.stop()`` this module reads
the log and gives each call the jobs, SQL executions, stages, tasks and
streaming progress events whose start lies inside the call's window. The
benchmark runs one call at a time, so attributing by time also catches
jobs that helper threads start without the caller's job description.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass

MB = 1e6

# SQL metric (task accumulable) names the layers are read from.
_SCAN = "scan time"
_TASK_COMMIT = "task commit time"
_PY_RUN = "time to run Python workers"
_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_SQL_ACCUMS = {_SCAN, _TASK_COMMIT, _PY_RUN, *_PY_START, *_PY_BYTES}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_Q_STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
_Q_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

# per-layer metric names, in report order, with their units
LAYER_METRICS = {
    "queries.call_s": "s",
    "queries.fetch_s": "s",
    "queries.fetch_rows": "count",
    "queries.fetch_mb": "MB",
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.planning_s": "s",
    "spark.no_job_s": "s",
    "spark.commit_tail_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "sources.input_mb": "MB",
    "sources.scan_s": "s",
    "sources.cached_mb": "MB",
    "sources.output_mb": "MB",
    "sources.task_commit_s": "s",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_mb": "MB",
    "streaming.queries_started": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.start_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.log_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
}


def read_events(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``.

    Handles the rolling layout (``eventlog_v2_<app>/events_<n>_<app>``)
    and a single-file log; a compressed log is refused rather than misread.
    """
    apps = [p for p in os.listdir(log_dir) if not p.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if os.path.isdir(path):
        parts = glob.glob(os.path.join(path, "events_*"))
        files = sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    else:
        files = [path]
    events = []
    for f in files:
        if f.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise RuntimeError(f"compressed event log {f}; set spark.eventLog.compress=false")
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _iso_ms(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def _metric_types(events) -> dict[int, str]:
    """accumulator id -> SQL metric type (timing=ms, nsTiming=ns, size=bytes)."""
    types: dict[int, str] = {}

    def walk(node):
        for m in node.get("metrics", ()):
            types[m["accumulatorId"]] = m["metricType"]
        for child in node.get("children", ()):
            walk(child)

    for e in events:
        if e["Event"] in (_SQL_START, _SQL_AQE) and "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return types


def _accum_value(acc: dict, types: dict[int, str]) -> float:
    """An SQL metric's task update in seconds (timings) or bytes (sizes)."""
    v = float(acc.get("Update", 0) or 0)
    kind = types.get(acc.get("ID"))
    if kind == "nsTiming":
        return v / 1e9
    if kind == "timing":
        return v / 1e3
    return v


def _union_len(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass(slots=True)
class CallWindow:
    """One call's wall-clock window (epoch ms) and client-side figures."""

    name: str
    start_ms: float
    end_ms: float
    call_s: float
    fetch_s: float
    fetch_rows: int
    fetch_mb: float
    cached_mb: float


def attribute(events: list[dict], calls: list[CallWindow], cores: int) -> tuple[dict, dict]:
    """Sum every layer metric over ``calls``.

    Returns ``(totals, per_query)``: totals maps each name in
    ``LAYER_METRICS`` to its sum over all calls (``spark.slot_busy_frac``
    as a ratio); per_query maps each query name to the share of its wall
    time covered by at least one running job, and its job count, averaged
    over its calls.
    """
    calls = sorted(calls, key=lambda c: c.start_ms)
    starts = [c.start_ms for c in calls]

    def owner(t_ms):
        lo, hi = 0, len(calls)
        while lo < hi:
            mid = (lo + hi) // 2
            if starts[mid] <= t_ms:
                lo = mid + 1
            else:
                hi = mid
        i = lo - 1
        if i >= 0 and t_ms <= calls[i].end_ms:
            return i
        return None

    types = _metric_types(events)
    acc: list[dict] = [defaultdict(float) for _ in calls]
    job_spans: list[list] = [[] for _ in calls]
    job_exec: dict[int, tuple[int, int]] = {}  # job id -> (call, execution id)
    job_start: dict[int, float] = {}
    exec_start: dict[int, tuple[int, float]] = {}
    exec_jobs: dict[int, list] = defaultdict(list)  # execution -> [(start, end)]
    stream_start: dict[str, tuple[int, float]] = {}
    stream_first: dict[str, float] = {}
    stream_last_rows: dict[str, tuple[int, float]] = {}

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"]
            i = owner(t)
            if i is None:
                continue
            acc[i]["spark.jobs"] += 1
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            job_exec[e["Job ID"]] = (i, int(ex) if ex is not None else -1)
            job_start[e["Job ID"]] = t
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid not in job_exec:
                continue
            i, ex = job_exec[jid]
            span = (job_start[jid], e["Completion Time"])
            job_spans[i].append(span)
            if ex >= 0:
                exec_jobs[ex].append(span)
        elif kind == "SparkListenerStageCompleted":
            i = owner(e["Stage Info"].get("Submission Time", -1))
            if i is not None:
                acc[i]["spark.stages"] += 1
        elif kind == _SQL_START:
            i = owner(e["time"])
            if i is not None:
                acc[i]["spark.sql_executions"] += 1
                exec_start[e["executionId"]] = (i, e["time"])
        elif kind == _SQL_END:
            ex = e["executionId"]
            if ex not in exec_start:
                continue
            i, t0 = exec_start[ex]
            spans = exec_jobs.get(ex)
            if spans:
                acc[i]["spark.planning_s"] += max(0.0, min(s for s, _ in spans) - t0) / 1e3
                acc[i]["spark.commit_tail_s"] += max(0.0, e["time"] - max(f for _, f in spans)) / 1e3
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            i = owner(info["Launch Time"])
            if i is None:
                continue
            a = acc[i]
            a["spark.tasks"] += 1
            if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
                a["spark.failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            a["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            a["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            a["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            a["spark.shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            a["sources.input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            a["sources.output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            for u in info.get("Accumulables", ()):
                name = u.get("Name")
                if name not in _SQL_ACCUMS:
                    continue
                v = _accum_value(u, types)
                if name == _SCAN:
                    a["sources.scan_s"] += v
                elif name == _TASK_COMMIT:
                    a["sources.task_commit_s"] += v
                elif name == _PY_RUN:
                    a["operators.python_run_s"] += v
                elif name in _PY_START:
                    a["operators.python_start_s"] += v
                else:
                    a["operators.python_mb"] += v / MB
        elif kind == _Q_STARTED:
            t = _iso_ms(e["timestamp"])
            i = owner(t)
            if i is not None:
                acc[i]["streaming.queries_started"] += 1
                stream_start[e["runId"]] = (i, t)
        elif kind == _Q_PROGRESS:
            p = e["progress"]
            t = _iso_ms(p["timestamp"])
            i = owner(t)
            if i is None:
                continue
            a = acc[i]
            d = p.get("durationMs") or {}
            a["streaming.batches"] += 1
            a["streaming.input_rows"] += sum(src.get("numInputRows", 0) for src in p.get("sources") or ())
            a["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            a["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            a["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            a["streaming.log_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            ops = p.get("stateOperators") or ()
            a["streaming.state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
            run = p["runId"]
            stream_last_rows[run] = (i, sum(o.get("numRowsTotal", 0) for o in ops))
            stream_first.setdefault(run, t)

    for run, (i, t0) in stream_start.items():
        if run in stream_first:
            acc[i]["streaming.start_s"] += max(0.0, stream_first[run] - t0) / 1e3
    for i, rows in stream_last_rows.values():
        acc[i]["streaming.state_rows"] += rows

    per_query: dict[str, list] = defaultdict(list)
    for i, c in enumerate(calls):
        a = acc[i]
        wall_ms = c.end_ms - c.start_ms
        clipped = [(max(s, c.start_ms), min(f, c.end_ms)) for s, f in job_spans[i]]
        covered = _union_len([(s, f) for s, f in clipped if f > s])
        a["spark.no_job_s"] += max(0.0, wall_ms - covered) / 1e3
        a["queries.call_s"] += c.call_s
        a["queries.fetch_s"] += c.fetch_s
        a["queries.fetch_rows"] += c.fetch_rows
        a["queries.fetch_mb"] += c.fetch_mb
        a["sources.cached_mb"] += c.cached_mb
        per_query[c.name].append((covered / wall_ms if wall_ms > 0 else 0.0, a["spark.jobs"]))

    totals = {k: sum(a.get(k, 0.0) for a in acc) for k in LAYER_METRICS}
    wall_s = sum(c.end_ms - c.start_ms for c in calls) / 1e3
    totals["spark.slot_busy_frac"] = totals["spark.executor_run_s"] / (wall_s * cores) if wall_s else 0.0
    summary = {
        name: {
            "job_cover_frac": round(sum(v for v, _ in xs) / len(xs), 4),
            "jobs": round(sum(j for _, j in xs) / len(xs), 1),
        }
        for name, xs in per_query.items()
    }
    return totals, summary
