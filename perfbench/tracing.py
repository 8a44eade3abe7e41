"""Traced-run tooling: span recorder, Spark event-log reducer, streaming
progress collector and directory counters.

Everything here runs in the benchmark's own code around calls into the
package; the package itself is not instrumented.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: marker a finished artifact directory holds (``plans/artifacts.py``)
ARTIFACT_MARKER = "_ARTIFACT_SUCCESS"

STREAM_PHASES = ("queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")

#: event-log times have millisecond resolution; an op's window is widened
#: by this much when jobs or progress records are matched to it by time
SLACK_S = 0.005


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Spans carry the op id they belong to, their
    parent span index and wall-clock start/end (epoch seconds, the clock
    Spark's event log uses). A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "op": self.op,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = []
    for i, sp in enumerate(spans):
        clipped = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in children.get(i, [])
            if e > sp["start"] and s < sp["end"]
        ]
        out.append(sp["end"] - sp["start"] - union_length(clipped))
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> dict:
    """Parse an uncompressed, non-rolling Spark event log into jobs and
    completed stages. Times are epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}

    def stage(info) -> dict:
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        return stages.setdefault(key, {"tasks": [], "submit": None, "complete": None})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stage_ids": set(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info)
                st["submit"] = info.get("Submission Time", 0) / 1000.0
                st["complete"] = info.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                stage(ev)["tasks"].append({
                    "duration": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages}


SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.task_skew",
    "driver.outside_jobs_s",
)


def reduce_ops(ops: list[dict], log: dict) -> dict[str, dict]:
    """Per-op Spark layer numbers. ``ops`` holds ``{"id", "start", "end"}``.
    A job belongs to the op whose id is its job group; a job in no op's
    group (a micro-batch on a stream thread) belongs to the op whose time
    window holds its submission."""
    by_id = {op["id"]: op for op in ops}
    owned: dict[str, list[dict]] = {op["id"]: [] for op in ops}
    for job in log["jobs"].values():
        op_id = job["group"] if job["group"] in by_id else None
        if op_id is None:
            for op in ops:
                if op["start"] - SLACK_S <= job["submit"] <= op["end"] + SLACK_S:
                    op_id = op["id"]
                    break
        if op_id is not None:
            owned[op_id].append(job)
    out = {}
    for op in ops:
        jobs = owned[op["id"]]
        stage_ids = set().union(*(j["stage_ids"] for j in jobs)) if jobs else set()
        stages = [st for (sid, _), st in log["stages"].items()
                  if sid in stage_ids and st["complete"] is not None]
        tasks = [t for st in stages for t in st["tasks"]]
        spans = [(max(j["submit"], op["start"]), min(j["end"] or op["end"], op["end"]))
                 for j in jobs]
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda st: st["complete"] - st["submit"])
            durations = [t["duration"] for t in longest["tasks"]]
            med = statistics.median(durations) if durations else 0.0
            skew = max(durations) / med if med > 0 else 1.0
        out[op["id"]] = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.executor_run_s": sum(t["run"] for t in tasks),
            "spark.executor_cpu_s": sum(t["cpu"] for t in tasks),
            "spark.gc_s": sum(t["gc"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.task_skew": skew,
            "driver.outside_jobs_s": (op["end"] - op["start"])
            - union_length([s for s in spans if s[1] > s[0]]),
        }
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def _epoch(ts: str) -> float:
    """Progress timestamps read like ``2024-01-01T00:00:00.123Z``."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamingCollector(StreamingQueryListener):
    """Keeps one record per micro-batch progress event: its trigger time,
    phase durations and state-store totals."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "runId": str(p.runId),
            "batchId": p.batchId,
            "ts": _epoch(p.timestamp),
            "durationMs": {k: int(v) for k, v in dict(p.durationMs).items()},
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


STREAM_KEYS = (
    "streaming.batches", *(f"streaming.{p}_ms" for p in STREAM_PHASES),
    "streaming.state_rows", "streaming.state_commit_ms",
)


def reduce_streaming(ops: list[dict], progress: list[dict]) -> dict[str, dict]:
    """Per-op streaming numbers; a progress record belongs to the op whose
    window holds its trigger time."""
    out = {op["id"]: dict.fromkeys(STREAM_KEYS, 0) for op in ops}
    for rec in progress:
        for op in ops:
            if op["start"] - SLACK_S <= rec["ts"] <= op["end"]:
                row = out[op["id"]]
                row["streaming.batches"] += 1
                for p in STREAM_PHASES:
                    row[f"streaming.{p}_ms"] += rec["durationMs"].get(p, 0)
                row["streaming.state_rows"] += rec["state_rows"]
                row["streaming.state_commit_ms"] += rec["state_commit_ms"]
                break
    return out


# ---------------------------------------------------------------------------
# directory counters
# ---------------------------------------------------------------------------


def data_files(root: str) -> dict[str, int]:
    """Parquet data files under ``root`` (path -> bytes), skipping the
    hidden checksum and ``_SUCCESS`` files Spark writes beside them."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def count_markers(root: str) -> int:
    """Finished artifacts under the artifact root."""
    return sum(ARTIFACT_MARKER in files for _d, _dirs, files in os.walk(root))
