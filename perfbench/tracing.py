"""Tracing for the per-layer run: spans around the benchmark's calls into
each engine layer, the Spark event log, and streaming batch progress.

Spans are kept in memory. Each has a name (its layer), a start and end
on the wall clock (``time.time()``, seconds) and the operation it
belongs to; the operation span is the parent of every layer span of
that operation. Jobs, stages and tasks from the event log, and batches
from the streaming listener, are attributed to the operation and phase
whose time window contains their submission, because the benchmark
runs one operation at a time.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: int
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span) -> float:
    """The span's duration minus the part its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in span.children], span.start, span.end
    )


# -- event log ---------------------------------------------------------------

_PY_BYTES_OUT = "data sent to Python workers"
_PY_BYTES_IN = "data returned from Python workers"


@dataclass
class SparkCounts:
    """Event-log totals for one (operation, phase)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    last_job_end: float = 0.0
    scan_bytes: int = 0
    scan_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_disk_bytes: int = 0
    spill_mem_bytes: int = 0
    gc_s: float = 0.0
    python_bytes_out: int = 0
    python_bytes_in: int = 0
    python_stage_s: float = 0.0


def parse_event_log(path: str, windows: list[tuple[float, float, tuple]]) -> dict[tuple, SparkCounts]:
    """Totals per window label. ``windows`` holds (start, end, label) in
    wall-clock seconds; a job belongs to the window containing its
    submission time, its stages and tasks to the job."""
    jobs: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_info: dict[int, dict] = {}
    task_metrics: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_info[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                task_metrics.append((ev["Stage ID"], ev.get("Task Metrics") or {}))

    def label_of(t: float):
        for lo, hi, label in windows:
            if lo <= t <= hi:
                return label
        return None

    job_label = {j: label_of(t) for j, t in jobs.items()}
    out: dict[tuple, SparkCounts] = {}

    def acc(label) -> SparkCounts:
        return out.setdefault(label, SparkCounts())

    for j, label in job_label.items():
        if label is None:
            continue
        c = acc(label)
        c.jobs += 1
        c.last_job_end = max(c.last_job_end, job_end.get(j, 0.0))
    for sid, info in stage_info.items():
        label = job_label.get(stage_job.get(sid))
        if label is None:
            continue
        c = acc(label)
        c.stages += 1
        py = False
        for a in info.get("Accumulables", []):
            name, value = a.get("Name"), a.get("Value")
            if name == _PY_BYTES_OUT:
                c.python_bytes_out += int(value)
                py = True
            elif name == _PY_BYTES_IN:
                c.python_bytes_in += int(value)
                py = True
        if py and info.get("Submission Time") and info.get("Completion Time"):
            c.python_stage_s += (info["Completion Time"] - info["Submission Time"]) / 1000.0
    for sid, m in task_metrics:
        label = job_label.get(stage_job.get(sid))
        if label is None:
            continue
        c = acc(label)
        c.tasks += 1
        c.scan_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        c.scan_rows += m.get("Input Metrics", {}).get("Records Read", 0)
        c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics", {})
        c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        c.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
        c.spill_mem_bytes += m.get("Memory Bytes Spilled", 0)
        c.gc_s += m.get("JVM GC Time", 0) / 1000.0
    return out


# -- streaming progress ------------------------------------------------------

def make_listener(sink: list):
    """A ``StreamingQueryListener`` appending one dict per finished
    micro-batch to ``sink`` (list.append is atomic under the GIL)."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            sink.append({
                "start": ts,
                "rows": int(p.numInputRows or 0),
                "batch_ms": float(d.get("triggerExecution", 0)),
                "add_batch_ms": float(d.get("addBatch", 0)),
                "wal_commit_ms": float(d.get("walCommit", 0)),
                "planning_ms": float(d.get("queryPlanning", 0)),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def batch_totals(batches: list[dict]) -> dict[str, float]:
    return {
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["rows"] for b in batches),
        "streaming.batch_ms_p50": statistics.median([b["batch_ms"] for b in batches]) if batches else 0.0,
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1000.0,
        "streaming.wal_commit_s": sum(b["wal_commit_ms"] for b in batches) / 1000.0,
        "streaming.query_planning_s": sum(b["planning_ms"] for b in batches) / 1000.0,
    }
