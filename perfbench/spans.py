"""Layer spans recorded around calls into the engine, and their
attribution to the Spark jobs, stages and tasks of a Spark event log.

The benchmark drives the engine from ONE client thread, so its spans never
overlap: a Spark job belongs to the span inside which it was submitted.
The engine runs some jobs on its own ThreadPoolExecutor threads (e.g.
profile.profile_table's per-column distinct jobs), which do not inherit
the caller's job group, so attribution is by submission time, not by job
group.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "io",
    "profile",
    "detect",
    "clean",
    "score",
    "textops",
    "dedup",
    "simsearch",
    "cdc",
    "checkpoint",
)
# per-layer metric -> unit; every layer reports each of these
LAYER_METRICS = {
    "calls": "count",
    "call_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "sched_wait_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "rows_read": "rows",
}
# ratios and counts measured where the work happens
EXTRA_METRICS = {
    "checkpoint.bytes_written": "B",
    "simsearch.rows_scanned_per_result": "rows/row",
    "dedup.candidates_per_true_pair": "pairs/pair",
    "trace.overhead_s": "s",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in reporting order."""
    out = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
    out.update(EXTRA_METRICS)
    return out


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans are plain wall-clock intervals
    (time.time(), the clock Spark's event log also uses)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        s = Span(layer, name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)

    def clear(self) -> None:
        self.spans.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: tuple = ()


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    run_ms: int
    gc_ms: int
    shuffle_bytes: int
    spill_bytes: int
    rows_read: int


def parse_event_log(path: str) -> tuple[list[Job], dict[int, int], list[Task]]:
    """(jobs, stage_id -> first submission ms, tasks) from an uncompressed
    Spark event log file (one JSON event per line)."""
    jobs: dict[int, Job] = {}
    stage_submit: dict[int, int] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"], 0, tuple(ev["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                sub = info.get("Submission Time")
                if sub is not None:
                    sid = info["Stage ID"]
                    stage_submit[sid] = min(stage_submit.get(sid, sub), sub)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                tasks.append(
                    Task(
                        ev["Stage ID"],
                        info["Launch Time"],
                        m.get("Executor Run Time", 0),
                        m.get("JVM GC Time", 0),
                        sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        inp.get("Records Read", 0),
                    )
                )
    for j in jobs.values():
        if not j.end_ms:
            j.end_ms = j.submit_ms
    return sorted(jobs.values(), key=lambda j: j.submit_ms), stage_submit, tasks


def find_event_log(log_dir: str) -> str:
    logs = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return logs[0]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(spans: list[Span], jobs: list[Job]) -> tuple[dict[int, int], list[Job]]:
    """Map job id -> span index by submission time; returns the mapping
    and the jobs submitted outside every span. A span covers
    [floor(start ms), ceil(end ms)]; the event log has ms resolution."""
    bounds = [
        (math.floor(s.start * 1000), math.ceil(s.end * 1000), i)
        for i, s in enumerate(spans)
    ]
    bounds.sort()
    owner: dict[int, int] = {}
    orphans: list[Job] = []
    for j in jobs:
        hit = next((i for lo, hi, i in bounds if lo <= j.submit_ms <= hi), None)
        if hit is None:
            orphans.append(j)
        else:
            owner[j.job_id] = hit
    return owner, orphans


def layer_metrics(
    spans: list[Span],
    jobs: list[Job],
    stage_submit: dict[int, int],
    tasks: list[Task],
    per: float = 1.0,
) -> tuple[dict[str, float], dict]:
    """Per-layer metrics over ``spans`` (each divided by ``per``, the number
    of workload runs the spans cover) and a small attribution summary."""
    owner, orphans = attribute(spans, jobs)
    # stage -> owning job: the latest job listing the stage that was
    # submitted no later than the stage (re-used shuffle stages are listed
    # by several jobs but run, with tasks, only once)
    by_job = {j.job_id: j for j in jobs}
    stage_job: dict[int, int] = {}
    for j in jobs:
        for sid in j.stage_ids:
            sub = stage_submit.get(sid)
            if sub is None or j.submit_ms > sub:
                continue
            prev = stage_job.get(sid)
            if prev is None or by_job[prev].submit_ms <= j.submit_ms:
                stage_job[sid] = j.job_id
    acc = {layer: dict.fromkeys(LAYER_METRICS, 0.0) for layer in LAYERS}
    span_jobs: dict[int, list[Job]] = {}
    for jid, si in owner.items():
        span_jobs.setdefault(si, []).append(by_job[jid])
    for i, s in enumerate(spans):
        a = acc[s.layer]
        lo_ms, hi_ms = s.start * 1000, s.end * 1000
        dur_ms = hi_ms - lo_ms
        busy = _union_ms(
            [
                (max(lo_ms, j.submit_ms), min(hi_ms, j.end_ms))
                for j in span_jobs.get(i, [])
                if min(hi_ms, j.end_ms) > max(lo_ms, j.submit_ms)
            ]
        )
        a["calls"] += 1
        a["call_s"] += dur_ms / 1000
        a["driver_s"] += max(0.0, dur_ms - busy) / 1000
        a["jobs"] += len(span_jobs.get(i, []))
    for t in tasks:
        jid = stage_job.get(t.stage_id)
        if jid is None or jid not in owner:
            continue
        a = acc[spans[owner[jid]].layer]
        a["tasks"] += 1
        a["task_s"] += t.run_ms / 1000
        a["sched_wait_s"] += max(0, t.launch_ms - stage_submit[t.stage_id]) / 1000
        a["gc_s"] += t.gc_ms / 1000
        a["shuffle_bytes"] += t.shuffle_bytes
        a["spill_bytes"] += t.spill_bytes
        a["rows_read"] += t.rows_read
    out = {
        f"{layer}.{m}": v / per for layer, ms in acc.items() for m, v in ms.items()
    }
    lo = min((s.start for s in spans), default=0.0) * 1000
    hi = max((s.end for s in spans), default=0.0) * 1000
    in_window = [j for j in orphans if lo <= j.submit_ms <= hi]
    summary = {"jobs": len(owner) + len(in_window), "attributed": len(owner), "orphans": len(in_window)}
    return out, summary


def span_rows_read(
    spans: list[Span],
    jobs: list[Job],
    stage_submit: dict[int, int],
    tasks: list[Task],
    keep,
) -> int:
    """Rows read by the jobs of the spans for which ``keep(span)`` holds."""
    sub = [s for s in spans if keep(s)]
    if not sub:
        return 0
    m, _ = layer_metrics(sub, jobs, stage_submit, tasks)
    return int(sum(v for k, v in m.items() if k.endswith(".rows_read")))
