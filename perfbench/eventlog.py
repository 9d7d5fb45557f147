"""Fold a Spark event log into per-job counters (standard library only).

Reads an uncompressed event log (``spark.eventLog.compress=false``): either
one JSON-lines file or a rolling ``eventlog_v2_*`` directory of
``events_*`` files. ``SparkListenerJobStart``/``JobEnd`` give each job's
group, interval and stages; ``SparkListenerTaskEnd`` adds its task metrics
and the Python-worker SQL metrics into the job that owns the stage.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

COUNTERS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
            "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
            "input_bytes", "output_bytes", "python_bytes_sent",
            "python_bytes_returned", "python_run_ms")

# SQL metric names of the Python/Arrow evaluation nodes
_PYTHON_METRICS = {"data sent to python workers": "python_bytes_sent",
                   "data returned from python workers": "python_bytes_returned",
                   "time to run python workers": "python_run_ms",
                   "time to execute python workers": "python_run_ms"}


@dataclass
class Job:
    group: str
    start_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass
class Fold:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> executor run time of each of its tasks
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    def select(self, prefix: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group.startswith(prefix)]


def event_files(path: str) -> list[str]:
    """The event-log files under ``path`` in write order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("events_") or f.startswith(("app-", "local-")):
                found.append(os.path.join(root, f))

    def order(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)
    return sorted(found, key=order)


def read_events(path: str):
    for name in event_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold(events) -> Fold:
    out = Fold()
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(group=props.get("spark.jobGroup.id") or "",
                      start_ms=int(ev["Submission Time"]),
                      stages=list(ev.get("Stage IDs") or []))
            out.jobs[ev["Job ID"]] = job
            for s in job.stages:   # a reused (skipped) stage keeps its first job
                stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            job = out.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = int(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            job = out.jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            _add_task(job.counters, ev)
            run = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
            out.stage_task_ms.setdefault(ev["Stage ID"], []).append(int(run))
    return out


def _add_task(c: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    c["tasks"] += 1
    c["run_ms"] += _num(m.get("Executor Run Time"))
    c["cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6   # reported in ns
    c["gc_ms"] += _num(m.get("JVM GC Time"))
    c["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
    c["shuffle_read_bytes"] += (_num(sr.get("Remote Bytes Read"))
                                + _num(sr.get("Local Bytes Read")))
    c["fetch_wait_ms"] += _num(sr.get("Fetch Wait Time"))
    c["spill_bytes"] += (_num(m.get("Memory Bytes Spilled"))
                         + _num(m.get("Disk Bytes Spilled")))
    c["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
    c["output_bytes"] += _num(
        (m.get("Output Metrics") or {}).get("Bytes Written"))
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        key = _PYTHON_METRICS.get(str(acc.get("Name", "")).lower())
        if key:
            c[key] += _num(acc.get("Update"))


def busy_ms(jobs: list[Job], lo: int, hi: int) -> int:
    """Milliseconds of [lo, hi] during which at least one job ran."""
    spans = sorted((max(j.start_ms, lo), min(j.end_ms or hi, hi))
                   for j in jobs)
    total, cur_lo, cur_hi = 0, None, None
    for a, b in spans:
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


def task_skew(fold_: Fold, jobs: list[Job]) -> float:
    """Median over multi-task stages of (slowest task / mean task) run time;
    1.0 means evenly balanced stages."""
    ratios = []
    for s in {s for j in jobs for s in j.stages}:
        t = fold_.stage_task_ms.get(s, [])
        mean = sum(t) / len(t) if t else 0
        if len(t) > 1 and mean > 0:
            ratios.append(max(t) / mean)
    return statistics.median(ratios) if ratios else 1.0
