"""Offline Spark event-log reader and span attribution.

Spark writes one JSON object per line.  Spark 4 rolls the log into
``eventlog_v2_<app>/events_<n>_<app>`` files; the benchmark turns event
log compression off, so every file is plain JSON lines.  Only the three
event types the per-layer split needs are kept: job start and end, and
task end (a task belongs to the first job that listed its stage).

Attribution: the benchmark sets the Spark job group to the id of the
innermost open span, so a job belongs to the span whose id it carries.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

_EVENTS = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerTaskEnd")
_INDEX_RE = re.compile(r"events_(\d+)_")


@dataclass
class Job:
    job_id: int
    group: str | None
    start_s: float
    end_s: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir`` in write order: single-file
    logs as they are, rolling logs by their ``events_<n>_`` index."""
    files: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            rolled = glob.glob(os.path.join(path, "events_*"))
            files.extend(sorted(rolled, key=lambda p: int(
                _INDEX_RE.search(os.path.basename(p)).group(1))))
        elif os.path.isfile(path) and not entry.startswith("."):
            files.append(path)
    return files


def read_jobs(log_dir: str) -> dict[int, Job]:
    """Jobs with their task totals, from every event file in ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                # cheap prefilter: most lines are events this reader ignores
                if not any(e in line for e in _EVENTS):
                    continue
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(event["Job ID"],
                              (event.get("Properties") or {}).get(
                                  "spark.jobGroup.id"),
                              event["Submission Time"] / 1000.0,
                              stages=list(event.get("Stage IDs", [])))
                    jobs[job.job_id] = job
                    for stage in job.stages:
                        stage_job.setdefault(stage, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    if event["Job ID"] in jobs:
                        jobs[event["Job ID"]].end_s = (
                            event["Completion Time"] / 1000.0)
                else:
                    job = jobs.get(stage_job.get(event["Stage ID"], -1))
                    if job is not None:
                        _add_task(job, event)
    return jobs


def _add_task(job: Job, event: dict) -> None:
    job.tasks += 1
    reason = (event.get("Task End Reason") or {}).get("Reason", "Success")
    if reason != "Success":
        job.failed_tasks += 1
    metrics = event.get("Task Metrics") or {}
    job.executor_run_s += metrics.get("Executor Run Time", 0) / 1000.0
    job.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
    job.spill_bytes += (metrics.get("Memory Bytes Spilled", 0)
                        + metrics.get("Disk Bytes Spilled", 0))
    read = metrics.get("Shuffle Read Metrics") or {}
    job.shuffle_read_bytes += (read.get("Remote Bytes Read", 0)
                               + read.get("Local Bytes Read", 0))
    write = metrics.get("Shuffle Write Metrics") or {}
    job.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
    job.input_bytes += (metrics.get("Input Metrics") or {}).get(
        "Bytes Read", 0)
    job.output_bytes += (metrics.get("Output Metrics") or {}).get(
        "Bytes Written", 0)


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


# per-layer metrics and their units
LAYER_UNITS = {"calls": "count", "self_s": "s", "job_wait_s": "s",
               "driver_s": "s", "jobs": "count", "tasks": "count",
               "executor_run_s": "s", "parallelism": "ratio"}


def layer_split(spans, jobs: dict[int, Job], layers, window,
                ignored_groups=()) -> tuple[dict, dict]:
    """Per-layer metrics and Spark totals.

    ``spans`` are finished spans (``id``, ``layer``, ``start``, ``end``,
    ``parent``); ``window`` is the ``(start, end)`` wall interval that
    was traced.  A job counts toward a span when its group is that
    span's id.  Jobs started inside the window whose group is neither a
    span nor in ``ignored_groups`` are reported as unattributed."""
    by_id = {s.id: s for s in spans}
    child_time: dict[str, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (
                s.end - s.start)
    span_jobs: dict[str, list[Job]] = {}
    totals = dict.fromkeys(
        ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "input_bytes", "output_bytes", "gc_s", "failed_tasks",
         "unattributed_jobs", "jobs"), 0)
    lo, hi = window
    for job in jobs.values():
        if job.group in by_id:
            span_jobs.setdefault(job.group, []).append(job)
        elif job.group in ignored_groups or not lo <= job.start_s <= hi:
            continue
        else:
            totals["unattributed_jobs"] += 1
        totals["jobs"] += 1
        for key in ("shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "input_bytes", "output_bytes", "gc_s",
                    "failed_tasks"):
            totals[key] += getattr(job, key)
    out = {layer: dict.fromkeys(LAYER_UNITS, 0) for layer in layers}
    for s in spans:
        row = out.setdefault(s.layer, dict.fromkeys(LAYER_UNITS, 0))
        own = span_jobs.get(s.id, [])
        wait = interval_union([(j.start_s, j.end_s if j.end_s else j.start_s)
                               for j in own])
        row["calls"] += 1
        row["self_s"] += (s.end - s.start) - child_time.get(s.id, 0.0)
        row["job_wait_s"] += wait
        row["jobs"] += len(own)
        row["tasks"] += sum(j.tasks for j in own)
        row["executor_run_s"] += sum(j.executor_run_s for j in own)
    for row in out.values():
        row["driver_s"] = row["self_s"] - row["job_wait_s"]
        row["parallelism"] = (row["executor_run_s"] / row["job_wait_s"]
                              if row["job_wait_s"] else 0.0)
    return out, totals
