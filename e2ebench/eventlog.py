"""Fold a local Spark event log into one record per job and per job group.

Spark writes an uncompressed event log when the session sets
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
Spark 4 writes it as a rolling directory ``eventlog_v2_<app>/events_<n>_<app>``
(one JSON event per line); a plain single file is read the same way.

Each job carries the job group of the thread that submitted it
(``spark.jobGroup.id``). The fold sums, per job, the stages that ran, the
tasks and their executor metrics, and keeps the job's ``[submit, end]``
interval; :func:`by_group` sums the jobs per group. :func:`layer_figures`
puts a layer's jobs next to its own wall-clock spans: the wall time is the
*union* of the span intervals, and the driver gap is that wall time minus
the union of the job intervals clipped to it, so overlapping jobs (thread
pools, concurrent requests) are never counted twice and the gap can never
go negative.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Record:
    """Summed figures of one job or of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: Record) -> None:
        for name in ("jobs", "stages", "tasks", "exec_cpu_s", "gc_s",
                     "shuffle_write_bytes", "spill_bytes"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.job_intervals.extend(other.job_intervals)


@dataclass
class Job:
    group: str  # spark.jobGroup.id of the submitting thread, "" if none
    start: float  # submission, epoch seconds
    end: float  # completion, epoch seconds
    rec: Record


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir`` in write order (rolling parts
    sorted by their index), skipping Spark's ``appstatus`` markers."""
    files = []
    for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        name = os.path.basename(p)
        if os.path.isfile(p) and not name.startswith("appstatus"):
            files.append(p)

    def order(p: str) -> tuple:
        name = os.path.basename(p)
        if name.startswith("events_"):
            return (os.path.dirname(p), int(name.split("_")[1]))
        return (os.path.dirname(p), 0)

    return sorted(files, key=order)


def fold(log_dir: str) -> list[Job]:
    """Every finished job in the log with its stages', tasks' and executor
    metrics summed into its :class:`Record`."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}

    def rec_of_stage(stage_id: int) -> Record | None:
        job = stage_job.get(stage_id)
        return None if job is None else jobs[job].rec

    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    t = e["Submission Time"] / 1000.0
                    jobs[jid] = Job(group, t, t, Record(jobs=1))
                    for sid in e.get("Stage IDs", []):
                        # a stage reused by a later job ran under the first
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(e["Job ID"])
                    if job is not None:
                        job.end = e["Completion Time"] / 1000.0
                        job.rec.job_intervals.append((job.start, job.end))
                elif kind == "SparkListenerStageCompleted":
                    rec = rec_of_stage(e["Stage Info"]["Stage ID"])
                    if rec is not None:
                        rec.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    rec = rec_of_stage(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if rec is None or not m:
                        continue
                    rec.tasks += 1
                    rec.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    rec.gc_s += m.get("JVM GC Time", 0) / 1e3
                    rec.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j.rec.job_intervals]


def by_group(jobs: list[Job]) -> dict[str, Record]:
    """One :class:`Record` per job group."""
    out: dict[str, Record] = {}
    for j in jobs:
        out.setdefault(j.group, Record()).add(j.rec)
    return out


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping ``(start, end)`` intervals."""
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def covered(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in union(intervals))


def clip(intervals: list[tuple[float, float]],
         within: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside the union of ``within``."""
    out = []
    for a, b in union(intervals):
        for lo, hi in union(within):
            s, e = max(a, lo), min(b, hi)
            if s < e:
                out.append((s, e))
    return out


def layer_figures(jobs: list[Job], spans: list[tuple[float, float]]) -> dict[str, float]:
    """Figures of one layer: the union of its spans as wall time, and the
    sums over ``jobs``, the jobs it owns that were submitted inside a span."""
    spans = union(spans)
    rec = Record()
    for j in jobs:
        # the log stamps whole milliseconds, spans are finer
        if any(lo - 1e-3 <= j.start <= hi for lo, hi in spans):
            rec.add(j.rec)
    wall = covered(spans)
    return {
        "wall_s": wall,
        "jobs": rec.jobs,
        "stages": rec.stages,
        "tasks": rec.tasks,
        "exec_cpu_s": rec.exec_cpu_s,
        "gc_s": rec.gc_s,
        "shuffle_write_bytes": rec.shuffle_write_bytes,
        "spill_bytes": rec.spill_bytes,
        "driver_gap_s": wall - covered(clip(rec.job_intervals, spans)),
    }
