"""Event-log reader: turns Spark's JSON event log into per-job records and
attributes each job to the span that was open on the thread that
submitted it (the ``perfbench.span`` local property)."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from spans import SPAN_PROPERTY


@dataclass
class Job:
    job_id: int
    span_id: int | None
    sql_execution: str | None
    start: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    stages_run: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks_failed: int = 0
    records_read: int = 0


def read_jobs(log_dir: str) -> list[Job]:
    """Every job in every event log under ``log_dir`` (one log per Spark
    application the run started). Job ids restart per application, so
    jobs are returned as a flat list, never keyed by id across logs."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        jobs.extend(_read_one(path))
    return jobs


def _read_one(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_owner: dict[int, Job] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                job = Job(
                    job_id=ev["Job ID"],
                    span_id=int(span) if span else None,
                    sql_execution=props.get("spark.sql.execution.id"),
                    start=ev["Submission Time"] / 1000.0,
                    stages=list(ev["Stage IDs"]),
                )
                jobs[job.job_id] = job
                for sid in job.stages:
                    stage_owner.setdefault(sid, job)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                job = stage_owner.get(ev["Stage Info"]["Stage ID"])
                if job is not None:
                    job.stages_run += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_owner.get(ev["Stage ID"])
                if job is None:
                    continue
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    job.tasks_failed += 1
                m = ev.get("Task Metrics") or {}
                job.task_s += m.get("Executor Run Time", 0) / 1000.0
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job.shuffle_write_bytes += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                job.records_read += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0
                )
    return list(jobs.values())
