"""Reader for Spark's uncompressed JSON-lines event log.

Keeps what the per-layer metrics need: each job's group (the span id the
benchmark set with ``setJobGroup``) and submission time, and per task
its stage, run window and executor metrics. Times are epoch seconds.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Task:
    stage: int
    job: int | None
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    fetch_wait_s: float


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    stages: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    tasks: list[Task]


_WANTED = tuple(f'{{"Event":"SparkListener{k}"' for k in ("JobStart", "TaskEnd"))


def parse_lines(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    for line in lines:
        # plan and AQE events are most of the bytes and none of the need
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      ev.get("Submission Time", 0) / 1000.0,
                      stages=list(ev.get("Stage IDs", [])))
            jobs[job.id] = job
            for s in job.stages:
                stage_job[s] = job.id
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            stage = ev["Stage ID"]
            task = Task(
                stage=stage,
                job=stage_job.get(stage),
                launch=info.get("Launch Time", 0) / 1000.0,
                finish=info.get("Finish Time", 0) / 1000.0,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1000.0,
            )
            tasks.append(task)
            if task.job is not None:
                jobs[task.job].tasks.append(task)
    return EventLog(jobs, tasks)


def _part(path: str) -> int:
    # rolling logs (Spark 4 default) are eventlog_v2_<app>/events_<n>_<app>
    name = os.path.basename(path)
    return int(name.split("_")[1]) if name.startswith("events_") else 0


def read_dir(log_dir: str) -> EventLog:
    """Parse the one application's log under ``log_dir``, whether a
    single file or a rolling directory of parts."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")

    def lines():
        for p in sorted(paths, key=_part):
            with open(p) as fh:
                yield from fh

    return parse_lines(lines())
