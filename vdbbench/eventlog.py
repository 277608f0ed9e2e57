"""Spark event-log reader: job phases and task counters for a window.

Reads an uncompressed event log (``spark.eventLog.compress=false``; a
Spark 4 log is a directory ``eventlog_v2_<app>/events_<n>_<app>``). Jobs
are attributed to phases by the ``spark.job.description`` the benchmark's
wrappers set while the job was submitted, as recorded in the job's
``SparkListenerJobStart`` properties: PySpark DataFrame actions record a
JVM-internal call site there, so the description is the reliable tag.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    description: str = ""
    group: str = ""
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage_id: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job]
    tasks: list[Task]

    def window(self, start_ms: float, end_ms: float) -> "EventLog":
        """Jobs submitted inside [start_ms, end_ms] and their tasks."""
        jobs = {j: v for j, v in self.jobs.items() if start_ms <= v.start_ms <= end_ms}
        stages = {s for v in jobs.values() for s in v.stage_ids}
        return EventLog(jobs, [t for t in self.tasks if t.stage_id in stages])

    def phase_seconds(self, description: str) -> float:
        """Summed wall time of the jobs submitted under ``description``."""
        return sum(
            (j.end_ms - j.start_ms) / 1e3
            for j in self.jobs.values()
            if j.description == description
        )

    def runtime_metrics(self, wall_s: float) -> dict[str, float]:
        """The ``spark.*`` counters; ``driver_s`` is the part of the
        window not covered by any job."""
        run = sum(t.run_ms for t in self.tasks) / 1e3
        cpu = sum(t.cpu_ns for t in self.tasks) / 1e9
        covered, cur_start, cur_end = 0.0, None, None
        for j in sorted(self.jobs.values(), key=lambda j: j.start_ms):
            if cur_end is None or j.start_ms > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = j.start_ms, j.end_ms
            else:
                cur_end = max(cur_end, j.end_ms)
        if cur_end is not None:
            covered += cur_end - cur_start
        return {
            "spark.jobs": len(self.jobs),
            "spark.stages": len({s for j in self.jobs.values() for s in j.stage_ids}),
            "spark.tasks": len(self.tasks),
            "spark.executor_run_s": run,
            "spark.executor_cpu_s": cpu,
            "spark.python_gap_s": run - cpu,
            "spark.gc_s": sum(t.gc_ms for t in self.tasks) / 1e3,
            "spark.input_bytes": sum(t.input_bytes for t in self.tasks),
            "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in self.tasks),
            "spark.spill_bytes": sum(t.spill_bytes for t in self.tasks),
            "spark.driver_s": max(0.0, wall_s - covered / 1e3),
        }


def parse_lines(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                e["Job ID"],
                e["Submission Time"],
                description=props.get("spark.job.description") or "",
                group=props.get("spark.jobGroup.id") or "",
                stage_ids=[s["Stage ID"] for s in e.get("Stage Infos", [])],
            )
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            tasks.append(
                Task(
                    e["Stage ID"],
                    m.get("Executor Run Time", 0),
                    m.get("Executor CPU Time", 0),
                    m.get("JVM GC Time", 0),
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                )
            )
    for j in jobs.values():
        j.end_ms = j.end_ms or j.start_ms
    return EventLog(jobs, tasks)


def read(log_dir: str) -> EventLog:
    """Parse every event file of the one application logged in ``log_dir``."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")

    def index(path: str) -> int:
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    lines: list[str] = []
    for path in sorted(files, key=index):
        with open(path) as f:
            lines.extend(f)
    return parse_lines(lines)
