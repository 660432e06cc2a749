"""Reduce a Spark event log (uncompressed, non-rolling JSON lines) to
per-window work figures: jobs, stages, tasks, executor run / CPU / GC
time, shuffle bytes written, spill, and the driver gap (wall time no
job was running)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from perfbench.stats import union_length


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


class EventLog:
    def __init__(self, lines):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.stages_done: set[int] = set()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"],
                    stage_ids=[s["Stage ID"] for s in ev.get("Stage Infos", [])],
                )
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                self.stages_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                self.tasks.append(
                    Task(
                        ev["Stage ID"],
                        info["Launch Time"],
                        info["Finish Time"],
                        m.get("Executor Run Time", 0),
                        m.get("Executor CPU Time", 0),
                        m.get("JVM GC Time", 0),
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    )
                )

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        """The single application log Spark wrote under ``log_dir``."""
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise ValueError(f"expected one event log in {log_dir}, found {names}")
        with open(os.path.join(log_dir, names[0])) as f:
            return cls(f)

    def jobs_in(self, start_ms: float, end_ms: float, group: str | None = None) -> list[Job]:
        """Jobs submitted inside [start_ms, end_ms), optionally of one job group."""
        return [
            j
            for j in self.jobs.values()
            if start_ms <= j.submit_ms < end_ms and (group is None or j.group == group)
        ]

    def reduce(self, start_ms: float, end_ms: float) -> dict:
        """Work done by jobs submitted inside the window."""
        jobs = self.jobs_in(start_ms, end_ms)
        stage_ids = {s for j in jobs for s in j.stage_ids}
        tasks = [t for t in self.tasks if t.stage_id in stage_ids]
        spans = [(j.submit_ms, j.end_ms if j.end_ms is not None else end_ms) for j in jobs]
        wall_ms = end_ms - start_ms
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids & self.stages_done),
            "tasks": len(tasks),
            "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
            "spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
            "driver_gap_s": max(wall_ms - union_length(spans), 0.0) / 1e3,
        }
