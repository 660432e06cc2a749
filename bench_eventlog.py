"""Per-group stage metrics with the Spark UI off, for bench.py and the
scale-probe tools.

Every measured run executes under its own job group (``job_group``,
``min_of_2``); the session writes an uncompressed, non-rolling event
log (``StageRecorder.conf``), and after ``spark.stop()`` StageLog
reduces it to per-group executor figures: stages, tasks, input /
shuffle-write / shuffle-read MB, memory and disk spill, the heaviest
stage's task quantiles and the AQE skew-split flag. Nothing here needs
the UI or its status REST API, so measured sessions run with the UI
off, as tests do.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import tempfile
import time
from typing import NamedTuple

#: the event kinds StageLog reads, and a TaskEnd's stage id, matched
#: before any JSON parse: Spark writes "Event" first and TaskEnd's
#: "Stage ID" second, and task ends of ungrouped stages are most of a log
_EVENT = re.compile(r'\{"Event":"([^"]+)"(?:,"Stage ID":(\d+),)?')
_SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListenerSQL"


class _Task(NamedTuple):
    ok: bool
    run_ms: int
    input: int
    shuffle_write: int
    shuffle_read: int
    spill_mem: int
    spill_disk: int


class StageLog:
    """Per-job-group stage metrics from one Spark event log
    (uncompressed, non-rolling JSON lines): the executor-reported
    bytes the UI renders, read with the UI off. A stage belongs to the
    group it was SUBMITTED under, so a stage an earlier query already
    ran (a reused shuffle is skipped, never submitted) is not billed
    again, and work outside the group (canary probes, other queries)
    never leaks in."""

    def __init__(self, lines):
        self.stage_group: dict[int, str] = {}
        self.tasks: dict[int, list[_Task]] = {}
        self.sql_group: dict[int, str] = {}
        self.plans: dict[int, list[str]] = {}
        for line in lines:
            m = _EVENT.match(line)
            if m is None:
                continue
            kind, stage = m.groups()
            if kind == "SparkListenerTaskEnd":
                if stage is not None and int(stage) in self.stage_group:
                    self._add_task(json.loads(line))
            elif kind == "SparkListenerStageSubmitted":
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    self.stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == _SQL_EVENT + "ExecutionStart":
                ev = json.loads(line)
                if ev.get("jobGroupId") is not None:
                    self.sql_group[ev["executionId"]] = ev["jobGroupId"]
                    self.plans[ev["executionId"]] = [ev["physicalPlanDescription"]]
            elif kind == _SQL_EVENT + "AdaptiveExecutionUpdate":
                ev = json.loads(line)
                if ev["executionId"] in self.plans:
                    self.plans[ev["executionId"]].append(ev["physicalPlanDescription"])

    def _add_task(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        read = m.get("Shuffle Read Metrics") or {}
        self.tasks.setdefault(ev["Stage ID"], []).append(
            _Task(
                ev["Task End Reason"]["Reason"] == "Success",
                m.get("Executor Run Time", 0),
                (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                m.get("Memory Bytes Spilled", 0),
                m.get("Disk Bytes Spilled", 0),
            )
        )

    @classmethod
    def from_dir(cls, log_dir: str) -> StageLog:
        """The single application log Spark wrote under ``log_dir``."""
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise ValueError(f"expected one event log in {log_dir}, found {names}")
        with open(os.path.join(log_dir, names[0])) as f:
            return cls(f)

    def _stages(self, group: str) -> list[int]:
        return sorted(s for s, g in self.stage_group.items() if g == group)

    def stage_metrics(self, group: str) -> dict | None:
        """Summed executor metrics of the group's stages. shuffle_write_mb
        is the number that matters at 100 TB — it is the data actually
        exchanged; spill > 0 would mean partitions outgrew executor
        memory. None when the group ran no stage, rather than
        zeros-that-look-measured."""
        stages = self._stages(group)
        if not stages:
            return None
        tasks = [t for s in stages for t in self.tasks.get(s, ())]
        mb = lambda f: round(sum(getattr(t, f) for t in tasks) / 1e6, 2)  # noqa: E731
        return {
            "stages": len(stages),
            "tasks": sum(t.ok for t in tasks),
            "input_mb": mb("input"),
            "shuffle_write_mb": mb("shuffle_write"),
            "shuffle_read_mb": mb("shuffle_read"),
            "spill_mem_mb": mb("spill_mem"),
            "spill_disk_mb": mb("spill_disk"),
        }

    def task_time_dist(self, group: str) -> dict:
        """Per-task executorRunTime quantiles of the group's heaviest
        stage (max total executorRunTime): the max/median ratio IS the
        skew damage — a straggler task serializes the stage however
        many executors sit idle. Quantiles over successful tasks,
        indexed as the status store's task summary indexes them."""
        stages = self._stages(group)
        if not stages:
            return {}
        heavy = max(stages, key=lambda s: sum(t.run_ms for t in self.tasks.get(s, ())))
        runs = sorted(t.run_ms for t in self.tasks.get(heavy, ()) if t.ok)
        if not runs:
            return {}
        med, hi = runs[len(runs) // 2], runs[-1]
        return {
            "heavy_stage_tasks": len(runs),
            "task_med_ms": round(float(med), 1),
            "task_max_ms": round(float(hi), 1),
            "task_imbalance": round(hi / med, 2) if med > 0 else None,
        }

    def skew_split_fired(self, group: str) -> bool | None:
        """Did AQE's OptimizeSkewedJoin rewrite any join in the group's
        SQL executions? (the adaptive plan tags split joins with
        ``skew=true``). None when the group recorded no SQL execution."""
        execs = [e for e, g in self.sql_group.items() if g == group]
        if not execs:
            return None
        return any("skew=true" in p for e in execs for p in self.plans[e])


class StageRecorder:
    """The measuring side of StageLog. ``conf()`` opens the event log
    for the session, ``later(target, group)`` notes which dict a
    group's figures go into, and ``resolve()``, called after
    ``spark.stop()`` has closed the log, fills them in."""

    def __init__(self):
        self.log_dir = tempfile.mkdtemp(prefix="bench_eventlog_")
        self.pending: list[tuple] = []

    def conf(self) -> dict:
        # Spark 4 defaults to rolling zstd files; StageLog reads one
        # plain JSON-lines file. TaskEnd keeps its Task Metrics without
        # the duplicate per-task accumulator updates, most of a log's bulk.
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        }

    def later(
        self,
        target: dict,
        group: str,
        keys: tuple[str, ...] | None = None,
        tasks: bool = False,
        skew: bool = False,
    ) -> dict:
        """Fill ``target`` on resolve: the group's stage metrics (only
        ``keys`` when given), the heaviest stage's task quantiles
        (``tasks``) and the AQE skew-split flag (``skew``)."""
        self.pending.append((target, group, keys, tasks, skew))
        return target

    def resolve(self) -> None:
        try:
            log = StageLog.from_dir(self.log_dir)
        finally:
            shutil.rmtree(self.log_dir, ignore_errors=True)
        for target, group, keys, tasks, skew in self.pending:
            m = log.stage_metrics(group)
            if m:
                target.update(m if keys is None else {k: m[k] for k in keys})
            if tasks:
                target.update(log.task_time_dist(group))
            if skew:
                target["aqe_skew_split"] = log.skew_split_fired(group)


@contextlib.contextmanager
def job_group(spark, name: str | None):
    """Run the block's Spark jobs under job group ``name`` (None: no
    group), so StageLog can attribute their stages."""
    if name is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def noop(df) -> None:
    """Force full execution, all rows consumed, no driver collect."""
    df.write.mode("overwrite").format("noop").save()


def min_of_2(spark, run, group: str | None = None) -> float:
    """min-of-2 wall seconds of ``run()``. The warm (second) run
    executes under job group ``group``: bytes are plan properties,
    identical cold/warm, and the warm run is the one whose timing
    usually wins the min."""
    runs = []
    for i in range(2):
        with job_group(spark, group if i == 1 else None):
            t0 = time.perf_counter()
            run()
            runs.append(time.perf_counter() - t0)
    return round(min(runs), 4)
