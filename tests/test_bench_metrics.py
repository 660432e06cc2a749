"""Unit-pin the bench's stage-metrics reader (bench_eventlog.StageLog)
on a small recorded event log, tests/data/bench_eventlog.jsonl (how it
was recorded: tests/data/make_bench_eventlog.py). Every measured run in
bench.py and the scale-probe tools executes under its own job group;
the reader must attribute exactly that group's stages, sum the
executor-reported bytes, pick the heaviest stage's task quantiles, and
read AQE's skew-split marker from the group's SQL plans — all with the
UI off."""

from __future__ import annotations

import json
import os

import pytest

import bench_eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "bench_eventlog.jsonl")


@pytest.fixture(scope="module")
def log() -> bench_eventlog.StageLog:
    with open(LOG) as f:
        return bench_eventlog.StageLog(f)


def _events(kind: str) -> list[dict]:
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"].endswith(kind)]


def test_stages_attributed_per_group(log):
    """Each group gets exactly the stages submitted under it, with the
    REST-era fields; ungrouped jobs before and after never leak in."""
    submitted = {}
    for e in _events("StageSubmitted"):
        group = e["Properties"].get("spark.jobGroup.id")
        submitted.setdefault(group, set()).add(e["Stage Info"]["Stage ID"])
    assert None in submitted  # the ungrouped jobs are in the log
    for group in ("q:scan", "q:skew", "q:noskew", "q:rdd"):
        m = log.stage_metrics(group)
        assert set(m) == {
            "stages",
            "tasks",
            "input_mb",
            "shuffle_write_mb",
            "shuffle_read_mb",
            "spill_mem_mb",
            "spill_disk_mb",
        }
        assert m["stages"] == len(submitted[group])
        ok = [
            e
            for e in _events("TaskEnd")
            if e["Stage ID"] in submitted[group]
            and e["Task End Reason"]["Reason"] == "Success"
        ]
        assert m["tasks"] == len(ok)
    scan = log.stage_metrics("q:scan")
    assert scan["input_mb"] > 0 and scan["shuffle_write_mb"] > 0
    assert scan["spill_disk_mb"] == 0.0
    skew = log.stage_metrics("q:skew")
    # the join's shuffle bytes are the same plan either way; only the
    # forced-spill sorter reports spill
    assert skew["shuffle_write_mb"] == log.stage_metrics("q:noskew")["shuffle_write_mb"]
    assert skew["spill_disk_mb"] > 0 and skew["spill_mem_mb"] > 0


def test_byte_sums_match_task_metrics(log):
    """The summed fields are the group's TaskEnd metrics, in MB."""
    stages = {s for s, g in log.stage_group.items() if g == "q:skew"}
    tasks = [e["Task Metrics"] for e in _events("TaskEnd") if e["Stage ID"] in stages]
    written = sum(t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks)
    read = sum(
        t["Shuffle Read Metrics"]["Remote Bytes Read"]
        + t["Shuffle Read Metrics"]["Local Bytes Read"]
        for t in tasks
    )
    m = log.stage_metrics("q:skew")
    assert m["shuffle_write_mb"] == round(written / 1e6, 2)
    assert m["shuffle_read_mb"] == round(read / 1e6, 2)
    assert m["spill_disk_mb"] == round(sum(t["Disk Bytes Spilled"] for t in tasks) / 1e6, 2)


def test_no_new_stages_yields_none(log):
    """A group with no submitted stage (never run, or every stage
    reused) records no metrics rather than zeros-that-look-measured."""
    assert log.stage_metrics("q:never") is None
    assert bench_eventlog.StageLog([]).stage_metrics("q:scan") is None


def test_task_time_dist_empty_stages_yields_empty(log):
    assert log.task_time_dist("q:never") == {}


def test_task_time_dist_picks_heaviest_stage(log):
    """Quantiles come from the stage with the most total executor time
    — that's where a straggler serializes — and report max/median."""
    stages = {s for s, g in log.stage_group.items() if g == "q:skew"}
    runs: dict[int, list[int]] = {}
    for e in _events("TaskEnd"):
        if e["Stage ID"] in stages:
            runs.setdefault(e["Stage ID"], []).append(e["Task Metrics"]["Executor Run Time"])
    heavy = sorted(max(runs.values(), key=sum))
    d = log.task_time_dist("q:skew")
    assert d["heavy_stage_tasks"] == len(heavy)
    assert d["task_max_ms"] == heavy[-1]
    assert d["task_med_ms"] == heavy[len(heavy) // 2]
    assert d["task_imbalance"] == round(heavy[-1] / heavy[len(heavy) // 2], 2)


def test_task_time_dist_quantiles_and_imbalance():
    """The status store's quantile indexing, on a hand-written log:
    median = sorted[n // 2], imbalance = max / median."""

    def line(event: dict) -> str:
        return json.dumps(event, separators=(",", ":"))

    lines = [
        line({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": s}, "Properties": {"spark.jobGroup.id": "g"}})
        for s in (1, 2)
    ]
    for stage, run_ms in ((1, 10), (1, 20), (2, 10), (2, 120), (2, 480), (2, 100)):
        lines.append(
            line(
                {
                    "Event": "SparkListenerTaskEnd",
                    "Stage ID": stage,
                    "Task End Reason": {"Reason": "Success"},
                    "Task Metrics": {"Executor Run Time": run_ms},
                }
            )
        )
    d = bench_eventlog.StageLog(lines).task_time_dist("g")
    assert d == {
        "heavy_stage_tasks": 4,
        "task_med_ms": 120.0,
        "task_max_ms": 480.0,
        "task_imbalance": 4.0,
    }


def test_skew_split_detected_not_detected_unknown(log):
    """skew=true in the group's adaptive plans counts; the same join
    with skew-join splitting off does not; a group with no SQL
    execution (RDD-only work) is unknown, not False."""
    assert log.skew_split_fired("q:skew") is True
    assert log.skew_split_fired("q:noskew") is False
    assert log.skew_split_fired("q:scan") is False
    assert log.skew_split_fired("q:rdd") is None
    assert log.stage_metrics("q:rdd")["stages"] > 0


def test_recorder_fills_targets_after_resolve(log):
    """StageRecorder.later targets stay empty until resolve() reads the
    closed log, then get the requested subsets; the log dir is removed."""
    rec = bench_eventlog.StageRecorder()
    with open(LOG) as src, open(os.path.join(rec.log_dir, "app-1"), "w") as dst:
        dst.write(src.read())
    full = rec.later({}, "q:skew")
    picked = rec.later({"sec": 1.0}, "q:skew", keys=("shuffle_write_mb", "spill_disk_mb"), tasks=True, skew=True)
    none = rec.later({}, "q:never", skew=True)
    assert full == {}
    rec.resolve()
    assert full == log.stage_metrics("q:skew")
    assert set(picked) == {
        "sec",
        "shuffle_write_mb",
        "spill_disk_mb",
        "heavy_stage_tasks",
        "task_med_ms",
        "task_max_ms",
        "task_imbalance",
        "aqe_skew_split",
    }
    assert picked["aqe_skew_split"] is True
    assert none == {"aqe_skew_split": None}
    assert not os.path.exists(rec.log_dir)
