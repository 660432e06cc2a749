"""The event-log reducer against a recorded local[2] log: one job group
ran a two-stage aggregate (stage 1 skipped as reused), another a count."""

import os

import pytest

from perfbench.eventlog import EventLog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
T0 = 1792213311548  # first job's submission (epoch ms)


@pytest.fixture(scope="module")
def log():
    with open(LOG) as f:
        return EventLog(f)


def test_whole_log(log):
    r = log.reduce(T0, T0 + 1_500)
    assert (r["jobs"], r["stages"], r["tasks"]) == (4, 4, 6)
    assert r["executor_run_s"] == pytest.approx(0.787)
    assert r["executor_cpu_s"] == pytest.approx(0.453878119)
    assert r["gc_s"] == pytest.approx(0.052)
    assert r["shuffle_write_mb"] == pytest.approx(482e-6)
    assert r["spill_mb"] == 0


def test_window_and_driver_gap(log):
    # job 0 runs 0→631 ms and job 1 792→1000 ms after T0; the window's
    # 1052 ms minus their 839 ms leaves 213 ms with no job running
    r = log.reduce(T0, T0 + 1_052)
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 2, 3)
    assert r["driver_gap_s"] == pytest.approx(0.213)


def test_job_groups(log):
    assert [j.job_id for j in log.jobs_in(0, float("inf"), "tiny_group")] == [0, 1]
    assert [j.job_id for j in log.jobs_in(0, float("inf"), "other")] == [2, 3]


def test_from_dir_rejects_ambiguous_dir(tmp_path):
    (tmp_path / "a").write_text("")
    (tmp_path / "b").write_text("")
    with pytest.raises(ValueError):
        EventLog.from_dir(str(tmp_path))
