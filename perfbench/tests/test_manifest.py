"""BENCHMARK.json names exactly the workloads and metrics run.py emits."""

import json
import os

from perfbench import run

MANIFEST = os.path.join(run.ROOT, "BENCHMARK.json")


def _manifest():
    with open(MANIFEST) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _manifest()["workloads"]] == list(run.WORKLOADS)


def test_end_to_end_metrics_match():
    e2e = _manifest()["end_to_end"]
    assert {m["name"]: m["unit"] for m in e2e} == run.E2E
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_per_layer_metrics_match():
    per_layer = _manifest()["per_layer"]
    assert [m["name"] for m in per_layer] == list(run.PER_LAYER)
    assert all(m["unit"] == run._unit(m["name"]) for m in per_layer)
