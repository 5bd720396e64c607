"""BENCHMARK.json declares exactly the metrics run.py prints."""

from __future__ import annotations

import json

import run
import workloads
from conftest import BENCH


def _spec() -> dict:
    return json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(workloads.WORKLOADS)


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
