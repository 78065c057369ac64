"""BENCHMARK.json names exactly the workloads and metrics the benchmark
prints."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.harness import END_TO_END, PER_LAYER  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _bench()["workloads"]] == list(run.WORKLOADS)


def test_metrics_match():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER


def test_setup_bound_is_the_largest():
    e2e = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert e2e["setup_s"] == max(e2e.values()) <= 0.25
