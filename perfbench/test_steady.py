"""Self-check of the committed steadiness evidence.

For every workload in BENCHMARK.json, the two committed sets of runs in
``evidence/`` must agree within the benchmark's own bounds, every run in
them must have been correct, and two traced runs at one seed must have
repeated every count exactly.

    python3 -m pytest -q perfbench/test_steady.py
"""

from __future__ import annotations

import json
import os

import pytest

from steady import compare, spec

EVIDENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "evidence")
WORKLOADS = [w["name"] for w in spec()["workloads"]]


def load(name: str) -> dict:
    with open(os.path.join(EVIDENCE, name)) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_two_sets_agree_within_bounds(workload):
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    a, b = load(f"{workload}-a.json"), load(f"{workload}-b.json")
    assert a["all_correct"] and b["all_correct"]
    assert len(a["runs"]) >= 10 and len(b["runs"]) >= 10
    assert compare(a, b, bounds) == []


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat(workload):
    c = load(f"{workload}-counts.json")
    assert c["counts_repeat_exactly"], c["differ"]
