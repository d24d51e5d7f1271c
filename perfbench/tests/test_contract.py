"""BENCHMARK.json and the code that prints the metrics agree."""

from __future__ import annotations

import json
import os
import re

from perfbench import run
from perfbench.spans import per_layer_units

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    spec = _spec()
    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_end_to_end_metrics_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_per_layer_metrics_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert len(spec["per_layer"]) <= 128
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["better"] in ("higher", "lower")


def test_names_are_well_formed_and_unique():
    spec = _spec()
    names = [
        m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in spec[key]
    ]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
