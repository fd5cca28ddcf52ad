"""The metric names and units the benchmark prints are the ones
BENCHMARK.json declares, and BENCHMARK.json keeps to its schema."""

import json
import os

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_names_and_units():
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert declared == run.END_TO_END


def test_per_layer_names_and_units():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == run.PER_LAYER


def test_workloads_are_the_runnable_ones():
    from workloads import WORKLOADS

    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)


def test_schema():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                      "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names))
