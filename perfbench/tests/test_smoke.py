"""A tiny-size run of every workload, untraced and traced, passes its
checks and prints exactly the declared metrics. Takes a few minutes:
each run starts its own JVM.

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

import json
import math
import sys

import pytest

import run
import workloads

TINY = {
    "EXTRACT_PAGES_PER_CORE": 40,
    "CORE_SAMPLE_PAGES": 40,
    "DIGEST_SAMPLE": 20,
    "CURATE_DOCS_PER_CORE": 40,
    "INGEST_INCREMENTS": 3,
    "INGEST_DOCS_PER_CORE": 20,
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_tiny_run(workload, trace, monkeypatch, capsys):
    for k, v in TINY.items():
        monkeypatch.setattr(workloads, k, v)
    monkeypatch.setattr(sys, "argv", [
        "run.py", "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace),
    ])
    assert run.main() == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    declared = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in res["metrics"].items()} == declared
    assert all(math.isfinite(m["value"]) for m in res["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
