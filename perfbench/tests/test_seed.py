"""End to end: a second seed gives the same metric names as BENCHMARK.json
and passes every output check. Each case starts Spark (about a minute)."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=400,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["ingest_refresh", "scan_curation"])
def test_second_seed_passes_checks_with_the_declared_metrics(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    result = _run(workload, 7, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    for m in bench["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_traced_run_reports_every_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    result = _run("scan_curation", 7, 1)
    assert result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}
