"""Self-test of the benchmark: runs each workload once at smoke scale,
untraced and traced, and checks that every metric BENCHMARK.json names is
emitted with its unit and that every output matched its pin.

    python3 -m pytest perfbench/test_run.py -q     (about 5 minutes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    summary, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    return summary, result


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted_with_its_unit(workload, trace):
    summary, result = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    listed = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    figures = summary["figures"]
    assert figures["failed_ops_ratio"]["value"] == 0.0
    assert ("resume_s" in figures) == (workload == "pipeline")
    for k in ("cores", "mem_total_mb", "driver_memory"):
        assert k in summary["box"]
    for end in ("start", "end"):
        assert set(summary["host"][end]) == {"load1", "cpu_probe_ms"}
