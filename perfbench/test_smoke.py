"""Self-test of the benchmark: every workload, traced, on sf0.001-sized
tables with one query or turn a pass. Every end-to-end and per-layer
metric must be emitted with its unit, and the outputs must check.

    python3 -m pytest perfbench/test_smoke.py -q

from the root of a checkout (about a minute per workload).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _run(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    trace = ROOT / ".perfbench" / "traces" / f"{workload}-seed7-trace1.json"
    return result, json.loads(trace.read_text())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_emits_every_metric(workload: str) -> None:
    result, record = _run(workload)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["failures"]
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    # the untraced result's metrics are in the same run's trace artifact
    assert set(record["end_to_end"]) == set(END_TO_END)
    assert all(v > 0 for v in record["end_to_end"].values())
    assert record["spans"] and record["jobs"]
