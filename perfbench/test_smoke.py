"""Smoke runs of every benchmark workload at a small size.

    python3 -m pytest perfbench -q

Each run goes through the command-line entry point exactly as a benchmark
run does, then checks the result line: every metric present with its unit,
and no span failing the oracle.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


@pytest.mark.parametrize("workload",
                         ["hotkey_burst", "live_replay"])
def test_end_to_end_metrics_and_oracle(workload):
    res, text = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    for name, unit in END_TO_END.items():
        assert f"\n{name} " in f"\n{text}" and f" {unit}" in text
    assert "\nfailed_frac 0 ratio" in f"\n{text}"


@pytest.mark.parametrize("workload", ["hotkey_burst", "live_replay"])
def test_traced_run_reports_every_layer(workload):
    res, text = _run(workload, 1)
    assert res["correct"] is True and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "hotkey_burst":
        assert m["parse.rows_out"] == m["parse.rows_in"] > 0
        assert m["adjacency.rows_out"] == m["serialize.rows"] == m["parse.rows_in"]
        assert m["adjacency.update_rows"] == 2 * m["band_join.edges"]
        assert 0 < m["band_join.useful_ratio"] <= 1
    else:
        assert m["phase2.rows_out"] == m["gen.spans"] > 0
        assert m["phase1.bridge_rows"] > 0 and m["phase2.batches"] > 0
    path = os.path.join(ROOT, ".perfbench", f"trace-{workload}-7.json")
    with open(path) as f:
        assert json.load(f)["spans"]
