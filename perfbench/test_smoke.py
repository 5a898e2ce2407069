"""Smoke tests of the benchmark itself, at scale factor 0.001.

    python3 -m pytest perfbench/test_smoke.py     (from the repository root)

Each workload runs briefly, untraced and traced. The tests check that the
result line parses, that every metric BENCHMARK.json names is there with
its unit, and that the output checks pass. The first test builds the
engine, so allow a few minutes.
"""
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = sorted({w["name"] for w in SPEC["workloads"]} | {"curate"})


def run(workload, trace):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_reports_every_metric_and_passes_checks(workload, trace):
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, res
    assert res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_refuses_without_the_engine(tmp_path):
    """Outside a repository checkout the command fails without a result."""
    (tmp_path / "perfbench").mkdir()
    for p in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / p.name).write_text(p.read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
