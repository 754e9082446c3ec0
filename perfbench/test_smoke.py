"""Smoke tests of the benchmark itself, at the smoke input size.

Run from the repository root::

    python -m pytest perfbench/ -q

Each test starts ``run.py`` as a separate process, as the benchmark is
meant to be run, and checks its output contract: every end-to-end metric
of BENCHMARK.json printed by name with its unit, all checks passing, on
two seeds; the traced run reporting every per-layer metric and writing its
spans; and a non-zero exit, with no result line, where the engine is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, seed: int, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def printed_metrics(stdout: str) -> dict[str, str]:
    """``metric <workload> <name> <value> <unit> ...`` lines → name → unit."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) >= 5 and parts[0] == "metric":
            float(parts[3])
            out[parts[2]] = parts[4]
    return out


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_checks(workload, seed):
    p = bench(workload, seed, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    printed = printed_metrics(p.stdout)
    assert printed["failed_op_share"] == "ratio"
    for m in SPEC["end_to_end"]:
        assert printed.get(m["name"]) == m["unit"], m["name"]
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    p = bench(workload, 1, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert "tracing_overhead_s" in printed_metrics(p.stdout)
    with open(os.path.join(HERE, "out", f"{workload}-seed1-trace1.spans.json")) as f:
        spans = json.load(f)
    assert spans["provenance"]["traced"] is True
    names = {s["name"] for s in spans["spans"]}
    assert "pipeline.resume" in names
    assert all(s["self_s"] <= s["end"] - s["start"] + 1e-9 for s in spans["spans"])


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = bench(WORKLOADS[0], 1, trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
