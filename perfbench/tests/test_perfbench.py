"""Self-tests of the benchmark: generator determinism, metric names
against BENCHMARK.json, and a tiny-scale run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", workloads.GATE)
def test_generator_is_deterministic(tmp_path, workload):
    def digest(seed: int, sub: str) -> str:
        args = argparse.Namespace(workload=workload, seed=seed, scale="tiny")
        out = str(tmp_path / sub)
        workloads._generate(workloads.Run(args), out)
        return workloads._digest(out)

    a = digest(5, "a")
    assert a == digest(5, "b")
    assert a != digest(6, "c")


def test_task_params_are_seeded_reference_json():
    a, b = gen.task_params(9, 20), gen.task_params(9, 20)
    assert a == b and a != gen.task_params(10, 20)
    for raw in a:
        p = json.loads(raw)
        assert all(isinstance(v, list) and len(v) == 1 for v in p.values())
        lo, hi = (dt.date.fromisoformat(p[k][0]) for k in ("startDate", "endDate"))
        assert (hi - lo).days + 1 == gen.TASK_DAYS and lo.month == hi.month == 1


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.GATE)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER


@pytest.mark.parametrize("workload", workloads.GATE)
def test_tiny_run_is_correct(workload):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join("perfbench", "run.py"),
            "--workload", workload,
            "--seed", "3",
            "--seconds", "1",
            "--trace", "1",
            "--scale", "tiny",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    detail, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert detail["named"]["failed_share"]["value"] == 0
    assert set(result["metrics"]) == set(workloads.PER_LAYER)
    assert set(detail["e2e"]) == set(workloads.E2E)
    assert all(v > 0 for v in detail["e2e"].values())
