"""Smoke test of the benchmark harness on tiny generated inputs.

    python -m pytest perfbench/test_smoke.py

Each case is one harness process (~40 s: Spark start-up dominates).  The
cases check the result contract: every metric BENCHMARK.json names is
printed with its unit, and an injected wrong output or raising op is
counted as failed instead of ending the run.
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


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "1", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


def _units(res: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in res["metrics"].items()}


def test_mix_prints_every_end_to_end_metric_and_checks_clean():
    res = _result(_run("--workload", "analytics_mix", "--trace", "0", "--scale", "0.001"))
    assert _units(res) == {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1


def test_traced_mix_prints_every_layer_metric_and_counts_injected_failure():
    res = _result(
        _run("--workload", "analytics_mix", "--trace", "1", "--scale", "0.001", "--inject-failure", "output")
    )
    assert _units(res) == {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert res["metrics"]["spark.jobs"]["value"] > 0
    assert res["metrics"]["streaming.batches"]["value"] > 0
    assert not res["correct"] and 1 <= res["failed"] <= res["attempted"]


@pytest.mark.parametrize("kind", ["output", "raise"])
def test_etl_copy_counts_injected_failure(kind):
    res = _result(_run("--workload", "etl_copy", "--trace", "0", "--scale", "0.001", "--inject-failure", kind))
    assert _units(res) == {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert not res["correct"] and 1 <= res["failed"] <= res["attempted"]
    if kind == "raise":  # the load raises in both warm-ups and every pass
        assert res["failed"] == res["attempted"]


def test_refuses_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "etl_copy", cwd=str(tmp_path))
    assert p.returncode != 0 and p.stdout == ""
