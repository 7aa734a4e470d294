"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m pytest perfbench/tests -q

Each smoke test runs one workload at the tiny size in a subprocess (about
half a minute each, one Spark session per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("cdc", "curate")


def run(*args: str, cwd: str = ROOT, script: str | None = None) -> subprocess.CompletedProcess:
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(out: subprocess.CompletedProcess) -> dict:
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric_with_its_unit(workload, trace):
    res = result(run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--size", "tiny"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = dict(END_TO_END if trace == 0 else PER_LAYER)
    assert set(res["metrics"]) == set(want)
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], (int, float))
        if trace == 0:
            assert m["value"] > 0, name


def test_dropped_epoch_fails_the_cdc_check():
    res = result(run("--workload", "cdc", "--seed", "3", "--seconds", "1", "--size", "tiny", "--drop-epoch"))
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = run("--workload", "cdc", "--seed", "1", "--seconds", "1", "--trace", "0",
              cwd=str(tmp_path), script=str(tmp_path / "perfbench" / "run.py"))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
