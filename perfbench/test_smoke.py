"""The benchmark's own tests: tiny-size runs of every workload.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts a Spark session, so the module takes a few minutes.
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
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = sorted(metrics.READ_OP)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--seed", "3", "--seconds", "6", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _declared(section: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: (m["unit"], m["better"]) for m in json.load(fh)[section]}


def test_metric_tables_match_benchmark_json():
    assert _declared("end_to_end") == metrics.END_TO_END
    assert _declared("per_layer") == metrics.PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    code, out = _run("--workload", workload, "--trace", "0", "--smoke")
    res = _result(out)
    assert code == 0 and res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        k: u for k, (u, _) in metrics.END_TO_END.items()
    }
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_answer_fails_and_traced_run_prints_every_layer(workload):
    code, out = _run("--workload", workload, "--trace", "1", "--smoke", "--wrong-answer")
    res = _result(out)
    assert code != 0 and res["correct"] is False and res["failed"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        k: u for k, (u, _) in metrics.PER_LAYER.items()
    }


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, out = _run("--workload", WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and out.strip() == ""
