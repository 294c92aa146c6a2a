"""Tiny-scale smoke of the benchmark (sf0.001, two cycles / a 1 s window).

Run from the repo root: ``python3 -m pytest perfbench/tests -q``.
Each case starts a Spark engine, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_every_metric_emitted_with_its_unit(workload, trace):
    out = _result(_run("--workload", workload, "--trace", trace))
    defs = BENCH["end_to_end"] if trace == "0" else BENCH["per_layer"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {d["name"]: d["unit"] for d in defs}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    if trace == "0":
        assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_injected_wrong_result_is_counted(workload):
    proc = _run("--workload", workload, "--trace", "0", "--inject-wrong")
    out = _result(proc)
    assert not out["correct"] and out["failed"] >= 1
    rate = next(ln for ln in proc.stdout.splitlines() if ".error_rate " in ln)
    assert float(rate.split()[1]) > 0


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, "perfbench", ".work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run("--workload", WORKLOADS[0], "--trace", "0", cwd=bare)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
