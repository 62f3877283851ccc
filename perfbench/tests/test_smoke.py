"""Smoke test of the benchmark at tiny size (sf0.001, about 2e3 keys).

    python3 -m pytest perfbench/tests -q

Each case starts the benchmark as a separate process, the way it is
run for real, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*extra: str, workload: str, trace: int = 0, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> tuple[dict, dict]:
    return json.loads(lines[-1]), json.loads(lines[-2])["details"]


def assert_metrics(res: dict, spec: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    rc, lines = bench("--size", "tiny", workload=workload)
    assert rc == 0
    res, details = result(lines)
    assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] and res["failed"] == 0
    assert details["error_rate"] == 0
    assert details["host"]["nproc"] >= 1


def test_per_layer_metrics_printed_with_units():
    rc, lines = bench("--size", "tiny", workload="redis_rw", trace=1)
    assert rc == 0
    res, details = result(lines)
    assert_metrics(res, SPEC["per_layer"])
    assert res["failed"] == 0
    assert res["metrics"]["server.busy_frac"]["value"] > 0
    assert details["trace_coverage"] >= 0.9


def test_corrupted_reply_raises_error_rate():
    rc, lines = bench("--size", "tiny", "--corrupt-reply", workload="redis_rw")
    assert rc == 0
    res, details = result(lines)
    assert res["failed"] > 0 and not res["correct"]
    assert details["error_rate"] > 0


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, lines = bench(workload=WORKLOADS[0], cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)
