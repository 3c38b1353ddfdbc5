"""Smoke test of the benchmark: every workload once at its tiny size, with
tracing off and on, through the same command the benchmark runs. The
``cdc_sync`` case drains its whole tiny backlog, so batches after the
first (and their users-snapshot refresh) run and are checked too.

Run from the repository root::

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts one Spark JVM; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_once_tiny(workload: str, trace: int) -> None:
    # cdc_sync stops when its backlog is empty; ml_queries runs one cycle
    seconds = "600" if workload == "cdc_sync" else "1"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", seconds, "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    stamp = json.loads(lines[-2])["stamp"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, lines[-2]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for key in ("nproc", "mem_total_kb", "pyspark", "source_sha256", "seed"):
        assert stamp[key] is not None, key
    if workload == "cdc_sync":
        assert stamp["batches"] == 2, stamp


def test_fails_without_the_program(tmp_path) -> None:
    """Outside a checkout of the package the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_sync", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
