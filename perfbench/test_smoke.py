"""The benchmark's own test: every workload in smoke mode (sf0.001, one
client, a few statements and batches), untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts the result-line contract, that every metric BENCHMARK.json names
prints with its unit, that the thirteen named figures print, and that
every output check and the tracer self-check pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAMED = ("setup_s", "op_error_rate", "suite_s", "serve_qps", "serve_p50_s",
         "serve_p90_s", "bulk_ingest_pts_per_s", "ingest_pts_per_s",
         "write_p50_s", "write_p90_s", "read_p50_s", "read_p90_s",
         "bytes_per_point")


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["analytics_suite", "nbql_serving",
                                      "ingest_mixed"])
def test_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "3", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, detail["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert detail["op_error_rate"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    assert set(detail["named_metrics"]) == set(NAMED)
    printed = {ln.split()[0] for ln in lines[:-2] if ln.strip()}
    assert set(NAMED) <= printed
    if trace:
        assert result["metrics"]["trace.self_check_ok"]["value"] == 1
        assert detail["trace_missing_layers"] == []


def test_refuses_without_program():
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil
    import tempfile
    os.makedirs(os.path.join(ROOT, "perfbench", ".run"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, "perfbench", ".run"))
    try:
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".data", ".run", ".out",
                                                      "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "nbql_serving",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
