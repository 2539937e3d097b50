"""Smoke test of the benchmark itself: tiny inputs through every workload,
untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run must print every metric BENCHMARK.json declares for its mode,
by name and with its unit, check every answer it got, and fail none.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# the workload's own figures, printed beside the declared metrics
REPORTED = {
    "http_lookup": ["lookup_p95_ms", "build_turns_per_s", "batch_qps"],
    "ingest_nrt": ["ingest_turns_per_s", "nrt_lookup_p50_ms", "nrt_lookup_p95_ms", "compact_s"],
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True, lines[-8:-1]
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        assert any(line.startswith(f"{workload} {m['name']} = ") and line.endswith(f" {m['unit']}")
                   for line in lines), m["name"]
    assert f"{workload} failed_frac = 0 " in proc.stdout
    if not trace:
        for name in REPORTED[workload]:
            assert any(line.startswith(f"{workload} {name} = ") for line in lines), name


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
