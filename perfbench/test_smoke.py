"""Smoke test of the benchmark itself (not part of the engine's test suite).

Runs every workload once on the tiny inputs, untraced and traced, and checks
that the result line carries exactly the metrics ``BENCHMARK.json`` names,
with their units, and that no operation failed. Takes a few minutes:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    if cwd == ROOT:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_reported_and_nothing_failed(workload: str, trace: int) -> None:
    proc = run_bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-2000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert values["bench.failed_ops"] == 0
        if workload == "query_mix":
            assert_no_python_tasks_in_olap_queries(workload)
        if workload == "avro_compact":
            assert values["compact.leaf_success_ratio"] == 1.0
            assert values["avro_spark.files_written"] > 0
    else:
        assert all(v > 0 for v in values.values())


def assert_no_python_tasks_in_olap_queries(workload: str) -> None:
    """The OLAP queries of the mix run no Python worker: their job groups in
    the traced run's artifact hold no Python task."""
    art = json.loads(
        (ROOT / ".perfbench" / "artifacts" / f"{workload}-s3-t1-smoke.json").read_text()
    )
    olap = {r["op"] for r in art["ops"] if r["module"] in ("relational", "batch_equiv")}
    groups = {g: v for g, v in art["event_log_groups"].items() if g.split(":")[2] in olap}
    assert olap and groups
    assert all(v.get("py_tasks", 0) == 0 for v in groups.values()), groups


def test_fails_without_the_engine(tmp_path: Path) -> None:
    """In a directory holding only the benchmark, it must exit non-zero
    without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(WORKLOADS[0], 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
