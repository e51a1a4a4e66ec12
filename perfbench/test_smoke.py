"""Smoke test of the benchmark itself: every workload at tiny sizes, golden
checks on, one traced and one untraced run each.

    python3 -m pytest perfbench/test_smoke.py -q      # from the repo root, ~3 min
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# per-layer metrics that must be non-zero in a traced run: each layer the
# workload runs has to be found by the rollup or the engine's own timings
RUN_LAYERS = {
    "transcript_queries": [
        "etl.jobs", "graph.jobs", "pagerank.global.jobs", "pagerank.multi.jobs",
        "components.jobs", "labelprop.jobs", "triangles.jobs", "randomwalk.jobs",
        "blocks.shm_mb", "barrier.compute_s", "barrier.superstep_s",
        "blocks.et_per_compute_s",
    ],
    "synthetic_supersteps": [
        "etl.driver_s", "graph.jobs", "pagerank.multi.jobs", "pagerank.arrow.jobs",
        "pagerank.arrow.executor_s", "blocks.shm_mb", "distblocks.build_s",
        "distblocks.store_mb", "barrier.compute_s", "blocks.et_per_compute_s",
        "checkpoint.write_s", "checkpoint.mb", "checkpoint.load_s",
    ],
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_is_correct_and_complete(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    # one golden check per query
    assert detail["checked"] == detail["attempted"] == result["attempted"]
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace:
        zero = [k for k in RUN_LAYERS[workload] if not result["metrics"][k]["value"] > 0]
        assert not zero, f"layers the run exercised read 0: {zero}"
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
