"""Scaling-efficiency evidence: same SpMV-superstep job at N and 4N
local cores (the sandbox stand-in for N vs 4N executors, per the north
rule). Runs bench.py's q_spmv_throughput twice via subprocess (fresh
JVM each, so parallelism is honest) and reports throughput at both plus
scaling efficiency = T(4N) / (4 · T(N)).

Usage: python scripts/bench_scaling.py [N] (default 8 → compares 8 vs 32)
Writes the result JSON to stdout and appends a row to BENCH_SCALING.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_at(cpus: int) -> dict:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "BENCH_ONLY": "q_spmv_throughput",
        }
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        check=True,
    )
    # bench.py prints the FULL blob first and a compact medians-only
    # line last (for the driver's tail capture) — take the one that
    # carries "extra" (the full blob)
    blobs = [
        json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")
    ]
    full = [b for b in blobs if "extra" in b]
    return full[-1] if full else blobs[-1]


def measure(n: int, label: str, note: str) -> dict:
    """Median throughput over `SCALING_TRIALS` (default 3) fresh-JVM
    runs PER parallelism level — a single-run efficiency is the ratio
    of two ±15% noisy numbers on this VM (seen live: 0.67 and 0.82 for
    identical code); the cross-JVM median pins both sides before taking
    the ratio. All per-trial numbers are recorded alongside the
    medians."""
    trials = int(os.environ.get("SCALING_TRIALS", "3"))
    los = [run_at(n) for _ in range(trials)]
    his = [run_at(4 * n) for _ in range(trials)]

    def tputs(runs):
        return sorted(r["extra"]["spmv_edge_traversals_per_sec_median"] for r in runs)

    t_lo, t_hi = tputs(los), tputs(his)
    tput_lo, tput_hi = t_lo[len(t_lo) // 2], t_hi[len(t_hi) // 2]
    eff = tput_hi / (4 * tput_lo)
    lo, hi = los[0], his[0]
    return {
        "workload": f"q_spmv_throughput[{label}]",
        "edges": lo["extra"]["spmv_edges"],
        "sources": lo["extra"]["spmv_sources"],
        "supersteps": lo["extra"]["spmv_supersteps"],
        "cores_lo": n,
        "cores_hi": 4 * n,
        "sec_lo": lo["queries"]["q_spmv_throughput"],
        "sec_hi": hi["queries"]["q_spmv_throughput"],
        "trials": trials,
        "repeats_per_trial": int(os.environ.get("SPARK_GRAFT_BENCH_N", "5")),
        "trials_lo_et_per_sec": t_lo,
        "trials_hi_et_per_sec": t_hi,
        "edge_traversals_per_sec_lo": tput_lo,
        "edge_traversals_per_sec_hi": tput_hi,
        "scaling_efficiency": round(eff, 3),
        "passes_0.8": eff >= 0.8,
        "note": note,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    results = [
        measure(
            n,
            "barrier-fast-path",
            "engine default on local masters: ONE gang-scheduled barrier job "
            "for all supersteps, shm-shared state, L2-tiled SpMV kernel, "
            "row-range-parallel axpb/error phases - the north-rule evidence "
            "(same input, N vs 4N cores, median-superstep throughput)",
        ),
    ]
    print(json.dumps(results, indent=1))
    path = os.path.join(REPO, "BENCH_SCALING.json")
    hist = []
    if os.path.exists(path):
        hist = json.load(open(path))
    hist.extend(results)
    json.dump(hist, open(path, "w"), indent=1)


if __name__ == "__main__":
    main()
