"""Metric definitions: the end-to-end set and the per-layer set.

End-to-end metrics (untraced runs, every workload):

- ``setup_s``: session start plus the median of the run's set-ups
  (parquet read, ETL/Graph, block store build, warm-up);
- ``query_s``: median wall time of one timed query (the warm-up query
  is left out). On ``transcript_queries`` a query is one pass over the
  six-operator mix, with the 8-source PPR call made three times. On
  ``synthetic_supersteps`` it is three 8-source PPR calls plus one
  checkpointed run and its resume;
- ``edge_traversals_per_s``: edges x 8 sources x supersteps of one
  barrier-path ``multi_ppr`` call over its wall time, median over the
  calls of the run's timed queries;
- ``peak_mem_mb``: JVM memory still held after full GCs, read after the
  last query, plus the peak of the Python workers' resident memory
  (proportional set size, shm mappings left out) and the bytes under the
  engine's shared-memory root.

Per-layer metrics (traced runs) are named ``<module>.<field>``. A layer
that a workload does not exercise reads 0 there.
"""

from __future__ import annotations

import statistics

from perfbench.trace import FIELDS

ROLLUP_MODULES = (
    "etl",
    "graph",
    "pagerank.global",
    "pagerank.multi",
    "pagerank.arrow",
    "components",
    "labelprop",
    "triangles",
    "randomwalk",
)
BARRIER_PHASES = ("wait", "rowwork", "ctl", "fill", "compute")


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "count"


PER_LAYER_UNITS: dict[str, str] = {
    **{f"{m}.{f}": _unit(f) for m in ROLLUP_MODULES for f in FIELDS},
    "blocks.busy_s": "s",
    "blocks.shm_mb": "MB",
    "distblocks.build_s": "s",
    "distblocks.store_mb": "MB",
    **{f"barrier.{p}_s": "s" for p in BARRIER_PHASES},
    "barrier.superstep_s": "s",
    "blocks.et_per_compute_s": "1/s",
    "checkpoint.write_s": "s",
    "checkpoint.mb": "MB",
    "checkpoint.load_s": "s",
    "leak.persisted_rdds": "count",
    "leak.shm_mb": "MB",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "query_s": "s",
    "edge_traversals_per_s": "1/s",
    "peak_mem_mb": "MB",
}


def median(xs) -> float:
    """Median, 0.0 for no samples (a layer the workload does not run)."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(session_s: float, setups: list[float], ok: list[dict], peak_mb: float) -> dict:
    values = {
        "setup_s": session_s + median(setups),
        "query_s": median(q["wall_s"] for q in ok),
        "edge_traversals_per_s": median(r for q in ok for r in q["et_rates"]),
        "peak_mem_mb": peak_mb,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def per_layer(calls: list[dict], queries: list[dict]) -> dict:
    """Per-layer medians over the calls of each module, leaving out the
    warm-up query. ``pagerank.arrow`` is normalized per superstep and
    ``randomwalk`` per walk step."""
    calls = [c for c in calls if not c.get("warmup")]
    by: dict[str, list[dict]] = {}
    for c in calls:
        by.setdefault(c["module"], []).append(c)
    v: dict[str, float] = {}
    for m in ROLLUP_MODULES:
        for f in FIELDS:
            v[f"{m}.{f}"] = median(c[f] / c.get("units", 1) for c in by.get(m, []) if c.get("units", 1))

    v["blocks.busy_s"] = median(c["executor_s"] for c in by.get("blocks", []))
    v["blocks.shm_mb"] = median(c["mb"] for c in by.get("blocks", []))
    v["distblocks.build_s"] = median(c["wall_s"] for c in by.get("distblocks", []))
    v["distblocks.store_mb"] = median(c["mb"] for c in by.get("distblocks", []))

    barrier = [
        c for m in ("pagerank.global", "pagerank.multi") for c in by.get(m, []) if c.get("phases")
    ]
    for p in BARRIER_PHASES:
        v[f"barrier.{p}_s"] = median(c["phases"][p][1] for c in barrier)
    v["barrier.superstep_s"] = median(r["wall_ms"] / 1e3 for c in barrier for r in c["metrics"])
    v["blocks.et_per_compute_s"] = median(
        c["et"] / c["phases"]["compute"][1] for c in barrier if c["phases"]["compute"][1] > 0
    )

    arrow = by.get("pagerank.arrow", [])
    saves = sum(c.get("saves", 0) for c in arrow)
    v["checkpoint.write_s"] = sum(c["ckpt_executor_s"] for c in arrow) / saves if saves else 0.0
    v["checkpoint.mb"] = median(q["ckpt_mb"] for q in queries if "ckpt_mb" in q)
    v["checkpoint.load_s"] = median(c["wall_s"] for c in by.get("checkpoint.load", []))

    timed = [c for c in calls if "query" in c]
    n_q = max(1, len(queries))
    v["leak.persisted_rdds"] = sum(c["leak_rdds"] for c in timed) / n_q
    v["leak.shm_mb"] = sum(c["leak_shm_mb"] for c in timed) / n_q
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
