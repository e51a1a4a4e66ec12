"""Shortest-path centrality via Brandes-style two-sweep accumulation:
exact integer STRESS centrality plus (sampled) float betweenness.

Beyond the reference's BFS-derived closeness/eccentricity
(``cc.gm``/``eccentricity.gm``): stress(v) = Σ_{s,t} σ_st(v) — the
number of shortest s-t paths passing THROUGH v (Shimbel 1953) — and
betweenness(v) = Σ σ_st(v)/σ_st (Freeman/Brandes). Both run the same
two level-synchronous sweeps over the BFS DAG, batched S sources at a
time like the multi-PPR block:

- **forward**: per level, σ(v) = Σ over DAG in-edges σ(u) — path
  counts, integers;
- **backward**: per level, continuation counts
  c(v) = Σ over DAG out-edges (c(w) + 1) — integers; then
  ``stress_s(v) = σ_s(v) · c_s(v)`` (0 at s itself). For betweenness
  the backward recurrence is Brandes' δ accumulation
  (σ(v)/σ(w) · (1 + δ(w)) — float divisions).

Stress is ALL integer arithmetic, so the DuckDB oracle replays the
sweeps level-for-level hash-exact. Betweenness δ sums are fp-order
sensitive per in-neighborhood, so it is engine-side only (tested
against a pure-Python Brandes golden) — the same declared reason the
Adamic-Adar score stays engine-side in ``linkpred.py``.

Execution: the (S, N) state stays on the driver and each level per
direction is one ``spmv.gather`` ``usum`` pass — the block kernels with
shm CSR blocks, else one streamed ``mapInArrow`` job (the backward
sweep gathers over the REVERSED column view, no extra shuffle, or over
the memoized reversed graph's blocks at scale).
Exact totals need all-source sweeps (O(V) BFS batches); the sampled
variant (Brandes-Pich 2007) takes S pivot sources — at web scale that
is the only tractable protocol, and the contract query pins S=4 fixed
pivots so the oracle replays exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators.spmv import gather
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.session import upload_frame

_UNSET = np.int64(-1)


def _reversed_view(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )


def _forward_sweep(
    graph: Graph, sources: list[int], max_levels: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """(dist, sigma, levels): BFS distances + shortest-path counts.

    Each level is one ``usum`` gather: an L2-tiled block-kernel
    superstep with shm CSR blocks, else one streamed edge pass."""
    n = graph.num_vertices
    s = len(sources)
    src_idx = np.asarray(sources, dtype=np.int64)
    dist = np.full((s, n), _UNSET, dtype=np.int64)
    sigma = np.zeros((s, n), dtype=np.float64)  # exact ints ≤ 2^53
    dist[np.arange(s), src_idx] = 0
    sigma[np.arange(s), src_idx] = 1.0
    levels = 0
    for lvl in range(max_levels):
        frontier_sigma = np.where(dist == lvl, sigma, 0.0)
        if not frontier_sigma.any():
            break
        incoming = gather(graph, frontier_sigma, "usum")
        newly = (incoming > 0) & (dist == _UNSET)
        if not newly.any():
            break
        dist[newly] = lvl + 1
        sigma[newly] = incoming[newly]
        levels = lvl + 1
    return dist, sigma, levels


class _BackwardSweep:
    """Per-level backward gathers grouped by original src.

    With shm CSR blocks, builds a REVERSED-graph BlockStore lazily (one
    extra dst-hash shuffle + block build, amortized over all ``levels``
    backward gathers — measured ~10× faster than the streaming scan at
    2·10⁷ edges); call :meth:`close` to release it."""

    def __init__(self, graph: Graph, levels: int):
        from approximate_pagerank_public_spark.plans.blocks import (
            REV_BLOCKS_MIN_EDGES,
        )

        self._graph = graph
        self._rev_view = _reversed_view(graph.edges)
        self._rev_graph: Graph | None = None
        if (
            graph.blocks is not None
            and levels > 1
            and graph.num_edges >= REV_BLOCKS_MIN_EDGES
        ):
            # memoized on the parent Graph: repeated centrality calls
            # (re-randomized bench sources, multi-batch protocols) reuse
            # one reversed layout + block build
            self._rev_graph = graph.reversed_graph()

    def gather(self, y: np.ndarray) -> np.ndarray:
        if self._rev_graph is not None:
            return gather(self._rev_graph, y, "usum")
        return gather(self._graph, y, "usum", edges=self._rev_view)


def _sweeps_broadcast(
    graph: Graph, sources: list[int], max_levels: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(dist, sigma, cont) (S, N) arrays: BFS distances, shortest-path
    counts, and integer continuation counts c(v) = Σ_succ (c(w)+1)."""
    dist, sigma, levels = _forward_sweep(graph, sources, max_levels)
    cont = np.zeros_like(sigma)
    bwd = _BackwardSweep(graph, levels)
    for lvl in range(levels - 1, -1, -1):
        # ship (c(w) + 1) masked to level lvl+1, grouped by orig src
        y = np.where(dist == lvl + 1, cont + 1.0, 0.0)
        back = bwd.gather(y)
        at = dist == lvl
        cont[at] = back[at]
    return dist, sigma, cont


def stress_centrality(
    graph: Graph, sources: list[int], max_levels: int = 10_000
) -> DataFrame:
    """``(id, stress)`` — Σ over the given sources s of
    σ_s(v)·c_s(v) for v ≠ s (number of shortest paths from s through
    v, exact integers). Pass all vertices as sources for the exact
    statistic; a fixed pivot sample is the scalable protocol."""
    dist, sigma, cont = _sweeps_broadcast(graph, sources, max_levels)
    contrib = sigma * cont
    contrib[np.arange(len(sources)), np.asarray(sources, dtype=np.int64)] = 0.0
    stress = contrib.sum(axis=0)  # integer-valued f64, exact ≤ 2^53
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "id": np.arange(graph.num_vertices, dtype=np.int64),
            "stress": stress.astype(np.int64),
        }
    )
    return upload_frame(graph.spark, pdf, "id long, stress long")


def betweenness_centrality(
    graph: Graph, sources: list[int], max_levels: int = 10_000
) -> DataFrame:
    """``(id, betweenness)`` — Brandes δ accumulation over the sampled
    sources (unnormalized; multiply by V/S for the Brandes-Pich
    estimate). Float divisions per DAG edge ⇒ engine-side only."""
    n = graph.num_vertices
    s = len(sources)
    dist, sigma, levels = _forward_sweep(graph, sources, max_levels)
    delta = np.zeros((s, n), dtype=np.float64)
    bwd = _BackwardSweep(graph, levels)
    for lvl in range(levels - 1, -1, -1):
        with np.errstate(divide="ignore", invalid="ignore"):
            y = np.where(
                dist == lvl + 1,
                np.divide(
                    1.0 + delta,
                    sigma,
                    out=np.zeros_like(delta),
                    where=sigma > 0,
                ),
                0.0,
            )
        back = bwd.gather(y)
        at = dist == lvl
        delta[at] = (sigma * back)[at]
    delta[np.arange(s), np.asarray(sources, dtype=np.int64)] = 0.0
    bc = delta.sum(axis=0)
    import pandas as pd

    pdf = pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64), "betweenness": bc}
    )
    return upload_frame(graph.spark, pdf, "id long, betweenness double")
