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

Execution: broadcast path ships the (S, N) state via shm/broadcast and
runs one ``mapInArrow`` adjacency-sum job per level per direction (the
backward sweep reuses the forward kernel on the REVERSED column view —
no extra shuffle); a distributed DataFrame twin keeps state on-cluster.
Exact totals need all-source sweeps (O(V) BFS batches); the sampled
variant (Brandes-Pich 2007) takes S pivot sources — at web scale that
is the only tractable protocol, and the contract query pins S=4 fixed
pivots so the oracle replays exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.session import upload_frame

_UNSET = np.int64(-1)


def _adj_schema(s: int) -> StructType:
    return StructType(
        [StructField("dst", LongType())]
        + [StructField(f"c{i}", DoubleType()) for i in range(s)]
    )


def _adj_gather(graph: Graph, edges: DataFrame, state: np.ndarray) -> np.ndarray:
    """(S, N) → (S, N) unweighted adjacency sum over ``edges`` (one
    shuffle-free job, driver ``np.add.at`` merge)."""
    from approximate_pagerank_public_spark.operators.spmv import _RankShip

    state2d = np.ascontiguousarray(np.atleast_2d(state.astype(np.float64)))
    s = state2d.shape[0]
    ship = _RankShip(graph.spark, state2d)
    try:
        pdf = _adj_sum_partials(edges, ship.load, s).toPandas()
    finally:
        ship.cleanup()
    out = np.zeros((s, graph.num_vertices), dtype=np.float64)
    if len(pdf):
        idx = pdf["dst"].to_numpy(np.int64)
        for i in range(s):
            np.add.at(out[i], idx, pdf[f"c{i}"].to_numpy(np.float64))
    return out


def _adj_sum_partials(edges: DataFrame, load_state, s: int) -> DataFrame:
    """Per-partition ``(dst, Σ over in-edges state[:, src])`` — the
    unweighted adjacency analogue of ``spmv_partials`` (plain gather +
    segmented sum, ignoring the weight column)."""
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from approximate_pagerank_public_spark.operators.spmv import _segmented_sum

        state = load_state()
        dsts: list[np.ndarray] = []
        parts: list[np.ndarray] = []
        for b in batches:
            if b.num_rows == 0:
                continue
            src = b.column("src").to_numpy(zero_copy_only=False)
            dst = b.column("dst").to_numpy(zero_copy_only=False)
            u, p = _segmented_sum(dst, state[:, src])
            dsts.append(u)
            parts.append(p)
        if not dsts:
            return
        dst_all = np.concatenate(dsts)
        part_all = np.concatenate(parts, axis=1)
        order = np.argsort(dst_all, kind="stable")
        u, p = _segmented_sum(dst_all[order], part_all[:, order])
        yield pa.RecordBatch.from_arrays(
            [pa.array(u)]
            + [pa.array(np.ascontiguousarray(p[i])) for i in range(p.shape[0])],
            names=["dst"] + [f"c{i}" for i in range(p.shape[0])],
        )

    return edges.mapInArrow(kernel, _adj_schema(s))


def _reversed_view(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )


def _forward_sweep(
    graph: Graph, sources: list[int], max_levels: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """(dist, sigma, levels): BFS distances + shortest-path counts.

    With shm CSR blocks each level is one L2-tiled ``usum``
    block-kernel superstep; otherwise the streaming mapInArrow kernel
    over the edge scan."""
    n = graph.num_vertices
    s = len(sources)
    src_idx = np.asarray(sources, dtype=np.int64)
    dist = np.full((s, n), _UNSET, dtype=np.int64)
    sigma = np.zeros((s, n), dtype=np.float64)  # exact ints ≤ 2^53
    dist[np.arange(s), src_idx] = 0
    sigma[np.arange(s), src_idx] = 1.0
    blocks = graph.blocks
    levels = 0
    for lvl in range(max_levels):
        frontier_sigma = np.where(dist == lvl, sigma, 0.0)
        if not frontier_sigma.any():
            break
        if blocks is not None:
            incoming = blocks.gather(frontier_sigma, op="usum")
        else:
            incoming = _adj_gather(graph, graph.edges, frontier_sigma)
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
        if self._rev_graph is not None and self._rev_graph.blocks is not None:
            return self._rev_graph.blocks.gather(y, op="usum")
        return _adj_gather(self._graph, self._rev_view, y)


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


def stress_centrality_distributed(
    graph: Graph, sources: list[int], max_levels: int = 10_000
) -> DataFrame:
    """DataFrame twin of :func:`stress_centrality` — state on-cluster,
    batched over sources via a ``source`` column; integer arithmetic
    end-to-end so it is value-identical to the broadcast path."""
    spark = graph.spark
    p = graph.num_partitions
    e = graph.edges.select("src", "dst")
    with ckpt_scope(spark) as cs:
        state = spark.createDataFrame(
            [(int(s), int(s), 0, 1) for s in sources],
            "source long, id long, dist long, sigma long",
        )
        state = cs.ckpt(state.repartition(p, "id"))
        frontier = state
        lvl = 0
        for lvl in range(max_levels):
            nxt = (
                e.join(
                    frontier.where(F.col("dist") == lvl).select(
                        "source", F.col("id").alias("src"), "sigma"
                    ),
                    "src",
                )
                .groupBy("source", "dst")
                .agg(F.sum("sigma").alias("sigma"))
                .join(
                    state.select("source", F.col("id").alias("dst")),
                    ["source", "dst"],
                    "left_anti",
                )
                .select("source", F.col("dst").alias("id"), F.lit(lvl + 1).alias("dist"), "sigma")
            )
            nxt = cs.ckpt(nxt.repartition(p, "id"))
            if nxt.limit(1).count() == 0:
                break
            merged = cs.ckpt(state.unionAll(nxt).repartition(p, "id"))
            cs.free(state, frontier)
            state, frontier = merged, nxt
        levels = lvl
        cont = state.select("source", "id", F.lit(0).cast("long").alias("cont"))
        cont = cs.ckpt(cont.repartition(p, "id"))
        dists = state.select("source", "id", "dist")
        for back_lvl in range(levels - 1, -1, -1):
            upper = (
                cont.join(dists, ["source", "id"])
                .where(F.col("dist") == back_lvl + 1)
                .select("source", F.col("id").alias("dst"), (F.col("cont") + 1).alias("y"))
            )
            sums = (
                e.join(upper, "dst")
                .groupBy("source", F.col("src").alias("id"))
                .agg(F.sum("y").alias("back"))
            )
            new_cont = (
                cont.join(dists, ["source", "id"])
                .join(sums, ["source", "id"], "left")
                .select(
                    "source",
                    "id",
                    F.when(
                        F.col("dist") == back_lvl, F.coalesce("back", F.lit(0))
                    )
                    .otherwise(F.col("cont"))
                    .alias("cont"),
                )
            )
            new_cont = cs.ckpt(new_cont.repartition(p, "id"))
            cs.free(cont)
            cont = new_cont
        per_source = (
            state.join(cont, ["source", "id"])
            .where(F.col("source") != F.col("id"))
            .select("id", (F.col("sigma") * F.col("cont")).alias("contrib"))
        )
        out = (
            graph.vertices.select("id")
            .join(per_source.groupBy("id").agg(F.sum("contrib").alias("s")), "id", "left")
            .select("id", F.coalesce("s", F.lit(0)).cast("long").alias("stress"))
        )
        return cs.keep(out)
