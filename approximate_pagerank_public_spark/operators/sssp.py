"""Weighted single-source shortest paths (min-plus Bellman-Ford).

Beyond the reference's unweighted BFS family (``bfs.gm``, ``bfs2.gm``):
the transcript edge table carries ``1/outdeg`` weights (the PageRank
transition weights, ``utils.hpp:599-608`` normalization), and the
min-plus distance over them is the natural "least-resistance" metric on
the link graph (an edge out of a low-fan-out entity is cheap).

Semantics: ``d(source) = 0``; synchronous relaxation rounds
``d'(v) = min(d(v), min over edges (u,v) of d(u) + w(u,v))`` until
fixpoint. Only REACHED vertices are returned. Weights must be positive
(the ETL guarantees ``1/outdeg > 0``); rounds are bounded by the
longest shortest-path hop count.

Execution paths (both frontier-sparse — distances are monotone
non-increasing, so a source whose distance did not improve last round
cannot improve any neighbor this round and is dropped from the
relaxation):

- **broadcast**: ``traversal.frontier_min_relax`` with the per-edge
  weight added before the segmented min (the CC machinery with
  ``d[src] + w`` as the incoming value): relaxation rounds on the CSR
  blocks, or one streamed edge pass per round without them.
- **distributed**: DataFrame twin — frontier ⋈ edges, ``groupBy(dst)
  .min(dist + weight)``, ``ckpt_scope`` state rotation so lineage and
  storage stay bounded (CLAUDE.md invariant).

Bit parity: both paths compute the identical candidate multiset
``d[src] + w`` (one IEEE add) and reduce it with ``min`` — which is
associative and commutative over floats (no rounding) — so the fixpoint
distances are bit-identical across paths and engines (the DuckDB oracle
replays the same rounds as unrolled min-plus CTEs).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import resolve_mode, state_fits
from approximate_pagerank_public_spark.session import upload_frame


def _sssp_broadcast(
    graph: Graph, sources: list[int], max_iter: int
) -> tuple[np.ndarray, int, bool]:
    """Driver-resident distance vector, frontier-sparse relaxation:
    rounds past the hop-count peak touch only improved-src edges, not
    the full edge set — Bellman-Ford over 1/outdeg weights needs far
    more rounds than the BFS diameter (lighter many-hop paths keep
    improving), so on the CSR blocks this is the difference between ~1
    and ~30 effective edge passes at 2·10⁷ edges (59 s → ~7 s
    measured)."""
    from approximate_pagerank_public_spark.operators.traversal import (
        frontier_min_relax,
    )

    n = graph.num_vertices
    src = np.asarray(sources, dtype=np.int64)
    state = np.full((n, 1), np.inf)
    state[src, 0] = 0.0
    changed = np.zeros(n, dtype=bool)
    changed[src] = True
    out, rounds, converged = frontier_min_relax(
        graph, state, changed, plus_one=False, max_iters=max_iter, edge_weighted=True
    )
    return out[:, 0], rounds, converged


def _sssp_distributed(
    graph: Graph, sources: list[int], max_iter: int
) -> tuple[DataFrame, int, bool]:
    """DataFrame twin: reached-vertex state table + frontier joins."""
    spark = graph.spark
    p = graph.num_partitions
    src_df = spark.createDataFrame(
        [(int(s), 0.0) for s in sources], "id long, dist double"
    )
    with ckpt_scope(spark) as cs:
        dists = cs.ckpt(src_df.repartition(p, "id"))
        frontier = dists
        converged = False
        it = 0
        for it in range(1, max_iter + 1):
            incoming = (
                graph.edges.join(
                    frontier.select(F.col("id").alias("src"), "dist"), "src"
                )
                .groupBy("dst")
                .agg(F.min(F.col("dist") + F.col("weight")).alias("nd"))
            )
            merged = dists.join(incoming, dists.id == incoming.dst, "full").select(
                F.coalesce(dists.id, incoming.dst).alias("id"),
                # least() skips nulls in Spark: new vertices take nd,
                # un-improved vertices keep dist
                F.least("dist", "nd").alias("dist"),
                (F.col("nd").isNotNull() & (F.col("nd") < F.coalesce("dist", F.lit(np.inf))))
                .alias("_improved"),
            )
            new = cs.ckpt(merged.repartition(p, "id"))
            n_improved = new.where("_improved").count()
            frontier = new.where("_improved").select("id", "dist")
            cs.free(dists)
            dists = new
            if n_improved == 0:
                converged = True
                break
        return cs.keep(dists.select("id", "dist")), it, converged


def sssp(
    graph: Graph,
    source: int | list[int],
    max_iter: int = 10_000,
    mode: str = "auto",
) -> DataFrame:
    """``(id, dist)`` weighted shortest-path distances for vertices
    reachable from ``source`` (rows only for reached vertices).

    ``mode``: ``broadcast`` (frontier-sparse min-plus relaxation,
    driver-resident vector) or ``distributed`` (DataFrame frontier joins, state never
    leaves the cluster). ``auto`` picks by vertex count like PageRank."""
    sources = [source] if isinstance(source, int) else list(source)
    if resolve_mode(mode, state_fits(graph)) == "broadcast":
        d, _rounds, converged = _sssp_broadcast(graph, sources, max_iter)
        if not converged:
            import warnings

            warnings.warn(
                f"sssp hit max_iter={max_iter} before fixpoint; distances "
                "may overestimate",
                RuntimeWarning,
                stacklevel=2,
            )
        import pandas as pd

        reached = np.flatnonzero(np.isfinite(d))
        pdf = pd.DataFrame({"id": reached.astype(np.int64), "dist": d[reached]})
        return upload_frame(graph.spark, pdf, "id long, dist double")
    df, _rounds, converged = _sssp_distributed(graph, sources, max_iter)
    if not converged:
        import warnings

        warnings.warn(
            f"sssp hit max_iter={max_iter} before fixpoint; distances may "
            "overestimate",
            RuntimeWarning,
            stacklevel=2,
        )
    return df
