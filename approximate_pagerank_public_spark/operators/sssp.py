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

- **broadcast**: one ``mapInArrow`` job per round over the dst-sorted
  edge layout; per-batch ``np.minimum.reduceat`` segmented min, driver
  ``np.minimum.at`` merge (the CC/``_min_partials`` machinery with
  ``d[src] + w`` as the incoming value).
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

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import resolve_mode, state_fits
from approximate_pagerank_public_spark.session import upload_frame

_DIST_SCHEMA = StructType(
    [StructField("dst", LongType()), StructField("dist", DoubleType())]
)


def _minplus_partials(edges: DataFrame, load_dists) -> DataFrame:
    """Per-partition ``(dst, min over in-edges of d[src] + w)`` —
    vectorized segmented min, map-side combined. ``load_dists()`` must
    return the frontier-masked distance vector (``+inf`` for vertices
    that did not improve last round — their contributions are already
    folded into the driver state, so skipping them is safe)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        d = load_dists()
        dsts: list[np.ndarray] = []
        vals: list[np.ndarray] = []
        for b in batches:
            if b.num_rows == 0:
                continue
            src = b.column("src").to_numpy(zero_copy_only=False)
            dst = b.column("dst").to_numpy(zero_copy_only=False)
            w = b.column("weight").to_numpy(zero_copy_only=False)
            cand = d[src] + w
            finite = np.isfinite(cand)
            if not finite.any():
                continue
            dst, cand = dst[finite], cand[finite]
            starts = np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
            dsts.append(dst[starts])
            vals.append(np.minimum.reduceat(cand, starts))
        if not dsts:
            return
        dst_all = np.concatenate(dsts)
        val_all = np.concatenate(vals)
        order = np.argsort(dst_all, kind="stable")
        dst_all, val_all = dst_all[order], val_all[order]
        starts = np.flatnonzero(np.r_[True, dst_all[1:] != dst_all[:-1]])
        yield pa.RecordBatch.from_arrays(
            [pa.array(dst_all[starts]), pa.array(np.minimum.reduceat(val_all, starts))],
            names=["dst", "dist"],
        )

    return edges.mapInArrow(kernel, _DIST_SCHEMA)


def _sssp_broadcast(
    graph: Graph, sources: list[int], max_iter: int
) -> tuple[np.ndarray, int, bool]:
    """Driver-resident distance vector, frontier-masked relaxation jobs."""
    from approximate_pagerank_public_spark.operators.spmv import _RankShip

    n = graph.num_vertices
    d = np.full(n, np.inf)
    d[np.asarray(sources, dtype=np.int64)] = 0.0
    changed = np.zeros(n, dtype=bool)
    changed[np.asarray(sources, dtype=np.int64)] = True
    if graph.blocks is not None:
        # frontier-sparse CSR-block relax: rounds past the hop-count
        # peak touch only improved-src edges, not the full edge set —
        # Bellman-Ford over 1/outdeg weights needs far more rounds than
        # the BFS diameter (lighter many-hop paths keep improving), so
        # this is the difference between ~1 and ~30 effective edge
        # passes at 2·10⁷ edges (59 s → ~7 s measured)
        from approximate_pagerank_public_spark.operators.traversal import (
            frontier_min_relax,
        )

        state = d[:, None].copy()
        out, rounds, converged = frontier_min_relax(
            graph,
            state,
            changed,
            plus_one=False,
            max_iters=max_iter,
            edge_weighted=True,
        )
        return out[:, 0], rounds, converged
    for it in range(1, max_iter + 1):
        frontier = np.where(changed, d, np.inf)
        ship = _RankShip(graph.spark, frontier)
        try:
            pdf = _minplus_partials(graph.edges, ship.load).toPandas()
        finally:
            ship.cleanup()
        new = d.copy()
        if len(pdf):
            np.minimum.at(
                new,
                pdf["dst"].to_numpy(np.int64),
                pdf["dist"].to_numpy(np.float64),
            )
        changed = new < d
        if not changed.any():
            return d, it, True
        d = new
    return d, max_iter, False


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

    ``mode``: ``broadcast`` (Arrow min-plus kernel, driver-resident
    vector) or ``distributed`` (DataFrame frontier joins, state never
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
