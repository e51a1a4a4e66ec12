"""Weakly connected components: min-label propagation on the driver,
large-star/small-star on the cluster.

Mandated by the north rule (the reference's ``cc.gm`` is *closeness
centrality*, not components — ``src/cpu/src/main/resources/cc.gm:1-28``).
Labels are component ids = the minimum vertex id in the component, over
the symmetrized edge set.

Two paths, picked by ``plans/modes.py::resolve_mode`` on vertex count:

- ``broadcast`` — min-label propagation on the PageRank superstep
  machinery with ``min`` replacing ``sum``: frontier-sparse relaxation
  (``traversal.frontier_min_relax``) on the CSR blocks, or one streamed
  edge pass per superstep without them. O(diameter) supersteps, each
  cheap while the label vector sits on the driver.
- ``distributed`` — large-star/small-star (Kiveris et al., SoCC 2014):
  O(log n) rounds of joins + ``groupBy``-min whatever the diameter,
  with no state on the driver.

:func:`pair_components` is the same cutover for an arbitrary pair list
``(a, b)`` (near-duplicate clusters, clique-percolation stars): union-find
on the driver for small lists, the star loop above that.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    CkptScope,
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import resolve_mode, state_fits
from approximate_pagerank_public_spark.session import upload_frame

# Pair lists up to this size resolve by union-find on the driver: they
# are the OUTPUT of a reduction (near-dup pairs, triangle stars), and the
# star loop's per-round fixpoint jobs cost more than the whole scan.
PAIR_CC_BROADCAST_MAX_PAIRS = 2_000_000


def _cc_broadcast(graph: Graph, max_iter: int) -> tuple[np.ndarray, int]:
    """Frontier-sparse min-label relaxation (the BFS machinery with
    ``plus_one=False``): supersteps touch only edges whose src label
    improved last round, so a high-diameter component costs
    O(frontier edges) per extra round instead of a full edge pass."""
    from approximate_pagerank_public_spark.operators.traversal import (
        frontier_min_relax,
    )

    n = graph.num_vertices
    state = np.arange(n, dtype=np.int64)[:, None]
    out, rounds, converged = frontier_min_relax(
        graph, state, np.ones(n, dtype=bool), plus_one=False, max_iters=max_iter
    )
    if not converged:
        import warnings

        warnings.warn(
            f"min-label propagation hit max_iter={max_iter} before "
            "fixpoint; labels may not be component minima",
            RuntimeWarning,
            stacklevel=2,
        )
    return out[:, 0], rounds


def _cc_star_distributed(
    cs: CkptScope, graph: Graph, max_rounds: int = 60
) -> tuple[DataFrame, int]:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — converges in O(log n) rounds
    regardless of diameter, where min-label propagation needs
    O(diameter) supersteps (a path-shaped graph is the first place
    min-prop falls over).

    Each round is joins + groupBy-min over the edge list — no
    collect_list, so hub neighborhoods never materialize in one task:

    - large-star: every node links its LARGER neighbors to
      ``m = min(Γ(u) ∪ {u})``;
    - small-star: every node links its smaller neighbors (and itself)
      to the minimum of its smaller neighborhood.

    Fixpoint (edge set stable, checked via count + order-independent
    xxhash aggregate) leaves star edges ``(v, root)``; labels read off
    directly. ``graph`` must already be symmetrized (undirected()).
    """
    p = graph.num_partitions
    e = graph.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    roots, rounds = star_components_edges(cs, e, p, max_rounds)
    verts = graph.vertices
    labels = verts.join(roots, verts["id"] == roots["a"], "left").select(
        "id",
        F.least(F.col("id"), F.coalesce("r", F.col("id"))).alias("component"),
    )
    return labels, rounds


def star_components_edges(
    cs: CkptScope, pair_edges: DataFrame, num_partitions: int, max_rounds: int = 60
) -> tuple[DataFrame, int]:
    """Large-star/small-star alternation over an arbitrary undirected
    pair list ``(a, b)`` — the :func:`_cc_star_distributed` core, shared
    with non-graph callers (:func:`pair_components`, and the bridge-free
    pairs of ``biconnect.two_edge_components``).

    Round state is checkpointed in the caller's scope ``cs``; the final
    round's checkpoint is what ``roots`` reads, so the caller keeps it
    if its result reads ``roots``.

    Returns ``(roots, rounds)``: ``roots`` maps every NON-ROOT member to
    its component minimum; component minima and ids absent from the
    pairs are unmapped — callers resolve with
    ``least(id, coalesce(r, id))`` exactly as ``_cc_star_distributed``
    does. The per-round symmetrize makes edge orientation irrelevant
    (``a < b`` canonical pairs are fine)."""
    p = num_partitions
    e = pair_edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
    e = cs.ckpt(e.repartition(p, "a"))

    def _sig(df: DataFrame) -> tuple[int, int]:
        # bit_xor: order-independent AND overflow-free (a sum of
        # xxhash64 values overflows long under ANSI-mode sessions,
        # e.g. plain spark-submit defaults)
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    sig = _sig(e)
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # ---- large-star over the symmetrized current edge set
        sym = e.unionAll(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select("a", F.least("a", "mn").alias("m"))
        ls = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star on the min-oriented edges
        ori = ls.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()
        mins2 = ori.groupBy("a").agg(F.min("b").alias("m"))
        ss = cs.ckpt(
            ori.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionAll(mins2.select(F.col("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .repartition(p, "a")
        )
        new_sig = _sig(ss)
        cs.free(e)
        e = ss
        if new_sig == sig:
            break
        sig = new_sig
    else:  # pragma: no cover — max_rounds=60 >> O(log n) for any real graph
        import warnings

        warnings.warn(
            f"star CC exhausted max_rounds={max_rounds} without a stable "
            "(count, bit_xor) edge-set signature; labels may be from a "
            "non-converged edge set",
            RuntimeWarning,
            stacklevel=2,
        )
    roots = e.groupBy("a").agg(F.min("b").alias("r"))
    return roots, rounds


def pair_components(
    cs: CkptScope,
    pairs: DataFrame,
    num_partitions: int,
    mode: str = "auto",
    max_rounds: int = 60,
) -> DataFrame:
    """``roots (a, r)`` of the undirected pair list ``pairs (a, b)``:
    every non-root member maps to its component minimum (the driver path
    maps the minima to themselves too), so callers resolve ids with
    ``least(id, coalesce(r, id))``. ``broadcast``: union-find on the
    driver, the roots ship back as one broadcast-size frame;
    ``distributed``: the star loop in ``cs``. ``auto`` counts the pairs
    against :data:`PAIR_CC_BROADCAST_MAX_PAIRS`."""

    def few_pairs() -> bool:
        # the count and the path's read would otherwise run the upstream
        # pipeline twice
        pairs.persist()
        cs.callback(pairs.unpersist)
        return pairs.count() <= PAIR_CC_BROADCAST_MAX_PAIRS

    if resolve_mode(mode, few_pairs) == "distributed":
        return star_components_edges(cs, pairs, num_partitions, max_rounds)[0]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for row in pairs.select("a", "b").toLocalIterator():
        a, b = int(row["a"]), int(row["b"])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the representative is the component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    spark = pairs.sparkSession
    rep_rows = [(x, find(x)) for x in parent]
    return F.broadcast(spark.createDataFrame(rep_rows, "a long, r long"))


def connected_components(
    graph: Graph, max_iter: int = 200, mode: str = "auto"
) -> DataFrame:
    """``(id, component)`` over the symmetrized graph (weak components).

    ``mode``: ``broadcast`` (min-label propagation, O(diameter)
    supersteps of at most ``max_iter``) or ``distributed``
    (large-star/small-star, O(log n) rounds — diameter-safe at any
    scale); ``auto`` picks broadcast while the label vector fits."""
    mode = resolve_mode(mode, state_fits(graph))
    und = graph.undirected()
    if mode == "distributed":
        with ckpt_scope(graph.spark) as cs:
            labels_df, _ = _cc_star_distributed(cs, und)
            return cs.keep(labels_df)
    labels, _ = _cc_broadcast(und, max_iter)
    import pandas as pd

    pdf = pd.DataFrame(
        {"id": np.arange(len(labels), dtype=np.int64), "component": labels}
    )
    return upload_frame(graph.spark, pdf, "id long, component long")


def component_sizes(components: DataFrame) -> DataFrame:
    return components.groupBy("component").agg(F.count("*").alias("size"))
