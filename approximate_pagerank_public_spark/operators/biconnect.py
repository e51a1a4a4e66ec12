"""Bridges and 2-edge-connected components — cycle-space XOR sampling.

A bridge is an edge whose removal disconnects its component.  The
classic linear-time algorithm is a DFS low-link pass — inherently
sequential.  The distributed-friendly alternative (Pritchard &
Thurimella, "Fast computation of small cuts via cycle space sampling",
TALG 7(4), 2011) needs only a BFS forest:

1. Root a BFS tree in every component (root = the component's minimum
   vertex id, i.e. exactly the :func:`connected_components` label).
2. Give every NON-tree edge ``e`` a value ``h(e)`` (here: a
   deterministic 60-bit md5 of its canonical ``a<b`` pair, the repo's
   standard replayable-hash family — see ``anf.py`` / ``wlhash.py``).
3. For each vertex ``u`` let ``w(u)`` = XOR of ``h(e)`` over non-tree
   edges incident to ``u``; for each tree vertex ``c`` let ``sig(c)``
   = XOR of ``w(x)`` over the subtree rooted at ``c``.  Non-tree edges
   with BOTH endpoints inside the subtree cancel (they contribute
   twice), so ``sig(c)`` is the XOR over non-tree edges with EXACTLY
   one endpoint under ``c`` — the fundamental-cycle edges covering the
   tree edge ``(parent(c), c)``.
4. A tree edge is a bridge iff its covering set is empty, i.e.
   ``sig(c) == 0``; non-tree edges lie on their fundamental cycle and
   are never bridges.

A non-empty covering set XORs to zero only on an md5 collision
(probability ~|E|·2^-60 — documented, deterministic, and replayed
bit-for-bit by the DuckDB oracle, which runs the identical md5 chain).

Scale shape: one CC pass + one multi-root BFS (both existing
O(diameter)-superstep machinery), then per step ONE key-partitioned
join or map-side-combinable ``bit_xor`` aggregation — no collect_list,
no per-vertex fan-out beyond degree.  The subtree aggregation peels
BFS levels bottom-up (depth rounds; depth ~ diameter on the web-scale
graphs this engine targets).  Modes mirror ``connected_components``:
``broadcast`` keeps the O(V) level/parent/signature vectors on the
driver (gated on vertex count, ``plans/modes.py``); ``distributed``
keeps all state in DataFrames, checkpointed in one ``ckpt_scope`` per
call.

2-edge-connected components follow for free: drop the bridges and run
the large-star/small-star CC over the surviving pair list
(``star_components_edges``); vertices incident only to bridges (or to
nothing) are their own component.

The reference engine has no biconnectivity kernel — this extends the
graph-health family over the same symmetrized graph as its loaders
(``src/common/utils.hpp:618-671`` ``undirectFast``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    CkptScope,
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import resolve_mode, state_fits
from approximate_pagerank_public_spark.session import upload_frame


def _h60(a: str, b: str):
    """Deterministic 60-bit non-tree-edge value, oracle-replayable:
    Spark ``conv(substr(md5('br:a:b'),1,15),16,10)`` == DuckDB
    ``CAST('0x' || substr(md5('br:a:b'),1,15) AS UBIGINT)``."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("br"), F.col(a), F.col(b))), 1, 15
        ),
        16,
        10,
    ).cast("long")


# ------------------------------------------------------------------ levels


def _forest_levels_broadcast(und: Graph, max_iter: int) -> np.ndarray:
    """BFS level of every vertex from its component root (root = CC
    minimum), as an O(V) driver vector — block-kernel fast path."""
    from approximate_pagerank_public_spark.operators.components import (
        _cc_broadcast,
    )
    from approximate_pagerank_public_spark.operators.traversal import (
        frontier_min_relax,
    )

    labels, _ = _cc_broadcast(und, max_iter)
    n = und.num_vertices
    roots = np.flatnonzero(labels == np.arange(n, dtype=np.int64))
    inf = np.int32(2**30)
    lvl = np.full((n, 1), inf, dtype=np.int32)
    lvl[roots, 0] = 0
    changed = np.zeros(n, dtype=bool)
    changed[roots] = True
    if und.num_edges > 0:
        lvl, _rounds, converged = frontier_min_relax(
            und, lvl, changed, plus_one=True, max_iters=max_iter,
            inf_value=int(inf),
        )
        if not converged:  # pragma: no cover — max_iter default is huge
            raise RuntimeError(
                f"forest-level BFS did not converge in {max_iter} rounds"
            )
    return lvl.ravel().astype(np.int64)


def _forest_levels_distributed(
    cs: CkptScope, und: Graph, max_iter: int
) -> DataFrame:
    """Distributed twin: star-CC roots + level-synchronous frontier
    joins; ``(id, lvl)`` checkpointed in the caller's scope, all
    vertices (state never leaves the cluster)."""
    from approximate_pagerank_public_spark.operators.components import (
        _cc_star_distributed,
    )

    p = und.num_partitions
    comp, _ = _cc_star_distributed(cs, und)
    state = comp.select(
        "id",
        F.when(F.col("id") == F.col("component"), F.lit(0))
        .cast("long")
        .alias("lvl"),
    )
    state = cs.ckpt(state.repartition(p, "id"))
    for _ in range(max_iter):
        frontier = state.where(F.col("lvl").isNotNull())
        cand = (
            und.edges.join(
                frontier.select(F.col("id").alias("src"), "lvl"), "src"
            )
            .groupBy("dst")
            .agg((F.min("lvl") + 1).alias("nl"))
            .select(F.col("dst").alias("id"), "nl")
        )
        new = cs.ckpt(
            state.join(cand, "id", "left")
            .select("id", F.least("lvl", "nl").alias("lvl"))
            .repartition(p, "id")
        )
        improved = (
            new.join(state.withColumnRenamed("lvl", "_old"), "id")
            .where(F.col("_old").isNull() & F.col("lvl").isNotNull())
            .count()
        )
        cs.free(state)
        state = new
        if improved == 0:
            return state
    raise RuntimeError(  # pragma: no cover — max_iter default is huge
        f"forest-level BFS did not converge in {max_iter} rounds"
    )


# ------------------------------------------------------------- subtree XOR


def _subtree_xor_distributed(
    cs: CkptScope, lv_df: DataFrame, tree: DataFrame, w_df: DataFrame, p: int
) -> DataFrame:
    """Bottom-up leaf peel on DataFrames: level L's signatures fold
    into level L-1 parents via one map-side-combinable ``bit_xor``
    groupBy per level.  Returns ``(id, parent, sig)`` for every vertex,
    checkpointed in the caller's scope."""
    depth_row = lv_df.agg(F.max("lvl").alias("d")).first()
    depth = int(depth_row["d"] or 0)
    s = (
        lv_df.join(tree, "id", "left")
        .join(w_df, "id", "left")
        .select("id", "lvl", "parent", F.coalesce("wv", F.lit(0)).alias("sig"))
    )
    s = cs.ckpt(s.repartition(p, "id"))
    for level in range(depth, 0, -1):
        contrib = (
            s.where((F.col("lvl") == level) & F.col("parent").isNotNull())
            .groupBy("parent")
            .agg(F.expr("bit_xor(sig)").alias("c"))
            .select(F.col("parent").alias("id"), "c")
        )
        new = cs.ckpt(
            s.join(contrib, "id", "left")
            .select(
                "id",
                "lvl",
                "parent",
                F.col("sig")
                .bitwiseXOR(F.coalesce("c", F.lit(0)))
                .alias("sig"),
            )
            .repartition(p, "id")
        )
        cs.free(s)
        s = new
    return s


def _subtree_xor_broadcast(
    lvl: np.ndarray, parent: np.ndarray, w: np.ndarray
) -> np.ndarray:
    """NumPy leaf peel: ``bitwise_xor.at`` folds each level into its
    parents; safe under repeated parents (ufunc.at is unbuffered)."""
    sig = w.copy()
    if lvl.size == 0:
        return sig
    for level in range(int(lvl.max()), 0, -1):
        idx = np.flatnonzero(lvl == level)
        has_parent = parent[idx] >= 0
        idx = idx[has_parent]
        if idx.size:
            np.bitwise_xor.at(sig, parent[idx], sig[idx])
    return sig


# ------------------------------------------------------------------- main


def _bridge_parts(
    cs: CkptScope, graph: Graph, mode: str, max_iter: int
) -> tuple[DataFrame, DataFrame, int]:
    """Shared core → ``(bridges, pairs, partitions)``.  ``bridges`` is
    checkpointed in ``cs``; ``pairs`` is the canonical ``a<b``
    undirected pair list, lineage-bound to the symmetrized graph, which
    ``graph`` owns (``Graph.undirected`` is memoized)."""
    und = graph.undirected()
    n = und.num_vertices
    spark, p = graph.spark, und.num_partitions
    # the driver path keeps three O(V) int64 vectors
    mode = resolve_mode(mode, state_fits(und))

    if mode == "broadcast":
        lvl = _forest_levels_broadcast(und, max_iter)
        lv_df = cs.ckpt(
            upload_frame(
                spark,
                pd.DataFrame(
                    {"id": np.arange(n, dtype=np.int64), "lvl": lvl}
                ),
                "id long, lvl long",
            ).repartition(p, "id")
        )
    else:
        # already ckpt'd and (p, id)-partitioned by the level loop
        lv_df = _forest_levels_distributed(cs, und, max_iter)

    e = und.edges.select("src", "dst")
    # parent = min same-component neighbor one level up; deterministic,
    # so the oracle rebuilds the identical forest
    tree = (
        e.join(
            lv_df.select(F.col("id").alias("src"), F.col("lvl").alias("ls")),
            "src",
        )
        .join(
            lv_df.select(F.col("id").alias("dst"), F.col("lvl").alias("ld")),
            "dst",
        )
        .where(F.col("ls") == F.col("ld") - 1)
        .groupBy("dst")
        .agg(F.min("src").alias("parent"))
        .select(F.col("dst").alias("id"), "parent")
    )
    pairs = e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    treep = tree.select(
        F.least("id", "parent").alias("a"),
        F.greatest("id", "parent").alias("b"),
    )
    nontree = pairs.join(treep, ["a", "b"], "left_anti")
    h = nontree.select("a", "b", _h60("a", "b").alias("hv"))
    w_df = (
        h.select(F.col("a").alias("id"), "hv")
        .unionAll(h.select(F.col("b").alias("id"), "hv"))
        .groupBy("id")
        .agg(F.expr("bit_xor(hv)").alias("wv"))
    )

    if mode == "broadcast":
        tree_pdf = tree.toPandas()
        parent = np.full(n, -1, dtype=np.int64)
        if len(tree_pdf):
            parent[tree_pdf["id"].to_numpy(np.int64)] = tree_pdf[
                "parent"
            ].to_numpy(np.int64)
        w = np.zeros(n, dtype=np.int64)
        w_pdf = w_df.toPandas()
        if len(w_pdf):
            w[w_pdf["id"].to_numpy(np.int64)] = w_pdf["wv"].to_numpy(np.int64)
        sig = _subtree_xor_broadcast(lvl, parent, w)
        child = np.flatnonzero((parent >= 0) & (sig == 0))
        br_pdf = pd.DataFrame(
            {
                "a": np.minimum(child, parent[child]),
                "b": np.maximum(child, parent[child]),
            }
        ).astype("int64")
        bridges_df = upload_frame(spark, br_pdf, "a long, b long")
    else:
        sig_df = _subtree_xor_distributed(cs, lv_df, tree, w_df, p)
        bridges_df = cs.ckpt(
            sig_df.where(F.col("parent").isNotNull() & (F.col("sig") == 0))
            .select(
                F.least("id", "parent").alias("a"),
                F.greatest("id", "parent").alias("b"),
            )
        )
    return bridges_df, pairs, p


def bridges(graph: Graph, mode: str = "auto", max_iter: int = 10_000) -> DataFrame:
    """``(a, b)`` canonical (``a < b``) bridge edges of the
    symmetrized graph.  See the module docstring for the algorithm and
    the md5-collision caveat."""
    with ckpt_scope(graph.spark) as cs:
        bridges_df, _pairs, _p = _bridge_parts(cs, graph, mode, max_iter)
        return cs.keep(bridges_df)


def two_edge_components(
    graph: Graph, mode: str = "auto", max_iter: int = 10_000
) -> DataFrame:
    """``(id, component)``: 2-edge-connected component labels
    (component = min member id) over the symmetrized graph — CC after
    deleting the bridges; bridge-only / isolated vertices are their
    own singleton component."""
    from approximate_pagerank_public_spark.operators.components import (
        star_components_edges,
    )

    with ckpt_scope(graph.spark) as cs:
        bridges_df, pairs, p = _bridge_parts(cs, graph, mode, max_iter)
        surviving = cs.ckpt(pairs.join(bridges_df, ["a", "b"], "left_anti"))
        roots, _rounds = star_components_edges(cs, surviving, p)
        verts = graph.vertices
        return cs.keep(
            verts.join(roots, verts["id"] == roots["a"], "left").select(
                "id",
                F.least(F.col("id"), F.coalesce("r", F.col("id"))).alias("component"),
            )
        )
