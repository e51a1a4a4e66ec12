"""Strongly connected components via distributed forward-coloring +
masked backward reachability (Orzan's coloring algorithm, the standard
Pregel/MapReduce SCC scheme — see also Slota et al.'s FW-BW-Trim).

Beyond the reference (its traversals are BFS-family and its components
are weak); on the DIRECTED transcript graph SCCs are the conversational
feedback loops (user ⇄ assistant ⇄ tool cycles), where weak components
only say "touched the same conversation".

Per outer round, over the still-active subgraph:

1. **forward coloring**: ``color(v) = min id that reaches v`` — min-label
   propagation along edge direction to fixpoint (the CC machinery on the
   unsymmetrized graph).
2. **roots**: vertices with ``color(r) = r``. For each root, its SCC is
   exactly the vertices with color ``r`` that reach ``r``; since all SCC
   members mutually reach each other, the claimed label ``r`` is the
   MINIMUM id in the SCC (any smaller member would have recolored ``r``).
3. **masked backward reachability**: BFS along REVERSED edges from all
   roots simultaneously, traversing only same-color vertices; every
   vertex reached carries ``scc = color``.
4. reached vertices retire; repeat on the remainder.

Outer rounds = length of the longest root-dependency chain — small in
practice (web-scale graphs are one giant SCC plus shallow periphery;
Broder's bow-tie). Both execution paths:

- **broadcast**: driver-resident color/reached arrays; per superstep one
  Spark job — a ``BlockStore.run_round`` over the CSR blocks, or
  without them one streamed edge pass (``spmv.gather`` min for
  coloring, an edge-masked kernel for backward reach through
  ``spmv.ship_and_collect``); the driver merges by min / flag-or.
- **distributed**: DataFrame joins + groupBy-min with checkpoint-scope
  rotation (CLAUDE.md invariant) — vertex state never leaves the
  cluster.

Labels are integer ids propagated by ``min`` — no floats anywhere — so
both paths and the DuckDB transitive-closure oracle are hash-exact.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    CkptScope,
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import resolve_mode, state_fits

from approximate_pagerank_public_spark.plans.blocks import (
    REV_BLOCKS_MIN_EDGES,
    _edge_dst,
    frontier_edges,
)
from approximate_pagerank_public_spark.session import upload_frame

_HUGE = np.int64(1) << 62  # inactive-vertex sentinel for min-label passes


def _back_reach_kernel(load_enc):
    """The streamed backward step: the distinct srcs one step newly
    reaches — edge u→v relaxes u when v is reached, u is not yet, and
    both share a color. ``load_enc()`` returns the packed state
    ``enc = color * 2 + reached`` (colors < 2^62, so the packing is
    lossless in int64)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        enc = load_enc()
        outs: list[np.ndarray] = []
        for b in batches:
            if b.num_rows == 0:
                continue
            src = b.column("src").to_numpy(zero_copy_only=False)
            dst = b.column("dst").to_numpy(zero_copy_only=False)
            es, ed = enc[src], enc[dst]
            hit = (ed & 1).astype(bool) & ~(es & 1).astype(bool) & (
                (es >> 1) == (ed >> 1)
            )
            if hit.any():
                outs.append(np.unique(src[hit]))
        if not outs:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.unique(np.concatenate(outs)))], names=["src"]
        )

    return kernel


def _back_reach_block(block_dir, pid, blk, enc, front):
    """The block backward step: the frontier's out-edges only (through
    the cached src-sorted index), returning the distinct same-color,
    not-yet-reached dsts — ``back_graph`` encodes the REVERSE of the
    claim direction, so a dst here is a src of the claim edges."""
    src_b, _w, udst, *_ = blk
    src_b = np.asarray(src_b)
    sel = frontier_edges(block_dir, pid, src_b, front)
    if sel is None:
        return None
    u_ids = np.asarray(udst)[np.asarray(_edge_dst(block_dir, pid, blk))[sel]]
    ev = enc[src_b[sel]]  # frontier side: reached
    eu = enc[u_ids]
    hit = (eu >= 0) & ~(eu & 1).astype(bool) & ((eu >> 1) == (ev >> 1))
    return (np.unique(u_ids[hit]),) if hit.any() else None


def _reversed_view(edges: DataFrame) -> DataFrame:
    """Transposed edge view — column rename only, no shuffle: the
    kernels below are order-insensitive, so they scan the same cached
    dst-partitioned blocks with src/dst swapped."""
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )


def _masked_back_reach_blocks(
    back_graph: Graph,
    colors: np.ndarray,
    reached: np.ndarray,
    active: np.ndarray,
) -> None:
    """All masked backward-reach rounds on CSR blocks, frontier-sparse.

    ``back_graph``'s blocks must encode the REVERSE of the claim
    direction (so the reach step is a forward src→dst relax there).
    Each round touches only the frontier's out-edges via the cached
    src-sorted permutation (the ``frontier_min_relax`` trick) instead of
    a full edge scan — 27.6 s → ~2 s for the backward phase at 2·10⁷
    edges. Mutates ``reached`` in place."""
    frontier = np.flatnonzero(reached)
    while len(frontier):
        enc = np.where(active, colors * 2 + reached, np.int64(-1))
        res = back_graph.blocks.run_round(
            _back_reach_block, enc=enc, front=np.sort(frontier)
        )
        if not res:
            break
        newly = np.concatenate([u for (u,) in res.values()])
        fresh = newly[~reached[newly]]
        if not len(fresh):
            break
        reached[fresh] = True
        frontier = np.unique(fresh)


def _claim_round_broadcast(
    graph: Graph,
    edges: DataFrame,
    active: np.ndarray,
    scc: np.ndarray,
    ids: np.ndarray,
    back_graph: Graph | None = None,
) -> None:
    """One directional claim: color the active subgraph by min-reaching
    id along ``edges``, then retire every root's SCC via masked
    reverse-reachability (frontier-sparse on ``back_graph``'s blocks
    when provided — they must encode the REVERSE of ``edges``).
    Mutates ``active``/``scc`` in place."""
    from approximate_pagerank_public_spark.operators.spmv import (
        gather,
        ship_and_collect,
    )

    colors = np.where(active, ids, _HUGE)
    colored = False
    if active.all() and edges is graph.edges:
        # all-active forward claim (the dominant cost: the giant SCC's
        # coloring) takes the frontier-sparse relax — post-peak rounds
        # touch only improved-src edges instead of a full edge pass per
        # round (14 s → ~4 s at sf-bench scale on the CSR blocks)
        from approximate_pagerank_public_spark.operators.traversal import (
            frontier_min_relax,
        )

        state = colors[:, None].copy()
        out, _rounds, converged = frontier_min_relax(
            graph, state, np.ones(len(colors), dtype=bool), plus_one=False
        )
        if converged:
            colors = out[:, 0]
            colored = True  # relax ran to fixpoint: skip the streaming
            # verify pass (it re-derives the same min, one full edge scan)
        # else: fall through to the streaming fixpoint below (colors
        # unchanged — correctness over speed on pathological inputs)
    while not colored:
        new = np.minimum(colors, gather(graph, colors, "umin", edges=edges)[0])
        new[~active] = _HUGE  # inactive dsts take no color
        if np.array_equal(new, colors):
            break
        colors = new
    reached = active & (colors == ids)
    if back_graph is not None and back_graph.blocks is not None:
        _masked_back_reach_blocks(back_graph, colors, reached, active)
        scc[reached] = colors[reached]
        active &= ~reached
        return
    while True:
        # inactive → -1: bit0 set (never relaxed as src), color -1
        # (never matches an active color) — avoids _HUGE*2 overflow
        enc = np.where(active, colors * 2 + reached, np.int64(-1))
        pdf = ship_and_collect(
            graph.spark, edges, enc, _back_reach_kernel, "src long"
        )
        if not len(pdf):
            break
        newly = pdf["src"].to_numpy(np.int64)
        fresh = newly[~reached[newly]]
        if not len(fresh):
            break
        reached[fresh] = True
    scc[reached] = colors[reached]
    active &= ~reached


def _scc_broadcast(graph: Graph, max_outer: int = 1000) -> np.ndarray:
    n = graph.num_vertices
    active = np.ones(n, dtype=bool)
    scc = np.full(n, -1, dtype=np.int64)
    ids = np.arange(n, dtype=np.int64)
    rev = _reversed_view(graph.edges)
    # reversed-graph BlockStore for the forward claim's backward reach
    # (one extra shuffle + block build, repaid by frontier-sparse reach
    # rounds); the transposed claim's backward reach runs forward on the
    # ORIGINAL blocks, which already exist
    rev_graph: Graph | None = None
    if graph.blocks is not None and graph.num_edges >= REV_BLOCKS_MIN_EDGES:
        # below the threshold the extra shuffle + CSR build costs more
        # than the streaming reach rounds it replaces (measured: sf-bench
        # 240k edges 5.3 s → 7.0 s with, 2·10⁷ edges 42 s → 33 s with);
        # memoized on the Graph so repeated calls reuse the build
        rev_graph = graph.reversed_graph()
    for _outer in range(max_outer):
        if not active.any():
            return scc
        # claim in BOTH directions per round: forward coloring stalls
        # on id-increasing SCC chains (one root per round), its
        # transposed twin retires every local id-minimum at once —
        # together a DAG chain resolves in ~log rounds instead of
        # #SCCs
        _claim_round_broadcast(
            graph, graph.edges, active, scc, ids, back_graph=rev_graph
        )
        if active.any():
            _claim_round_broadcast(
                graph,
                rev,
                active,
                scc,
                ids,
                back_graph=graph if graph.blocks is not None else None,
            )
    raise RuntimeError(
        f"scc exceeded max_outer={max_outer} rounds"
    )  # pragma: no cover — dual-direction rounds « 1000 on any real graph


def _claim_round_distributed(
    cs: CkptScope, graph: Graph, e: DataFrame, active: DataFrame
) -> DataFrame:
    """One directional claim on DataFrames: min-color ``e`` to fixpoint
    over ``active``, then retire each root's SCC via masked reverse
    frontier joins. Returns ``(id, scc)`` checkpointed in ``cs``."""
    p = graph.num_partitions
    colors = cs.ckpt(active.withColumn("color", F.col("id")).repartition(p, "id"))
    while True:
        incoming = (
            e.join(colors.select(F.col("id").alias("src"), "color"), "src")
            .groupBy("dst")
            .agg(F.min("color").alias("nc"))
        )
        new = cs.ckpt(
            colors.join(incoming, colors.id == incoming.dst, "left")
            .select(
                "id",
                F.least(F.col("color"), F.coalesce("nc", "color")).alias("color"),
            )
            .repartition(p, "id")
        )
        changed = (
            new.join(colors.withColumnRenamed("color", "_old"), "id")
            .where(F.col("color") != F.col("_old"))
            .count()
        )
        cs.free(colors)
        colors = new
        if changed == 0:
            break
    reached = cs.ckpt(
        colors.where(F.col("color") == F.col("id"))
        .select("id", F.col("id").alias("scc"))
        .repartition(p, "id")
    )
    frontier = reached
    while True:
        step = (
            e.join(frontier.select(F.col("id").alias("dst"), "scc"), "dst")
            .join(colors.select(F.col("id").alias("src"), "color"), "src")
            .where(F.col("color") == F.col("scc"))
            .select(F.col("src").alias("id"), "scc")
            .distinct()
            .join(reached.select("id"), "id", "left_anti")
        )
        step = cs.ckpt(step.repartition(p, "id"))
        if step.limit(1).count() == 0:
            cs.free(step)
            break
        new_reached = cs.ckpt(reached.unionAll(step).repartition(p, "id"))
        # the previous step is superseded as the frontier only now
        cs.free(reached, frontier)
        reached, frontier = new_reached, step
    if frontier is not reached:
        cs.free(frontier)
    cs.free(colors)
    return reached


def _scc_distributed(cs: CkptScope, graph: Graph, max_outer: int = 1000) -> DataFrame:
    p = graph.num_partitions
    e_all = graph.edges.select("src", "dst")
    active = cs.ckpt(graph.vertices.select("id").repartition(p, "id"))
    done: DataFrame | None = None
    for _outer in range(max_outer):
        if active.limit(1).count() == 0:
            break
        e = (
            e_all.join(active.select(F.col("id").alias("src")), "src")
            .join(active.select(F.col("id").alias("dst")), "dst")
            .select("src", "dst")
        )
        e = cs.ckpt(e.repartition(p, "src"))
        # dual-direction claims per round (see _scc_broadcast): the
        # reversed view is a column swap over the same checkpointed rows
        for e_dir in (e, e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))):
            if active.limit(1).count() == 0:
                break
            reached = _claim_round_distributed(cs, graph, e_dir, active)
            nd = cs.ckpt(
                (reached if done is None else done.unionAll(reached)).repartition(
                    p, "id"
                )
            )
            cs.free(done)
            done = nd
            new_active = cs.ckpt(
                active.join(reached.select("id"), "id", "left_anti").repartition(
                    p, "id"
                )
            )
            cs.free(active, reached)
            active = new_active
        cs.free(e)
    else:  # pragma: no cover
        raise RuntimeError(f"scc exceeded max_outer={max_outer} rounds")
    return done if done is not None else graph.vertices.select(
        "id", F.col("id").alias("scc")
    ).limit(0)


def strongly_connected_components(graph: Graph, mode: str = "auto") -> DataFrame:
    """``(id, scc)`` on the directed graph; ``scc`` = min vertex id in
    the component (singletons label themselves).

    ``mode``: ``broadcast`` (driver-resident arrays, Arrow kernels) or
    ``distributed`` (DataFrame joins, state on-cluster)."""
    if resolve_mode(mode, state_fits(graph)) == "broadcast":
        import pandas as pd

        labels = _scc_broadcast(graph)
        pdf = pd.DataFrame(
            {"id": np.arange(len(labels), dtype=np.int64), "scc": labels}
        )
        return upload_frame(graph.spark, pdf, "id long, scc long")
    with ckpt_scope(graph.spark) as cs:
        return cs.keep(_scc_distributed(cs, graph))


# ----------------------------------------------------------------- bow-tie


def _reach_broadcast(graph: Graph, seed_mask: np.ndarray) -> np.ndarray:
    """Boolean reachability from the seed set along edge direction —
    min-label (0/1) frontier relaxation on the CSR blocks."""
    from approximate_pagerank_public_spark.operators.traversal import (
        frontier_min_relax,
    )

    n = graph.num_vertices
    state = np.ones((n, 1), dtype=np.int32)
    state[seed_mask, 0] = 0
    if graph.num_edges > 0 and seed_mask.any():
        changed = seed_mask.copy()
        state, _rounds, converged = frontier_min_relax(
            graph, state, changed, plus_one=False
        )
        if not converged:  # pragma: no cover
            raise RuntimeError("reach propagation did not converge")
    return state.ravel() == 0


def _reach_distributed(
    cs: CkptScope, edges: DataFrame, seeds: DataFrame, p: int, max_iter: int = 10_000
) -> DataFrame:
    """Distributed frontier reach: per round ONE frontier ⋈ edges join
    + distinct + anti-join against the visited set (checkpoint-scope
    rotation).  Returns the visited ``(id)`` set including seeds,
    checkpointed in ``cs``."""
    reached = cs.ckpt(seeds.select("id").repartition(p, "id"))
    frontier = reached
    for _ in range(max_iter):
        nxt = cs.ckpt(
            edges.join(frontier.select(F.col("id").alias("src")), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(reached, "id", "left_anti")
            .repartition(p, "id")
        )
        if frontier is not reached:
            cs.free(frontier)
        frontier = nxt
        if nxt.count() == 0:
            cs.free(nxt)
            return reached
        new_reached = cs.ckpt(reached.unionAll(nxt).repartition(p, "id"))
        cs.free(reached)
        reached = new_reached
    raise RuntimeError(  # pragma: no cover
        f"reach propagation did not converge in {max_iter} rounds"
    )


def bowtie_decomposition(graph: Graph, mode: str = "auto") -> DataFrame:
    """``(id, cls)`` — the Broder et al. (2000) bow-tie map of a
    directed graph: ``CORE`` (largest SCC, ties → smaller label),
    ``OUT`` (reachable from the core), ``IN`` (reaches the core),
    ``TENDRIL`` (rest of the core's weak component — includes Broder's
    tubes), ``DISCONNECTED`` (everything else).  The canonical
    structural census of a web-scale link graph.

    Composition of existing scale paths: one SCC pass, two directed
    reachability passes (forward + on the reversed graph), one weak-CC
    pass, then a single codegen'd CASE projection.  Modes mirror
    ``strongly_connected_components``."""
    spark, p = graph.spark, graph.num_partitions
    if resolve_mode(mode, state_fits(graph)) == "broadcast":
        import pandas as pd

        from approximate_pagerank_public_spark.operators.components import (
            _cc_broadcast,
        )

        labels = _scc_broadcast(graph)
        uniq, counts = np.unique(labels, return_counts=True)
        core = int(uniq[np.lexsort((uniq, -counts))[0]])
        core_mask = labels == core
        fwd = _reach_broadcast(graph, core_mask)
        bwd = _reach_broadcast(graph.reversed_graph(), core_mask)
        # max_iter = |V| guarantees fixpoint (min-label propagation
        # converges within the weak diameter < |V|); a fixed 200 cap
        # could silently misclassify TENDRIL/DISCONNECTED on a
        # high-diameter weak component (it only warned).  The
        # relaxation is frontier-sparse, so the bound is free.
        wcc, _ = _cc_broadcast(graph.undirected(), max(200, graph.num_vertices))
        corewc = int(wcc[int(np.flatnonzero(core_mask).min())])
        cls = np.where(
            core_mask,
            "CORE",
            np.where(
                fwd,
                "OUT",
                np.where(
                    bwd,
                    "IN",
                    np.where(wcc == corewc, "TENDRIL", "DISCONNECTED"),
                ),
            ),
        )
        pdf = pd.DataFrame(
            {"id": np.arange(len(labels), dtype=np.int64), "cls": cls}
        )
        return upload_frame(spark, pdf, "id long, cls string")

    from approximate_pagerank_public_spark.operators.components import (
        connected_components,
    )

    with ckpt_scope(spark) as cs:
        scc_df = _scc_distributed(cs, graph)
        sizes = scc_df.groupBy("scc").agg(F.count("*").alias("n"))
        core = int(
            sizes.orderBy(F.col("n").desc(), F.col("scc").asc()).first()["scc"]
        )
        seeds = scc_df.where(F.col("scc") == core).select("id")
        fwd = _reach_distributed(cs, graph.edges, seeds, p).select(
            "id", F.lit(True).alias("fwd")
        )
        rev_e = graph.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        bwd = _reach_distributed(cs, rev_e, seeds, p).select(
            "id", F.lit(True).alias("bwd")
        )
        wcc = connected_components(graph, mode="distributed")
        corewc = int(
            wcc.join(seeds.orderBy("id").limit(1), "id").first()["component"]
        )
        return cs.keep(
            scc_df.join(fwd, "id", "left")
            .join(bwd, "id", "left")
            .join(wcc, "id", "left")
            .select(
                "id",
                F.when(F.col("scc") == core, "CORE")
                .when(F.col("fwd"), "OUT")
                .when(F.col("bwd"), "IN")
                .when(F.col("component") == corewc, "TENDRIL")
                .otherwise("DISCONNECTED")
                .alias("cls"),
            )
        )


def dag_longest_path(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 10_000,
) -> DataFrame:
    """``(id, longest)`` — longest path (in edges) ENDING at each node
    of a DAG, by max-plus frontier relaxation: per round ONE edges ⋈
    state join + a map-side-combinable ``groupBy(dst).max`` + a
    greatest() merge, checkpoint-scope rotation; rounds = DAG depth.
    Raises if ``max_iter`` rounds still improve (a cycle — the caller
    promised a DAG, e.g. the SCC condensation)."""
    spark = edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with ckpt_scope(spark) as cs:
        state = cs.ckpt(
            nodes.select("id", F.lit(0).cast("long").alias("d")).repartition(p, "id")
        )
        for _ in range(max_iter):
            cand = (
                edges.join(state.select(F.col("id").alias("src"), "d"), "src")
                .groupBy("dst")
                .agg((F.max("d") + 1).alias("nd"))
                .select(F.col("dst").alias("id"), "nd")
            )
            new = cs.ckpt(
                state.join(cand, "id", "left")
                .select("id", F.greatest("d", "nd").alias("d"))
                .repartition(p, "id")
            )
            improved = (
                new.join(state.withColumnRenamed("d", "_old"), "id")
                .where(F.col("d") > F.col("_old"))
                .count()
            )
            cs.free(state)
            state = new
            if improved == 0:
                return cs.keep(state.withColumnRenamed("d", "longest"))
    raise RuntimeError(  # pragma: no cover — DAG depth << max_iter
        f"dag_longest_path still improving after {max_iter} rounds — "
        "input has a cycle"
    )
