"""Community detection: synchronous label propagation, community
contraction, and deterministic Louvain (single-level local moves and
the full multilevel fine→contract→coarse pipeline).

North-rule algorithms built on the same superstep machinery: per
iteration each vertex adopts the label with the greatest incoming
weight (LPA) or the largest all-integer modularity gain (Louvain),
ties broken by the **smallest label** so the algorithms are fully
deterministic (the classic async variants are randomized; deterministic
synchronous variants are required for golden parity testing and
cross-engine oracle replay).

LPA has two paths, picked by ``plans/modes.py::resolve_mode``. The
driver path holds the label vector: all rounds run in one barrier job
over the symmetrized graph's CSR blocks (per-block NumPy votes), with
one ``mapInArrow`` job per round as the fallback. The distributed path
keeps the labels on the cluster: the per-(dst,label) weight
aggregation is a DataFrame ``groupBy(dst, label).sum`` with map-side
partial aggregation, and the argmax is a window over each dst group,
all JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from approximate_pagerank_public_spark.plans.checkpoint import (
    CkptScope,
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.blocks import (
    vote_argmax,
    vote_block,
    vote_sums,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import resolve_mode, state_fits
from approximate_pagerank_public_spark.session import upload_frame

def _vote_kernel(load_labels):
    """Per-partition partial ``(dst, label, Σweight)`` votes — the
    map-side combine of the per-round LPA job, vectorized (lexsort +
    reduceat), labels shipped via shm/broadcast like the rank state."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        labels = np.asarray(load_labels())
        parts = []
        for b in batches:
            if b.num_rows == 0:
                continue
            src = b.column("src").to_numpy(zero_copy_only=False)
            dst = b.column("dst").to_numpy(zero_copy_only=False)
            w = b.column("weight").to_numpy(zero_copy_only=False)
            parts.append(vote_sums(dst, labels[src], w))
        if not parts:
            return
        d, l, w = vote_sums(*(np.concatenate(c) for c in zip(*parts)))
        yield pa.RecordBatch.from_arrays(
            [pa.array(d), pa.array(l), pa.array(w)], names=["dst", "label", "w"]
        )

    return kernel


def _lpa_broadcast(und: Graph, max_iter: int) -> tuple[np.ndarray, int]:
    """Driver-state LPA over the symmetrized graph → ``(labels,
    rounds)``. On local masters (where the graph has CSR blocks) every
    round runs inside ONE gang-scheduled barrier job
    (``plans.barrier.run_barrier_rounds`` with the ``vote_block``
    kernel). Otherwise, and when the gang fails, each round is one
    shuffle-free ``mapInArrow`` job of partial votes with the argmax
    merged on the driver. Both paths take the same :func:`vote_argmax`
    and stop at the same round: the first that changes no label, or
    ``max_iter``."""
    from approximate_pagerank_public_spark.operators.spmv import ship_and_collect
    from approximate_pagerank_public_spark.plans.barrier import (
        run_barrier_rounds,
        run_gang,
    )

    n = und.num_vertices
    labels = np.arange(n, dtype=np.int64)
    gang = run_gang(
        und,
        lambda: run_barrier_rounds(
            und, labels[:, None], np.ones(n, dtype=bool), vote_block, max_iter
        ),
        "per-round jobs",
    )
    if gang is not None:
        out, rounds, _ = gang
        return out[:, 0], rounds
    rounds = 0
    for rounds in range(1, max_iter + 1):
        pdf = ship_and_collect(
            und.spark, und.edges, labels, _vote_kernel, "dst long, label long, w double"
        )
        if not len(pdf):  # no edges: nothing votes
            break
        d, best = vote_argmax(
            pdf["dst"].to_numpy(np.int64),
            pdf["label"].to_numpy(np.int64),
            pdf["w"].to_numpy(np.float64),
        )
        new = labels.copy()
        new[d] = best
        if np.array_equal(new, labels):
            break
        labels = new
    return labels, rounds


def label_propagation(graph: Graph, max_iter: int = 10, mode: str = "auto") -> DataFrame:
    """``(id, label)`` after ``max_iter`` synchronous rounds (early-stops
    on a fixpoint). ``mode``: 'broadcast' (driver-held labels; all
    rounds in one barrier job over the CSR blocks, else one
    shuffle-free job per round), 'distributed' (state stays on the
    cluster), 'auto' picks by vertex count like ``pagerank``."""
    mode = resolve_mode(mode, state_fits(graph))
    und = graph.undirected()
    if mode == "broadcast":
        import pandas as pd

        labels, _ = _lpa_broadcast(und, max_iter)
        return upload_frame(
            graph.spark,
            pd.DataFrame({"id": np.arange(len(labels), dtype=np.int64), "label": labels}),
            "id long, label long",
        )
    with ckpt_scope(graph.spark) as cs:
        p = graph.num_partitions
        labels = und.vertices.withColumn("label", F.col("id"))
        labels = cs.ckpt(labels.repartition(p, "id"))
        for _ in range(max_iter):
            votes = (
                und.edges.join(
                    labels.select(F.col("id").alias("src"), F.col("label")), "src"
                )
                .groupBy("dst", "label")
                .agg(F.sum("weight").alias("w"))
            )
            w = Window.partitionBy("dst").orderBy(F.col("w").desc(), F.col("label").asc())
            best = (
                votes.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select(F.col("dst").alias("id"), F.col("label").alias("new_label"))
            )
            new = cs.ckpt(
                labels.join(best, "id", "left")
                .select("id", F.coalesce("new_label", "label").alias("label"))
                .repartition(p, "id")
            )
            changed = (
                new.join(labels.withColumnRenamed("label", "_old"), "id")
                .where(F.col("label") != F.col("_old"))
                .count()
            )
            cs.free(labels)
            labels = new
            if changed == 0:
                break
        return cs.keep(labels)


def golden_label_propagation(
    src: np.ndarray, dst: np.ndarray, w: np.ndarray, n: int, max_iter: int = 10
) -> np.ndarray:
    """NumPy twin of :func:`label_propagation` (symmetrized input edges
    expected, i.e. pass both directions)."""
    labels = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        votes: dict[tuple[int, int], float] = {}
        for u, v, wt in zip(src.tolist(), dst.tolist(), w.tolist()):
            key = (v, int(labels[u]))
            votes[key] = votes.get(key, 0.0) + wt
        new = labels.copy()
        best: dict[int, tuple[float, int]] = {}
        for (v, lbl), wt in votes.items():
            cur = best.get(v)
            # max weight, tie → min label
            if cur is None or (wt, -lbl) > (cur[0], -cur[1]):
                best[v] = (wt, lbl)
        for v, (_, lbl) in best.items():
            new[v] = lbl
        if np.array_equal(new, labels):
            return labels
        labels = new
    return labels


def contract_communities(graph: Graph, labels: DataFrame) -> DataFrame:
    """``(src_comm, dst_comm, n_edges)`` — the community-level
    multigraph induced by a vertex partition (the coarsening step of
    multilevel pipelines, Louvain-style): every directed edge maps to
    its endpoints' labels, parallel edges aggregate to a count.
    Self-community edges are KEPT (they carry the internal-mass signal).

    Scale shape: two broadcastable vertex-sized joins into one edge pass
    + a hash aggregate keyed by community pairs — map-side combinable,
    output is |communities|²-bounded but community-graph sparse in
    practice."""
    ls = labels.select(F.col("id").alias("src"), F.col("label").alias("src_comm"))
    ld = labels.select(F.col("id").alias("dst"), F.col("label").alias("dst_comm"))
    return (
        graph.edges.select("src", "dst")
        .join(F.broadcast(ls), "src")
        .join(F.broadcast(ld), "dst")
        .groupBy("src_comm", "dst_comm")
        .agg(F.count("*").alias("n_edges"))
    )


def louvain_rounds(graph: Graph, rounds: int = 4) -> DataFrame:
    """``(id, label)`` after ``rounds`` SYNCHRONOUS modularity-gain moves
    (the local-move phase of Louvain, Blondel et al. 2008, made
    deterministic and cross-engine replayable).

    Each round every vertex simultaneously moves to the neighboring
    community with the largest modularity gain, staying put unless a
    strict improvement exists. On the unweighted symmetrized simple
    graph the standard gain ``ΔQ(i→C) = k_in(i,C)/m − k_i·Σtot(C)/(2m²)``
    is compared after clearing the (positive) ``2m²`` denominator:

        gain_int(i→C)   = 2m·k_in(i,C)  − k_i·Σtot(C)        (C ≠ c_i)
        gain_int(i stay) = 2m·k_in(i,c_i) − k_i·(Σtot(c_i) − k_i)

    — ALL INTEGER, so the argmax (ties → smaller community label) is
    bit-exact in any engine; the DuckDB oracle replays the identical
    unrolled rounds with no floating point anywhere. Synchronous
    updates make the round count part of the contract (like
    ``pagerank_fixed8``), not a convergence claim — label oscillation
    on bipartite-ish structures is possible and accepted; the
    modularity of the RESULT is what callers should evaluate
    (``modularity(graph, louvain_rounds(g))``; sanity-tested ≥ the
    singleton partition's Q).

    Scale shape per round: one |E|-row join of the dst-partitioned
    symmetrized edges (which stay in place) against the labels, ONE
    map-side-combined (id, label) aggregation (the mandatory kin=0 stay
    rows are unioned BEFORE it, not re-aggregated after), a
    |communities|-row Σtot table joined broadcast below
    ``ETL_BROADCAST_MAX_VERTICES`` and hash-on-label above (in round 0
    |C| = |V|, so an unconditional broadcast would ship the whole
    vertex set), one per-vertex struct-MAX argmax. Degrees and ``2m`` are
    computed once outside the loop.
    """
    p = graph.num_partitions
    symd = _symd_weighted(graph).cache()
    with ckpt_scope(graph.spark) as cs:
        cs.callback(symd.unpersist)
        moved = _local_move_rounds(
            cs, symd, rounds, p, _small_enough(graph.num_vertices)
        )
        # isolated vertices never appear in symd: they keep their own id
        return cs.keep(
            graph.vertices.join(moved, "id", "left").select(
                "id", F.coalesce("label", "id").alias("label")
            )
        )


def _small_enough(num_vertices: int) -> bool:
    from approximate_pagerank_public_spark.operators.etl import (
        ETL_BROADCAST_MAX_VERTICES,
    )

    return num_vertices <= ETL_BROADCAST_MAX_VERTICES


def _symd_weighted(graph: Graph) -> DataFrame:
    """Unweighted symmetrized simple edges (both directions, no self
    loops) as a w=1 weighted row set, partitioned on dst — the
    per-round join key, so the edge side of every kin join is
    exchange-free."""
    e = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .withColumn("w", F.lit(1).cast("long"))
        .repartition(graph.num_partitions, "dst")
    )


#: driver fast-path gate for the Louvain local-move rounds (row count of
#: the symmetric weighted row set) — the coloring.py pattern: below the
#: gate the all-integer rounds run in one NumPy pass on the driver
#: (identical arithmetic + tie order, bit-parity-tested), above it the
#: distributed rounds run unchanged. 0 disables.
LOUVAIN_DRIVER_MAX_ROWS = 4_000_000


def _local_move_rounds_np(src, dst, w, rounds: int):
    """NumPy twin of the distributed local-move rounds — the SAME
    cleared-denominator integer gains (``m2·kin − k·Σtot'``) and the
    SAME argmax order (gain desc, stay-first, smaller label), so the
    result is bit-identical (all quantities are int64; no float enters
    anywhere). Ids are remapped through ``np.unique`` (order-preserving,
    so the smaller-label tie compares identically) and mapped back at
    the end. Returns ``(ids, labels)`` arrays over every id appearing
    as src."""
    import numpy as np

    verts, inv_src = np.unique(src, return_inverse=True)
    nv = len(verts)
    if nv == 0:
        return verts, verts
    di = np.searchsorted(verts, dst)
    k = np.zeros(nv, dtype=np.int64)
    np.add.at(k, inv_src, w)
    m2 = int(w.sum())
    label = np.arange(nv, dtype=np.int64)
    offm = inv_src != di
    es, ed, ew = inv_src[offm], di[offm], np.asarray(w)[offm]
    imin = np.iinfo(np.int64).min
    for _ in range(rounds):
        sig = np.zeros(nv, dtype=np.int64)
        np.add.at(sig, label, k)
        ld = label[ed]
        order = np.lexsort((ld, es))
        s_s, l_s, w_s = es[order], ld[order], ew[order]
        if len(s_s):
            starts = np.r_[0, np.flatnonzero(
                (s_s[1:] != s_s[:-1]) | (l_s[1:] != l_s[:-1])
            ) + 1]
            gi, gc = s_s[starts], l_s[starts]
            gkin = np.add.reduceat(w_s, starts)
        else:
            gi = gc = gkin = np.zeros(0, dtype=np.int64)
        stay_mask = gc == label[gi]
        # stay gain for EVERY vertex (the kin=0 stay row the distributed
        # path unions in): own-community neighbor mass, else 0
        kin_own = np.zeros(nv, dtype=np.int64)
        kin_own[gi[stay_mask]] = gkin[stay_mask]
        gain_stay = m2 * kin_own - k * (sig[label] - k)
        mi, mc = gi[~stay_mask], gc[~stay_mask]
        mg = m2 * gkin[~stay_mask] - k[mi] * sig[mc]
        best_g = np.full(nv, imin, dtype=np.int64)
        best_c = np.zeros(nv, dtype=np.int64)
        if len(mi):
            o = np.lexsort((mc, -mg, mi))
            s2 = mi[o]
            first = np.r_[0, np.flatnonzero(s2[1:] != s2[:-1]) + 1]
            best_g[s2[first]] = mg[o][first]
            best_c[s2[first]] = mc[o][first]
        # a move must STRICTLY beat staying (stay-first tie rule)
        label = np.where(best_g > gain_stay, best_c, label)
    return verts, verts[label]


def _local_move_rounds_driver(
    cs: CkptScope, wrows: DataFrame, rounds: int, p: int
) -> DataFrame:
    import pandas as pd

    pdf = wrows.select("src", "dst", "w").toPandas()
    ids, labs = _local_move_rounds_np(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), pdf["w"].to_numpy(), rounds
    )
    out = upload_frame(
        wrows.sparkSession,
        pd.DataFrame({"id": ids, "label": labs}), "id long, label long"
    )
    # checkpointed like the distributed rounds' result
    return cs.ckpt(out.repartition(p, "id"))


def _local_move_rounds(
    cs: CkptScope, wrows: DataFrame, rounds: int, p: int, small: bool
) -> DataFrame:
    """``rounds`` synchronous integer-gain local moves over a SYMMETRIC
    integer-weighted row set ``(src, dst, w)`` (off-diagonal rows appear
    in both directions; a self-loop appears once and contributes its w
    to the degree once — so a contracted community's diagonal row, which
    counts each internal undirected edge twice, adds exactly the
    internal degree mass and the fine/coarse modularity invariant
    holds). Returns ``(id, label)`` for every id appearing as src,
    checkpointed in the caller's scope ``cs``.

    Convention (W the symmetric adjacency, diagonal allowed):
    ``k_i = Σ_j W_ij``, ``m2 = Σ_ij W_ij``, ``kin(i,C) = Σ_{j∈C, j≠i}
    W_ij``, ``Σtot(C) = Σ_{i∈C} k_i``; cleared-denominator gain
    ``m2·kin − k_i·Σtot'`` with ``Σtot' = Σtot − k_i`` for the stay
    option. All integer, so the argmax (gain desc, stay-first, smaller
    label) is bit-exact in any engine — which is also why the driver
    fast path below :data:`LOUVAIN_DRIVER_MAX_ROWS` rows (NumPy twin,
    bit-parity-tested) can take over without touching the oracle: per
    round it removes ~6 Spark jobs of fixed latency (measured 2.3
    s/round at sf0.1 — q_louvain4 11.8 → under 7 s, the r4 verdict
    task #9)."""
    if small and LOUVAIN_DRIVER_MAX_ROWS > 0:
        if wrows.count() <= LOUVAIN_DRIVER_MAX_ROWS:
            return _local_move_rounds_driver(cs, wrows, rounds, p)
    deg = wrows.groupBy("src").agg(F.sum("w").alias("k")).cache()
    try:
        m2 = int(wrows.agg(F.sum("w")).first()[0])
        labels = deg.select(F.col("src").alias("id"), F.col("src").alias("label"))
        labels = cs.ckpt(labels.repartition(p, "id"))
        # kin excludes j == i: a vertex's (or contracted community's)
        # self-loop moves with it and cancels from every gain comparison
        offdiag = wrows.where(F.col("src") != F.col("dst"))
        for _ in range(rounds):
            # Σtot per community (sum of member degrees) — |C| rows
            sigtot = (
                labels.join(deg.withColumnRenamed("src", "id"), "id")
                .groupBy("label")
                .agg(F.sum("k").alias("sigtot"))
            )
            # k_in(i, C): neighbor weight per neighbor-community; the
            # STAY option must always be a candidate (a vertex with no
            # neighbor in its own community would otherwise be forced
            # into the best MOVE even at negative gain), so union a
            # kin=0 row for the current community BEFORE the single
            # (id, label) aggregation
            contrib = offdiag.join(
                labels.select(F.col("id").alias("dst"), F.col("label")), "dst"
            ).select(F.col("src").alias("id"), "label", F.col("w").alias("kin"))
            kin = (
                contrib.unionByName(
                    labels.select("id", "label", F.lit(0).cast("long").alias("kin"))
                )
                .groupBy("id", "label")
                .agg(F.sum("kin").alias("kin"))
            )
            cand = (
                kin.join(F.broadcast(sigtot) if small else sigtot, "label")
                .join(labels.withColumnRenamed("label", "_cur"), "id")
                .join(deg.withColumnRenamed("src", "id"), "id")
            )
            gain = F.when(
                F.col("label") == F.col("_cur"),
                F.lit(m2) * F.col("kin")
                - F.col("k") * (F.col("sigtot") - F.col("k")),
            ).otherwise(F.lit(m2) * F.col("kin") - F.col("k") * F.col("sigtot"))
            # argmax by (gain desc, stay-first, smaller label) as a
            # lexicographic struct MAX with a map-side partial combine;
            # Spark has no hash aggregate for a struct max, so it plans
            # a SortAggregate (a window would shuffle every candidate
            # row before sorting it); all-integer fields keep it
            # bit-exact.
            # stay-first: a move must STRICTLY improve, so on equal
            # gain the stay candidate (flag 1) outranks every move.
            pick = F.max(
                F.struct(
                    gain.alias("_g"),
                    (F.col("label") == F.col("_cur")).cast("int").alias("_stay"),
                    (-F.col("label")).alias("_negl"),
                )
            ).alias("_m")
            best = cand.groupBy("id").agg(pick).select(
                "id", (-F.col("_m._negl")).alias("new_label")
            )
            new = cs.ckpt(
                labels.join(best, "id", "left")
                .select("id", F.coalesce("new_label", "label").alias("label"))
                .repartition(p, "id")
            )
            cs.free(labels)
            labels = new
        return labels
    finally:
        deg.unpersist()


def louvain_multilevel(
    graph: Graph, fine_rounds: int = 2, coarse_rounds: int = 2
) -> DataFrame:
    """One full Louvain level step: ``fine_rounds`` local moves on the
    vertex graph, contraction of the resulting partition into an
    integer-weighted community multigraph (diagonal rows carry the
    internal edge mass; ``m2`` and modularity are invariant under the
    contraction), ``coarse_rounds`` local moves on THAT, and projection
    of the coarse labels back onto the vertices.

    Every quantity in both phases is integer (weights are edge counts),
    so the final ``(id, label)`` is replayed bit-exactly by the DuckDB
    unrolled-CTE oracle — the deterministic-contract analogue of
    Blondel et al.'s full pipeline, with fixed round budgets instead of
    convergence sweeps (see :func:`louvain_rounds` for why).

    Scale shape: the fine phase is :func:`louvain_rounds`; the
    contraction is one |2m|-row double label join + hash agg; the
    coarse phase runs on |communities| vertices — strictly cheaper per
    round than the fine phase."""
    p = graph.num_partitions
    symd = _symd_weighted(graph).cache()
    small = _small_enough(graph.num_vertices)
    with ckpt_scope(graph.spark) as cs:
        cs.callback(symd.unpersist)
        fine = _local_move_rounds(cs, symd, fine_rounds, p, small)
        ls = fine.select(F.col("id").alias("src"), F.col("label").alias("_cs"))
        ld = fine.select(F.col("id").alias("dst"), F.col("label").alias("_cd"))
        if small:
            ls, ld = F.broadcast(ls), F.broadcast(ld)
        coarse_rows = (
            symd.join(ls, "src")
            .join(ld, "dst")
            .groupBy(F.col("_cs").alias("src"), F.col("_cd").alias("dst"))
            .agg(F.sum("w").alias("w"))
            .repartition(p, "dst")
            .cache()
        )
        try:
            coarse = _local_move_rounds(
                cs, coarse_rows, coarse_rounds, p, small
            )
        finally:
            coarse_rows.unpersist()
        out = fine.join(
            coarse.select(F.col("id").alias("label"), F.col("label").alias("_sl")),
            "label",
        ).select("id", F.col("_sl").alias("label"))
        # isolated vertices never enter the fine phase: keep their own id
        return cs.keep(
            graph.vertices.join(out, "id", "left").select(
                "id", F.coalesce("label", "id").alias("label")
            )
        )


def _golden_sym_rows(src: np.ndarray, dst: np.ndarray) -> dict[tuple[int, int], int]:
    """Raw directed edges → symmetric w=1 row set (no self loops)."""
    pairs = {
        (int(u), int(v))
        for u, v in zip(src.tolist(), dst.tolist())
        if u != v
    }
    return {e: 1 for e in pairs | {(v, u) for (u, v) in pairs}}


def _golden_local_moves(
    rows: dict[tuple[int, int], int], rounds: int
) -> dict[int, int]:
    """Pure-Python twin of :func:`_local_move_rounds` over a symmetric
    integer-weighted row dict (diagonal allowed). Integer arithmetic
    only; returns {src: label}."""
    k: dict[int, int] = {}
    for (u, _), w in rows.items():
        k[u] = k.get(u, 0) + w
    m2 = sum(rows.values())
    labels = {i: i for i in k}
    for _ in range(rounds):
        sigtot: dict[int, int] = {}
        for i, c in labels.items():
            sigtot[c] = sigtot.get(c, 0) + k[i]
        kin: dict[tuple[int, int], int] = {}
        for (u, v), w in rows.items():
            if u == v:
                continue  # self-loops move with u and cancel from gains
            key = (u, labels[v])
            kin[key] = kin.get(key, 0) + w
        new = dict(labels)
        by_vertex: dict[int, list[tuple[int, int]]] = {}
        for (u, c), cnt in kin.items():
            by_vertex.setdefault(u, []).append((c, cnt))
        for u in labels:
            cur = labels[u]
            cands = by_vertex.get(u, [])
            if all(c != cur for c, _ in cands):
                cands = cands + [(cur, 0)]  # the mandatory stay option
            best = None
            for c, cnt in cands:
                st = sigtot[c] - (k[u] if c == cur else 0)
                g = m2 * cnt - k[u] * st
                # (gain desc, staying-first, label asc)
                key = (-g, c != cur, c)
                if best is None or key < best[0]:
                    best = (key, c)
            if best is not None:
                new[u] = best[1]
        labels = new
    return labels


def golden_louvain_rounds(
    src: np.ndarray, dst: np.ndarray, n: int, rounds: int = 4
) -> np.ndarray:
    """NumPy twin of :func:`louvain_rounds` (raw directed edges; the
    golden symmetrizes and dedups itself). Integer arithmetic only."""
    labels = _golden_local_moves(_golden_sym_rows(src, dst), rounds)
    out = np.arange(n, dtype=np.int64)
    for i, c in labels.items():
        out[i] = c
    return out


def golden_louvain_multilevel(
    src: np.ndarray,
    dst: np.ndarray,
    n: int,
    fine_rounds: int = 2,
    coarse_rounds: int = 2,
) -> np.ndarray:
    """Pure-Python twin of :func:`louvain_multilevel`: fine local
    moves, integer contraction (diagonal rows carry internal mass),
    coarse local moves, projection. Integer arithmetic only."""
    rows = _golden_sym_rows(src, dst)
    fine = _golden_local_moves(rows, fine_rounds)
    coarse_rows: dict[tuple[int, int], int] = {}
    for (u, v), w in rows.items():
        key = (fine[u], fine[v])
        coarse_rows[key] = coarse_rows.get(key, 0) + w
    coarse = _golden_local_moves(coarse_rows, coarse_rounds)
    out = np.arange(n, dtype=np.int64)
    for i, c in fine.items():
        out[i] = coarse[c]
    return out


def seeded_label_propagation(
    graph: Graph, seeds: DataFrame, rounds: int = 4
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 shape):
    ``seeds`` is ``(id, label)`` with CLAMPED labels; each synchronous
    round every vertex with >=1 labeled in-neighbor (symmetrized,
    1/outdeg weights) adopts the label with the greatest summed weight
    (ties -> smallest label), except seeds which never change. Returns
    ``(id, label)`` for the vertices labeled after ``rounds`` rounds —
    vertices not yet reached are absent, not null.

    The labeled set only grows and a labeled vertex always retains >=1
    labeled neighbor, so the state is exactly
    ``seeds ∪ (per-dst argmax over labeled-neighbor votes)`` each round
    — no carry-forward join needed. Same vote/tie arithmetic as
    :func:`label_propagation` (exact-rational 1/k weights), so the
    unrolled-CTE oracle replays it.

    Scale shape per round: one edge-pass join against the labeled set
    (grows toward |V|), one map-side-combined (dst, label) weight sum,
    one per-dst window argmax, checkpoint-scope rotation.
    """
    p = graph.num_partitions
    und = graph.undirected()
    seeds = seeds.select("id", "label")
    with ckpt_scope(graph.spark) as cs:
        labels = cs.ckpt(seeds.repartition(p, "id"))
        for _ in range(rounds):
            votes = (
                und.edges.join(
                    labels.select(F.col("id").alias("src"), "label"), "src"
                )
                .groupBy("dst", "label")
                .agg(F.sum("weight").alias("w"))
            )
            w = Window.partitionBy("dst").orderBy(
                F.col("w").desc(), F.col("label").asc()
            )
            best = (
                votes.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select(F.col("dst").alias("id"), "label")
            )
            nxt = seeds.unionAll(
                best.join(seeds.select("id"), "id", "left_anti")
            )
            nxt = cs.ckpt(nxt.repartition(p, "id"))
            cs.free(labels)
            labels = nxt
        return cs.keep(labels)
