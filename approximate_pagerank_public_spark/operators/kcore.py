"""k-core decomposition over the undirected simple link graph.

Two classic formulations, both on the symmetrized / self-loop-free /
deduped edge set (the same normalization as ``operators/triangles.py``):

- ``k_core(g, k)`` — the k-core SUBGRAPH: repeatedly delete every vertex
  whose surviving degree is < k until fixpoint (simultaneous-removal
  rounds, so the round count is deterministic and the DuckDB oracle can
  unroll exactly that many rounds — extra rounds are idempotent).
- ``core_numbers(g)`` — EVERY vertex's coreness via the H-index
  iteration (Lü, Zhou, Zhang & Stanley, "The H-index of a network node
  and its relation to degree and coreness", Nat. Commun. 2016):
  ``c_0 = degree``, ``c_{t+1}(v) = H-index of {c_t(u) : u ~ v}``;
  the sequence is monotone non-increasing and converges to coreness.

Both have the repo's standard dual execution paths:

- broadcast: one Arrow collect of the canonical edge list, NumPy rounds
  on the driver (`np.bincount` peel / segment-wise H-index) — the
  single-host fast path under ``BROADCAST_MAX_EDGES``.
- distributed: the peel is per-round ``groupBy(src).count`` + two
  anti-joins; the H-index round is fully declarative — a per-dst
  ``row_number`` window over descending neighbor value, then
  ``max(least(rn, c))`` (the textbook "sorted-prefix" H-index), which
  shuffles only on ``dst`` and keeps Catalyst in charge. Lineage is
  truncated per round by a checkpoint scope.

The window in the H-index round partitions by dst — a web hub's
in-degree can be huge, but the window computes a running row_number
only (no buffering beyond spill-able sort), and the groupBy-max is
map-side combinable, so the plan survives skew the same way the
triangle wedge join does.

Reference scope note: the reference engine (approximate-pagerank-public)
ships ranking kernels only; coreness is the standard companion
link-analysis decomposition (used for graph-cleaning before ranking at
web scale), added on the engine's own dual-path idiom.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from approximate_pagerank_public_spark.operators.triangles import canonical_edges
from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import edges_fit, resolve_mode
from approximate_pagerank_public_spark.session import upload_frame


@dataclass
class KCoreResult:
    k: int
    rounds: int
    _df: DataFrame

    def subgraph_vertices(self) -> DataFrame:
        """``(id, core_deg)`` — vertices of the k-core with their
        within-core degree (≥ k by construction)."""
        return self._df


@dataclass
class CorenessResult:
    rounds: int
    _df: DataFrame

    def core_numbers(self) -> DataFrame:
        """``(id, core)`` for every graph vertex (isolated ⇒ 0)."""
        return self._df


def _sym_arrays(g: Graph) -> tuple[np.ndarray, np.ndarray, int]:
    """Symmetrized simple edges as NumPy (both directions present)."""
    pdf = canonical_edges(g).toPandas()
    u = pdf["u"].to_numpy(dtype=np.int64)
    v = pdf["v"].to_numpy(dtype=np.int64)
    return np.concatenate([u, v]), np.concatenate([v, u]), g.num_vertices


def _sym_edges_df(g: Graph) -> DataFrame:
    e = canonical_edges(g)
    return e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


# --------------------------------------------------------------- k-core peel
def peel_kcore_numpy(
    src: np.ndarray, dst: np.ndarray, n: int, k: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Pure-NumPy simultaneous-removal peel on a SYMMETRIZED edge list.
    Returns (surviving ids, their core degree, rounds). Shared by the
    broadcast path and the oracle's round replay (``__spark_entry__``)."""
    deg = np.bincount(src, minlength=n)
    # peel domain = vertices incident to ≥1 edge (isolated vertices are
    # never in the distributed path's edge table — keep rounds identical)
    alive = deg > 0
    rounds = 0
    while True:
        mask = alive[src] & alive[dst]
        deg = np.bincount(src[mask], minlength=n)
        bad = alive & (deg < k)
        if not bad.any():
            break
        alive &= ~bad
        rounds += 1
    ids = np.flatnonzero(alive)
    return ids.astype(np.int64), deg[ids].astype(np.int64), rounds


def _kcore_broadcast(g: Graph, k: int) -> tuple[np.ndarray, np.ndarray, int]:
    src, dst, n = _sym_arrays(g)
    return peel_kcore_numpy(src, dst, n, k)


def _kcore_distributed(g: Graph, k: int) -> tuple[DataFrame, int]:
    with ckpt_scope(g.spark) as cs:
        edges = cs.ckpt(_sym_edges_df(g))
        rounds = 0
        while True:
            deg = edges.groupBy("src").agg(F.count("*").alias("core_deg"))
            bad = deg.where(F.col("core_deg") < k).select("src")
            if bad.isEmpty():
                survivors = deg.select(F.col("src").alias("id"), "core_deg")
                return cs.keep(cs.ckpt(survivors)), rounds
            nxt = edges.join(bad, "src", "left_anti").join(
                bad.select(F.col("src").alias("dst")), "dst", "left_anti"
            ).select("src", "dst")
            nxt = cs.ckpt(nxt)
            cs.free(edges)
            edges = nxt
            rounds += 1


def k_core(g: Graph, k: int, mode: str = "auto") -> KCoreResult:
    """Vertices of the k-core (max subgraph with all degrees ≥ k),
    with their within-core degree. Simultaneous-removal rounds."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        ids, core_deg, rounds = _kcore_broadcast(g, k)
        import pandas as pd

        pdf = pd.DataFrame({"id": ids, "core_deg": core_deg})
        df = upload_frame(g.spark, pdf, "id long, core_deg long")
        return KCoreResult(k=k, rounds=rounds, _df=df)
    df, rounds = _kcore_distributed(g, k)
    return KCoreResult(k=k, rounds=rounds, _df=df)


# ----------------------------------------------------------- onion layers
def peel_layers_numpy(
    src: np.ndarray, dst: np.ndarray, n: int, k: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Pure-NumPy onion layering of the k-core peel: vertices removed in
    simultaneous-removal round r get layer r (1-based); k-core survivors
    get layer 0. Same round semantics as :func:`peel_kcore_numpy`
    (a vertex whose last neighbor disappears is removed the FOLLOWING
    round, when its recomputed degree < k). Returns (ids over the
    initial peel domain, layers, rounds)."""
    deg = np.bincount(src, minlength=n)
    domain = deg > 0
    alive = domain.copy()
    layer = np.zeros(n, dtype=np.int64)
    rounds = 0
    while True:
        mask = alive[src] & alive[dst]
        deg = np.bincount(src[mask], minlength=n)
        bad = alive & (deg < k)
        if not bad.any():
            break
        rounds += 1
        layer[bad] = rounds
        alive &= ~bad
    ids = np.flatnonzero(domain)
    return ids.astype(np.int64), layer[ids], rounds


def _peel_layers_distributed(g: Graph, k: int) -> tuple[DataFrame, int]:
    # Rotates THREE checkpointed tables (edges / alive set / removed
    # accumulator); every new round's state is checkpointed BEFORE the
    # superseded blocks are freed (a freed localCheckpoint is
    # unrecoverable — see plans/checkpoint.py).
    with ckpt_scope(g.spark) as cs:
        edges = cs.ckpt(_sym_edges_df(g))
        alive = cs.ckpt(edges.select("src").distinct())
        removed: DataFrame | None = None
        rounds = 0
        while True:
            good = (
                edges.groupBy("src")
                .agg(F.count("*").alias("d"))
                .where(F.col("d") >= k)
                .select("src")
            )
            bad = alive.join(good, "src", "left_anti")
            if bad.isEmpty():
                out = alive.select(
                    F.col("src").alias("id"), F.lit(0).cast("long").alias("layer")
                )
                if removed is not None:
                    out = removed.unionAll(out)
                return cs.keep(cs.ckpt(out)), rounds
            rounds += 1
            step = bad.select(
                F.col("src").alias("id"),
                F.lit(rounds).cast("long").alias("layer"),
            )
            new_removed = cs.ckpt(step if removed is None else removed.unionAll(step))
            nxt = (
                edges.join(good, "src", "left_semi")
                .join(good.select(F.col("src").alias("dst")), "dst", "left_semi")
                .select("src", "dst")
            )
            nxt = cs.ckpt(nxt)
            new_alive = cs.ckpt(good)
            cs.free(edges, alive, removed)
            edges, alive, removed = nxt, new_alive, new_removed


def peel_layers(g: Graph, k: int, mode: str = "auto") -> tuple[DataFrame, int]:
    """Onion decomposition of the k-core peel (Hébert-Dufresne, Grochow
    & Allard 2016 use the same layering idea on the full degeneracy
    peel): ``(id, layer)`` for every vertex incident to ≥1 undirected
    simple edge — ``layer = r ≥ 1`` if the vertex is removed in
    simultaneous-removal round r of the k-core peel, ``layer = 0`` for
    k-core survivors. All-integer, so the DuckDB oracle unrolls the
    replay-computed round count and hash-checks exactly.

    Scale shape: identical to :func:`k_core`'s distributed peel (one
    map-side-combinable degree aggregation + two semi-joins per round),
    plus one shrinking removed-set union per round; the broadcast path
    is the NumPy peel under ``BROADCAST_MAX_EDGES``. Returns
    ``(df, rounds)``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        src, dst, n = _sym_arrays(g)
        ids, layers, rounds = peel_layers_numpy(src, dst, n, k)
        import pandas as pd

        pdf = pd.DataFrame({"id": ids, "layer": layers})
        return upload_frame(g.spark, pdf, "id long, layer long"), rounds
    return _peel_layers_distributed(g, k)


# --------------------------------------------------------- H-index coreness
def _hindex_segments(vals: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """H-index per segment of a DESC-sorted value array: with per-row
    position p (1-based within its segment), H = max over rows of
    min(p, val)."""
    idx = np.arange(len(vals), dtype=np.int64)
    pos = idx - np.repeat(seg_starts, np.diff(np.r_[seg_starts, len(vals)])) + 1
    m = np.minimum(pos, vals)
    return np.maximum.reduceat(m, seg_starts)


def hindex_coreness_numpy(
    src: np.ndarray, dst: np.ndarray, n: int
) -> tuple[np.ndarray, int]:
    """Pure-NumPy H-index iteration on a SYMMETRIZED edge list.
    Returns (coreness per vertex, rounds incl. the fixpoint-verifying
    one). Shared by the broadcast path and the oracle round replay."""
    if len(src) == 0:
        return np.zeros(n, dtype=np.int64), 1
    c = np.bincount(dst, minlength=n).astype(np.int64)  # degree
    rounds = 0
    while True:
        vals = c[src]
        order = np.lexsort((-vals, dst))
        d_s, v_s = dst[order], vals[order]
        starts = np.flatnonzero(np.r_[True, d_s[1:] != d_s[:-1]])
        h = _hindex_segments(v_s, starts)
        nc = np.zeros(n, dtype=np.int64)
        nc[d_s[starts]] = h
        rounds += 1
        if np.array_equal(nc, c):
            break
        c = nc
    return c, rounds


def _coreness_broadcast(g: Graph) -> tuple[np.ndarray, int]:
    src, dst, n = _sym_arrays(g)
    return hindex_coreness_numpy(src, dst, n)


def _coreness_distributed(g: Graph) -> tuple[DataFrame, int]:
    with ckpt_scope(g.spark) as cs:
        edges = cs.ckpt(_sym_edges_df(g))
        verts = g.vertices
        deg = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("c"))
        c = verts.join(deg, "id", "left").select(
            "id", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
        c = cs.ckpt(c)
        w = Window.partitionBy("dst").orderBy(F.col("c").desc())
        rounds = 0
        while True:
            pulled = (
                edges.alias("e")
                .join(c.alias("s"), F.col("s.id") == F.col("e.src"))
                .select(F.col("e.dst").alias("dst"), F.col("s.c").alias("c"))
            )
            h = (
                pulled.withColumn("rn", F.row_number().over(w))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max(F.least(F.col("rn"), F.col("c"))).alias("h"))
            )
            nc = verts.join(h, "id", "left").select(
                "id", F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("c")
            )
            nc = cs.ckpt(nc)
            rounds += 1
            changed = (
                nc.alias("n")
                .join(c.alias("o"), F.col("n.id") == F.col("o.id"))
                .where(F.col("n.c") != F.col("o.c"))
                .isEmpty()
            )
            cs.free(c)
            c = nc
            if changed:
                break
        return cs.keep(c.select("id", F.col("c").alias("core"))), rounds


def core_numbers(g: Graph, mode: str = "auto") -> CorenessResult:
    """Coreness of every vertex via the H-index iteration (converges to
    the k-core decomposition; isolated vertices get 0)."""
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        c, rounds = _coreness_broadcast(g)
        import pandas as pd

        df = upload_frame(
            g.spark,
            pd.DataFrame({"id": np.arange(len(c), dtype=np.int64), "core": c}),
            "id long, core long",
        )
        return CorenessResult(rounds=rounds, _df=df)
    df, rounds = _coreness_distributed(g)
    return CorenessResult(rounds=rounds, _df=df)
