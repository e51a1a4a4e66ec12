"""HITS (hubs & authorities) over the link graph.

The reference ships PageRank-family ranking only, but its PGX harness
(the CPU baseline the paper compares against, ``results.txt``) exposes
HITS as the sibling link-analysis kernel; the engine adds it on the same
dual-path infrastructure as PageRank so rankings beyond the
random-surfer model are first-class:

- iteration ``k``:  ``a = A^T h`` then L2-normalize, ``h = A a`` then
  L2-normalize (Kleinberg's power iteration, unweighted adjacency);
- fp association is pinned on both paths — raw per-vertex sums first,
  THEN one global ``sqrt(sum(s^2))``, THEN the division — so the
  DuckDB unrolled-CTE oracle replays it after 1e-6 truncation.

Execution paths (same cutover idiom as ``operators/pagerank.py``):

- ``mode='broadcast'`` — edge arrays cached on the driver once
  (Arrow collect), per-iteration ``np.add.at`` scatter over COO; O(E)
  driver memory, the single-host fast path.
- ``mode='distributed'`` — per-half-step |E|-row join + hash agg with
  checkpoint-scope lineage truncation; vertex state and edges never leave
  the cluster. This is the 100-TB path: both half-steps shuffle on the
  grouping key only (partial aggregation is map-side), and the L2 norm
  is a scalar agg, not a collect of state.
- ``mode='auto'`` picks by ``num_edges`` (driver collect is the only
  broadcast-path scale limit).

Parity between the two paths is asserted by ``tests/test_hits.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import edges_fit, resolve_mode
from approximate_pagerank_public_spark.session import upload_frame


@dataclass
class HitsResult:
    iterations: int
    _df: DataFrame

    def scores(self) -> DataFrame:
        """(id, hub, authority) — unnormalized beyond the final L2 step."""
        return self._df


def _l2(x: np.ndarray) -> float:
    n = float(np.sqrt(np.dot(x, x)))
    return n if n > 0.0 else 1.0


def _hits_broadcast(g: Graph, max_iter: int) -> DataFrame:
    src, dst, _w = g.edges_numpy()
    n = g.num_vertices
    h = np.ones(n, dtype=np.float64)
    a = np.zeros(n, dtype=np.float64)
    for _ in range(max_iter):
        a.fill(0.0)
        np.add.at(a, dst, h[src])
        a /= _l2(a)
        h.fill(0.0)
        np.add.at(h, src, a[dst])
        h /= _l2(h)
    pdf = {
        "id": np.arange(n, dtype=np.int64),
        "hub": h,
        "authority": a,
    }
    import pandas as pd

    return upload_frame(
        g.spark,
        pd.DataFrame(pdf), "id long, hub double, authority double"
    )


def _half_step(
    edges: DataFrame,
    verts: DataFrame,
    state: DataFrame,
    join_key: str,
    group_key: str,
) -> DataFrame:
    """One normalized half-step: group ``state`` pulled across edges by
    ``group_key``, L2-normalize. Raw sums keep map-side partial agg;
    the norm is a 1-row scalar agg (no state collect)."""
    raw = (
        edges.join(state, F.col(join_key) == state["id"])
        .groupBy(F.col(group_key).alias("gid"))
        .agg(F.sum("s").alias("raw"))
    )
    norm_row = raw.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("n")).first()
    norm = float(norm_row["n"] or 0.0) or 1.0
    return verts.join(raw, verts["id"] == raw["gid"], "left").select(
        verts["id"], (F.coalesce(F.col("raw"), F.lit(0.0)) / F.lit(norm)).alias("s")
    )


def _hits_distributed(g: Graph, max_iter: int) -> DataFrame:
    edges = g.edges.select("src", "dst")
    verts = g.vertices
    with ckpt_scope(g.spark) as cs:
        h = cs.ckpt(verts.select("id", F.lit(1.0).alias("s")))
        a = None
        for _ in range(max_iter):
            a_new = cs.ckpt(_half_step(edges, verts, h, "src", "dst"))
            cs.free(a)
            a = a_new
            h_new = cs.ckpt(_half_step(edges, verts, a, "dst", "src"))
            cs.free(h)
            h = h_new
        return cs.keep(
            h.select("id", F.col("s").alias("hub"))
            .join(a.select("id", F.col("s").alias("authority")), "id")
            .select("id", "hub", "authority")
        )


def hits(g: Graph, max_iter: int = 8, mode: str = "auto") -> HitsResult:
    """Kleinberg HITS, fixed ``max_iter`` power iterations (the same
    iteration-budget approximation knob as the reference's PageRank,
    ``options.hpp:20``)."""
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        df = _hits_broadcast(g, max_iter)
    else:
        df = _hits_distributed(g, max_iter)
    return HitsResult(iterations=max_iter, _df=df)


def eigenvector_centrality(
    g: Graph, max_iter: int = 8, mode: str = "auto"
) -> DataFrame:
    """``(id, eig)`` — principal-eigenvector centrality of the in-edge
    adjacency by truncated power iteration: ``x_{t+1} = A^T x_t``,
    L2-normalized each step, ``x_0 = 1`` (PGX exposes it alongside
    pagerank/HITS; it is HITS's authority chain without the hub
    interleave). Fixed iteration budget like ``pagerank_fixed8``; fp
    association pinned exactly as ``hits`` (raw per-vertex sums → ONE
    global ``sqrt(sum(raw²))`` → divide, zero norm → 1.0) so the DuckDB
    unrolled-CTE oracle replays it after 1e-6 truncation.

    ``broadcast`` = driver NumPy COO loop below ``BROADCAST_MAX_EDGES``;
    ``distributed`` = the per-iteration join + hash-agg twin
    (``_half_step``) with checkpoint-scope rotation — state never leaves
    the cluster, both half-step shuffles are map-side-combinable.
    """
    spark = g.spark
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        src, dst, _w = g.edges_numpy()
        n = g.num_vertices
        x = np.ones(n, dtype=np.float64)
        for _ in range(max_iter):
            s = np.zeros(n, dtype=np.float64)
            np.add.at(s, dst, x[src])
            s /= _l2(s)
            x = s
        import pandas as pd

        return upload_frame(
            spark,
            pd.DataFrame({"id": np.arange(n, dtype=np.int64), "eig": x}),
            "id long, eig double",
        )
    edges = g.edges.select("src", "dst")
    verts = g.vertices
    with ckpt_scope(spark) as cs:
        x = cs.ckpt(verts.select("id", F.lit(1.0).alias("s")))
        for _ in range(max_iter):
            nxt = cs.ckpt(_half_step(edges, verts, x, "src", "dst"))
            cs.free(x)
            x = nxt
        return cs.keep(x.select("id", F.col("s").alias("eig")))


def katz_centrality(
    g: Graph, beta: float = 0.05, max_iter: int = 8, mode: str = "auto"
) -> DataFrame:
    """``(id, katz)`` — Katz (1953) centrality by truncated power
    iteration: ``x_{t+1}(v) = 1 + β · Σ_{u→v} x_t(u)``, ``x_0 = 1`` —
    after k iterations ``x = Σ_{j≤k} β^j · paths_j`` (the attenuated
    path-count series PGX's spectral family exposes alongside
    pagerank/HITS). Fixed iteration budget like the reference's
    ``pagerank_fixed8`` protocol; the DuckDB oracle unrolls the same
    CTE chain and 1e-6 truncation absorbs per-dst sum-order drift (the
    ``pagerank_fixed8`` discipline).

    ``broadcast`` runs the NumPy COO loop on the collected edge arrays
    below ``BROADCAST_MAX_EDGES``; ``distributed`` is the per-iteration
    join + hash-agg twin with checkpoint-scope rotation (bit-parity
    tested). β must stay below 1/λ_max for the series to mean anything;
    the truncated iteration is defined (and replayable) for any β.
    """
    spark = g.spark
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        src, dst, _w = g.edges_numpy()
        n = g.num_vertices
        x = np.ones(n, dtype=np.float64)
        for _ in range(max_iter):
            # same association as the distributed twin: 1 + β·(Σ x_u)
            s = np.zeros(n, dtype=np.float64)
            np.add.at(s, dst, x[src])
            x = 1.0 + beta * s
        import pandas as pd

        return upload_frame(
            spark,
            pd.DataFrame({"id": np.arange(n, dtype=np.int64), "katz": x}),
            "id long, katz double",
        )
    verts = g.vertices.select("id")
    x = verts.select("id", F.lit(1.0).alias("x"))
    with ckpt_scope(spark) as cs:
        for t in range(max_iter):
            contrib = (
                g.edges.select("src", "dst")
                .join(x.select(F.col("id").alias("src"), "x"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("x").alias("s"))
            )
            nxt = verts.join(contrib, "id", "left").select(
                "id",
                (F.lit(1.0) + F.lit(float(beta)) * F.coalesce("s", F.lit(0.0))).alias("x"),
            )
            nxt = cs.ckpt(nxt)
            cs.free(x)
            x = nxt
        return cs.keep(x.select("id", F.col("x").alias("katz")))


def salsa(g: Graph, max_iter: int = 8, mode: str = "auto") -> DataFrame:
    """``(id, hub, authority)`` — SALSA (Lempel & Moran 2000), the
    stochastic sibling of HITS and the ranking behind large-scale
    who-to-follow recommenders: instead of HITS's unnormalized
    adjacency products, both half-steps are random-walk (stochastic)
    transitions on the bipartite hub/authority decomposition,

        a_t(j) = Σ_{i→j} h_{t-1}(i) / outdeg(i)
        h_t(i) = Σ_{i→j} a_t(j)   / indeg(j)

    with ``h_0 = 1`` on every hub (outdeg > 0). No per-step
    normalization is needed — both transitions preserve the L1 mass
    exactly (every hub's mass splits over its out-edges, every
    authority's over its in-edges), which is what makes SALSA robust to
    the tightly-knit-community effect that inflates HITS. Vertices
    outside the hub (resp. authority) side report 0.

    fp discipline: the division happens once per VERTEX
    (``s/deg`` before the edge scatter), then per-group raw sums — the
    pagerank/hits association pattern, so the DuckDB unrolled-CTE
    oracle replays it after 1e-6 truncation. Fixed ``max_iter`` budget
    (the reference's ``pagerank_fixed8`` protocol).

    ``broadcast`` = driver NumPy COO loop below ``BROADCAST_MAX_EDGES``;
    ``distributed`` = per-half-step |E|-row join + map-side-combinable
    hash agg with checkpoint-scope rotation — state never leaves the
    cluster, and both degree tables are O(V) side inputs computed once.
    """
    spark = g.spark
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        src, dst, _w = g.edges_numpy()
        n = g.num_vertices
        outdeg = np.zeros(n, dtype=np.float64)
        np.add.at(outdeg, src, 1.0)
        indeg = np.zeros(n, dtype=np.float64)
        np.add.at(indeg, dst, 1.0)
        od = np.maximum(outdeg, 1.0)
        idg = np.maximum(indeg, 1.0)
        h = (outdeg > 0).astype(np.float64)
        a = np.zeros(n, dtype=np.float64)
        for _ in range(max_iter):
            hc = h / od  # one division per vertex, before the scatter
            a.fill(0.0)
            np.add.at(a, dst, hc[src])
            ac = a / idg
            h.fill(0.0)
            np.add.at(h, src, ac[dst])
        import pandas as pd

        return upload_frame(
            spark,
            pd.DataFrame(
                {"id": np.arange(n, dtype=np.int64), "hub": h, "authority": a}
            ),
            "id long, hub double, authority double",
        )
    edges = g.edges.select("src", "dst")
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("d")
    )
    indeg = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("d"))
    with ckpt_scope(spark) as cs:
        h = cs.ckpt(outdeg.select("id", F.lit(1.0).alias("s")))
        a = None
        for _ in range(max_iter):
            hc = h.join(outdeg, "id").select(
                "id", (F.col("s") / F.col("d").cast("double")).alias("c")
            )
            a_new = (
                edges.join(hc.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("c").alias("s"))
            )
            a_new = cs.ckpt(a_new)
            cs.free(a)
            a = a_new
            ac = a.join(indeg, "id").select(
                "id", (F.col("s") / F.col("d").cast("double")).alias("c")
            )
            h_new = (
                edges.join(ac.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("c").alias("s"))
            )
            h_new = cs.ckpt(h_new)
            cs.free(h)
            h = h_new
        verts = g.vertices.select("id")
        return cs.keep(
            verts.join(h.withColumnRenamed("s", "hub"), "id", "left")
            .join(a.withColumnRenamed("s", "authority"), "id", "left")
            .select(
                "id",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
        )
