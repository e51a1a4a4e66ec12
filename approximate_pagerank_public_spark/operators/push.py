"""Forward-push approximate personalized PageRank (local push).

The reference repo's whole premise is APPROXIMATE PageRank — it trades
exactness for throughput via fixed-point quantization and early
termination (``src/fpga/src/approximate_pagerank.cpp``, options.hpp
iteration budget). This operator adds the third classic approximation
axis the literature pairs with those two: Andersen–Chung–Lang forward
push ("Local Graph Partitioning using PageRank Vectors", FOCS 2006) —
work proportional to the mass that actually moves, not to |E|·iters.

Semantics (synchronous-rounds variant, deterministic and therefore
SQL-oracle-replayable — the sequential one-vertex-at-a-time textbook
push has an arbitrary work-queue order):

- state: per-vertex approximation ``p`` and residual ``r``;
  ``p_0 = 0``, ``r_0 = e_source``.
- round ``t``: ``active = { u : r_t(u) > eps * max(outdeg(u), 1) }``.
  Every active vertex pushes simultaneously:

  - ``p_{t+1}(u) = p_t(u) + (1 - alpha) * r_t(u)``  (teleport take;
    ``alpha`` is the DAMPING factor, 0.8 throughout the reference)
  - each out-neighbor ``v`` receives ``alpha * r_t(u) * w(u,v)`` with
    ``w = 1/outdeg`` (the Graph's edge weight), i.e. the pushed mass
    ``alpha * r_t(u)`` splits along out-edges;
  - a DANGLING active vertex has nowhere to push: its retained mass
    ``alpha * r_t(u)`` returns to the source (the dangling→source
    chain of the personalized random walk), so
    ``sum(p) + sum(r) == 1`` holds exactly at every round.

- stop when no vertex is active (or ``max_rounds``).

Termination invariant (ACL): at convergence ``r(u) <= eps*outdeg(u)``
for all ``u``, and ``exact_ppr - p = sum_u r(u) * ppr_u`` — elementwise
in ``[0, sum(r)]`` — where ``exact_ppr`` is the PPR of the same
dangling→source chain. Tests assert the sandwich and that eps→0
recovers the exact vector.

Execution paths (the ``operators/pagerank.py`` cutover idiom):

- ``mode='broadcast'`` — driver NumPy COO loop (vectorized masks); the
  single-host fast path.
- ``mode='distributed'`` — per-round: filter active, one |active-src|
  edge join + map-side-combinable hash agg, full-vertex left join to
  rebuild state, checkpoint-scope rotation. State never leaves the
  cluster, and per-round shuffle volume is proportional to the moving
  mass (out-edges of ACTIVE vertices only) — exactly the property that
  makes push the 100-TB-friendly way to answer single-source PPR
  without an all-graph superstep loop.
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
class PushResult:
    rounds: int
    converged: bool
    _df: DataFrame

    def state(self) -> DataFrame:
        """(id, p, r) — approximation and residual per vertex."""
        return self._df


def _push_broadcast(
    g: Graph, source: int, alpha: float, eps: float, max_rounds: int
) -> tuple[DataFrame, int, bool]:
    src, dst, w = g.edges_numpy()
    n = g.num_vertices
    outdeg = np.zeros(n, dtype=np.int64)
    np.add.at(outdeg, src, 1)
    thresh = eps * np.maximum(outdeg, 1)
    dangling = outdeg == 0

    p = np.zeros(n, dtype=np.float64)
    r = np.zeros(n, dtype=np.float64)
    r[source] = 1.0
    rounds, converged = 0, False
    for rounds in range(1, max_rounds + 1):
        mask = r > thresh
        if not mask.any():
            rounds -= 1
            converged = True
            break
        p = p + (1.0 - alpha) * r * mask
        sel = mask[src]
        pushed = np.zeros(n, dtype=np.float64)
        # same association as the SQL oracle: alpha * r[u] * w, summed
        # per dst (order drift absorbed by the 1e-6 truncation)
        np.add.at(pushed, dst[sel], alpha * r[src[sel]] * w[sel])
        r_new = pushed + r * ~mask
        r_new[source] += alpha * float(r[mask & dangling].sum())
        r = r_new
    else:
        converged = not (r > thresh).any()

    import pandas as pd

    df = upload_frame(
        g.spark,
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "p": p, "r": r}),
        "id long, p double, r double",
    )
    return df, rounds, converged


def _push_distributed(
    g: Graph, source: int, alpha: float, eps: float, max_rounds: int
) -> tuple[DataFrame, int, bool]:
    verts = g.vertices
    # (id, thresh, dangling) — static per run; computed once, checkpointed
    with ckpt_scope(g.spark) as cs:
        deg = g.out_degrees()
        props = verts.join(deg, "id", "left").select(
            "id",
            (
                F.lit(float(eps))
                * F.greatest(F.coalesce("outdeg", F.lit(0)), F.lit(1)).cast("double")
            ).alias("thresh"),
            F.col("outdeg").isNull().alias("dangling"),
        )
        props = cs.ckpt(props)

        state = props.select(
            "id",
            F.lit(0.0).alias("p"),
            F.when(F.col("id") == source, 1.0).otherwise(0.0).alias("r"),
            "thresh",
            "dangling",
        )
        state = cs.ckpt(state)
        edges = g.edges.select("src", "dst", "weight")
        rounds, converged = 0, False
        for rounds in range(1, max_rounds + 1):
            active = state.where(F.col("r") > F.col("thresh"))
            n_active, dang_mass = active.agg(
                F.count("*"),
                F.coalesce(F.sum(F.when(F.col("dangling"), F.col("r"))), F.lit(0.0)),
            ).first()
            if n_active == 0:
                rounds -= 1
                converged = True
                break
            pushed = (
                edges.join(
                    active.select(F.col("id").alias("src"), F.col("r").alias("ar")),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.lit(float(alpha)) * F.col("ar") * F.col("weight")).alias("m"))
            )
            nxt = (
                state.join(pushed, "id", "left")
                .select(
                    "id",
                    (
                        F.col("p")
                        + F.when(
                            F.col("r") > F.col("thresh"),
                            F.lit(1.0 - alpha) * F.col("r"),
                        ).otherwise(0.0)
                    ).alias("p"),
                    (
                        F.coalesce("m", F.lit(0.0))
                        + F.when(F.col("r") > F.col("thresh"), 0.0).otherwise(F.col("r"))
                        + F.when(
                            F.col("id") == source,
                            F.lit(float(alpha)) * F.lit(float(dang_mass)),
                        ).otherwise(0.0)
                    ).alias("r"),
                    "thresh",
                    "dangling",
                )
            )
            nxt = cs.ckpt(nxt)
            cs.free(state)
            state = nxt
        else:
            converged = state.where(F.col("r") > F.col("thresh")).count() == 0
        return cs.keep(state.select("id", "p", "r")), rounds, converged


def approx_ppr_push(
    g: Graph,
    source: int,
    alpha: float = 0.8,
    eps: float = 1e-5,
    max_rounds: int = 200,
    mode: str = "auto",
) -> PushResult:
    """Approximate single-source PPR by synchronous forward push. See
    module docstring for semantics and the approximation guarantee."""
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        df, rounds, converged = _push_broadcast(g, source, alpha, eps, max_rounds)
    else:
        df, rounds, converged = _push_distributed(g, source, alpha, eps, max_rounds)
    return PushResult(rounds=rounds, converged=converged, _df=df)


def sweep_cut(
    g: Graph, state: DataFrame, k_max: int = 30
) -> DataFrame:
    """PageRank-Nibble sweep (Andersen–Chung–Lang 2006): order the
    push approximation's support by ``p/deg`` descending (p TRUNCATED
    to 1e-6 first so the order is engine-independent; ties → smaller
    id) over the SYMMETRIZED simple graph, then for every prefix
    ``S_k`` report the exact integer cut and volume plus the
    conductance ``phi = cut / min(vol, 2m − vol)`` in micro-units.
    The best prefix is the certified local cluster around the seed.

    Scale shape: the sweep only ever touches the push's support
    (O(1/eps) vertices regardless of graph size — that is the point of
    Nibble), so the ranking window is support-sized; the cut counts
    come from ONE pass over the edges incident to the top-k support
    (a broadcastable rank join), never the full edge set.

    ``state`` must expose ``(id, p)`` (raw or truncated)."""
    from pyspark.sql.window import Window

    from approximate_pagerank_public_spark.operators.triangles import (
        canonical_edges,
    )

    e = canonical_edges(g)
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    p6 = F.floor(F.col("p") * F.lit(1e6)) / F.lit(1e6)
    cand = (
        state.where(F.col("p") > 0)
        .join(deg, "id")
        .select("id", "deg", (p6 / F.col("deg")).alias("ratio"))
    )
    w_ = Window.orderBy(F.col("ratio").desc(), F.col("id").asc())
    ranked = cand.select(
        "id", "deg", F.row_number().over(w_).alias("rnk")
    ).where(F.col("rnk") <= k_max)
    two_m = e.count() * 2
    ra = ranked.select(F.col("id").alias("u"), F.col("rnk").alias("ru"))
    rb = ranked.select(F.col("id").alias("v"), F.col("rnk").alias("rv"))
    big = k_max + 1
    spans = (
        e.join(F.broadcast(ra), "u", "left")
        .join(F.broadcast(rb), "v", "left")
        .select(
            F.least(
                F.coalesce("ru", F.lit(big)), F.coalesce("rv", F.lit(big))
            ).alias("lo"),
            F.greatest(
                F.coalesce("ru", F.lit(big)), F.coalesce("rv", F.lit(big))
            ).alias("hi"),
        )
        .where(F.col("lo") <= k_max)
    )
    ks = g.spark.range(1, k_max + 1).select(F.col("id").alias("k"))
    cuts = (
        ks.join(
            spans,
            (F.col("lo") <= F.col("k")) & (F.col("k") < F.col("hi")),
            "left",
        )
        .groupBy("k")
        .agg(F.count("lo").alias("cut_edges"))
    )
    wv = Window.orderBy("rnk")
    vols = ranked.select(
        F.col("rnk").alias("k"), F.sum("deg").over(wv).alias("vol")
    )
    phi = F.col("cut_edges").cast("double") / F.least(
        F.col("vol"), F.lit(two_m) - F.col("vol")
    ).cast("double")
    return (
        vols.join(cuts, "k")
        .where(F.col("vol") < F.lit(two_m))
        .select(
            "k",
            F.col("cut_edges").cast("long"),
            F.col("vol").cast("long"),
            (F.floor(phi * F.lit(1e6)) / F.lit(1e6)).alias("phi_micro"),
        )
    )
