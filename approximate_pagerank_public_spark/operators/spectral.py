"""Spectral embedding: the second eigenvector of the normalized adjacency.

Deflated power iteration for the Fiedler-style direction that drives
spectral bisection/clustering (Shi & Malik 2000; Ng-Jordan-Weiss 2001):
for the symmetric normalized adjacency ``P = D^{-1/2} A D^{-1/2}`` the
dominant eigenvector is known in closed form — ``u_i = sqrt(d_i)``
(eigenvalue 1) — so the second eigenvector is the dominant direction of
the u-deflated operator, and plain power iteration with an analytic
deflation finds it without ever computing eigen-decompositions:

    proj_k = (Σ u_i x_i) / (2m)          # uᵀx / uᵀu; uᵀu = Σd = 2m exact
    y      = x − proj_k · u              # deflate
    z_i    = Σ_{j∈N(i)} y_j / (u_i·u_j)  # P·y, one edge aggregation
    x'     = z / sqrt(Σ z²)              # normalize

Cross-engine determinism (the `_pagerank_fixed_oracle` discipline): the
degrees are exact integers, every ``sqrt`` is correctly rounded IEEE,
``uᵀu = 2m`` is an exact BIGINT, each iteration's only unordered float
reductions are single aggregates (ulp noise well under the contract's
1e-6 truncation), and every projection is association-pinned
(``x - (proj * u)``, ``y / (u_i * u_j)``, ``z / n``). The start vector
is integer-hash pseudo-random (``(id·2654435761 mod 1000003)/1000003 −
0.5``) — exact integer arithmetic, no libm, no RNG state.

The sign of the result is NOT an eigen-ambiguity here: the algorithm
(fixed start, fixed iteration count) is the specification, and both
engines replay it verbatim.

Scale shape: one vertex-sized map + one edge-list aggregation + two
scalar reductions per iteration — identical to a PageRank superstep;
state rotates through a ``ckpt_scope`` (the leak rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoint import ckpt_scope


def normalized_fiedler(
    edges: DataFrame,
    iters: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``(id, f)`` — the deflated-power-iteration estimate of the
    normalized adjacency's second eigenvector after ``iters`` rounds,
    over the undirected simple graph of ``edges``."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    spark = edges.sparkSession
    with ckpt_scope(spark) as cs:
        e = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct()
        sym = (
            e.select(F.col("src").alias("j"), F.col("dst").alias("i"))
            .union(e.select(F.col("dst").alias("j"), F.col("src").alias("i")))
            .distinct()
        )
        # materialize the loop-invariant relations ONCE — without this every
        # iteration's jobs recompute the distinct/groupBy from the raw edges
        # (no cross-job shuffle reuse for fresh DataFrame plans)
        sym = cs.ckpt(sym)
        deg = sym.groupBy("i").agg(F.count("*").alias("d"))
        # u_i = sqrt(d_i); uᵀu = Σd = 2m (exact integer)
        u = deg.select(
            F.col("i").alias("id"),
            F.sqrt(F.col("d").cast("double")).alias("u"),
        )
        u = cs.ckpt(u)
        m2 = deg.agg(F.sum("d")).collect()[0][0]
        x = u.select(
            "id",
            (
                (F.col("id") * F.lit(2654435761) % F.lit(1000003)).cast("double")
                / F.lit(1000003.0)
                - F.lit(0.5)
            ).alias("x"),
        )
        x = cs.ckpt(x)
        uj = u.select(F.col("id").alias("j"), F.col("u").alias("uj"))
        ui = u.select(F.col("id").alias("i"), F.col("u").alias("ui"))
        for _ in range(iters):
            xu = x.join(u, "id")
            proj = (
                xu.agg(F.sum(F.col("x") * F.col("u"))).collect()[0][0] or 0.0
            ) / float(m2)
            y = xu.select(
                "id", (F.col("x") - (F.lit(proj) * F.col("u"))).alias("y")
            )
            z = (
                sym.join(y.select(F.col("id").alias("j"), "y"), "j")
                .join(uj, "j")
                .join(ui, "i")
                .select(
                    F.col("i").alias("id"),
                    (F.col("y") / (F.col("ui") * F.col("uj"))).alias("t"),
                )
                .groupBy("id")
                .agg(F.sum("t").alias("z"))
            )
            nxt_raw = u.select("id").join(z, "id", "left").select(
                "id", F.coalesce(F.col("z"), F.lit(0.0)).alias("z")
            )
            nxt_raw = cs.ckpt(nxt_raw)
            n = nxt_raw.agg(F.sqrt(F.sum(F.col("z") * F.col("z")))).collect()[0][0]
            n = n if n else 1.0
            nxt = nxt_raw.select("id", (F.col("z") / F.lit(n)).alias("x"))
            nxt = cs.ckpt(nxt)
            cs.free(x, nxt_raw)
            x = nxt
        return cs.keep(x.select("id", F.col("x").alias("f")))
