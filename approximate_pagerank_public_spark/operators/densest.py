"""Approximate densest subgraph via greedy peeling (Bahmani et al.).

``densest_subgraph(g)`` runs the MapReduce-friendly 2(1+eps)-approximation
of Bahmani, Kumar & Vassilvitskii, "Densest Subgraph in Streaming and
MapReduce" (PVLDB 2012): starting from the whole (undirected, simple)
vertex set, each round SIMULTANEOUSLY removes every vertex whose current
degree is at most ``2*(1+eps)`` times the current density ``e_r/v_r``,
and the answer is the round-start subgraph of maximum density seen.

Everything is exact integer arithmetic so the DuckDB oracle can unroll
the rounds verbatim: with ``1+eps = 9/8`` fixed, the removal test
``deg <= 2*(9/8)*(e_r/v_r)`` is phrased as ``4*deg*v_r <= 9*e_r`` and
density comparisons across rounds as the cross-multiplication
``e_r*best_v > best_e*v_r`` (strict, so the EARLIEST max-density round
wins ties). Average degree is ``2*e/v < (9/4)*e/v``, so at least one
vertex is removed every round while edges remain — the loop terminates
in O(log_{9/8} n) rounds with a guaranteed 2(1+eps)-approximation.

Dual execution paths in the repo's standard idiom:

- broadcast (<= ``BROADCAST_MAX_EDGES``): one Arrow collect of the
  canonical edge list, NumPy rounds on the driver
  (``peel_densest_numpy`` — also the oracle's round/best replay).
- distributed: per round ONE action (count + sum-of-degrees off a
  localCheckpointed alive-vertices-with-degree table — ``sum(c)/2`` is
  the edge count, so v_r and e_r come from a single aggregate), then
  the removal filter and two anti-joins to shrink the edge table.
  Per-round work is O(|E_r|) shuffle on a geometrically shrinking edge
  set; state rotates through a checkpoint scope (the output unions the
  per-round removed sets, so the scope keeps their checkpoints).

At 100 TB the plan is the published MapReduce algorithm itself:
O(log n) rounds of degree-count + filter, no per-vertex driver state
beyond two scalars per round.

Reference scope note: the reference engine (approximate-pagerank-public)
ships ranking kernels only; densest-subgraph is the standard companion
primitive for web-graph cleaning / community seeding at scale, added on
the engine's own dual-path idiom.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators.triangles import canonical_edges
from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import edges_fit, resolve_mode
from approximate_pagerank_public_spark.session import upload_frame

# threshold constant: remove iff 4*deg*v_r <= 9*e_r  (i.e. 1+eps = 9/8)
_NUM, _DEN = 9, 4


@dataclass
class DensestResult:
    rounds: int
    best_round: int
    best_vertices: int
    best_edges: int
    _df: DataFrame

    def memberships(self) -> DataFrame:
        """``(id, round_removed, in_densest)`` for every vertex with at
        least one undirected simple edge. ``in_densest = 1`` iff the
        vertex survives to the start of the max-density round."""
        return self._df


def peel_densest_numpy(
    u: np.ndarray, v: np.ndarray, n: int
) -> tuple[np.ndarray, int, int, int, int]:
    """Pure-NumPy peel on the CANONICAL (u < v, deduped) edge list.
    Returns ``(round_removed[n] (-1 = never entered), best_round,
    best_vertices, best_edges, rounds)``. Shared by the broadcast path
    and the oracle's round replay (``__spark_entry__``)."""
    alive = np.zeros(n, dtype=bool)
    alive[u] = True
    alive[v] = True
    rr = np.full(n, -1, dtype=np.int64)
    r = 0
    best_r, best_v, best_e = -1, 0, 0
    while True:
        mask = alive[u] & alive[v]
        e_r = int(mask.sum())
        v_r = int(alive.sum())
        if v_r == 0:
            break
        if best_r < 0 or e_r * best_v > best_e * v_r:
            best_r, best_v, best_e = r, v_r, e_r
        deg = np.bincount(u[mask], minlength=n) + np.bincount(
            v[mask], minlength=n
        )
        bad = alive & (_DEN * deg * v_r <= _NUM * e_r)
        rr[bad] = r
        alive &= ~bad
        r += 1
    return rr, best_r, best_v, best_e, r


def _densest_broadcast(g: Graph) -> DensestResult:
    import pandas as pd

    pdf = canonical_edges(g).toPandas()
    n = g.num_vertices
    u = pdf["u"].to_numpy(np.int64)
    v = pdf["v"].to_numpy(np.int64)
    rr, best_r, best_v, best_e, rounds = peel_densest_numpy(u, v, n)
    ids = np.flatnonzero(rr >= 0)
    df = upload_frame(
        g.spark,
        pd.DataFrame(
            {
                "id": ids,
                "round_removed": rr[ids],
                "in_densest": (rr[ids] >= best_r).astype(np.int32),
            }
        ),
        "id long, round_removed long, in_densest int",
    )
    return DensestResult(
        rounds=rounds,
        best_round=best_r,
        best_vertices=best_v,
        best_edges=best_e,
        _df=df,
    )


def _densest_distributed(g: Graph) -> DensestResult:
    with ckpt_scope(g.spark) as cs:
        edges = cs.ckpt(canonical_edges(g).select("u", "v"))
        removed: list[tuple[DataFrame, int]] = []
        r = 0
        best_r, best_v, best_e = -1, 0, 0
        alive: DataFrame | None = None
        while True:
            deg = (
                edges.select(F.col("u").alias("id"))
                .unionAll(edges.select(F.col("v").alias("id")))
                .groupBy("id")
                .agg(F.count("*").alias("c"))
            )
            if alive is None:  # round 0: the peel domain is deg's key set
                ad = deg
            else:
                ad = alive.join(deg, "id", "left").select(
                    "id", F.coalesce(F.col("c"), F.lit(0)).alias("c")
                )
            ad = cs.ckpt(ad)
            row = ad.agg(
                F.count("*").alias("vr"), F.sum("c").alias("sc")
            ).collect()[0]
            v_r = int(row["vr"])
            if v_r == 0:
                break
            e_r = int(row["sc"] or 0) // 2
            if best_r < 0 or e_r * best_v > best_e * v_r:
                best_r, best_v, best_e = r, v_r, e_r
            bad = ad.where(
                F.lit(_DEN) * F.col("c") * F.lit(v_r) <= F.lit(_NUM) * F.lit(e_r)
            ).select("id")
            bad = cs.ckpt(bad)
            removed.append((bad, r))
            nxt_alive = ad.select("id").join(bad, "id", "left_anti")
            nxt_edges = edges.join(
                bad.withColumnRenamed("id", "u"), "u", "left_anti"
            ).join(bad.withColumnRenamed("id", "v"), "v", "left_anti")
            nxt_alive = cs.ckpt(nxt_alive)
            nxt_edges = cs.ckpt(nxt_edges)
            cs.free(alive, edges, ad)
            alive, edges = nxt_alive, nxt_edges
            r += 1
        if not removed:
            out = upload_frame(
                g.spark, [], "id long, round_removed long, in_densest int"
            )
        else:
            parts = [
                b.select(
                    "id",
                    F.lit(rk).cast("long").alias("round_removed"),
                    F.lit(1 if rk >= best_r else 0).cast("int").alias(
                        "in_densest"
                    ),
                )
                for b, rk in removed
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            out = cs.ckpt(out)
        return DensestResult(
            rounds=r,
            best_round=best_r,
            best_vertices=best_v,
            best_edges=best_e,
            _df=cs.keep(out),
        )


def densest_subgraph(g: Graph, mode: str = "auto") -> DensestResult:
    """Greedy-peel densest subgraph (2(1+eps)-approx, 1+eps = 9/8)."""
    if resolve_mode(mode, edges_fit(g)) == "broadcast":
        return _densest_broadcast(g)
    return _densest_distributed(g)


# ------------------------------------------------------------------- oracle
def densest_oracle_sql(edges_sql: str, rounds: int, best_round: int) -> str:
    """Unrolled-CTE DuckDB replay of the peel: exactly ``rounds`` rounds
    (replayed by ``peel_densest_numpy`` over the oracle's own edge
    table), removal test ``4*deg*v_r <= 9*e_r`` verbatim, membership
    from the replayed ``best_round`` literal."""
    if rounds == 0:
        return (
            "SELECT CAST(NULL AS BIGINT) AS id, "
            "CAST(NULL AS BIGINT) AS round_removed, "
            "CAST(NULL AS INTEGER) AS in_densest WHERE FALSE"
        )
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}), ",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM e WHERE src <> dst), ",
        "a0 AS MATERIALIZED (SELECT u AS id FROM e0 "
        "UNION SELECT v AS id FROM e0), ",
    ]
    for t in range(rounds):
        parts.append(
            f"deg{t} AS MATERIALIZED (SELECT id, count(*) AS c FROM "
            f"(SELECT u AS id FROM e{t} UNION ALL SELECT v AS id FROM e{t}) "
            "GROUP BY id), "
        )
        parts.append(
            f"st{t} AS MATERIALIZED (SELECT "
            f"(SELECT count(*) FROM a{t}) AS vr, "
            f"(SELECT count(*) FROM e{t}) AS er), "
        )
        parts.append(
            f"bad{t} AS MATERIALIZED (SELECT a.id, {t} AS rr "
            f"FROM a{t} a LEFT JOIN deg{t} d USING (id) CROSS JOIN st{t} s "
            f"WHERE {_DEN} * coalesce(d.c, 0) * s.vr <= {_NUM} * s.er), "
        )
        parts.append(
            f"a{t+1} AS MATERIALIZED (SELECT id FROM a{t} "
            f"WHERE id NOT IN (SELECT id FROM bad{t})), "
        )
        parts.append(
            f"e{t+1} AS MATERIALIZED (SELECT e.u, e.v FROM e{t} e "
            f"JOIN a{t+1} x ON x.id = e.u JOIN a{t+1} y ON y.id = e.v), "
        )
    unions = " UNION ALL ".join(
        f"SELECT * FROM bad{t}" for t in range(rounds)
    )
    sql = "".join(parts).rstrip(", ")
    return (
        sql + f" SELECT id, CAST(rr AS BIGINT) AS round_removed, "
        f"CAST(CASE WHEN rr >= {best_round} THEN 1 ELSE 0 END AS INTEGER) "
        f"AS in_densest FROM ({unions})"
    )
