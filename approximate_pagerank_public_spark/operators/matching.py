"""Maximal matching over the undirected simple link graph —
deterministic local-minimum edge selection (the matching sibling of
``operators/mis.py``'s Luby MIS and ``coloring.py``'s Jones-Plassmann:
Israeli & Itai's classic round structure with the repo's standard
md5-priority determinism so the DuckDB oracle unrolls it verbatim).

Round: every edge gets the static priority ``h = md5("m:u:v")`` (60-bit,
collision-free total order). An edge is SELECTED iff its priority is
the minimum among the active edges at BOTH endpoints — a purely local,
symmetric test (two groupBy-min + two equi-joins; map-side combinable;
no hub neighborhood ever materializes in one task). Selected edges
join the matching; all edges incident to a newly matched vertex
deactivate. At least the globally-minimum active edge is selected
every round ⇒ termination; expected O(log E) rounds under the md5
order. Matched-vertex maximality is tested, and the SHRINKING
active-edge table rotates through a checkpoint scope (the coloring loop's
work-proportionality pattern — total edge work O(|E|·rounds) with the
table shrinking geometrically).

Uses: conversation/tool pairing, one-to-one dedup reconciliation, and
degree-constrained graph sparsification at corpus scale.
"""

from __future__ import annotations

import hashlib

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


def _prio_col():
    payload = F.concat_ws(
        ":", F.lit("m"), F.col("u").cast("string"), F.col("v").cast("string")
    )
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


# ----------------------------------------------------------------- broadcast
def edge_priorities_py(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Pure-Python md5 priorities (tests / small inputs) — the
    broadcast path collects JVM-computed priorities instead (a 2·10⁷-
    edge Python hash loop costs ~60 s; the JVM md5 is free in the
    collect)."""
    return np.array(
        [
            int(hashlib.md5(f"m:{a}:{b}".encode()).hexdigest()[:15], 16)
            for a, b in zip(u, v)
        ],
        dtype=np.int64,
    )


def matching_numpy(
    u: np.ndarray, v: np.ndarray, h: np.ndarray | None = None
) -> np.ndarray:
    """Boolean mask of matched edges — the NumPy twin of the
    distributed rounds (same md5 priorities, same local-min rule)."""
    if h is None:
        h = edge_priorities_py(u, v)
    active = np.ones(len(u), dtype=bool)
    chosen = np.zeros(len(u), dtype=bool)
    n = int(max(u.max(), v.max())) + 1 if len(u) else 0
    while active.any():
        big = np.iinfo(np.int64).max
        mn = np.full(n, big, dtype=np.int64)
        np.minimum.at(mn, u[active], h[active])
        np.minimum.at(mn, v[active], h[active])
        sel = active & (h == mn[u]) & (h == mn[v])
        if not sel.any():  # pragma: no cover — impossible (global min wins)
            break
        chosen |= sel
        matched = np.zeros(n, dtype=bool)
        matched[u[sel]] = True
        matched[v[sel]] = True
        active &= ~(matched[u] | matched[v])
    return chosen


# --------------------------------------------------------------- distributed
def _matching_distributed(g: Graph, max_rounds: int = 200) -> DataFrame:
    with ckpt_scope(g.spark) as cs:
        p = g.num_partitions
        e = canonical_edges(g).select("u", "v", _prio_col().alias("h"))
        active = cs.ckpt(e.repartition(p, "u"))
        matched: DataFrame | None = None
        for _ in range(max_rounds):
            if active.isEmpty():
                break
            sym = active.select(F.col("u").alias("x"), "h").unionByName(
                active.select(F.col("v").alias("x"), "h")
            )
            mins = sym.groupBy("x").agg(F.min("h").alias("mn"))
            sel = (
                active.join(
                    mins.select(F.col("x").alias("u"), F.col("mn").alias("mu")), "u"
                )
                .join(
                    mins.select(F.col("x").alias("v"), F.col("mn").alias("mv")), "v"
                )
                .where((F.col("h") == F.col("mu")) & (F.col("h") == F.col("mv")))
                .select("u", "v")
            )
            nm = sel if matched is None else matched.unionByName(sel)
            nm = cs.ckpt(nm)
            cs.free(matched)
            matched = nm
            mv = sel.select(F.col("u").alias("x")).unionByName(
                sel.select(F.col("v").alias("x"))
            )
            nxt = cs.ckpt(
                active.join(mv.withColumnRenamed("x", "u"), "u", "left_anti")
                .join(mv.withColumnRenamed("x", "v"), "v", "left_anti")
                .select("u", "v", "h")
                .repartition(p, "u")
            )
            cs.free(active)
            active = nxt
        if matched is None:
            return upload_frame(g.spark, [], "u long, v long")
        return cs.keep(matched.select("u", "v"))


def maximal_matching(g: Graph, mode: str = "auto") -> DataFrame:
    """``(u, v)`` — the deterministic maximal matching (each vertex in
    ≤ 1 edge; no remaining edge has both endpoints free)."""
    if resolve_mode(mode, edges_fit(g)) == "distributed":
        return _matching_distributed(g)
    pdf = canonical_edges(g).select("u", "v", _prio_col().alias("h")).toPandas()
    import pandas as pd

    u = pdf["u"].to_numpy(np.int64)
    v = pdf["v"].to_numpy(np.int64)
    keep = matching_numpy(u, v, pdf["h"].to_numpy(np.int64))
    return upload_frame(
        g.spark, pd.DataFrame({"u": u[keep], "v": v[keep]}), "u long, v long"
    )


# ------------------------------------------------------------------- oracle
def matching_oracle_sql(edges_sql: str, rounds: int) -> str:
    """Unrolled replay: same md5 priorities, same two-sided local-min
    selection, same deactivation — idempotent once the active set is
    empty, so ``rounds`` just needs to cover the gate graph."""
    prio = (
        "CAST('0x' || substr(md5('m:' || CAST(u AS VARCHAR) || ':' || "
        "CAST(v AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}))",
        "a0 AS MATERIALIZED (SELECT u, v, "
        f"{prio} AS h FROM "
        "(SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v "
        "FROM e WHERE src <> dst) t)",
    ]
    for r in range(rounds):
        parts.append(
            f"s{r} AS (SELECT u AS x, h FROM a{r} "
            f"UNION ALL SELECT v AS x, h FROM a{r})"
        )
        parts.append(
            f"mn{r} AS (SELECT x, min(h) AS mn FROM s{r} GROUP BY x)"
        )
        parts.append(
            f"ch{r} AS (SELECT a.u, a.v FROM a{r} a "
            f"JOIN mn{r} pu ON pu.x = a.u AND pu.mn = a.h "
            f"JOIN mn{r} pv ON pv.x = a.v AND pv.mn = a.h)"
        )
        parts.append(
            f"mv{r} AS (SELECT u AS x FROM ch{r} "
            f"UNION SELECT v AS x FROM ch{r})"
        )
        parts.append(
            f"a{r + 1} AS MATERIALIZED (SELECT a.u, a.v, a.h FROM a{r} a "
            f"WHERE a.u NOT IN (SELECT x FROM mv{r}) "
            f"AND a.v NOT IN (SELECT x FROM mv{r}))"
        )
    matched_union = " UNION ".join(
        f"SELECT u, v FROM ch{r}" for r in range(rounds)
    )
    return "WITH " + ", ".join(parts) + f" SELECT u, v FROM ({matched_union}) m"
