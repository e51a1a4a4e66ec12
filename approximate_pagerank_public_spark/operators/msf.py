"""Minimum spanning forest — distributed Borůvka over the undirected
weighted link graph.

THE classic O(log V)-round Pregel/MapReduce graph algorithm the suite
lacked: each round every component picks its minimum outgoing edge
under the TOTAL order ``(w, u, v)`` (weight, then endpoint ids — the
tie-break makes the MSF unique, so Kruskal, Borůvka, and the SQL
replay all produce the identical edge SET), the chosen edges merge
components, repeat until no cross-component edge remains. Components
at least halve per round ⇒ ≤ ⌈log₂V⌉ + 1 rounds.

Undirected weighting: ``w{u,v} = min(w(u→v), w(v→u))`` over the
engine's out-degree-normalized directed weights — a plain groupBy min
both engines share.

Dual paths, identical edge sets (parity-tested):

- broadcast (≤ ``BROADCAST_MAX_EDGES``): NumPy Kruskal (lexsort +
  union-find) — the sequential gold standard for the same unique MSF.
- distributed: Borůvka rounds as above. The per-component argmin is
  ONE ``groupBy(lab).min(struct(w, u, v, other))`` (map-side
  combinable — a hub component's candidates never materialize in one
  task); the merge reuses
  ``operators/components.py::star_components_edges`` over the chosen
  (label, label) pairs — O(log) rounds regardless of chain length;
  labels and the accumulated forest rotate through a checkpoint scope.

Oracle (``msf_oracle_sql``): unrolled Borůvka — per round a
row_number-over-(w,u,v) argmin and a recursive-CTE reachability merge
over that round's chosen pairs, exactly the engine's semantics.

Reference scope note: the reference ships ranking/traversal kernels;
MSF is the standard companion for link-graph backbone extraction /
clustering pre-passes, added on the engine's own dual-path +
replayable-oracle idiom.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators.components import (
    star_components_edges,
)
from approximate_pagerank_public_spark.plans.checkpoint import (
    CkptScope,
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import edges_fit, resolve_mode
from approximate_pagerank_public_spark.session import upload_frame


def undirected_weighted_edges(g: Graph) -> DataFrame:
    """``(u, v, w)`` with u < v, w = min directed weight of the pair."""
    e = g.edges
    return (
        e.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "weight",
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("weight").alias("w"))
    )


# ----------------------------------------------------------------- broadcast
def kruskal_numpy(
    u: np.ndarray, v: np.ndarray, w: np.ndarray
) -> np.ndarray:
    """Boolean mask of MSF edges under the (w, u, v) total order."""
    order = np.lexsort((v, u, w))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    keep = np.zeros(len(u), dtype=bool)
    for i in order:
        ru, rv = find(int(u[i])), find(int(v[i]))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
            keep[i] = True
    return keep


# --------------------------------------------------------------- distributed
def _boruvka_distributed(
    cs: CkptScope, g: Graph, max_rounds: int
) -> tuple[DataFrame | None, DataFrame]:
    """Up to ``max_rounds`` Borůvka rounds; returns (forest, labels),
    checkpointed in the caller's scope — shared by
    :func:`minimum_spanning_forest` (runs to convergence) and
    :func:`affinity_clusters` (runs a fixed round budget)."""
    p = g.num_partitions
    edges = cs.ckpt(undirected_weighted_edges(g).repartition(p, "u"))
    labels = cs.ckpt(g.vertices.select("id", F.col("id").alias("lab")))
    forest: DataFrame | None = None
    for _ in range(max_rounds):
        lu = labels.select(F.col("id").alias("u"), F.col("lab").alias("lu"))
        lv = labels.select(F.col("id").alias("v"), F.col("lab").alias("lv"))
        el = edges.join(lu, "u").join(lv, "v").where(F.col("lu") != F.col("lv"))
        cand = el.select(
            F.col("lu").alias("lab"),
            F.struct("w", "u", "v", F.col("lv").alias("other")).alias("c"),
        ).unionByName(
            el.select(
                F.col("lv").alias("lab"),
                F.struct("w", "u", "v", F.col("lu").alias("other")).alias("c"),
            )
        )
        chosen = cs.ckpt(cand.groupBy("lab").agg(F.min("c").alias("c")))
        if chosen.isEmpty():
            break
        new_edges = chosen.select(
            F.col("c.u").alias("u"), F.col("c.v").alias("v"), F.col("c.w").alias("w")
        ).distinct()
        nf = new_edges if forest is None else forest.unionByName(new_edges)
        nf = cs.ckpt(nf)
        cs.free(forest)
        forest = nf
        pairs = chosen.select(
            F.col("lab").alias("a"), F.col("c.other").alias("b")
        )
        roots, _rounds = star_components_edges(cs, pairs, p)
        nl = cs.ckpt(
            labels.join(roots, labels["lab"] == roots["a"], "left")
            .select(
                "id",
                F.least(F.col("lab"), F.coalesce("r", F.col("lab"))).alias("lab"),
            )
            .repartition(p, "id")
        )
        cs.free(labels, chosen, roots)
        labels = nl
    return forest, labels


def _msf_distributed(g: Graph) -> DataFrame:
    max_rounds = int(np.ceil(np.log2(max(g.num_vertices, 2)))) + 2
    with ckpt_scope(g.spark) as cs:
        forest, _labels = _boruvka_distributed(cs, g, max_rounds)
        if forest is None:
            return upload_frame(g.spark, [], "u long, v long, w double")
        return cs.keep(forest.select("u", "v", "w"))


def minimum_spanning_forest(g: Graph, mode: str = "auto") -> DataFrame:
    """``(u, v, w)`` — the unique MSF under the (w, u, v) order."""
    if resolve_mode(mode, edges_fit(g)) == "distributed":
        return _msf_distributed(g)
    pdf = undirected_weighted_edges(g).toPandas()
    u = pdf["u"].to_numpy(np.int64)
    v = pdf["v"].to_numpy(np.int64)
    w = pdf["w"].to_numpy(np.float64)
    keep = kruskal_numpy(u, v, w)
    import pandas as pd

    return upload_frame(
        g.spark,
        pd.DataFrame({"u": u[keep], "v": v[keep], "w": w[keep]}),
        "u long, v long, w double",
    )


# -------------------------------------------------------- affinity clusters
def boruvka_labels_numpy(
    u: np.ndarray, v: np.ndarray, w: np.ndarray, n: int, rounds: int
) -> np.ndarray:
    """Labels after ``rounds`` Borůvka rounds — the NumPy twin of the
    distributed loop's merge semantics (per-label argmin under
    (w, u, v, other), components of the chosen pairs → min label)."""
    lab = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        lu, lv = lab[u], lab[v]
        cross = lu != lv
        if not cross.any():
            break
        labs = np.concatenate([lu[cross], lv[cross]])
        others = np.concatenate([lv[cross], lu[cross]])
        ws = np.concatenate([w[cross], w[cross]])
        us = np.concatenate([u[cross], u[cross]])
        vs = np.concatenate([v[cross], v[cross]])
        order = np.lexsort((others, vs, us, ws, labs))
        lsorted = labs[order]
        first = np.flatnonzero(np.r_[True, lsorted[1:] != lsorted[:-1]])
        a, b = lsorted[first], others[order][first]
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for x, y in zip(a, b):
            rx, ry = find(int(x)), find(int(y))
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        comp_min: dict[int, int] = {}
        for x in np.unique(np.concatenate([a, b])):
            r = find(int(x))
            comp_min[r] = min(comp_min.get(r, int(x)), int(x))
        remap = {int(x): comp_min[find(int(x))] for x in np.unique(np.concatenate([a, b]))}
        lab = np.array([remap.get(int(x), int(x)) for x in lab], dtype=np.int64)
    return lab


def affinity_clusters(g: Graph, rounds: int = 2, mode: str = "auto") -> DataFrame:
    """Affinity clustering (Bateni et al., NeurIPS 2017): the cluster
    labels after ``rounds`` Borůvka rounds — the MapReduce-scale
    MSF-based hierarchical clustering; more rounds ⇒ coarser clusters.
    ``(id, cluster)`` with cluster = min vertex id in the cluster."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if resolve_mode(mode, edges_fit(g)) == "distributed":
        with ckpt_scope(g.spark) as cs:
            _forest, labels = _boruvka_distributed(cs, g, rounds)
            return cs.keep(labels.select("id", F.col("lab").alias("cluster")))
    pdf = undirected_weighted_edges(g).toPandas()
    import pandas as pd

    n = g.num_vertices
    lab = boruvka_labels_numpy(
        pdf["u"].to_numpy(np.int64),
        pdf["v"].to_numpy(np.int64),
        pdf["w"].to_numpy(np.float64),
        n,
        rounds,
    )
    return upload_frame(
        g.spark,
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "cluster": lab}),
        "id long, cluster long",
    )


# ------------------------------------------------------------------- oracle
def boruvka_cte_parts(edges_sql: str, vertices_sql: str, rounds: int) -> list[str]:
    """Shared unrolled-Borůvka CTE chain (see :func:`msf_oracle_sql`)."""
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst, weight FROM ({edges_sql}))",
        "ue AS MATERIALIZED (SELECT least(src, dst) AS u, "
        "greatest(src, dst) AS v, min(weight) AS w FROM e "
        "WHERE src <> dst GROUP BY 1, 2)",
        f"l0 AS (SELECT id, id AS lab FROM ({vertices_sql}))",
    ]
    for r in range(rounds):
        parts.append(
            f"el{r} AS (SELECT ue.u, ue.v, ue.w, lu.lab AS lu, lv.lab AS lv "
            f"FROM ue JOIN l{r} lu ON lu.id = ue.u "
            f"JOIN l{r} lv ON lv.id = ue.v WHERE lu.lab <> lv.lab)"
        )
        parts.append(
            f"cd{r} AS (SELECT lu AS lab, w, u, v, lv AS other FROM el{r} "
            f"UNION ALL SELECT lv AS lab, w, u, v, lu AS other FROM el{r})"
        )
        parts.append(
            f"ch{r} AS (SELECT lab, w, u, v, other FROM "
            f"(SELECT *, row_number() OVER (PARTITION BY lab "
            f"ORDER BY w, u, v, other) AS rn FROM cd{r}) t WHERE rn = 1)"
        )
        parts.append(
            f"sym{r} AS (SELECT lab AS a, other AS b FROM ch{r} "
            f"UNION SELECT other AS a, lab AS b FROM ch{r})"
        )
        parts.append(
            f"reach{r}(a, lbl) AS (SELECT a, a FROM sym{r} "
            f"UNION SELECT s.a, r.lbl FROM sym{r} s "
            f"JOIN reach{r} r ON r.a = s.b)"
        )
        parts.append(
            f"mn{r} AS (SELECT a AS lab, min(lbl) AS mn FROM reach{r} "
            "GROUP BY a)"
        )
        parts.append(
            f"l{r + 1} AS MATERIALIZED (SELECT l.id, "
            f"least(l.lab, coalesce(m.mn, l.lab)) AS lab "
            f"FROM l{r} l LEFT JOIN mn{r} m ON m.lab = l.lab)"
        )
    return parts


def msf_oracle_sql(edges_sql: str, vertices_sql: str, rounds: int) -> str:
    """Unrolled Borůvka replay: per round a row_number argmin under
    (w, u, v) and a recursive-CTE reachability merge over the chosen
    (label, label) pairs — idempotent once the forest is complete, so
    a fixed ``rounds ≥ ⌈log₂V⌉`` unroll is exact."""
    parts = boruvka_cte_parts(edges_sql, vertices_sql, rounds)
    forest_union = " UNION ".join(
        f"SELECT u, v, w FROM ch{r}" for r in range(rounds)
    )
    return (
        "WITH RECURSIVE "
        + ", ".join(parts)
        + f", forest AS ({forest_union}) "
        "SELECT u, v, floor(w * 1000000.0) / 1000000.0 AS wt FROM forest"
    )


def affinity_oracle_sql(edges_sql: str, vertices_sql: str, rounds: int) -> str:
    """The label table after ``rounds`` unrolled Borůvka rounds."""
    parts = boruvka_cte_parts(edges_sql, vertices_sql, rounds)
    return (
        "WITH RECURSIVE "
        + ", ".join(parts)
        + f" SELECT id, lab AS cluster FROM l{rounds}"
    )
