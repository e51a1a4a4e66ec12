"""Maximal independent set — Luby's algorithm, md5-derandomized.

The classic O(log n)-round parallel MIS (Luby 1986): each round every
still-active vertex draws a priority; a vertex joins the MIS when its
priority beats every active neighbor's, then it and its neighbors
deactivate. MIS is the standard parallel-scheduling primitive the
reference's single-node engine never needs but a cluster engine does
(conflict-free update batches, distance-2 coloring seeds, landmark
selection).

Determinism: the "random" priority is
``md5(f"{seed}:{round}:{id}") || lpad(id)`` — a STRING. The appended id
makes priorities unique (no tie rule needed beyond string order), and
md5-over-hex compares identically in Spark and DuckDB, so the oracle in
``__spark_entry__.py`` unrolls the exact same rounds in SQL and the
result is hash-exact. Fresh salt per round keeps rounds independent
(the Luby analysis needs that).

Scale shape: each round is two hash joins (restrict edges to active
endpoints), one groupBy-min (neighbor priority), an anti-join
(deactivate) — all map-side-combinable, no driver state beyond the
empty-check scalar, lineage truncated by a checkpoint scope. Active
vertices drop by a constant fraction per round in expectation, so the
edge volume shrinks geometrically.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph

# '~' (0x7e) sorts after every md5 hex char in both engines
_NO_NEIGHBOR = "~"


def _prio(seed: str, rnd: int, id_col: str = "id") -> F.Column:
    payload = F.concat_ws(
        ":", F.lit(seed), F.lit(str(rnd)), F.col(id_col).cast("string")
    )
    return F.concat(F.md5(payload), F.lpad(F.col(id_col).cast("string"), 12, "0"))


@dataclass
class MISResult:
    rounds: int
    labels: DataFrame  # (id, in_mis)


def maximal_independent_set(
    graph: Graph, seed: str = "mis", max_rounds: int = 200
) -> MISResult:
    """``(id, in_mis)`` over the symmetrized graph (self-loops ignored).

    Raises if ``max_rounds`` is hit with vertices still active (never
    observed — expected rounds are O(log n))."""
    p = graph.num_partitions
    with ckpt_scope(graph.spark) as cs:
        sym = (
            graph.edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .unionAll(
                graph.edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ).where(F.col("src") != F.col("dst"))
            )
            .distinct()
        )
        sym = cs.ckpt(sym.repartition(p, "src"))

        active = graph.vertices.select("id")
        active = cs.ckpt(active.repartition(p, "id"))
        mis_parts: list[DataFrame] = []
        rounds = 0
        while True:
            if active.limit(1).count() == 0:
                break
            rounds += 1
            if rounds > max_rounds:  # pragma: no cover
                raise RuntimeError(f"Luby MIS did not finish in {max_rounds} rounds")
            pri = active.select("id", _prio(seed, rounds).alias("pr"))
            act_e = (
                sym.join(active.select(F.col("id").alias("src")), "src")
                .join(active.select(F.col("id").alias("dst")), "dst")
                .select("src", "dst")
            )
            nbr_min = (
                act_e.join(pri.select(F.col("id").alias("dst"), F.col("pr").alias("np")), "dst")
                .groupBy("src")
                .agg(F.min("np").alias("npr"))
                .select(F.col("src").alias("id"), "npr")
            )
            sel = (
                pri.join(nbr_min, "id", "left")
                .where(F.col("pr") < F.coalesce("npr", F.lit(_NO_NEIGHBOR)))
                .select("id")
            )
            sel = cs.ckpt(sel.repartition(p, "id"))
            mis_parts.append(sel)
            rm = sel.unionAll(
                act_e.join(sel.select(F.col("id").alias("src")), "src")
                .select(F.col("dst").alias("id"))
            ).distinct()
            nxt = cs.ckpt(active.join(rm, "id", "left_anti").repartition(p, "id"))
            cs.free(active)
            active = nxt

        verts = graph.vertices.select("id")
        if mis_parts:
            mis = mis_parts[0]
            for m in mis_parts[1:]:
                mis = mis.unionAll(m)
            labels = verts.join(
                mis.select(F.col("id"), F.lit(True).alias("in_mis")), "id", "left"
            ).select("id", F.coalesce("in_mis", F.lit(False)).alias("in_mis"))
        else:  # empty graph
            labels = verts.select("id", F.lit(False).alias("in_mis"))
        # the per-round MIS slices ARE the result
        return MISResult(rounds=rounds, labels=cs.keep(labels))
