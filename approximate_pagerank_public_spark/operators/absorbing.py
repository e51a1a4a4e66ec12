"""Absorbing-walk hitting probabilities.

``hitting_probability`` computes, per vertex, the probability that the
out-edge-weighted random walk started there reaches a TARGET absorbing
state before any other absorbing state (or before dying on a dangling
vertex), truncated at ``iters`` steps — the Jacobi iteration of the
absorbing-Markov-chain linear system ``p = W·p`` with clamped
boundary rows (targets ≡ 1, other absorbing states ≡ 0):

    p_{k+1}(v) = 1                    v ∈ targets
               = 0                    v ∈ absorb \\ targets
               = Σ_{(v,u)∈E} w(v,u) · p_k(u)   otherwise

The fixed iteration count keeps the result a finite deterministic
f64 composition that the DuckDB oracle unrolls round-for-round (the
``pagerank_fixed8`` convention — same edge weights, same per-group
summation shape, stable6 truncation only at output).

Transcript reading: with the error tool as target this is "how likely
does a conversation positioned at entity v hit `tool:tool_error`
within k hops" — a risk propagation score over the link graph.

Scale shape: per iteration ONE dst-co-partitioned join of the edge
relation with the O(V) state (the edges stay in the Graph's dst-hash
layout, the state is repartitioned to match) and ONE
map-side-combinable ``groupBy(src).sum`` exchange; state rotates
through a ``ckpt_scope`` (the leak invariant).  No driver-side state,
works at any |V|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph


def hitting_probability(
    graph: Graph,
    target_ids,
    absorb_ids=(),
    iters: int = 8,
) -> DataFrame:
    """``(id, p)`` after ``iters`` Jacobi rounds (see module doc)."""
    spark, p = graph.spark, graph.num_partitions
    tset = sorted({int(x) for x in target_ids})
    aset = sorted({int(x) for x in absorb_ids} - set(tset))
    if not tset:
        raise ValueError("hitting_probability needs >= 1 target id")
    verts = graph.vertices
    with ckpt_scope(spark) as cs:
        state = cs.ckpt(
            verts.select(
                "id",
                F.when(F.col("id").isin(tset), F.lit(1.0))
                .otherwise(F.lit(0.0))
                .alias("p"),
            ).repartition(p, "id")
        )
        for _ in range(int(iters)):
            gathered = (
                graph.edges.join(
                    state.select(F.col("id").alias("dst"), "p"), "dst"
                )
                .groupBy("src")
                .agg(F.sum(F.col("weight") * F.col("p")).alias("s"))
                .select(F.col("src").alias("id"), "s")
            )
            new = cs.ckpt(
                verts.join(gathered, "id", "left")
                .select(
                    "id",
                    F.when(F.col("id").isin(tset), F.lit(1.0))
                    .when(F.col("id").isin(aset), F.lit(0.0))
                    .otherwise(F.coalesce("s", F.lit(0.0)))
                    .alias("p"),
                )
                .repartition(p, "id")
            )
            cs.free(state)
            state = new
        return cs.keep(state)
