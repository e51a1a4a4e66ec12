"""Weisfeiler–Lehman color refinement (hash-based, hub-safe).

WL refinement is the standard structural-feature / graph-fingerprint
primitive for ML-over-graphs pipelines (Shervashidze et al. 2011, the
WL-subtree kernel; also the expressiveness yardstick for GNNs): start
every vertex at a degree color and repeatedly re-color each vertex by
its own color plus the multiset of its neighbors' colors. Vertices that
stay in the same color class are structurally indistinguishable at that
radius.

The textbook step concatenates the SORTED neighbor-color multiset —
for a 10⁸-degree hub that is a gigabyte-sized string per vertex, a
scale-killer. This implementation uses the standard hashed-multiset
refinement instead: each neighbor color is mapped through a 28-bit md5
hash and SUMMED (order-free, map-side combinable, no lists ever
materialize), then the vertex re-colors as a 60-bit md5 of
``(own color, neighbor-hash sum)``. The sum of 28-bit terms stays below
2^63 through degree ~3·10^10 — safely past any real hub. Hash collisions
can merge color classes that a true multiset would keep apart; with
28/60-bit md5 draws the collision rate is the usual birthday bound and
the refinement remains deterministic and cross-engine replayable (the
same ``conv(substr(md5(...),1,k),16,10)`` ↔ DuckDB
``CAST('0x' || substr(md5(...),1,k) AS BIGINT)`` recipe as
``operators/sampling.py``).

Scale shape per round: one edge-pass equi-join of the |V|-row color
table (broadcast below the ETL vertex gate, hash join above), one
map-side-combined sum keyed by dst, one |V|-row left join back. State
rotates through a ``plans/checkpoint.py::ckpt_scope`` (the
unpersist-is-a-no-op leak discipline every iterative loop here follows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope
from approximate_pagerank_public_spark.plans.graph import Graph


def _h28(lab: F.Column) -> F.Column:
    """28-bit md5 draw of a color — summable over 3·10^10 neighbors."""
    payload = F.concat_ws(":", F.lit("wl"), lab)
    return F.conv(F.substring(F.md5(payload), 1, 7), 16, 10).cast("long")


def _h60(lab: F.Column, nbr_sum: F.Column) -> F.Column:
    """60-bit md5 re-color of (own color, neighbor-hash sum)."""
    payload = F.concat_ws(":", lab, nbr_sum)
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def wl_refinement(graph: Graph, rounds: int = 3) -> DataFrame:
    """``(id, wl)`` — the 60-bit WL color of every vertex after
    ``rounds`` refinement steps over the symmetrized simple graph,
    starting from degree colors (isolated vertices start at 0 and keep
    a consistent color chain)."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        _labels_broadcastable,
    )
    from approximate_pagerank_public_spark.operators.triangles import (
        canonical_edges,
    )

    spark = graph.edges.sparkSession
    e = canonical_edges(graph)
    sym = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    sym = sym.persist()
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    labels = graph.vertices.select("id").join(
        deg.select(F.col("src").alias("id"), "d"), "id", "left"
    ).select("id", F.coalesce("d", F.lit(0)).cast("long").alias("lab"))

    broadcastable = _labels_broadcastable(graph)
    with ckpt_scope(spark) as cs:
        cs.callback(sym.unpersist)
        labels = cs.ckpt(labels)
        for _ in range(rounds):
            lsrc = labels.select(F.col("id").alias("src"), _h28(F.col("lab")).alias("h"))
            if broadcastable:
                lsrc = F.broadcast(lsrc)
            sums = sym.join(lsrc, "src").groupBy("dst").agg(
                F.sum("h").alias("ns")
            ).select(F.col("dst").alias("id"), "ns")
            nxt = cs.ckpt(labels.join(sums, "id", "left").select(
                "id",
                _h60(F.col("lab"), F.coalesce("ns", F.lit(0))).alias("lab"),
            ))
            cs.free(labels)
            labels = nxt
        return cs.keep(labels.select("id", F.col("lab").alias("wl")))
