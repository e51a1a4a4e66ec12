"""Jones–Plassmann greedy graph coloring (deterministic, oracle-replayable).

The sibling of Luby MIS (``operators/mis.py``): every vertex gets ONE
static md5-string priority (id-appended ⇒ unique, no tie rule); each
round the priority-local-maxima of the *uncolored* subgraph color
themselves with the smallest color absent from their already-colored
neighbors, then leave the active set. Unlike Luby MIS, winners'
neighbors stay active — rounds equal the longest decreasing-priority
path, O(log n / log log n) expected for random priorities (Jones &
Plassmann 1993).

Everything is joins / min / anti-join on integers and md5 strings that
compare identically in both engines, so the full coloring is hash-exact
against an unrolled-CTE DuckDB replay. The min-free-color step walks
the SORTED DISTINCT neighbor-color array with a fold
(``aggregate(arr, 0, (acc, c) -> IF(c = acc, acc + 1, acc))``) — arrays
are bounded by the number of DISTINCT neighbor colors (≤ chromatic
bound), never by hub degree.

Scale shape: the loop carries a SHRINKING active-subgraph edge table
(edges drop as their endpoints color) and pushes each fresh color to
still-active neighbors incrementally, so the cumulative edge work is
O(|E|) over the whole run — the full edge set and the full colored set
are never rejoined after round 1. Per round: one map-side-combined min
per vertex, one bounded collect_set over the incrementally-accumulated
forbidden-color pairs, anti-join shrinks, state rotated through
a ``plans/checkpoint.py::ckpt_scope``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import edges_fit, resolve_mode

_NO_NEIGHBOR = "~"  # sorts after every md5 hex digit

# Below this edge count the whole coloring runs as one driver-side
# kernel (one Arrow collect + pure-Python rounds): the distributed loop
# pays ~1 s of job-launch latency per round and JP needs
# O(longest decreasing-priority path) rounds, so small graphs are
# dominated by scheduling, exactly the regime the broadcast fast paths
# of SCC/SSSP exist for. Above the gate the distributed loop runs —
# per-round cost amortizes over real per-round work at scale. Both
# paths are bit-identical (parity-tested).
COLORING_DRIVER_MAX_EDGES = 2_000_000


def _prio_of(seed: str, col: F.Column) -> F.Column:
    """Static unique priority of a vertex id: md5('<seed>:<id>') ||
    zero-padded id. A pure codegen expression — NEVER stored in loop
    state (a 44-char string per edge is the difference between a 16 B
    edge row and a ~150 B one; recomputing the md5 per round is cheap
    CPU inside whole-stage codegen)."""
    return F.concat(
        F.md5(F.concat_ws(":", F.lit(seed), col)),
        F.lpad(col.cast("string"), 12, "0"),
    )


def _prio(seed: str) -> F.Column:
    return _prio_of(seed, F.col("id"))


def coloring_python(src, dst, n: int, seed: str = "col") -> tuple[dict, int]:
    """Pure-Python JP replay (identical md5 chain) — the driver-side
    fast-path kernel AND the golden the tests/oracle replay against."""
    import hashlib

    nbrs: dict[int, set[int]] = {v: set() for v in range(n)}
    for a, b in zip(src, dst):
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    pri = {
        v: hashlib.md5(f"{seed}:{v}".encode()).hexdigest() + str(v).zfill(12)
        for v in range(n)
    }
    active = set(range(n))
    colors: dict[int, int] = {}
    rounds = 0
    while active:
        rounds += 1
        win = {
            v
            for v in active
            if all(pri[v] < pri[u] for u in nbrs[v] if u in active)
        }
        for v in win:
            used = {colors[u] for u in nbrs[v] if u in colors}
            c = 0
            while c in used:
                c += 1
            colors[v] = c
        active -= win
    return colors, rounds


def greedy_coloring(
    graph: Graph, seed: str = "col", max_rounds: int = 500, mode: str = "auto"
) -> tuple[DataFrame, int]:
    """``((id, color), rounds)`` — a proper coloring of the symmetrized
    simple graph; colors are dense small ints starting at 0.

    ``mode``: ``"broadcast"`` (one collect + Python kernel, small
    graphs), ``"distributed"`` (per-round joins, the scale path), or
    ``"auto"`` (broadcast up to :data:`COLORING_DRIVER_MAX_EDGES`)."""
    spark = graph.spark
    fits = edges_fit(graph, COLORING_DRIVER_MAX_EDGES)
    if resolve_mode(mode, fits) == "broadcast":
        src, dst, _w = graph.edges_numpy()
        colors, rounds = coloring_python(
            src.tolist(), dst.tolist(), graph.num_vertices, seed
        )
        df = spark.createDataFrame(
            [(int(v), int(c)) for v, c in sorted(colors.items())],
            "id long, color int",
        )
        return df, rounds
    p = graph.num_partitions
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
    # The loop keeps FOUR rotating state tables so per-round work is
    # proportional to the REMAINING active subgraph, not |E|·rounds:
    #   esub   — active↔active edges, (src, dst) longs only (priorities
    #            are recomputed per round as a codegen expression —
    #            never stored); shrinks every round as endpoints color;
    #   active — (id) uncolored vertices;
    #   forbid — (id, color) pairs pushed to a still-active vertex when
    #            a neighbor colors (accumulated incrementally — the
    #            full colored set is never rejoined);
    #   colored — the output accumulator.
    with ckpt_scope(spark) as cs:
        esub = cs.ckpt(sym.repartition(p, "src"))
        active = cs.ckpt(graph.vertices.select("id").repartition(p, "id"))
        n_active = active.count()
        forbid: DataFrame | None = None
        colored: DataFrame | None = None
        rounds = 0
        while n_active > 0:
            rounds += 1
            if rounds > max_rounds:  # pragma: no cover
                raise RuntimeError(f"JP coloring did not finish in {max_rounds} rounds")
            nbr_min = (
                esub.groupBy("src")
                .agg(F.min(_prio_of(seed, F.col("dst"))).alias("npr"))
                .select(F.col("src").alias("id"), "npr")
            )
            winners = (
                active.join(nbr_min, "id", "left")
                .where(
                    _prio_of(seed, F.col("id"))
                    < F.coalesce("npr", F.lit(_NO_NEIGHBOR))
                )
                .select("id")
            )
            if forbid is None:
                arrs = winners.select(
                    "id", F.array().cast("array<int>").alias("arr")
                )
            else:
                arrs = winners.join(
                    forbid.groupBy("id").agg(
                        F.array_sort(F.collect_set("color")).alias("arr")
                    ),
                    "id",
                    "left",
                ).select(
                    "id",
                    F.coalesce("arr", F.array().cast("array<int>")).alias("arr"),
                )
            newly = arrs.select(
                "id",
                F.expr(
                    "aggregate(arr, 0, (acc, c) -> IF(c = acc, acc + 1, acc))"
                ).alias("color"),
            )
            newly = cs.ckpt(newly.repartition(p, "id"))

            nxt_colored = newly if colored is None else colored.unionAll(newly)
            nxt_colored = cs.ckpt(nxt_colored)
            cs.free(colored)
            colored = nxt_colored

            # push the fresh colors to still-active neighbors, retire the
            # forbid rows of vertices that just colored
            win_ids_df = newly.select("id")
            fpairs = esub.join(
                newly.select(F.col("id").alias("dst"), "color"), "dst"
            ).select(F.col("src").alias("id"), "color")
            nxt_forbid = fpairs if forbid is None else forbid.unionAll(fpairs)
            nxt_forbid = nxt_forbid.join(win_ids_df, "id", "left_anti")
            nxt_forbid = cs.ckpt(nxt_forbid.repartition(p, "id"))
            cs.free(forbid)
            forbid = nxt_forbid

            nxt_active = active.join(win_ids_df, "id", "left_anti")
            nxt_active = cs.ckpt(nxt_active.repartition(p, "id"))
            cs.free(active)
            active = nxt_active
            n_active = active.count()

            nxt_esub = esub.join(
                win_ids_df.select(F.col("id").alias("src")), "src", "left_anti"
            ).join(win_ids_df.select(F.col("id").alias("dst")), "dst", "left_anti")
            nxt_esub = cs.ckpt(nxt_esub)
            cs.free(esub, newly)
            esub = nxt_esub

        assert colored is not None
        return (
            cs.keep(colored.select("id", F.col("color").cast("int").alias("color"))),
            rounds,
        )
