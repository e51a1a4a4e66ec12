"""Jones-Plassmann coloring: proper, replay-exact, and path parity."""

from approximate_pagerank_public_spark.operators.coloring import (
    coloring_python,
    greedy_coloring,
)
from approximate_pagerank_public_spark.plans.graph import Graph


def test_coloring_distributed_matches_python_replay(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    gold, gold_rounds = coloring_python(src.tolist(), dst.tolist(), 300)
    df, rounds = greedy_coloring(g_rand, seed="col", mode="distributed")
    got = {r["id"]: r["color"] for r in df.collect()}
    assert rounds == gold_rounds
    assert got == gold


def test_coloring_driver_distributed_parity(g_rand):
    d_df, d_rounds = greedy_coloring(g_rand, mode="broadcast")
    x_df, x_rounds = greedy_coloring(g_rand, mode="distributed")
    assert d_rounds == x_rounds
    d = {(r["id"], r["color"]) for r in d_df.collect()}
    x = {(r["id"], r["color"]) for r in x_df.collect()}
    assert d == x


def test_coloring_is_proper(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    df, _ = greedy_coloring(g_rand, seed="col")
    got = {r["id"]: r["color"] for r in df.collect()}
    for u, v in zip(src.tolist(), dst.tolist()):
        if u != v:
            assert got[u] != got[v], (u, v)


def test_coloring_triangle_uses_three_colors(spark):
    edges = [(0, 1), (1, 2), (2, 0)]
    src, dst = zip(*edges)
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=3, num_partitions=2)
    df, rounds = greedy_coloring(g)
    colors = {r["color"] for r in df.collect()}
    assert colors == {0, 1, 2}
    assert rounds == 3
    g.unpersist()
