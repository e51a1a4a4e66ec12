"""Stress/betweenness centrality vs pure-Python Brandes goldens."""

from collections import defaultdict, deque

import numpy as np

from approximate_pagerank_public_spark.operators.centrality import (
    betweenness_centrality,
    stress_centrality,
)
from approximate_pagerank_public_spark.plans.graph import Graph


def _golden_sweeps(adj, source):
    dist = {source: 0}
    sigma = {source: 1}
    order = [source]
    q = deque([source])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
                order.append(v)
            if dist[v] == dist[u] + 1:
                sigma[v] = sigma.get(v, 0) + sigma[u]
    cont: dict[int, int] = defaultdict(int)
    delta: dict[int, float] = defaultdict(float)
    for u in reversed(order):
        for v in adj[u]:
            if dist.get(v) == dist[u] + 1:
                cont[u] += cont[v] + 1
                delta[u] += sigma[u] / sigma[v] * (1.0 + delta[v])
    return dist, sigma, cont, delta


def _adj(src, dst, n):
    adj = [[] for _ in range(n)]
    for u, v in zip(src.tolist(), dst.tolist()):
        adj[u].append(v)
    return adj


SOURCES = [17, 42, 0, 7]


def test_stress_matches_golden(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    adj = _adj(src, dst, 300)
    gold = np.zeros(300, dtype=np.int64)
    for s in SOURCES:
        dist, sigma, cont, _ = _golden_sweeps(adj, s)
        for v in dist:
            if v != s:
                gold[v] += sigma[v] * cont[v]
    got = (
        stress_centrality(g_rand, SOURCES)
        .toPandas()
        .sort_values("id")["stress"]
        .to_numpy()
    )
    assert (got == gold).all()


def test_stress_path_graph_spot(spark):
    # 0→1→2→3 from source 0: through-1 paths {0-2, 0-3} = 2,
    # through-2 paths {0-3} = 1, endpoints 0
    g = Graph.from_edge_arrays(spark, [0, 1, 2], [1, 2, 3], num_vertices=4)
    try:
        got = (
            stress_centrality(g, [0]).toPandas().sort_values("id")["stress"].tolist()
        )
        assert got == [0, 2, 1, 0]
    finally:
        g.unpersist()


def test_betweenness_matches_brandes_golden(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    adj = _adj(src, dst, 300)
    gold = np.zeros(300)
    for s in SOURCES:
        _, _, _, delta = _golden_sweeps(adj, s)
        for v, d in delta.items():
            if v != s:
                gold[v] += d
    got = (
        betweenness_centrality(g_rand, SOURCES)
        .toPandas()
        .sort_values("id")["betweenness"]
        .to_numpy()
    )
    assert np.allclose(got, gold, atol=1e-9)
