"""Exact-count parity: connected components, label propagation, triangles."""

import numpy as np

from approximate_pagerank_public_spark.functions import golden
from approximate_pagerank_public_spark.operators.components import (
    component_sizes,
    connected_components,
)
from approximate_pagerank_public_spark.operators.labelprop import (
    golden_label_propagation,
    label_propagation,
)
from approximate_pagerank_public_spark.operators.triangles import (
    per_vertex_triangles,
    triangle_count,
)
from approximate_pagerank_public_spark.plans.graph import Graph


def test_connected_components_g5(g5):
    comp = connected_components(g5).toPandas().sort_values("id")
    # g5 is weakly connected → single component labeled 0
    assert (comp["component"] == 0).all()


def test_connected_components_two_islands(spark):
    # island A: 0-1-2 chain; island B: 3-4; isolated via edges only
    g = Graph.from_edge_arrays(
        spark, [0, 1, 3, 5], [1, 2, 4, 6], num_vertices=7, num_partitions=4
    )
    comp = connected_components(g).toPandas().sort_values("id")
    src, dst, _ = g.edges_numpy()
    gold = golden.golden_connected_components(src, dst, 7)
    assert (comp["component"].to_numpy() == gold).all()
    sizes = component_sizes(connected_components(g)).toPandas()
    assert sorted(sizes["size"]) == [2, 2, 3]
    g.unpersist()


def test_connected_components_distributed_parity(spark):
    g = Graph.from_edge_arrays(
        spark, [0, 1, 3, 5], [1, 2, 4, 6], num_vertices=7, num_partitions=4
    )
    a = (
        connected_components(g, mode="broadcast")
        .toPandas()
        .sort_values("id")["component"]
        .to_numpy()
    )
    b = (
        connected_components(g, mode="distributed")
        .toPandas()
        .sort_values("id")["component"]
        .to_numpy()
    )
    assert (a == b).all()
    g.unpersist()


def test_connected_components_star_mode_path_graph(spark):
    """The distributed path (large-star/small-star) must match the
    golden labels on a 600-vertex path — the diameter-bound worst case —
    while converging in O(log n) rounds instead of O(n) supersteps."""
    import numpy as np

    from approximate_pagerank_public_spark.operators.components import (
        _cc_star_distributed,
    )
    from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

    n = 600
    src = list(range(n - 1)) + [700]
    dst = list(range(1, n)) + [701]
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=702, num_partitions=4)
    star = (
        connected_components(g, mode="distributed")
        .toPandas()
        .sort_values("id")["component"]
        .to_numpy()
    )
    gold = golden.golden_connected_components(
        np.asarray(src), np.asarray(dst), 702
    )
    assert (star == gold).all()
    # round count: O(log n), far under the path's O(n) diameter
    und = g.undirected()
    with ckpt_scope(spark) as cs:
        _, rounds = _cc_star_distributed(cs, und)
    assert rounds <= 15
    g.unpersist()


def test_connected_components_star_matches_broadcast(g_rand):
    a = (
        connected_components(g_rand, mode="broadcast")
        .toPandas()
        .sort_values("id")["component"]
        .to_numpy()
    )
    b = (
        connected_components(g_rand, mode="distributed")
        .toPandas()
        .sort_values("id")["component"]
        .to_numpy()
    )
    assert (a == b).all()


def test_connected_components_random(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    gold = golden.golden_connected_components(src, dst, 300)
    comp = connected_components(g_rand).toPandas().sort_values("id")
    assert (comp["component"].to_numpy() == gold).all()


def test_triangle_count_known(spark):
    # triangle 0-1-2 plus a pendant edge
    g = Graph.from_edge_arrays(
        spark, [0, 1, 2, 2], [1, 2, 0, 3], num_vertices=4, num_partitions=2
    )
    assert triangle_count(g) == 1
    pv = per_vertex_triangles(g).toPandas().set_index("id")["triangles"]
    assert pv.to_dict() == {0: 1, 1: 1, 2: 1}
    g.unpersist()


def test_triangle_count_random(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    gold = golden.golden_triangle_count(src, dst, 300)
    assert triangle_count(g_rand) == gold


def test_label_propagation_matches_golden(spark):
    # two dense cliques joined by one edge → LPA should find 2 communities
    rng = np.random.default_rng(1)
    a = [(i, j) for i in range(8) for j in range(8) if i != j and rng.random() < 0.8]
    b = [(i, j) for i in range(8, 16) for j in range(8, 16) if i != j and rng.random() < 0.8]
    edges = a + b + [(0, 8)]
    src = np.array([e[0] for e in edges])
    dst = np.array([e[1] for e in edges])
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=16, num_partitions=4)
    und = g.undirected()
    s2, d2, w2 = und.edges_numpy()
    gold = golden_label_propagation(s2, d2, w2, 16, max_iter=10)
    res = label_propagation(g, max_iter=10).toPandas().sort_values("id")
    assert (res["label"].to_numpy() == gold).all()
    g.unpersist()


def test_four_cycles_known(spark):
    from approximate_pagerank_public_spark.operators.triangles import (
        four_cycle_count,
    )

    # plain square 0-1-2-3-0 => 1; adding the diagonal 0-2 adds
    # triangles, not squares
    sq = Graph.from_edge_arrays(
        spark, [0, 1, 2, 3], [1, 2, 3, 0], num_vertices=4, num_partitions=2
    )
    assert four_cycle_count(sq) == 1
    sq.unpersist()
    diag = Graph.from_edge_arrays(
        spark, [0, 1, 2, 3, 0], [1, 2, 3, 0, 2], num_vertices=4, num_partitions=2
    )
    assert four_cycle_count(diag) == 1
    diag.unpersist()
    # K4 has 3 squares; C6 has none
    k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    g4 = Graph.from_edge_arrays(
        spark, [e[0] for e in k4], [e[1] for e in k4], num_vertices=4,
        num_partitions=2,
    )
    assert four_cycle_count(g4) == 3
    g4.unpersist()
    c6 = Graph.from_edge_arrays(
        spark, list(range(6)), [(i + 1) % 6 for i in range(6)],
        num_vertices=6, num_partitions=2,
    )
    assert four_cycle_count(c6) == 0
    c6.unpersist()


def test_four_cycles_random_matches_adjacency_golden(g_rand):
    from approximate_pagerank_public_spark.operators.triangles import (
        four_cycle_count,
    )

    src, dst, _ = g_rand.edges_numpy()
    n = 300
    a = np.zeros((n, n), dtype=np.int64)
    a[src, dst] = 1
    a[dst, src] = 1
    np.fill_diagonal(a, 0)
    w = a @ a
    iu = np.triu_indices(n, k=1)
    want = int((w[iu] * (w[iu] - 1)).sum() // 4)
    assert four_cycle_count(g_rand) == want
    # degree cap high enough to keep every middle => identical count
    assert four_cycle_count(g_rand, max_wedge_degree=10_000) == want


def test_four_cliques_known(spark):
    from approximate_pagerank_public_spark.operators.triangles import (
        four_clique_count_df,
    )

    # K6 has C(6,4) = 15 four-cliques; C6 (hexagon) has none
    k6 = [(i, j) for i in range(6) for j in range(6) if i < j]
    g6 = Graph.from_edge_arrays(
        spark, [u for u, _ in k6], [v for _, v in k6],
        num_vertices=6, num_partitions=2,
    )
    assert four_clique_count_df(g6).first()["four_cliques"] == 15
    g6.unpersist()
    c6 = Graph.from_edge_arrays(
        spark, list(range(6)), [(i + 1) % 6 for i in range(6)],
        num_vertices=6, num_partitions=2,
    )
    assert four_clique_count_df(c6).first()["four_cliques"] == 0
    c6.unpersist()


def test_four_cliques_random_matches_adjacency_golden(g_rand):
    from approximate_pagerank_public_spark.operators.triangles import (
        four_clique_count_df,
    )

    src, dst, _ = g_rand.edges_numpy()
    n = 300
    a = np.zeros((n, n), dtype=bool)
    a[src, dst] = True
    a[dst, src] = True
    np.fill_diagonal(a, False)
    # per edge (b,c): adjacent pairs among common neighbors — every K4
    # is seen once from each of its 6 edges
    total = 0
    for b in range(n):
        for c in range(b + 1, n):
            if not a[b, c]:
                continue
            common = np.flatnonzero(a[b] & a[c])
            sub = a[np.ix_(common, common)]
            total += int(np.triu(sub, 1).sum())
    want = total // 6
    got = four_clique_count_df(g_rand).first()["four_cliques"]
    assert got == want, (got, want)


def test_louvain_rounds_matches_golden_random(g_rand):
    from approximate_pagerank_public_spark.operators.labelprop import (
        golden_louvain_rounds,
        louvain_rounds,
    )

    src, dst, _ = g_rand.edges_numpy()
    gold = golden_louvain_rounds(src, dst, 300, rounds=4)
    res = louvain_rounds(g_rand, rounds=4).toPandas().sort_values("id")
    assert (res["label"].to_numpy() == gold).all()


def test_louvain_rounds_two_cliques(spark):
    from approximate_pagerank_public_spark.operators.graphstats import modularity
    from approximate_pagerank_public_spark.operators.labelprop import (
        golden_louvain_rounds,
        louvain_rounds,
    )

    rng = np.random.default_rng(7)
    a = [(i, j) for i in range(8) for j in range(8) if i < j and rng.random() < 0.9]
    b = [(i, j) for i in range(8, 16) for j in range(8, 16) if i < j and rng.random() < 0.9]
    edges = a + b + [(0, 8)]
    src = np.array([e[0] for e in edges])
    dst = np.array([e[1] for e in edges])
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=16, num_partitions=4)
    labels = louvain_rounds(g, rounds=4)
    gold = golden_louvain_rounds(src, dst, 16, rounds=4)
    got = labels.toPandas().sort_values("id")["label"].to_numpy()
    assert (got == gold).all()
    # the two cliques must separate: no label spans both halves, and the
    # result's modularity beats the singleton partition's (which is < 0)
    assert set(gold[:8]).isdisjoint(set(gold[8:]))
    q = modularity(g, labels).toPandas()["modularity"].iloc[0]
    assert q > 0.3
    g.unpersist()


def test_louvain_multilevel_matches_golden_random(g_rand):
    from approximate_pagerank_public_spark.operators.labelprop import (
        golden_louvain_multilevel,
        louvain_multilevel,
    )

    src, dst, _ = g_rand.edges_numpy()
    gold = golden_louvain_multilevel(src, dst, 300, fine_rounds=2, coarse_rounds=2)
    res = (
        louvain_multilevel(g_rand, fine_rounds=2, coarse_rounds=2)
        .toPandas()
        .sort_values("id")
    )
    assert (res["label"].to_numpy() == gold).all()


def test_louvain_multilevel_coarse_phase_can_merge(spark):
    """Four 4-cliques in a ring: fine rounds find the cliques, the
    coarse phase must operate on the contracted weighted multigraph
    (diagonal mass included) without relabeling vertices incorrectly."""
    from approximate_pagerank_public_spark.operators.graphstats import modularity
    from approximate_pagerank_public_spark.operators.labelprop import (
        golden_louvain_multilevel,
        louvain_multilevel,
    )

    edges = []
    for b in range(4):
        base = 4 * b
        edges += [
            (base + i, base + j) for i in range(4) for j in range(4) if i < j
        ]
    edges += [(3, 4), (7, 8), (11, 12), (15, 0)]  # the ring bridges
    src = np.array([e[0] for e in edges])
    dst = np.array([e[1] for e in edges])
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=16, num_partitions=4)
    labels = louvain_multilevel(g, fine_rounds=2, coarse_rounds=2)
    gold = golden_louvain_multilevel(src, dst, 16, fine_rounds=2, coarse_rounds=2)
    got = labels.toPandas().sort_values("id")["label"].to_numpy()
    assert (got == gold).all()
    q = modularity(g, labels).toPandas()["modularity"].iloc[0]
    assert q > 0.4  # the clique structure must be found
    g.unpersist()


def _golden_seeded_lpa(src, dst, seeds, rounds):
    """Pure-Python replay of seeded_label_propagation (symmetrized
    simple graph, 1/outdeg weights, max-weight tie->min-label)."""
    es = {(u, v) for u, v in zip(src, dst) if u != v}
    es |= {(v, u) for u, v in es}
    outdeg = {}
    for u, _v in es:
        outdeg[u] = outdeg.get(u, 0) + 1
    labels = dict(seeds)
    for _ in range(rounds):
        votes = {}
        for u, v in es:
            if u in labels:
                key = (v, labels[u])
                votes[key] = votes.get(key, 0.0) + 1.0 / outdeg[u]
        best = {}
        for (v, lbl), w in votes.items():
            cur = best.get(v)
            if cur is None or (w, -lbl) > (cur[0], -cur[1]):
                best[v] = (w, lbl)
        labels = dict(seeds)
        for v, (_w, lbl) in best.items():
            if v not in dict(seeds):
                labels[v] = lbl
    return labels


def test_seeded_lpa_matches_golden(spark, g_rand):
    from approximate_pagerank_public_spark.operators.labelprop import (
        seeded_label_propagation,
    )

    src, dst, _ = g_rand.edges_numpy()
    seeds = {0: 0, 1: 1, 2: 2}
    sdf = spark.createDataFrame(list(seeds.items()), "id long, label long")
    got = {
        r["id"]: r["label"]
        for r in seeded_label_propagation(g_rand, sdf, rounds=3).collect()
    }
    gold = _golden_seeded_lpa(src.tolist(), dst.tolist(), seeds, 3)
    assert got == gold
    # seeds clamped
    assert all(got[s] == l for s, l in seeds.items())


def test_seeded_lpa_two_islands(spark):
    from approximate_pagerank_public_spark.operators.labelprop import (
        seeded_label_propagation,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    # path 0-1-2 seeded at 0; path 10-11 seeded at 10; 20 isolated
    edges = [(0, 1), (1, 2), (10, 11)]
    src, dst = zip(*edges)
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=21, num_partitions=2)
    seeds = spark.createDataFrame([(0, 7), (10, 9)], "id long, label long")
    got = {
        r["id"]: r["label"]
        for r in seeded_label_propagation(g, seeds, rounds=3).collect()
    }
    assert got == {0: 7, 1: 7, 2: 7, 10: 9, 11: 9}
    g.unpersist()


def test_clique_percolation_communities(spark):
    from approximate_pagerank_public_spark.operators.triangles import (
        clique_percolation,
    )

    # K4 on {0,1,2,3} (4 triangles, all edge-chained -> ONE community);
    # isolated triangle {5,6,7}; edge-sharing pair {8,9,10}+{9,10,11}
    # (one community of 2); vertex-only-sharing {12,13,14}+{14,15,16}
    # (two DIFFERENT communities — CPM requires a shared EDGE)
    src = [0, 0, 0, 1, 1, 2, 5, 5, 6, 8, 8, 9, 9, 10, 12, 12, 13, 14, 14, 15]
    dst = [1, 2, 3, 2, 3, 3, 6, 7, 7, 9, 10, 10, 11, 11, 13, 14, 14, 15, 16, 16]
    g = Graph.from_edge_arrays(
        spark, src, dst, num_vertices=17, num_partitions=4
    )
    rows = clique_percolation(g).collect()
    comm_of = {tuple(sorted((r["a"], r["b"], r["c"]))): r["community"] for r in rows}
    assert len(comm_of) == 9  # 4 (K4) + 1 + 2 + 2
    k4 = {comm_of[t] for t in [(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)]}
    assert len(k4) == 1
    pair = {comm_of[(8, 9, 10)], comm_of[(9, 10, 11)]}
    assert len(pair) == 1
    assert comm_of[(12, 13, 14)] != comm_of[(14, 15, 16)]
    assert comm_of[(5, 6, 7)] not in k4 | pair
    # community label is the min reachable triangle key -> a member
    labels = {r["community"] for r in rows}
    tids = set()
    import hashlib

    for t in comm_of:
        a, b, c = t
        tids.add(int(hashlib.md5(f"{a}:{b}:{c}".encode()).hexdigest()[:15], 16))
    assert labels <= tids


def test_louvain_driver_and_distributed_paths_bit_identical(g_rand, monkeypatch):
    """The NumPy driver fast path and the distributed rounds must agree
    bit-for-bit (same integer gains, same stay-first/smaller-label tie
    order) — the coloring.py twin-parity discipline."""
    import approximate_pagerank_public_spark.operators.labelprop as lp

    drv = lp.louvain_rounds(g_rand, rounds=4).toPandas().sort_values("id")
    monkeypatch.setattr(lp, "LOUVAIN_DRIVER_MAX_ROWS", 0)
    dist = lp.louvain_rounds(g_rand, rounds=4).toPandas().sort_values("id")
    assert (drv["label"].to_numpy() == dist["label"].to_numpy()).all()
