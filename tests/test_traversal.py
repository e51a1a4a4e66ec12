"""BFS family vs NumPy golden BFS."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators.traversal import (
    bfs,
    closeness_centrality,
    eccentricity,
    multi_source_bfs,
)


def _golden_bfs(src, dst, n, source):
    from collections import deque

    adj = [[] for _ in range(n)]
    for u, v in zip(src.tolist(), dst.tolist()):
        adj[u].append(v)
    dist = {source: 0}
    q = deque([source])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def test_bfs_matches_golden(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    gold = _golden_bfs(src, dst, 300, 17)
    got = bfs(g_rand, 17).toPandas().set_index("id")["dist"].to_dict()
    assert got == gold


def test_multi_source_bfs(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    sources = [0, 17, 42]
    res = multi_source_bfs(g_rand, sources).toPandas()
    for s in sources:
        gold = _golden_bfs(src, dst, 300, s)
        got = res[res["source"] == s].set_index("id")["dist"].to_dict()
        assert got == gold, f"source {s}"


def test_filtered_bfs(g_rand):
    # fbfs analogue: traversal restricted to even vertex ids
    res = bfs(g_rand, 0, vertex_filter=(F.col("id") % 2 == 0)).toPandas()
    visited = res[res["dist"] > 0]
    assert (visited["id"] % 2 == 0).all()


def test_frontier_bfs_high_diameter_path(spark):
    """40-level path through the frontier-join path: exercises the
    periodic visited-union coalescing (plan stays bounded) and the exact
    per-level distances."""
    from approximate_pagerank_public_spark.plans.graph import Graph

    n = 41
    g = Graph.from_edge_arrays(
        spark, list(range(n - 1)), list(range(1, n)), num_vertices=n, num_partitions=4
    )
    res = multi_source_bfs(g, [0]).toPandas().set_index("id")["dist"]
    assert len(res) == n
    assert all(res[i] == i for i in range(n))
    g.unpersist()


def test_closeness_and_eccentricity(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    sources = [17, 42]
    cc = closeness_centrality(g_rand, sources).toPandas().set_index("source")["closeness"]
    ec = eccentricity(g_rand, sources).toPandas().set_index("source")["ecc"]
    for s in sources:
        gold = _golden_bfs(src, dst, 300, s)
        level_sum = sum(gold.values())
        assert abs(cc[s] - (1.0 / level_sum if level_sum else 0.0)) < 1e-12
        assert ec[s] == max(gold.values())


def _golden_fbfs(src, dst, n, root, skip=9):
    """fbfs.gm twin under the engine's pinned (level, id) visit order."""
    gold = _golden_bfs(src, dst, n, root)
    order = sorted(gold, key=lambda v: (gold[v], v))
    out = {}
    for cnt, v in enumerate(order):
        if cnt >= skip:
            out[v] = (gold[v], 2 * cnt + 1)
        else:
            out[v] = (0 if v == root else None, 0)
    for v in range(n):
        out.setdefault(v, (None, 0))
    return out


def test_filtered_bfs_fbfs_semantics(g_rand):
    from approximate_pagerank_public_spark.operators.traversal import filtered_bfs

    src, dst, _ = g_rand.edges_numpy()
    gold = _golden_fbfs(src, dst, 300, 17)
    res = filtered_bfs(g_rand, 17).toPandas()
    assert len(res) == 300
    for _, row in res.iterrows():
        gd, gp = gold[row["id"]]
        got_d = None if row.isna()["dist"] else int(row["dist"])
        assert got_d == gd, f"id {row['id']}: dist {got_d} != {gd}"
        assert int(row["prop"]) == gp, f"id {row['id']}: prop"


def test_filtered_bfs_small_reach_all_skipped(g5):
    """A root reaching < skip_first vertices writes nothing but its own
    unconditional dist=0 (fbfs.gm:9)."""
    from approximate_pagerank_public_spark.operators.traversal import filtered_bfs

    res = filtered_bfs(g5, 1).toPandas().set_index("id")
    assert (res["prop"] == 0).all()
    assert res.loc[1, "dist"] == 0
    assert res.drop(index=1)["dist"].isna().all()


def test_block_bfs_matches_frontier_bfs(g_rand):
    from approximate_pagerank_public_spark.operators.traversal import (
        multi_source_bfs,
        multi_source_bfs_block,
    )

    sources = [0, 5, 250]
    a = multi_source_bfs(g_rand, sources).toPandas()
    b = multi_source_bfs_block(g_rand, sources).toPandas()
    key = ["source", "id", "dist"]
    assert sorted(map(tuple, a[key].values)) == sorted(map(tuple, b[key].values))


def test_block_bfs_dense_frontier_path_matches_sparse(g_rand, monkeypatch):
    """The dense |E|-mask gather and the sparse src-index lookup are
    alternate selection strategies inside frontier_min_relax — force
    each and require identical distances (small graphs otherwise always
    take the sparse path, leaving dense untested)."""
    from approximate_pagerank_public_spark.operators import traversal

    sources = [0, 7]
    sparse = traversal.multi_source_bfs_block(g_rand, sources).toPandas()
    monkeypatch.setattr(traversal, "_sparse_threshold", lambda n: -1)
    dense = traversal.multi_source_bfs_block(g_rand, sources).toPandas()
    key = ["source", "id", "dist"]
    assert sorted(map(tuple, sparse[key].values)) == sorted(
        map(tuple, dense[key].values)
    )


def test_approx_diameter_double_sweep(g_rand):
    from approximate_pagerank_public_spark.operators.traversal import approx_diameter

    src, dst, _ = g_rand.edges_numpy()
    d0 = _golden_bfs(src, dst, 300, 0)
    peak = min(v for v in d0 if d0[v] == max(d0.values()))
    d1 = _golden_bfs(src, dst, 300, peak)
    row = approx_diameter(g_rand, 0).first()
    assert row["start"] == 0
    assert row["peak"] == peak
    assert row["diameter_lb"] == max(d1.values())


def test_harmonic_centrality_golden_and_path_parity(g_rand, spark, monkeypatch):
    from approximate_pagerank_public_spark.operators.traversal import (
        harmonic_centrality,
    )

    src, dst, _ = g_rand.edges_numpy()
    sources = [17, 42, 295]  # 295 is dangling (reaches nothing)
    hc = harmonic_centrality(g_rand, sources).toPandas().set_index("source")["harmonic"]
    for s in sources:
        gold = _golden_bfs(src, dst, 300, s)
        # same pinned fold: histogram, ascending-d
        from collections import Counter

        hist = Counter(d for v, d in gold.items() if d > 0)
        want = 0.0
        for d in sorted(hist):
            want += hist[d] / d
        assert abs(hc[s] - want) < 1e-12, s
    # distributed DataFrame twin must agree bit-for-bit
    import approximate_pagerank_public_spark.plans.graph as graphmod

    monkeypatch.setattr(
        type(g_rand), "blocks", property(lambda self: None), raising=True
    )
    hc2 = (
        harmonic_centrality(g_rand, sources).toPandas().set_index("source")["harmonic"]
    )
    for s in sources:
        assert hc2[s] == hc[s], s


def test_barrier_relax_matches_per_round_bit_parity(g_rand, gang_fallback):
    """frontier_min_relax has two execution paths: all rounds in one
    gang-scheduled barrier job (local masters) vs one streamed
    ``spmv.gather`` min job per round (no blocks, or a failed gang).
    The barrier loop snapshots state per round, so distances, round
    count, and convergence must be identical — for both unweighted
    min-plus (BFS) and weighted SSSP float64 relaxation."""
    from approximate_pagerank_public_spark.operators import traversal

    n = 300
    sources = [0, 7, 250]

    def run_bfs():
        dist, inf = traversal._block_bfs_distances(g_rand, sources)
        return dist

    def run_sssp():
        changed = np.zeros(n, dtype=bool)
        changed[17] = True
        state = np.full((n, 1), np.inf)
        state[17, 0] = 0.0
        out, rounds, conv = traversal.frontier_min_relax(
            g_rand, state, changed, plus_one=False, edge_weighted=True
        )
        return out, rounds, conv

    b_bfs = run_bfs()
    b_sssp = run_sssp()
    with gang_fallback():
        p_bfs = run_bfs()
        p_sssp = run_sssp()
    assert np.array_equal(b_bfs, p_bfs)
    assert np.array_equal(b_sssp[0], p_sssp[0])  # bit-identical f64
    assert b_sssp[1:] == p_sssp[1:]  # rounds + converged


def test_relax_block_selection_strategies_agree():
    """sparse top-down / dense top-down / bottom-up are alternate edge
    selections inside relax_block — same candidates reach the segmented
    min, so improvements must be identical (pure-NumPy, no Spark)."""
    import os
    import tempfile

    from approximate_pagerank_public_spark.plans.blocks import (
        build_tiled_block,
        relax_block,
    )

    rng = np.random.default_rng(7)
    n = 120
    src = rng.integers(0, n, 900)
    dst = rng.integers(0, n, 900)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    w = np.ones(len(src))
    arrays = build_tiled_block(src.astype(np.int64), dst.astype(np.int64), w)
    inf = np.int16(16000)
    # CONSISTENT mid-BFS snapshot (levels ≤ 2 final, level-2 = frontier):
    # bottom-up assumes every visited vertex already propagated, which
    # holds for level-synchronous states but not for arbitrary ones
    gold = _golden_bfs(src, dst, n, int(src[0]))
    state = np.full((n, 1), inf, dtype=np.int16)
    for v, d_ in gold.items():
        if d_ <= 2:
            state[v, 0] = d_
    front = np.flatnonzero(state[:, 0] == 2)
    mask = np.zeros(n, dtype=bool)
    mask[front] = True
    with tempfile.TemporaryDirectory() as d:
        for name, arr in arrays.items():
            np.save(os.path.join(d, f"part_0_{name}.npy"), arr)
        blk = tuple(
            np.load(os.path.join(d, f"part_0_{name}.npy"), mmap_mode="r")
            for name in ("src", "w", "udst", "starts", "segmap", "tb", "sb")
        )
        one = np.int16(1)
        r_sparse = relax_block(d, 0, blk, state, front=np.sort(front), one=one)
        r_dense = relax_block(d, 0, blk, state, mask=mask, one=one)
        # front_frac=2.0 forces the bottom-up branch for every block
        r_bu = relax_block(
            d, 0, blk, state, mask=mask, inf_value=int(inf), front_frac=2.0, one=one
        )
    assert r_sparse is not None and r_dense is not None and r_bu is not None
    for a, b in [(r_sparse, r_dense), (r_dense, r_bu)]:
        assert np.array_equal(a[0], b[0])
        assert np.array_equal(a[1], b[1])


def test_exact_diameter_path_star_cycle(spark):
    from approximate_pagerank_public_spark.operators.traversal import (
        exact_diameter,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    # 10-vertex path: diameter 9 (root = max-deg tie -> smallest id)
    g = Graph.from_edge_arrays(
        spark, list(range(9)), list(range(1, 10)), num_vertices=10, num_partitions=4
    )
    row = exact_diameter(g).first()
    assert row["diameter"] == 9
    g.unpersist()

    # star: center 0 with 6 leaves -> diameter 2, root must be 0
    g = Graph.from_edge_arrays(
        spark, [0] * 6, list(range(1, 7)), num_vertices=7, num_partitions=4
    )
    row = exact_diameter(g).first()
    assert (row["start"], row["diameter"]) == (0, 2)
    g.unpersist()

    # 8-cycle: diameter 4
    g = Graph.from_edge_arrays(
        spark,
        list(range(8)),
        [(i + 1) % 8 for i in range(8)],
        num_vertices=8,
        num_partitions=4,
    )
    assert exact_diameter(g).first()["diameter"] == 4
    g.unpersist()


def test_exact_diameter_component_of_root(spark):
    """Two components: the answer is the diameter of the max-degree
    vertex's component (star, diameter 2), not the longer path off in
    the other component."""
    from approximate_pagerank_public_spark.operators.traversal import (
        exact_diameter,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    src = [0, 0, 0, 0] + [10, 11, 12, 13]
    dst = [1, 2, 3, 4] + [11, 12, 13, 14]
    g = Graph.from_edge_arrays(
        spark, src, dst, num_vertices=15, num_partitions=4
    )
    row = exact_diameter(g).first()
    assert (row["start"], row["diameter"]) == (0, 2)
    g.unpersist()


def test_exact_diameter_matches_golden_random(g_rand):
    """iFUB vs brute-force all-pairs BFS on the undirected g_rand
    component of the max-degree vertex."""
    from collections import deque

    from approximate_pagerank_public_spark.operators.traversal import (
        exact_diameter,
    )

    src, dst, _ = g_rand.edges_numpy()
    adj = {}
    for u, v in zip(src.tolist(), dst.tolist()):
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    root = max(adj, key=lambda u: (len(adj[u]), -u))

    def _bfs_far(s):
        seen = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj.get(u, ()):
                if w not in seen:
                    seen[w] = seen[u] + 1
                    q.append(w)
        return seen

    comp = list(_bfs_far(root))
    want = max(max(_bfs_far(s).values()) for s in comp)
    row = exact_diameter(g_rand).first()
    assert (row["start"], row["diameter"]) == (root, want)


def test_widest_path_hand_graph(spark):
    """Two routes 0→3: direct narrow edge (0.1) vs wide two-hop via 1
    (0.5, 0.4) — bottleneck must take the wide route (0.4)."""
    from approximate_pagerank_public_spark.operators.traversal import (
        widest_path,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    pdf = [(0, 3, 0.1), (0, 1, 0.5), (1, 3, 0.4), (3, 4, 0.9)]
    edges = spark.createDataFrame(pdf, "src long, dst long, weight double")
    g = Graph(edges, num_vertices=5, num_partitions=4)
    got = {r["id"]: r["cap"] for r in widest_path(g, 0).collect()}
    assert got == {0: 1.0, 1: 0.5, 3: 0.4, 4: 0.4}
    g.unpersist()


def test_widest_path_matches_golden_random(g_rand):
    """Engine vs a pure-Python Dijkstra-style max-min relaxation."""
    import heapq

    from approximate_pagerank_public_spark.operators.traversal import (
        widest_path,
    )

    src, dst, w = g_rand.edges_numpy()
    adj = {}
    for u, v, ww in zip(src.tolist(), dst.tolist(), w.tolist()):
        adj.setdefault(u, []).append((v, ww))
    best = {17: 1.0}
    heap = [(-1.0, 17)]
    while heap:
        negc, u = heapq.heappop(heap)
        c = -negc
        if c < best.get(u, 0.0):
            continue
        for v, ww in adj.get(u, ()):
            nc = min(c, ww)
            if nc > best.get(v, 0.0):
                best[v] = nc
                heapq.heappush(heap, (-nc, v))
    got = {r["id"]: r["cap"] for r in widest_path(g_rand, 17).collect()}
    assert got == best


def test_exact_diameter_eval_guard(g_rand):
    """max_ecc_evals raises loudly instead of sweeping a huge fringe."""
    import pytest as _pytest

    from approximate_pagerank_public_spark.operators.traversal import (
        exact_diameter,
    )

    with _pytest.raises(RuntimeError, match="max_ecc_evals"):
        exact_diameter(g_rand, max_ecc_evals=0)


def _plan_leaves(df) -> set[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    names = set()
    while leaves.hasNext():
        names.add(leaves.next().nodeName())
    return names


def test_driver_results_upload_route(spark, g5):
    """Driver results reach Spark by one Arrow upload: above the
    session's 1 MiB ``localRelationThreshold`` as an RDD of Arrow
    batches, below it as a ``LocalRelation``; an empty result keeps its
    declared schema and plans no partitions."""
    from approximate_pagerank_public_spark.operators.kcore import k_core
    from approximate_pagerank_public_spark.operators.pagerank import pagerank
    from approximate_pagerank_public_spark.operators.traversal import (
        multi_source_bfs_block,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    # bidirected binary tree: depth ~14, every source reaches every vertex
    n = 20_000
    child = np.arange(1, n)
    parent = (child - 1) // 2
    g = Graph.from_edge_arrays(
        spark,
        np.concatenate([child, parent]),
        np.concatenate([parent, child]),
        num_vertices=n,
        num_partitions=4,
    )
    try:
        big = multi_source_bfs_block(g, list(range(8)))  # 1.6·10⁵ rows, 3.8 MB
        assert _plan_leaves(big) == {"LogicalRDD"}
        assert big.count() == 8 * n
        assert big.where("source = 7 and id = 7").first()["dist"] == 0
    finally:
        g.unpersist()
    small = multi_source_bfs_block(g5, [1])
    assert _plan_leaves(small) == {"LocalRelation"}
    assert sorted(r["id"] for r in small.collect()) == [0, 1, 2, 3]
    empty = k_core(g5, k=10, mode="broadcast")._df
    assert empty.schema.simpleString() == "struct<id:bigint,core_deg:bigint>"
    assert empty.count() == 0
    # no stage of empty tasks downstream of an empty result
    assert empty.rdd.getNumPartitions() <= 1
    # the same for a result that used to call createDataFrame directly:
    # no superstep ran, so the iteration-metrics table is empty
    no_steps = pagerank(g5, max_iter=0, mode="broadcast").metrics_df()
    assert no_steps.count() == 0
    assert no_steps.rdd.getNumPartitions() <= 1
