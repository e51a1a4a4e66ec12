"""ANF / HyperBall: exact tiny-graph golden, broadcast/packed/blocks bit
parity, NF monotonicity, linear-counting accuracy, effective diameter."""

import numpy as np
import pytest

from approximate_pagerank_public_spark.operators.anf import (
    LC_TABLE,
    anf_hyperball,
    anf_numpy,
)
from approximate_pagerank_public_spark.plans.graph import Graph


def _exact_nf(src, dst, n, rounds):
    """Exact neighborhood function via per-vertex BFS over out-edges."""
    adj = [[] for _ in range(n)]
    for s, d in zip(src, dst):
        adj[s].append(d)
    out = []
    reach = [{v} for v in range(n)]
    out.append(sum(len(r) for r in reach))
    for _ in range(rounds):
        nxt = []
        for v in range(n):
            cur = set(reach[v])
            for u in reach[v]:
                cur.update(adj[u])
            nxt.append(cur)
        reach = nxt
        out.append(sum(len(r) for r in reach))
    return out


def test_anf_path_graph_linear_counting_accurate():
    # 0→1→2→3: ball sizes are tiny so the tabulated linear-counting
    # branch must be active — estimates within ~2% of exact.
    src = np.array([0, 1, 2], dtype=np.int64)
    dst = np.array([1, 2, 3], dtype=np.int64)
    nf = anf_numpy(src, dst, 4, 3)
    exact = _exact_nf(src, dst, 4, 3)  # [4, 7, 9, 10]
    for got_micro, want in zip(nf, exact):
        assert abs(got_micro / 1e6 - want) < 0.02 * want


def test_anf_monotone_and_parity(g_rand):
    b = anf_hyperball(g_rand, rounds=4, mode="broadcast")
    p = anf_hyperball(g_rand, rounds=4, mode="packed")
    k = anf_hyperball(g_rand, rounds=4, mode="blocks")
    pb = b.neighborhood_function().toPandas().sort_values("round")
    pp = p.neighborhood_function().toPandas().sort_values("round")
    pk = k.neighborhood_function().toPandas().sort_values("round")
    # bit parity between the dense-NumPy, packed-binary (Arrow
    # segment-merge), and dist-block (routed-message) paths
    assert list(pb["nf_micro"]) == list(pp["nf_micro"])
    assert list(pb["nf_micro"]) == list(pk["nf_micro"])
    assert list(pb["frac_micro"]) == list(pp["frac_micro"])
    assert list(pb["frac_micro"]) == list(pk["frac_micro"])
    # NF is monotone non-decreasing and frac ends at exactly 1.0
    nf = list(pb["nf_micro"])
    assert nf == sorted(nf)
    assert pb["frac_micro"].iloc[-1] == 1.0


def test_anf_estimates_track_exact_nf(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    n = g_rand.num_vertices
    nf = anf_numpy(src, dst, n, 3)
    exact = _exact_nf(src, dst, n, 3)
    for got_micro, want in zip(nf, exact):
        # m=256 HLL: relative standard error ~1.04/sqrt(256) ≈ 6.5%;
        # allow 3 sigma plus small-range table quantization
        assert abs(got_micro / 1e6 - want) < 0.2 * want + 1.0


def test_effective_diameter_bounds(g_rand):
    res = anf_hyperball(g_rand, rounds=4, mode="broadcast")
    ed = res.effective_diameter()
    assert 0 <= ed <= 4
    # q=0 degenerates to round 0
    assert res.effective_diameter(q=0.0) == 0
    # the DataFrame readout agrees with the driver-side method
    row = res.effective_diameter_df(q=0.9).first()
    assert row["eff_diameter_round"] == res.effective_diameter(q=0.9)
    assert row["nf_micro"] <= row["nf_total_micro"]
    # mean distance: replayable from the NF rows, and within (0, rounds]
    md = res.mean_distance_df().first()
    nf = {
        r["round"]: r["nf_micro"]
        for r in res.neighborhood_function().collect()
    }
    wsum = sum(r * (nf[r] - nf[r - 1]) for r in range(1, 5))
    reach = nf[4] - nf[0]
    assert md["reach_pairs_micro"] == reach
    assert md["mean_dist"] == wsum / reach
    assert 0 < md["mean_dist"] <= 4


def test_lc_table_shape():
    assert len(LC_TABLE) == 256
    # z=256 (all registers empty) would mean ln(1)=0 — an empty sketch
    assert LC_TABLE[-1] == 0.0
    assert LC_TABLE[0] > LC_TABLE[1] > 0


def test_anf_dangling_only_graph(spark):
    # two isolated vertices + one edge: NF(r) fixed after round 1
    g = Graph.from_edge_arrays(
        spark,
        np.array([0], dtype=np.int64),
        np.array([1], dtype=np.int64),
        num_vertices=4,
        num_partitions=2,
    )
    try:
        res = anf_hyperball(g, rounds=2, mode="broadcast")
        pdf = res.neighborhood_function().toPandas().sort_values("round")
        assert pdf["nf_micro"].iloc[1] == pdf["nf_micro"].iloc[2]
        # round 0 ≈ 4 singleton balls
        assert abs(pdf["nf_micro"].iloc[0] / 1e6 - 4.0) < 0.1
    finally:
        g.unpersist()


def test_hyperball_harmonic_paths_and_accuracy(g_rand):
    from approximate_pagerank_public_spark.operators.anf import (
        hyperball_harmonic,
    )

    b = hyperball_harmonic(g_rand, rounds=4, mode="broadcast").toPandas()
    p = hyperball_harmonic(g_rand, rounds=4, mode="packed").toPandas()
    bb = b.sort_values("id").reset_index(drop=True)
    pp = p.sort_values("id").reset_index(drop=True)
    assert list(bb["h_micro_lcm"]) == list(pp["h_micro_lcm"])
    # accuracy: compare against exact truncated harmonic (4 rounds)
    src, dst, _ = g_rand.edges_numpy()
    n = g_rand.num_vertices
    exact = np.zeros(n)
    reach_prev = [{v} for v in range(n)]
    adj = [[] for _ in range(n)]
    for s, d in zip(src, dst):
        adj[s].append(d)
    for r in range(1, 5):
        reach = []
        for v in range(n):
            cur = set(reach_prev[v])
            for u in reach_prev[v]:
                cur.update(adj[u])
            reach.append(cur)
        for v in range(n):
            exact[v] += len(reach[v] - reach_prev[v]) / r
        reach_prev = reach
    got = bb["h_micro_lcm"].to_numpy() / (1e6 * 12)
    # HLL m=256: ~6.5% rel. std error per ball; deltas are noisier —
    # check aggregate correlation-ish bounds, not per-vertex tightness
    big = exact > 5
    assert np.all(np.abs(got[big] - exact[big]) < 0.35 * exact[big] + 1.0)


def test_sampled_triangle_estimate_deterministic_and_sane(g_rand):
    from approximate_pagerank_public_spark.operators.triangles import (
        sampled_triangle_estimate,
        triangle_count,
    )

    a = sampled_triangle_estimate(g_rand, q=2).collect()[0]
    b = sampled_triangle_estimate(g_rand, q=2).collect()[0]
    # md5 sampling: same input -> same sample -> same estimate
    assert a == b
    exact = triangle_count(g_rand)
    # q=2 keeps ~half the edges; estimate = tri_sampled * 8. DOULION's
    # variance at this size is substantial — assert the right order of
    # magnitude and the exact arithmetic, not tightness.
    assert a["est_triangles"] == a["tri_sampled"] * 8
    if exact:
        assert 0 <= a["est_triangles"] <= 8 * exact
