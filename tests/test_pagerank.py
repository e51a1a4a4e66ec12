"""Golden parity for PageRank / PPR / multi-PPR (allclose 1e-6, the
reference's CPU-vs-FPGA validation bar)."""

import numpy as np

from approximate_pagerank_public_spark.functions import golden
from approximate_pagerank_public_spark.functions.metrics import evaluate_ranking
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.operators.pagerank import (
    multi_ppr,
    pagerank,
    personalized_pagerank,
)


def test_pagerank_g5_matches_golden(g5):
    src, dst, w = g5.edges_numpy()
    gold, gold_iters = golden.golden_pagerank(src, dst, w, 5)
    res = pagerank(g5, mode="broadcast")
    assert res.converged
    assert np.allclose(res.ranks_np[0], gold, atol=1e-6)
    assert abs(res.iterations - gold_iters) <= 1


def test_pagerank_sums_to_one(g5):
    res = pagerank(g5, mode="broadcast")
    assert abs(res.ranks_np.sum() - 1.0) < 1e-9


def test_pagerank_random_graph_golden_and_ranking(g_rand):
    src, dst, w = g_rand.edges_numpy()
    gold, _ = golden.golden_pagerank(src, dst, w, 300)
    res = pagerank(g_rand, mode="broadcast")
    assert res.converged
    assert np.allclose(res.ranks_np[0], gold, atol=1e-6)
    ev = evaluate_ranking(gold, res.ranks_np[0])
    assert all(v == 0 for v in ev["position_errors"].values())
    assert all(v == 1.0 for v in ev["ndcg"].values())
    assert all(v == 0 for v in ev["edit_distance"].values())


def test_pagerank_iteration_metrics_monotone(g_rand):
    res = pagerank(g_rand, mode="broadcast", max_iter=20, tol=0.0)
    l1 = [m["l1_err"] for m in res.metrics]
    assert len(l1) == 20
    assert l1[-1] < l1[0]


def test_early_termination_budget(g_rand):
    """The reference's approximation knob: a fixed small iteration
    budget (FPGA default max_iter=6) still yields a usable ranking."""
    src, dst, w = g_rand.edges_numpy()
    gold, _ = golden.golden_pagerank(src, dst, w, 300)
    res = pagerank(g_rand, mode="broadcast", max_iter=6, tol=0.0)
    assert not res.converged and res.iterations == 6
    ev = evaluate_ranking(gold, res.ranks_np[0])
    assert ev["ndcg"][10] > 0.9


def test_ppr_matches_golden(g_rand):
    src, dst, w = g_rand.edges_numpy()
    for s in [0, 17, 123]:
        gold, _ = golden.golden_ppr(s, src, dst, w, 300)
        res = personalized_pagerank(g_rand, s, mode="broadcast")
        assert res.converged
        assert np.allclose(res.ranks_np[0], gold, atol=1e-6), f"source {s}"


def test_multi_ppr_matches_golden(g_rand):
    sources = [0, 3, 17, 42, 99, 123, 200, 250]
    src, dst, w = g_rand.edges_numpy()
    gold = golden.golden_multi_ppr(sources, src, dst, w, 300)
    res = multi_ppr(g_rand, sources)
    assert res.converged
    # lock-step early termination can differ from per-source golden by
    # extra iterations past each source's own convergence → 1e-6 bar
    assert np.allclose(res.ranks_np, gold, atol=1e-6)


def test_auto_mode_gates_broadcast_on_vertices_times_sources(monkeypatch):
    """The broadcast path holds S×N f64 on the driver, so `auto` gates on
    N·S: 1.25e7 vertices × 8 sources sit exactly on the cutover."""
    from types import SimpleNamespace

    from approximate_pagerank_public_spark.operators import pagerank as pr

    monkeypatch.setattr(pr, "_run_broadcast", lambda *a, **k: "broadcast")
    monkeypatch.setattr(
        pr, "_run_distributed_arrow", lambda *a, **k: "distributed-arrow"
    )

    def pick(n, s):
        return multi_ppr(SimpleNamespace(num_vertices=n), list(range(s)))

    assert pick(12_500_000, 8) == "broadcast"
    assert pick(12_500_001, 8) == "distributed-arrow"
    assert pick(12_500_001, 1) == "broadcast"
    assert pick(100_000_000, 1) == "broadcast"
    assert pick(100_000_001, 1) == "distributed-arrow"


def test_barrier_mode_bit_parity_with_per_superstep(g_rand, gang_fallback):
    """The gang-scheduled barrier loop (plans/barrier.py) must produce
    bit-identical per-vertex state to the one-job-per-superstep path —
    the arithmetic is ordered identically by construction."""
    res_b = multi_ppr(g_rand, [0, 7, 42], max_iter=12, tol=0.0)
    res_pb = pagerank(g_rand)
    # proof the gang actually ran (a silent fallback would make this
    # test vacuous — ADVICE r1); phase_timings is barrier-only evidence
    assert res_b.phase_timings is not None and "compute" in res_b.phase_timings
    assert res_pb.phase_timings is not None
    with gang_fallback():
        res_c = multi_ppr(g_rand, [0, 7, 42], max_iter=12, tol=0.0)
        res_pc = pagerank(g_rand)
    assert res_c.phase_timings is None and res_pc.phase_timings is None
    assert res_b.iterations == res_c.iterations == 12
    assert np.array_equal(res_b.ranks_np, res_c.ranks_np)
    # the convergent full-PR run agrees too (same early-exit iteration)
    assert res_pb.iterations == res_pc.iterations
    assert np.array_equal(res_pb.ranks_np, res_pc.ranks_np)
    # chunked stop-scalar reductions (plans/reduction.py) make the
    # CONVERGENCE METRICS bit-identical across paths, not just close
    for mb, mc in zip(res_pb.metrics, res_pc.metrics):
        assert mb["l1_err"] == mc["l1_err"]
        assert mb["sq_l2_err"] == mc["sq_l2_err"]
        assert mb["dangling_sum"] == mc["dangling_sum"]


def test_ppr_dangling_norm_off_matches_numpy_twin(g_rand):
    """ppr.gm:14-16 — `norm=false` drops the dangling term. Golden twin
    computed inline (the module golden always norms)."""
    src, dst, w = g_rand.edges_numpy()
    n = g_rand.num_vertices
    for s in [0, 17]:
        pr = np.zeros(n)
        pr[s] = 1.0
        for _ in range(12):
            new = 0.8 * golden.spmv_gold(src, dst, w, n, pr)
            new[s] += 0.2
            pr = new
        res = personalized_pagerank(
            g_rand, s, tol=0.0, max_iter=12, dangling_norm=False
        )
        assert np.allclose(res.ranks_np[0], pr, atol=1e-12), f"source {s}"
        # and it genuinely differs from the normed run on this graph
        normed = personalized_pagerank(g_rand, s, tol=0.0, max_iter=12)
        assert not np.allclose(res.ranks_np[0], normed.ranks_np[0], atol=1e-9)


def test_ppr_dangling_norm_off_all_paths_agree(g_rand, gang_fallback):
    gold = personalized_pagerank(g_rand, 3, tol=0.0, max_iter=8, dangling_norm=False)
    with gang_fallback():
        fb = personalized_pagerank(g_rand, 3, tol=0.0, max_iter=8, dangling_norm=False)
    assert np.array_equal(gold.ranks_np, fb.ranks_np)
    dist = personalized_pagerank(
        g_rand, 3, tol=0.0, max_iter=8, mode="distributed-arrow", dangling_norm=False
    )
    pdf = dist.ranks().toPandas().sort_values("id")
    assert np.allclose(pdf["rank_0"].to_numpy(), gold.ranks_np[0], atol=1e-12)
    multi = multi_ppr(
        g_rand, [3, 5], tol=0.0, max_iter=8, mode="distributed-arrow", dangling_norm=False
    )
    mdf = multi.ranks().toPandas().sort_values("id")
    assert np.allclose(mdf["rank_0"].to_numpy(), gold.ranks_np[0], atol=1e-12)


def test_warm_start_from_converged_stops_in_one_iteration(g_rand):
    """The incremental-recompute primitive: warm-started from its own
    fixed point, the iteration detects convergence immediately and the
    ranks are unchanged."""
    cold = pagerank(g_rand, mode="broadcast")
    warm = pagerank(g_rand, mode="broadcast", init_ranks=cold.ranks())
    assert warm.iterations == 1 and warm.converged
    assert np.allclose(warm.ranks_np[0], cold.ranks_np[0], atol=1e-9)


def test_warm_start_fill_rule_and_max_iter_zero(g_rand):
    """max_iter=0 returns the filled init state: ids present in
    init_ranks keep their value verbatim, missing ids (new vertices)
    get the cold 1/N."""
    import pyspark.sql.functions as F

    cold = pagerank(g_rand, mode="broadcast")
    half = cold.ranks().where(F.col("id") < 150)
    got = (
        pagerank(g_rand, mode="broadcast", max_iter=0, init_ranks=half)
        .ranks()
        .toPandas()
        .sort_values("id")["rank"]
        .to_numpy()
    )
    n = g_rand.num_vertices
    assert np.array_equal(got[:150], cold.ranks_np[0][:150])
    assert np.all(got[150:] == 1.0 / n)


def test_warm_start_paths_agree_bitwise(g_rand):
    """Fixed-budget warm continuation from a partial init matches
    across the broadcast and distributed-arrow paths."""
    import pyspark.sql.functions as F

    cold = pagerank(g_rand, mode="broadcast", tol=0.0, max_iter=5)
    part = cold.ranks().where(F.col("id") % 3 != 0)
    outs = {}
    for mode in ("broadcast", "distributed-arrow"):
        outs[mode] = (
            pagerank(g_rand, mode=mode, tol=0.0, max_iter=3, init_ranks=part)
            .ranks()
            .toPandas()
            .sort_values("id")["rank"]
            .to_numpy()
        )
    assert np.allclose(outs["broadcast"], outs["distributed-arrow"], atol=1e-12)


def test_warm_start_reconverges_faster_after_graph_delta(spark):
    """Cold-vs-warm on a perturbed graph: warm start from the previous
    solution reaches 1e-6 in strictly fewer iterations and lands on the
    same fixed point."""
    src, dst = _warm_delta_edges()
    g_old = Graph.from_edge_arrays(spark, src[:-40], dst[:-40], num_vertices=250, num_partitions=4)
    g_new = Graph.from_edge_arrays(spark, src, dst, num_vertices=250, num_partitions=4)
    old = pagerank(g_old, mode="broadcast")
    cold = pagerank(g_new, mode="broadcast")
    warm = pagerank(g_new, mode="broadcast", init_ranks=old.ranks())
    assert warm.converged and cold.converged
    assert warm.iterations < cold.iterations
    assert np.allclose(warm.ranks_np[0], cold.ranks_np[0], atol=2e-6)
    g_old.unpersist()
    g_new.unpersist()


def _warm_delta_edges():
    rng = np.random.default_rng(11)
    src = rng.integers(0, 250, 1200)
    dst = rng.integers(0, 250, 1200)
    keep = src != dst
    return src[keep], dst[keep]


def test_metrics_df_without_supersteps(g5):
    """A run with no superstep has an empty metrics table with the
    declared schema, on both execution paths."""
    for mode in ("broadcast", "distributed-arrow"):
        res = pagerank(g5, mode=mode, max_iter=0)
        df = res.metrics_df()
        assert df.schema.simpleString() == (
            "struct<iter:bigint,l1_err:double,sq_l2_err:double,"
            "dangling_sum:double,wall_ms:double>"
        )
        assert df.count() == 0
        assert res.ranks().columns == ["id", "rank"]
    full = pagerank(g5, mode="broadcast", max_iter=3, tol=0.0).metrics_df()
    assert [r["iter"] for r in full.orderBy("iter").collect()] == [1, 2, 3]
