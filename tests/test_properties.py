"""Property-based tests (hypothesis): engine vs NumPy golden on random
digraphs — strengthens the reference's fixed-fixture differential
testing (SURVEY §5) with generated structure."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from approximate_pagerank_public_spark.functions import golden
from approximate_pagerank_public_spark.operators.pagerank import pagerank
from approximate_pagerank_public_spark.operators.triangles import triangle_count
from approximate_pagerank_public_spark.plans.graph import Graph


@st.composite
def digraphs(draw):
    n = draw(st.integers(min_value=3, max_value=40))
    m = draw(st.integers(min_value=1, max_value=120))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    keep = src != dst
    if not keep.any():
        src, dst = np.array([0]), np.array([1])
        n = max(n, 2)
    else:
        src, dst = src[keep], dst[keep]
    return n, src, dst


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(g=digraphs())
def test_pagerank_matches_golden_on_random_digraphs(spark, g):
    n, src, dst = g
    graph = Graph.from_edge_arrays(spark, src, dst, num_vertices=n, num_partitions=4)
    try:
        s, d, w = graph.edges_numpy()
        gold, _ = golden.golden_pagerank(s, d, w, n, max_iter=50)
        res = pagerank(graph, mode="broadcast", max_iter=50)
        assert np.allclose(res.ranks_np[0], gold, atol=1e-6)
        assert abs(res.ranks_np.sum() - 1.0) < 1e-6
    finally:
        graph.unpersist()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(g=digraphs())
def test_triangles_match_golden_on_random_digraphs(spark, g):
    n, src, dst = g
    graph = Graph.from_edge_arrays(spark, src, dst, num_vertices=n, num_partitions=4)
    try:
        s, d, _ = graph.edges_numpy()
        assert triangle_count(graph) == golden.golden_triangle_count(s, d, n)
    finally:
        graph.unpersist()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(g=digraphs())
def test_barrier_parity_on_random_digraphs(spark, g, gang_fallback):
    """Property: for any digraph, the gang-scheduled barrier loop and
    the per-superstep path agree to within accumulated ulps. (Exact
    bit-equality holds for the per-vertex axpb arithmetic — asserted on
    a fixed graph in test_pagerank — but the dangling-mass scalar is a
    partial-sum reduction whose association differs between the paths,
    so graphs with many dangling vertices can differ in the last ulp
    per superstep.)"""
    from approximate_pagerank_public_spark.operators.pagerank import multi_ppr

    n, src, dst = g
    graph = Graph.from_edge_arrays(spark, src, dst, num_vertices=n, num_partitions=4)
    try:
        sources = [0, n // 2]
        res_b = multi_ppr(graph, sources, max_iter=7, tol=0.0)
        with gang_fallback():
            res_c = multi_ppr(graph, sources, max_iter=7, tol=0.0)
        assert np.allclose(res_b.ranks_np, res_c.ranks_np, rtol=0, atol=1e-13)
    finally:
        graph.unpersist()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(g=digraphs())
def test_coloring_proper_and_replay_on_random_digraphs(spark, g):
    from approximate_pagerank_public_spark.operators.coloring import (
        coloring_python,
        greedy_coloring,
    )

    n, src, dst = g
    graph = Graph.from_edge_arrays(spark, src, dst, num_vertices=n, num_partitions=4)
    try:
        gold, gold_rounds = coloring_python(src.tolist(), dst.tolist(), n)
        df, rounds = greedy_coloring(graph)
        got = {r["id"]: r["color"] for r in df.collect()}
        assert (rounds, got) == (gold_rounds, gold)
        es = set(zip(src.tolist(), dst.tolist()))
        assert all(got[u] != got[v] for u, v in es if u != v)
    finally:
        graph.unpersist()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=200),
    p=st.integers(min_value=0, max_value=100),
)
def test_exact_quantiles_match_numpy_lower_on_random_lists(spark, vals, p):
    from approximate_pagerank_public_spark.functions.quantiles import (
        exact_int_quantiles,
    )

    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    r = exact_int_quantiles(df, "x", (p,)).first()
    arr = np.sort(np.array(vals))
    rank = (len(arr) - 1) * p // 100
    assert (r["n"], r["rank"], r["value"]) == (len(arr), rank, int(arr[rank]))


@settings(deadline=None, max_examples=30)
@given(
    rows=st.integers(min_value=1, max_value=400),
    segs=st.integers(min_value=1, max_value=50),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_segment_max_u8_matches_reduceat(rows, segs, seed):
    import numpy as np

    from approximate_pagerank_public_spark.operators.anf import segment_max_u8

    rng = np.random.default_rng(seed)
    mat = rng.integers(0, 34, (rows, 16)).astype(np.uint8)
    seg = np.sort(rng.integers(0, segs, rows))
    starts = np.flatnonzero(np.r_[True, seg[1:] != seg[:-1]])
    want = np.maximum.reduceat(mat, starts, axis=0)
    got = segment_max_u8(mat, starts)
    assert np.array_equal(got, want)
    # fused-gather form: identity index must match too
    idx = np.arange(rows, dtype=np.int64)
    assert np.array_equal(segment_max_u8(mat, starts, idx=idx), want)


@settings(deadline=None, max_examples=20, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    keys=st.lists(st.text(min_size=0, max_size=20), min_size=1, max_size=60, unique=True),
    n=st.integers(min_value=1, max_value=64),
)
def test_hrw_assignment_in_range_and_stable(spark, keys, n):
    from pyspark.sql import functions as F

    from approximate_pagerank_public_spark.functions.sharding import hrw_assign

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    a = {r["k"]: r["shard"] for r in hrw_assign(df, "k", n).collect()}
    assert set(a) == set(keys)
    assert all(0 <= s < n for s in a.values())
    b = {r["k"]: r["shard"] for r in hrw_assign(df, "k", n).collect()}
    assert a == b


@settings(deadline=None, max_examples=15, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    members=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=40, unique=True),
)
def test_bloom_never_false_negative(spark, members):
    from approximate_pagerank_public_spark.functions.bloom import (
        bloom_build,
        bloom_probe,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(m,) for m in members], "v string")
    bits = bloom_build(df, "v", m=512, k=3)
    got = bloom_probe(bits, df, "v", m=512, k=3)
    assert got.where(~F.col("bloom_hit")).isEmpty()
