"""Label propagation on the barrier round runner, and the loud fallback.

``plans.barrier.run_barrier_rounds`` runs every round of a synchronous
per-block fixpoint in one gang-scheduled job: min-relaxation (BFS, CC,
SCC, SSSP) through ``relax_block`` and LPA votes through
``vote_block``. The streamed per-round ``mapInArrow`` paths stay as
the fallback; every family enters the gang through
``plans.barrier.run_gang``, so a gang failure falls back with a
``RuntimeWarning``, and any other error propagates.
"""

import numpy as np
import pytest

from approximate_pagerank_public_spark.functions import golden
from approximate_pagerank_public_spark.operators import labelprop
from approximate_pagerank_public_spark.operators.components import connected_components
from approximate_pagerank_public_spark.operators.labelprop import (
    golden_label_propagation,
    label_propagation,
)
from approximate_pagerank_public_spark.plans import barrier
from approximate_pagerank_public_spark.plans.graph import Graph


def _two_cliques(spark):
    """The dense-cliques graph of ``test_label_propagation_matches_golden``."""
    rng = np.random.default_rng(1)
    a = [(i, j) for i in range(8) for j in range(8) if i != j and rng.random() < 0.8]
    b = [(i, j) for i in range(8, 16) for j in range(8, 16) if i != j and rng.random() < 0.8]
    edges = a + b + [(0, 8)]
    src, dst = zip(*edges)
    return Graph.from_edge_arrays(spark, src, dst, num_vertices=16, num_partitions=4)


def _equal_cliques(spark):
    """Two complete K5s joined by one edge: every vote is a tie."""
    edges = [(i, j) for i in range(5) for j in range(5) if i < j]
    edges += [(i + 5, j + 5) for i, j in edges] + [(4, 5)]
    src, dst = zip(*edges)
    return Graph.from_edge_arrays(spark, src, dst, num_vertices=10, num_partitions=4)


def _even_cycle(spark):
    """C8: each vertex splits its vote evenly; labels oscillate, so the
    run ends at ``max_iter``, not at a fixpoint."""
    n = 8
    return Graph.from_edge_arrays(
        spark, np.arange(n), (np.arange(n) + 1) % n, num_vertices=n, num_partitions=4
    )


def _with_isolated(spark):
    """Triangles 0-1-2 and 4-5-6; vertices 3, 7 and 8..11 are isolated."""
    src = [0, 1, 2, 4, 5, 6]
    dst = [1, 2, 0, 5, 6, 4]
    return Graph.from_edge_arrays(spark, src, dst, num_vertices=12, num_partitions=4)


GRAPHS = {
    "two_cliques": _two_cliques,
    "equal_cliques": _equal_cliques,
    "even_cycle": _even_cycle,
    "isolated": _with_isolated,
}


def _lpa_paths(und, max_iter, monkeypatch, gang_fallback):
    """``(labels, rounds)`` from the gang path, then the per-round path;
    asserts the gang really ran."""
    ran = []
    real = barrier.run_barrier_rounds

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        ran.append(out[1])
        return out

    monkeypatch.setattr(barrier, "run_barrier_rounds", spy)
    gang = labelprop._lpa_broadcast(und, max_iter)
    assert ran == [gang[1]]
    with gang_fallback():
        per_round = labelprop._lpa_broadcast(und, max_iter)
    assert len(ran) == 1
    return gang, per_round


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_barrier_lpa_matches_per_round_and_golden(spark, name, monkeypatch, gang_fallback):
    g = GRAPHS[name](spark)
    try:
        und = g.undirected()
        s2, d2, w2 = und.edges_numpy()
        for max_iter in (1, 10):
            gold = golden_label_propagation(s2, d2, w2, g.num_vertices, max_iter=max_iter)
            (lab_b, rounds_b), (lab_p, rounds_p) = _lpa_paths(
                und, max_iter, monkeypatch, gang_fallback
            )
            assert np.array_equal(lab_b, gold), max_iter
            assert np.array_equal(lab_p, gold), max_iter
            # the round the run stops at (fixpoint or max_iter) agrees
            assert rounds_b == rounds_p, max_iter
        if name == "even_cycle":
            assert rounds_b == 10
        else:
            assert rounds_b < 10  # stopped early, at a fixpoint
    finally:
        g.unpersist()


def test_barrier_lpa_matches_golden_on_random_graph(g_rand, monkeypatch, gang_fallback):
    und = g_rand.undirected()
    s2, d2, w2 = und.edges_numpy()
    gold = golden_label_propagation(s2, d2, w2, 300, max_iter=5)
    (lab_b, rounds_b), (lab_p, rounds_p) = _lpa_paths(und, 5, monkeypatch, gang_fallback)
    assert np.array_equal(lab_b, gold)
    assert np.array_equal(lab_p, gold)
    assert rounds_b == rounds_p
    got = label_propagation(g_rand, max_iter=5).toPandas().sort_values("id")
    assert np.array_equal(got["label"].to_numpy(), gold)


def test_gang_failure_warns_and_falls_back(g_rand, monkeypatch):
    """A gang that times out reruns on the per-round paths, loudly, with
    golden-identical CC and LPA labels."""
    src, dst, _ = g_rand.edges_numpy()
    s2, d2, w2 = g_rand.undirected().edges_numpy()

    def timeout(*args, **kwargs):
        raise TimeoutError("barrier sync timed out")

    monkeypatch.setattr(barrier, "run_barrier_rounds", timeout)
    with pytest.warns(RuntimeWarning, match="barrier fast path failed.*TimeoutError"):
        cc = connected_components(g_rand, mode="broadcast")
    got = cc.toPandas().sort_values("id")["component"].to_numpy()
    assert np.array_equal(got, golden.golden_connected_components(src, dst, 300))
    with pytest.warns(RuntimeWarning, match="barrier fast path failed.*TimeoutError"):
        lp = label_propagation(g_rand, max_iter=5, mode="broadcast")
    got = lp.toPandas().sort_values("id")["label"].to_numpy()
    assert np.array_equal(got, golden_label_propagation(s2, d2, w2, 300, max_iter=5))


def test_non_gang_error_propagates(g_rand, monkeypatch):
    """An error that is not a gang failure (here a ValueError out of the
    runner, as a kernel bug would raise) is not swallowed by a silent
    per-round rerun."""

    def broken(*args, **kwargs):
        raise ValueError("kernel bug")

    monkeypatch.setattr(barrier, "run_barrier_rounds", broken)
    with pytest.raises(ValueError, match="kernel bug"):
        connected_components(g_rand, mode="broadcast")
    with pytest.raises(ValueError, match="kernel bug"):
        label_propagation(g_rand, mode="broadcast")


def test_kernel_error_in_gang_warns_then_surfaces(g_rand, monkeypatch):
    """A kernel that raises inside the gang fails the barrier job: the
    caller warns and reruns on its streamed per-round path. Neither
    LPA's nor the min-relax one runs a block kernel (``vote_block``,
    ``relax_block``), so both still return golden labels."""
    from approximate_pagerank_public_spark.plans import blocks

    def broken(*args, **kwargs):  # nested, so it ships to the workers by value
        raise ValueError("kernel bug")

    src, dst, _ = g_rand.edges_numpy()
    s2, d2, w2 = g_rand.undirected().edges_numpy()
    monkeypatch.setattr(labelprop, "vote_block", broken)
    with pytest.warns(RuntimeWarning, match="barrier fast path failed"):
        lp = label_propagation(g_rand, max_iter=5, mode="broadcast")
    got = lp.toPandas().sort_values("id")["label"].to_numpy()
    assert np.array_equal(got, golden_label_propagation(s2, d2, w2, 300, max_iter=5))

    monkeypatch.setattr(blocks, "relax_block", broken)
    with pytest.warns(RuntimeWarning, match="barrier fast path failed"):
        cc = connected_components(g_rand, mode="broadcast")
    got = cc.toPandas().sort_values("id")["component"].to_numpy()
    assert np.array_equal(got, golden.golden_connected_components(src, dst, 300))
