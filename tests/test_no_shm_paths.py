"""Driver-state paths on a master without shared-memory CSR blocks.

A cluster master has no ``/dev/shm`` blocks (``Graph.blocks`` is None),
so every driver-state superstep streams the edge table through the
``mapInArrow`` gather instead of the block kernels. Each case runs one
entry point with blocks present, then again with ``Graph.blocks``
patched to None (as ``test_traversal.py`` does for the BFS twin), and
expects the same answer: bit-equal ranks for the PageRank family, equal
rows for the rest.
"""

import numpy as np
import pytest

from approximate_pagerank_public_spark.operators import (
    biconnect,
    centrality,
    components,
    labelprop,
    pagerank,
    scc,
    sssp,
    traversal,
)

SOURCES = [17, 42, 0, 7]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _without_blocks(g, monkeypatch, run):
    want = run(g)
    monkeypatch.setattr(type(g), "blocks", property(lambda self: None))
    return want, run(g)


@pytest.mark.parametrize(
    "run",
    [
        lambda g: pagerank.pagerank(g, mode="broadcast").ranks_np,
        lambda g: pagerank.multi_ppr(g, [0, 7, 250], mode="broadcast").ranks_np,
    ],
    ids=["pagerank", "multi_ppr"],
)
def test_no_shm_ranks_bit_equal(g_rand, monkeypatch, run):
    want, got = _without_blocks(g_rand, monkeypatch, run)
    assert np.array_equal(want, got)


@pytest.mark.parametrize(
    "run",
    [
        lambda g: components.connected_components(g, mode="broadcast"),
        lambda g: sssp.sssp(g, [17], mode="broadcast"),
        lambda g: scc.strongly_connected_components(g, mode="broadcast"),
        lambda g: labelprop.label_propagation(g, max_iter=5, mode="broadcast"),
        lambda g: centrality.stress_centrality(g, SOURCES),
        lambda g: centrality.betweenness_centrality(g, SOURCES),
        lambda g: scc.bowtie_decomposition(g),
        lambda g: biconnect.bridges(g, mode="broadcast"),
        lambda g: biconnect.two_edge_components(g, mode="broadcast"),
    ],
    ids=[
        "components",
        "sssp",
        "scc",
        "labelprop",
        "stress",
        "betweenness",
        "bowtie",
        "bridges",
        "two_edge_components",
    ],
)
def test_no_shm_rows_equal(g_rand, monkeypatch, run):
    want, got = _without_blocks(g_rand, monkeypatch, lambda g: _rows(run(g)))
    assert want == got  # g_rand has no bridges: that row list is empty


def _bfs_relax(g):
    n = g.num_vertices
    sources = [0, 7, 250]
    state = np.full((n, len(sources)), 16_000, dtype=np.int16)
    state[sources, np.arange(len(sources))] = 0
    changed = np.zeros(n, dtype=bool)
    changed[sources] = True
    return traversal.frontier_min_relax(
        g, state, changed, plus_one=True, inf_value=16_000
    )


def _sssp_relax(g):
    n = g.num_vertices
    state = np.full((n, 1), np.inf)
    state[17, 0] = 0.0
    changed = np.zeros(n, dtype=bool)
    changed[17] = True
    return traversal.frontier_min_relax(
        g, state, changed, plus_one=False, edge_weighted=True
    )


@pytest.mark.parametrize("run", [_bfs_relax, _sssp_relax], ids=["bfs", "sssp"])
def test_no_shm_frontier_min_relax(g_rand, monkeypatch, run):
    """Values, ``rounds`` and ``converged`` match the block paths."""
    (want, w_rounds, w_conv), (got, g_rounds, g_conv) = _without_blocks(
        g_rand, monkeypatch, run
    )
    assert np.array_equal(want, got)
    assert (w_rounds, w_conv) == (g_rounds, g_conv)
    assert w_conv and w_rounds > 1
