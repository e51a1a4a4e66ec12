"""Every Graph's CSR blocks are dst-disjoint: each dst row lives in
exactly one block, with all of its in-edges.

The block stores rely on it without checking: ``BlockStore.gather``
scatter-assigns each block's partial sums, barrier-gang tasks write
their blocks' rows without locks, and ``DistBlockStore.contribs`` takes
each dst's one contribution row as final. The Graph's dst-hash layout
(or the ETL's fused layout exchange, ``layout_ready``) is what makes it
hold, so it is pinned here for every constructor.
"""

import os

import numpy as np
import pytest

from approximate_pagerank_public_spark.plans.distblocks import DistBlockStore
from approximate_pagerank_public_spark.plans.graph import Graph


def _assert_disjoint_dst_rows(udsts: list[np.ndarray]) -> None:
    assert len(udsts) > 1, "one block is disjoint trivially"
    every = np.concatenate([np.asarray(u) for u in udsts])
    assert len(np.unique(every)) == len(every)


def _assert_graph_blocks_disjoint(g: Graph) -> None:
    blocks = g.blocks
    _assert_disjoint_dst_rows([blocks._u_dst[pid] for pid in blocks.pids])
    # the blocks hold every edge: each dst's in-edges are all in its block
    assert int(blocks.manifest["n_edges"].sum()) == g.num_edges


def test_from_edge_arrays_blocks_own_disjoint_dst_rows(g_rand):
    _assert_graph_blocks_disjoint(g_rand)
    # g_rand's hub (199 in-edges into vertex 0) lives in one block
    owners = [pid for pid, u in g_rand.blocks._u_dst.items() if 0 in np.asarray(u)]
    assert len(owners) == 1


def test_derived_graph_blocks_own_disjoint_dst_rows(g_rand):
    _assert_graph_blocks_disjoint(g_rand.undirected())
    _assert_graph_blocks_disjoint(g_rand.reversed_graph())


@pytest.mark.parametrize("broadcast_regime", [True, False])
def test_transcript_graph_blocks_own_disjoint_dst_rows(
    transcripts_t1, monkeypatch, broadcast_regime
):
    from approximate_pagerank_public_spark.operators import etl

    if not broadcast_regime:
        monkeypatch.setattr(etl, "ETL_BROADCAST_MAX_VERTICES", 0)
    g = Graph.from_transcripts(transcripts_t1, num_partitions=8)
    try:
        # the broadcast regime hands the Graph its layout as is
        assert etl.edge_layout_ready(g.num_vertices) == broadcast_regime
        _assert_graph_blocks_disjoint(g)
    finally:
        g.unpersist()


@pytest.mark.parametrize("broadcast_regime", [True, False])
def test_decayed_graph_blocks_own_disjoint_dst_rows(
    transcripts_t1, monkeypatch, broadcast_regime
):
    from approximate_pagerank_public_spark.operators import temporal

    if not broadcast_regime:
        monkeypatch.setattr(temporal, "ETL_BROADCAST_MAX_VERTICES", 0)
    g = temporal.decayed_graph(transcripts_t1, num_partitions=8)
    try:
        _assert_graph_blocks_disjoint(g)
    finally:
        g.unpersist()


def test_coalesced_dist_blocks_own_disjoint_dst_rows(spark, g_rand):
    store = DistBlockStore(spark, g_rand.edges, num_blocks=3)
    try:
        assert store.num_partitions == 3 < g_rand.num_partitions
        _assert_disjoint_dst_rows(
            [
                np.load(os.path.join(store.dir, f"db_{pid}_udst.npy"))
                for pid in store.pids
            ]
        )
    finally:
        store.cleanup()
