"""The symmetrized graph is built once per parent Graph and owned by it.

``Graph.undirected()`` is memoized like ``reversed_graph()``: connected
components, label propagation, bridges and the exact diameter share one
symmetrized edge table and one CSR block store, and only the parent's
``unpersist()`` releases them. A block store's dir also goes when the
store is garbage-collected, or at exit.
"""

import os

import numpy as np

from approximate_pagerank_public_spark.operators.biconnect import bridges
from approximate_pagerank_public_spark.operators.components import connected_components
from approximate_pagerank_public_spark.operators.labelprop import label_propagation
from approximate_pagerank_public_spark.operators.traversal import exact_diameter
from approximate_pagerank_public_spark.plans import blocks
from approximate_pagerank_public_spark.plans.graph import Graph


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _shm_bytes() -> int:
    total = 0
    for root, _dirs, files in os.walk(blocks._SHM_DIR):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # removed while walking
                pass
    return total


def _two_triangles(spark):
    # two triangles joined by the bridge 2-3, plus a pendant 5-6
    src = [0, 1, 2, 2, 3, 4, 5, 5]
    dst = [1, 2, 0, 3, 4, 5, 3, 6]
    return Graph.from_edge_arrays(spark, src, dst, num_vertices=7, num_partitions=4)


def test_undirected_is_memoized(spark):
    g = _two_triangles(spark)
    try:
        assert g.undirected() is g.undirected()
    finally:
        g.unpersist()


def test_cc_lpa_bridges_build_the_symmetrized_graph_once(spark, monkeypatch):
    g = _two_triangles(spark)
    built = []
    real = Graph.__init__

    def spy(self, *args, **kwargs):
        built.append(1)
        real(self, *args, **kwargs)

    monkeypatch.setattr(Graph, "__init__", spy)
    try:
        comp = connected_components(g).toPandas().sort_values("id")["component"]
        assert comp.tolist() == [0] * 7
        label_propagation(g, max_iter=5).collect()
        assert sorted(map(tuple, bridges(g).select("a", "b").collect())) == [
            (2, 3),
            (5, 6),
        ]
        assert len(built) == 1
    finally:
        monkeypatch.undo()
        g.unpersist()


def test_unpersist_drops_the_memo(spark):
    before = _persisted(spark)
    g = _two_triangles(spark)
    und = g.undirected()
    und.num_edges  # materializes the cached symmetrized edges
    block_dir = und.blocks.dir
    assert os.path.isdir(block_dir)
    assert _persisted(spark) - before
    g.unpersist()
    assert not os.path.isdir(block_dir)
    assert _persisted(spark) - before == set()


def test_exact_diameter_releases_the_symmetrized_graph(spark):
    """A second call reuses the memo (no new persisted RDD, no new shm
    bytes); ``g.unpersist()`` returns both to their values from before
    the graph was built."""
    rdds0, shm0 = _persisted(spark), _shm_bytes()
    n = 20
    g = Graph.from_edge_arrays(
        spark, np.arange(n - 1), np.arange(1, n), num_vertices=n, num_partitions=4
    )
    assert exact_diameter(g).first()["diameter"] == n - 1
    rdds1, shm1 = _persisted(spark), _shm_bytes()
    assert exact_diameter(g).first()["diameter"] == n - 1
    assert _persisted(spark) - rdds1 == set()
    assert _shm_bytes() == shm1
    g.unpersist()
    assert _persisted(spark) - rdds0 == set()
    assert _shm_bytes() == shm0


def test_block_store_dirs_go_with_a_dropped_graph(spark):
    """A Graph dropped without ``unpersist()`` still removes its block
    store dirs and unpersists its cached edges and the distributed
    store's routing table once collected; dirs of live stores go at
    exit."""
    import gc

    g = _two_triangles(spark)
    edges, stores = g.edges, [g.blocks, g.dist_blocks()]
    routing = stores[1].routing
    dirs = [s.dir for s in stores]
    fins = [s._finalizer for s in stores]
    assert all(os.path.isdir(d) for d in dirs)
    assert all(f.atexit for f in fins)
    assert routing.is_cached
    assert edges.is_cached
    del g, stores
    gc.collect()
    assert not any(f.alive for f in fins)
    assert not any(os.path.exists(d) for d in dirs)
    assert not routing.is_cached
    assert not edges.is_cached


def test_an_unpersisted_graph_leaves_an_equal_graph_cached(spark):
    """Spark keys a cache by plan, so two Graphs over the same input
    share one cached edge table. A Graph released by ``unpersist()``
    must not release again when collected: by then an equal Graph may
    have cached the plan anew (a benchmark's second set-up does)."""
    import gc

    g = _two_triangles(spark)
    g.unpersist()
    g2 = _two_triangles(spark)
    try:
        assert g2.edges.storageLevel.useMemory
        del g
        gc.collect()
        assert g2.edges.storageLevel.useMemory
    finally:
        g2.unpersist()
