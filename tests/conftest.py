import contextlib

import numpy as np
import pytest

from approximate_pagerank_public_spark.session import get_spark
from approximate_pagerank_public_spark.plans.graph import Graph


@pytest.fixture(scope="session")
def spark():
    s = get_spark("apr-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


# FIXTURES.md §3 — g5: 5-vertex digraph with dangling vertex 0
# (adjacency mirror of the hard-coded matrix in the reference's
# src/resources/python/pagerank.py:89-93)
G5_EDGES = [(1, 0), (1, 3), (2, 0), (2, 1), (3, 2), (4, 3)]


@pytest.fixture(scope="session")
def g5(spark):
    src, dst = zip(*G5_EDGES)
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=5, num_partitions=4)
    yield g
    g.unpersist()


def _random_digraph(n, m, seed):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    keep = src != dst
    return src[keep], dst[keep]


@pytest.fixture(scope="session")
def g_rand(spark):
    """~300-vertex random digraph with a dangling tail and a hub."""
    src, dst = _random_digraph(300, 1500, seed=42)
    # make vertices 295..299 dangling (no out-edges), vertex 0 a hub dst
    keep = src < 295
    src, dst = src[keep], dst[keep]
    hub_src = np.arange(1, 200)
    src = np.concatenate([src, hub_src])
    dst = np.concatenate([dst, np.zeros_like(hub_src)])
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=300, num_partitions=8)
    yield g
    g.unpersist()


@pytest.fixture(scope="session")
def transcripts_t1(spark):
    from approximate_pagerank_public_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    return synthesize_transcripts(spark, n_convs=200, seed=42).cache()


@pytest.fixture
def gang_fallback():
    """``with gang_fallback():`` runs every barrier-gang family on its
    fallback path, as if its gang had failed: the barrier entry
    (``plans/barrier.py::run_gang``) returns None without running it."""
    from approximate_pagerank_public_spark.plans import barrier

    @contextlib.contextmanager
    def forced():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(barrier, "run_gang", lambda graph, gang, fallback: None)
            yield

    return forced
