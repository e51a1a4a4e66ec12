"""Every operator call releases the localCheckpoint blocks it created,
except the ones its result reads.

Each case runs one public entry point of an iterative operator module on
its checkpointing path over the small fixtures, materializes the result,
and compares the session's persisted RDDs before and after: the only new
ones must be checkpoint ``LogicalRDD`` leaves of the result's plan. The
comparison is over ids rather than counts because the ContextCleaner
may drop blocks of earlier, garbage-collected results meanwhile. The
first call of each case is a warm-up, so Graph-level caches that the
operator fills on first use (ranked adjacency, block stores) are not
counted. The same holds for the bytes under the graph's block store
dir: a call leaves no files behind there. The error-exit variant makes
the operator's third checkpoint raise and expects nothing new to stay
persisted.
"""

import os

import pytest
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators import (
    absorbing,
    anf,
    biconnect,
    coloring,
    components,
    curation,
    dedup,
    densest,
    graphstats,
    hits,
    kcore,
    labelprop,
    matching,
    mis,
    msf,
    pagerank,
    push,
    randomwalk,
    scc,
    similarity,
    simrank,
    spectral,
    sssp,
    traversal,
    triangles,
    wlhash,
)
from approximate_pagerank_public_spark.plans.checkpoint import CkptScope


def _edges(g):
    return g.edges.select("src", "dst")


def _docs(spark):
    return spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c"), (2, "x y z w v"), (3, "c d e f")],
        "doc_id long, text string",
    )


def _emb(spark):
    rows = [(i, [float(i % 3), float(i % 5), 1.0, float(i)]) for i in range(12)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


CASES = {
    "absorbing": lambda g: absorbing.hitting_probability(g, [2], absorb_ids=[1], iters=3),
    "anf": lambda g: anf.hyperball_harmonic(g, rounds=2, mode="packed"),
    "biconnect": lambda g: biconnect.two_edge_components(g, mode="distributed"),
    "coloring": lambda g: coloring.greedy_coloring(g, mode="distributed")[0],
    "components": lambda g: components.connected_components(g, mode="distributed"),
    "curation": lambda g: curation.max_coverage_docs(_docs(g.spark), k=3),
    "dedup": lambda g: dedup.duplicate_clusters(
        g.spark.range(6).select(F.col("id").alias("doc_id")),
        g.spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "a long, b long"),
        mode="distributed",
    ),
    "densest": lambda g: densest.densest_subgraph(g, mode="distributed")._df,
    "graphstats": lambda g: graphstats.attack_tolerance(g, ks=(0, 1)),
    "hits": lambda g: hits.hits(g, max_iter=3, mode="distributed").scores(),
    "kcore": lambda g: kcore.peel_layers(g, 2, mode="distributed")[0],
    "labelprop": lambda g: labelprop.label_propagation(g, max_iter=3, mode="distributed"),
    "matching": lambda g: matching.maximal_matching(g, mode="distributed"),
    "mis": lambda g: mis.maximal_independent_set(g).labels,
    "msf": lambda g: msf.minimum_spanning_forest(g, mode="distributed"),
    "pagerank": lambda g: pagerank.pagerank(
        g, mode="distributed-arrow", max_iter=3, tol=0.0
    ).ranks_df,
    "push": lambda g: push.approx_ppr_push(g, 1, eps=1e-3, mode="distributed").state(),
    "randomwalk": lambda g: randomwalk.node2vec_corpus(
        g, walk_length=2, mode="distributed"
    ),
    "scc": lambda g: scc.strongly_connected_components(g, mode="distributed"),
    "similarity": lambda g: similarity.kcenter_seeds(_emb(g.spark), k=3),
    "simrank": lambda g: simrank.simrank_mc(
        _edges(g),
        g.spark.createDataFrame([(0, 1), (1, 3), (0, 3)], "a long, b long"),
        iters=3,
        num_fingerprints=4,
    ),
    "spectral": lambda g: spectral.normalized_fiedler(_edges(g), iters=2),
    "sssp": lambda g: sssp.sssp(g, 1, mode="distributed"),
    "traversal": lambda g: traversal.multi_source_bfs(g, [1, 4]),
    "triangles": lambda g: triangles.truss_decomposition(g),
    "wlhash": lambda g: wlhash.wl_refinement(g, rounds=2),
}

# calls that take fewer than three checkpoints: checked for what they
# leave behind, not by the error-exit injection
RESULT_CASES = {
    **CASES,
    "bfs_blocks": lambda g: traversal.bfs(g, 1),
    "containment": lambda g: dedup.containment_pairs(_docs(g.spark), threshold_bp=5000),
    "randomwalk_driver": lambda g: randomwalk.node2vec_corpus(
        g, walk_length=2, mode="broadcast"
    ),
}


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rdd_leaves(df) -> set[int]:
    ids = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


def _store_bytes(g) -> int:
    """Bytes under the graph's block store dir (0 without one)."""
    if g.blocks is None:
        return 0
    walk = os.walk(g.blocks.dir)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in walk for f in fs)


@pytest.mark.parametrize("case", sorted(RESULT_CASES))
def test_call_releases_unread_checkpoints(g5, case):
    spark = g5.spark
    RESULT_CASES[case](g5).collect()  # warm-up: fills Graph-level caches
    before, before_bytes = _persisted(spark), _store_bytes(g5)
    out = RESULT_CASES[case](g5)
    out.collect()
    after = _persisted(spark)
    assert after - before == (_rdd_leaves(out) & after) - before
    assert _store_bytes(g5) == before_bytes


@pytest.mark.parametrize("case", sorted(CASES))
def test_error_exit_releases_everything(g5, case, monkeypatch):
    spark = g5.spark
    CASES[case](g5).collect()
    real = CkptScope.ckpt
    calls = []

    def failing(self, df):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected checkpoint failure")
        return real(self, df)

    monkeypatch.setattr(CkptScope, "ckpt", failing)
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="injected checkpoint failure"):
        CASES[case](g5).collect()
    assert _persisted(spark) - before == set()
