"""Execution-path selection (``plans/modes.py``): every public ``mode=``
entry point rejects unknown modes, and ``auto`` gates on what the
driver path actually holds — edges for the families that collect the
edge arrays, one state vector per vertex for the rest — without
reading any other size."""

import pytest
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators import (
    anf,
    biconnect,
    coloring,
    components,
    dedup,
    densest,
    hits,
    kcore,
    labelprop,
    matching,
    msf,
    pagerank,
    push,
    randomwalk,
    scc,
    simrank,
    sssp,
)
from approximate_pagerank_public_spark.plans.modes import (
    BROADCAST_MAX_EDGES,
    BROADCAST_MAX_VERTICES,
    PATHS,
    HEAVY_WALK_MAX_HOPS,
    WALK_MAX_HOPS,
    resolve_mode,
)
from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope


def _pairs(spark):
    return spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "a long, b long")


# entry point -> (call(graph, spark, mode), its paths besides "auto")
ENTRIES = {
    "pagerank": (lambda g, s, m: pagerank.pagerank(g, mode=m), pagerank.PATHS),
    "personalized_pagerank": (
        lambda g, s, m: pagerank.personalized_pagerank(g, 2, mode=m),
        pagerank.PATHS,
    ),
    "multi_ppr": (
        lambda g, s, m: pagerank.multi_ppr(g, [0, 2], mode=m),
        pagerank.PATHS,
    ),
    "hits": (lambda g, s, m: hits.hits(g, mode=m), PATHS),
    "eigenvector_centrality": (
        lambda g, s, m: hits.eigenvector_centrality(g, mode=m),
        PATHS,
    ),
    "katz_centrality": (lambda g, s, m: hits.katz_centrality(g, mode=m), PATHS),
    "salsa": (lambda g, s, m: hits.salsa(g, mode=m), PATHS),
    "k_core": (lambda g, s, m: kcore.k_core(g, 2, mode=m), PATHS),
    "peel_layers": (lambda g, s, m: kcore.peel_layers(g, 2, mode=m), PATHS),
    "core_numbers": (lambda g, s, m: kcore.core_numbers(g, mode=m), PATHS),
    "bridges": (lambda g, s, m: biconnect.bridges(g, mode=m), PATHS),
    "two_edge_components": (
        lambda g, s, m: biconnect.two_edge_components(g, mode=m),
        PATHS,
    ),
    "duplicate_clusters": (
        lambda g, s, m: dedup.duplicate_clusters(
            s.range(6).select(F.col("id").alias("doc_id")), _pairs(s), mode=m
        ),
        PATHS,
    ),
    "maximal_matching": (lambda g, s, m: matching.maximal_matching(g, mode=m), PATHS),
    "greedy_coloring": (lambda g, s, m: coloring.greedy_coloring(g, mode=m), PATHS),
    "simrank": (lambda g, s, m: simrank.simrank(g.edges, mode=m), ("exact", "mc")),
    "anf_hyperball": (
        lambda g, s, m: anf.anf_hyperball(g, mode=m),
        ("broadcast", "blocks", "packed"),
    ),
    "hyperball_harmonic": (
        lambda g, s, m: anf.hyperball_harmonic(g, mode=m),
        ("broadcast", "packed"),
    ),
    "strongly_connected_components": (
        lambda g, s, m: scc.strongly_connected_components(g, mode=m),
        PATHS,
    ),
    "bowtie_decomposition": (
        lambda g, s, m: scc.bowtie_decomposition(g, mode=m),
        PATHS,
    ),
    "minimum_spanning_forest": (
        lambda g, s, m: msf.minimum_spanning_forest(g, mode=m),
        PATHS,
    ),
    "affinity_clusters": (lambda g, s, m: msf.affinity_clusters(g, mode=m), PATHS),
    "connected_components": (
        lambda g, s, m: components.connected_components(g, mode=m),
        PATHS,
    ),
    "densest_subgraph": (lambda g, s, m: densest.densest_subgraph(g, mode=m), PATHS),
    "label_propagation": (
        lambda g, s, m: labelprop.label_propagation(g, mode=m),
        PATHS,
    ),
    "sssp": (lambda g, s, m: sssp.sssp(g, 0, mode=m), PATHS),
    "approx_ppr_push": (lambda g, s, m: push.approx_ppr_push(g, 1, mode=m), PATHS),
    "random_walk_ppr": (
        lambda g, s, m: randomwalk.random_walk_ppr(g, 1, mode=m),
        PATHS,
    ),
    "random_walk_corpus": (
        lambda g, s, m: randomwalk.random_walk_corpus(g, mode=m),
        PATHS,
    ),
    "node2vec_corpus": (
        lambda g, s, m: randomwalk.node2vec_corpus(g, mode=m),
        PATHS,
    ),
}

# names a path had before it was deleted or renamed
REMOVED = {
    "pagerank": ["distributed"],
    "personalized_pagerank": ["distributed"],
    "multi_ppr": ["distributed"],
    "anf_hyperball": ["distributed"],
    "connected_components": ["star"],
    "duplicate_clusters": ["star"],
    "label_propagation": ["dataframe"],
    "greedy_coloring": ["driver"],
}

BAD_MODES = [
    (entry, mode)
    for entry in sorted(ENTRIES)
    for mode in ["brodcast", *REMOVED.get(entry, [])]
]


@pytest.mark.parametrize(
    "entry,mode", BAD_MODES, ids=[f"{e}-{m}" for e, m in BAD_MODES]
)
def test_unknown_mode_raises(g5, entry, mode):
    """Removed or misspelled modes fail loudly, naming the valid ones,
    instead of silently running some other path."""
    call, paths = ENTRIES[entry]
    with pytest.raises(ValueError, match="unknown mode") as err:
        call(g5, g5.spark, mode)
    assert str(("auto", *paths)) in str(err.value)


class _Sizes:
    """Graph stand-in carrying sizes only, so resolving a mode can run
    no Spark job; a vertex-gated family must not even read
    ``num_edges`` (on a real Graph it may run a count)."""

    num_partitions = 1

    def __init__(self, n, m, spark=None):
        self.num_vertices, self._m, self.spark = n, m, spark

    @property
    def num_edges(self):
        assert self._m is not None, "a vertex-gated family read num_edges"
        return self._m

    def undirected(self):
        return self

    def unpersist(self):
        pass


E, V = BROADCAST_MAX_EDGES, BROADCAST_MAX_VERTICES
C = coloring.COLORING_DRIVER_MAX_EDGES

# entry point -> (module whose resolve_mode it calls, call(graph),
#                 measured size, its limit, the path `auto` takes above it)
GATES = {
    "pagerank": (pagerank, pagerank.pagerank, "vertices", V, "distributed-arrow"),
    "personalized_pagerank": (
        pagerank,
        lambda g: pagerank.personalized_pagerank(g, 0),
        "vertices",
        V,
        "distributed-arrow",
    ),
    "hits": (hits, hits.hits, "edges", E, "distributed"),
    "eigenvector_centrality": (
        hits, hits.eigenvector_centrality, "edges", E, "distributed"
    ),
    "katz_centrality": (hits, hits.katz_centrality, "edges", E, "distributed"),
    "salsa": (hits, hits.salsa, "edges", E, "distributed"),
    "k_core": (kcore, lambda g: kcore.k_core(g, 2), "edges", E, "distributed"),
    "peel_layers": (
        kcore, lambda g: kcore.peel_layers(g, 2), "edges", E, "distributed"
    ),
    "core_numbers": (kcore, kcore.core_numbers, "edges", E, "distributed"),
    "maximal_matching": (
        matching, matching.maximal_matching, "edges", E, "distributed"
    ),
    "minimum_spanning_forest": (
        msf, msf.minimum_spanning_forest, "edges", E, "distributed"
    ),
    "affinity_clusters": (msf, msf.affinity_clusters, "edges", E, "distributed"),
    "densest_subgraph": (densest, densest.densest_subgraph, "edges", E, "distributed"),
    "approx_ppr_push": (
        push, lambda g: push.approx_ppr_push(g, 0), "edges", E, "distributed"
    ),
    "greedy_coloring": (coloring, coloring.greedy_coloring, "edges", C, "distributed"),
    "hyperball_harmonic": (anf, anf.hyperball_harmonic, "edges", E, "packed"),
    "strongly_connected_components": (
        scc, scc.strongly_connected_components, "vertices", V, "distributed"
    ),
    "bowtie_decomposition": (
        scc, scc.bowtie_decomposition, "vertices", V, "distributed"
    ),
    "sssp": (sssp, lambda g: sssp.sssp(g, 0), "vertices", V, "distributed"),
    "connected_components": (
        components, components.connected_components, "vertices", V, "distributed"
    ),
    "label_propagation": (
        labelprop, labelprop.label_propagation, "vertices", V, "distributed"
    ),
    "bridges": (biconnect, biconnect.bridges, "vertices", V, "distributed"),
}

# walk entry point -> (call(graph, walks, hops), its walk-hops limit,
# the vertex count at which limit // 8 walks of 8 hops run: MC PPR walks
# from one source, the corpus 2 walks per vertex, node2vec one)
WALK_GATES = {
    "random_walk_ppr": (
        lambda g, w, h: randomwalk.random_walk_ppr(g, 0, num_walks=w, walk_length=h),
        HEAVY_WALK_MAX_HOPS,
        10,
    ),
    "random_walk_corpus": (
        lambda g, w, h: randomwalk.random_walk_corpus(
            g, walks_per_vertex=2, walk_length=h
        ),
        WALK_MAX_HOPS,
        WALK_MAX_HOPS // 8 // 2,
    ),
    "node2vec_corpus": (
        lambda g, w, h: randomwalk.node2vec_corpus(g, walk_length=h),
        HEAVY_WALK_MAX_HOPS,
        HEAVY_WALK_MAX_HOPS // 8,
    ),
}


# resolve inside a checkpoint scope, so their stand-in needs a session
_IN_SCOPE = {"bridges"}


class _Resolved(Exception):
    pass


def _auto_path(monkeypatch, module, call, graph):
    """The path ``call(graph)`` resolves ``auto`` to, stopped right
    there: the module's resolver is wrapped to raise its answer."""

    def stop(*args, **kwargs):
        raise _Resolved(resolve_mode(*args, **kwargs))

    monkeypatch.setattr(module, "resolve_mode", stop)
    with pytest.raises(_Resolved) as out:
        call(graph)
    return out.value.args[0]


@pytest.mark.parametrize("entry", sorted(GATES))
def test_auto_gates_on_what_the_driver_path_holds(entry, monkeypatch, request):
    module, call, measure, limit, above = GATES[entry]
    spark = request.getfixturevalue("spark") if entry in _IN_SCOPE else None
    if measure == "edges":
        # the vertex count is far over its own cutover: only E decides
        fits, over = _Sizes(V + 1, limit, spark), _Sizes(10, limit + 1, spark)
    else:
        fits, over = _Sizes(limit, None, spark), _Sizes(limit + 1, None, spark)
    assert _auto_path(monkeypatch, module, call, fits) == "broadcast"
    assert _auto_path(monkeypatch, module, call, over) == above


@pytest.mark.parametrize("limit,path", [(2, "distributed"), (3, "broadcast")])
def test_pair_components_cutover_counts_pairs(spark, monkeypatch, limit, path):
    """``auto`` counts the pair list (cached for the count, released with
    the scope); both paths map every non-root member to its minimum."""
    monkeypatch.setattr(components, "PAIR_CC_BROADCAST_MAX_PAIRS", limit)
    seen = []

    def spy(*args, **kwargs):
        seen.append(resolve_mode(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(components, "resolve_mode", spy)
    pairs = _pairs(spark)
    with ckpt_scope(spark) as cs:
        roots = components.pair_components(cs, pairs, 2)
        # the driver path also maps each minimum to itself
        got = {r["a"]: r["r"] for r in roots.collect() if r["a"] != r["r"]}
        assert pairs.is_cached
    assert seen == [path]
    assert not pairs.is_cached
    assert got == {2: 1, 3: 1, 5: 4}


@pytest.mark.parametrize("entry", sorted(WALK_GATES))
def test_auto_gates_walks_on_draws_and_edges(entry, monkeypatch):
    """The driver walk path draws one md5 value per walk and hop on one
    core and holds the collected edges: ``auto`` takes it at exactly its
    family's walk-hops limit and ``BROADCAST_MAX_EDGES`` edges, and
    leaves it one walk, hop or edge above either."""
    call, limit, n = WALK_GATES[entry]
    w = limit // 8

    def path(n, m, walks=w, hops=8):
        return _auto_path(
            monkeypatch, randomwalk, lambda g: call(g, walks, hops), _Sizes(n, m)
        )

    assert path(n, E) == "broadcast"
    assert path(n, E + 1) == "distributed"
    assert path(n, E, hops=9) == "distributed"
    if entry == "random_walk_ppr":
        assert path(n, E, walks=w + 1) == "distributed"
    else:
        assert path(n + 1, E) == "distributed"
