"""Monte-Carlo random-walk PPR: exact golden replay of the md5-derandomized
walk ensemble in pure Python, conservation/determinism invariants, and
estimator agreement with exact PPR on the hub graph."""

import hashlib

import numpy as np
import pytest

from approximate_pagerank_public_spark.operators import randomwalk
from approximate_pagerank_public_spark.operators.randomwalk import random_walk_ppr

# the walk entry points' paths; the hop-replay tests check both
MODES = ("broadcast", "distributed")


def _draw(seed: str, w: int, t: int) -> int:
    return int(hashlib.md5(f"{seed}:{w}:{t}".encode()).hexdigest()[:15], 16)


def _python_walks(src, dst, source, num_walks, walk_length, pct, seed):
    """Reference replay: dict adjacency with dst-sorted neighbor lists."""
    adj: dict[int, list[int]] = {}
    for s, d in sorted(zip(src.tolist(), dst.tolist())):
        adj.setdefault(s, []).append(d)
    ends: dict[int, int] = {}
    for w in range(num_walks):
        cur, stopped = source, False
        for t in range(walk_length):
            if stopped:
                break
            r = _draw(seed, w, t)
            if r % 100 >= pct:
                stopped = True
                break
            nbrs = adj.get(cur)
            if not nbrs:
                stopped = True
                break
            cur = nbrs[(r // 100) % len(nbrs)]
        ends[cur] = ends.get(cur, 0) + 1
    return ends


@pytest.mark.parametrize("seed", ["mc", "50%d", "ü:1", ""])
def test_driver_draws_are_the_md5_draws(seed):
    """The driver path's bulk draw is ``_draw`` for every walk id, for
    any seed text (``%`` is escaped in the bytes format)."""
    walks = np.array([0, 1, 9, 10, 123_456_789_012], dtype=np.int64)
    got = randomwalk._draws(seed, walks, 3)
    assert got.dtype == np.int64
    assert got.tolist() == [_draw(seed, w, 3) for w in walks.tolist()]
    assert len(randomwalk._draws(seed, walks[:0], 3)) == 0


def test_mc_ppr_matches_python_golden(g_rand):
    src, dst, _ = g_rand.edges_numpy()
    want = _python_walks(src, dst, 5, 64, 10, 80, "tseed")
    for mode in MODES:
        got = (
            random_walk_ppr(
                g_rand, 5, num_walks=64, walk_length=10, seed="tseed", mode=mode
            )
            .endpoints()
            .toPandas()
        )
        assert dict(zip(got["id"], got["endpoints"])) == want, mode


def test_mc_ppr_endpoint_conservation_and_determinism(g5):
    r1 = random_walk_ppr(g5, 1, num_walks=128, walk_length=8).endpoints().toPandas()
    r2 = random_walk_ppr(g5, 1, num_walks=128, walk_length=8).endpoints().toPandas()
    assert int(r1["endpoints"].sum()) == 128
    a = r1.sort_values("id").reset_index(drop=True)
    b = r2.sort_values("id").reset_index(drop=True)
    assert a.equals(b)
    assert np.isclose(a["ppr_hat"].sum(), 1.0)


def test_mc_ppr_dangling_source_stays_put(g5):
    # vertex 0 has no out-edges: every walk ends where it started
    got = random_walk_ppr(g5, 0, num_walks=32, walk_length=6).endpoints().toPandas()
    assert got["id"].tolist() == [0]
    assert int(got["endpoints"].iloc[0]) == 32


def test_mc_ppr_estimator_tracks_exact_ppr(g_rand):
    from approximate_pagerank_public_spark.operators.pagerank import (
        personalized_pagerank,
    )

    got = (
        random_walk_ppr(g_rand, 7, num_walks=512, walk_length=16, alpha=0.8)
        .endpoints()
        .toPandas()
    )
    exact = (
        personalized_pagerank(g_rand, 7, alpha=0.8, tol=1e-9, max_iter=100)
        .ranks()
        .toPandas()
    )
    col = next(c for c in exact.columns if c.startswith("rank"))
    # the MC endpoint mode should be among the exact PPR's top-3 mass
    top_mc = int(got.loc[got["endpoints"].idxmax(), "id"])
    top_exact = set(exact.nlargest(3, col)["id"].astype(int))
    assert top_mc in top_exact


def test_random_walk_corpus_replays_hops(g5):
    import hashlib
    from collections import defaultdict

    from approximate_pagerank_public_spark.operators.randomwalk import (
        random_walk_corpus,
    )

    src, dst, _ = g5.edges_numpy()
    adj = defaultdict(list)
    for u, v in zip(src.tolist(), dst.tolist()):
        adj[u].append(v)
    for u in adj:
        adj[u].sort()
    K, L, seed = 2, 5, "rw"
    gold = {}
    for start in range(5):
        for k in range(K):
            walk = start * K + k
            cur = start
            gold[(walk, 0)] = cur
            for t in range(L):
                hv = int(hashlib.md5(f"{seed}:{walk}:{t}".encode()).hexdigest()[:15], 16)
                nbrs = adj.get(cur, [])
                if nbrs:
                    cur = nbrs[hv % len(nbrs)]
                gold[(walk, t + 1)] = cur
    for mode in MODES:
        rows = random_walk_corpus(
            g5, walks_per_vertex=K, walk_length=L, seed=seed, mode=mode
        ).collect()
        got = {(r["walk"], r["step"]): r["vertex"] for r in rows}
        assert got == gold, mode


def test_node2vec_corpus_replays_hops(g_rand):
    """Hop-for-hop golden: pure-Python second-order replay on 300 verts."""
    import hashlib
    from collections import defaultdict

    from approximate_pagerank_public_spark.operators.randomwalk import (
        node2vec_corpus,
    )

    src, dst, _ = g_rand.edges_numpy()
    adj = defaultdict(list)
    eset = set()
    for u, v in zip(src.tolist(), dst.tolist()):
        adj[u].append(v)
        eset.add((u, v))
    for u in adj:
        adj[u] = sorted(set(adj[u]))
    L, wr, wi, wo, seed = 5, 1, 4, 2, "n2v"
    gold = {}
    for start in range(300):
        prev = cur = start
        gold[(start, 0)] = cur
        for t in range(L):
            nbrs = adj.get(cur, [])
            if nbrs:
                wts = [
                    wr if d == prev else (wi if (prev, d) in eset else wo)
                    for d in nbrs
                ]
                tot = sum(wts)
                hv = int(
                    hashlib.md5(f"{seed}:{start}:{t}".encode()).hexdigest()[:15], 16
                )
                draw = hv % tot
                acc = 0
                for d, w in zip(nbrs, wts):
                    acc += w
                    if draw < acc:
                        prev, cur = cur, d
                        break
            # dangling: prev/cur unchanged (pad in place)
            gold[(start, t + 1)] = cur
    for mode in MODES:
        rows = node2vec_corpus(
            g_rand, walk_length=L, w_return=wr, w_in=wi, w_out=wo, seed=seed, mode=mode
        ).collect()
        got = {(r["walk"], r["step"]): r["vertex"] for r in rows}
        assert got == gold, mode


def test_node2vec_dangling_pads_and_dedup_adjacency(spark):
    """A dangling tail pads in place; duplicate raw edges collapse."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        node2vec_corpus,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = Graph.from_edge_arrays(
        spark, [0, 0, 1], [1, 1, 2], num_vertices=3, num_partitions=2
    )
    for mode in MODES:
        rows = node2vec_corpus(g, walk_length=4, mode=mode).collect()
        got = {(r["walk"], r["step"]): r["vertex"] for r in rows}
        # walk from 0: 0 -> 1 -> 2 -> 2 -> 2 (2 is dangling)
        assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(0, 4)] == 2, mode
    g.unpersist()


class _Edges:
    """Graph stand-in for the driver kernel: edge arrays and a size."""

    def __init__(self, src, dst, n):
        self.src, self.dst, self.num_vertices = src, dst, n

    def edges_numpy(self):
        return self.src, self.dst, np.ones(len(self.src))


@pytest.mark.parametrize("weights", [(1, 4, 2), (1, 3, 5), (0, 2, 1), (0, 1, 3)])
def test_node2vec_driver_hop_on_a_reciprocal_hub_graph(weights):
    """The driver hop materializes only the special slots and resolves
    out-class draws by integer division; on a graph with reciprocal
    edges (return slots) and hubs (long out-class runs) every hop must
    still be the flat layout's pick."""
    wr, wi, wo = weights
    rng = np.random.default_rng(7)
    n = 60
    src = rng.integers(0, n, 300)
    dst = (rng.zipf(1.5, 300) - 1) % n
    src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    pairs = np.unique(np.stack([src, dst], 1)[src != dst], axis=0)
    src, dst = pairs[:, 0].copy(), pairs[:, 1].copy()
    eset = set(zip(src.tolist(), dst.tolist()))
    adj: dict[int, list[int]] = {}
    for u, v in sorted(eset):
        adj.setdefault(u, []).append(v)
    csr = randomwalk._Csr(_Edges(src, dst, n))
    walks = np.arange(n)
    prev = cur = walks
    gprev, gcur = list(range(n)), list(range(n))
    for t in range(5):
        prev, cur = cur, randomwalk._node2vec_hop(
            csr, walks, prev, cur, "hub", t, wr, wi, wo
        )
        for w in range(n):
            nbrs = adj.get(gcur[w], [])
            if not nbrs:
                continue
            wts = [
                wr if d == gprev[w] else (wi if (gprev[w], d) in eset else wo)
                for d in nbrs
            ]
            draw = _draw("hub", w, t) % sum(wts)
            pick = int(np.searchsorted(np.cumsum(wts), draw, "right"))
            gprev[w], gcur[w] = gcur[w], nbrs[pick]
        assert cur.tolist() == gcur


@pytest.mark.parametrize("chunk", [None, "one walk"])
def test_node2vec_paths_agree_when_return_weighs_least(g_rand, monkeypatch, chunk):
    """w_return < w_out is the case whose cumulative special weights
    are non-monotone on the distributed path; the driver path must pick
    the same rows, also when each candidate chunk holds a single walk."""
    if chunk:
        monkeypatch.setattr(randomwalk, "_HOP_CHUNK", 1)
    kw = dict(walk_length=4, w_return=1, w_in=3, w_out=5, seed="par")
    rows = {
        m: sorted(map(tuple, randomwalk.node2vec_corpus(g_rand, mode=m, **kw).collect()))
        for m in MODES
    }
    assert len(rows["broadcast"]) == 300 * 5
    assert rows["broadcast"] == rows["distributed"]


def test_skipgram_pairs_window_counts(spark):
    from approximate_pagerank_public_spark.operators.randomwalk import skipgram_pairs

    corpus = spark.createDataFrame(
        [(0, 0, 10), (0, 1, 11), (0, 2, 12), (1, 0, 10), (1, 1, 12)],
        "walk long, step long, vertex long",
    )
    out = {
        (r["center"], r["context"]): r["n"]
        for r in skipgram_pairs(corpus, window=1).collect()
    }
    # walk 0: (10,11),(11,10),(11,12),(12,11); walk 1: (10,12),(12,10)
    assert out == {
        (10, 11): 1, (11, 10): 1, (11, 12): 1, (12, 11): 1,
        (10, 12): 1, (12, 10): 1,
    }
