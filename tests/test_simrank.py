"""SimRank vs a dense NumPy replay of the Jeh-Widom iteration."""

import numpy as np
import pytest
from pyspark.storagelevel import StorageLevel

from approximate_pagerank_public_spark.operators.simrank import simrank


@pytest.fixture(scope="module")
def edges(spark):
    # two "citers" 1,2 referencing 3,4; 3,4 both referencing 5;
    # plus an asymmetric tail 5->6, 4->6
    rows = [(1, 3), (2, 3), (1, 4), (2, 4), (3, 5), (4, 5), (5, 6), (4, 6)]
    return spark.createDataFrame(rows, "src long, dst long")


def _numpy_simrank(rows, iters, c):
    verts = sorted({v for r in rows for v in r})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    din = np.zeros(n, dtype=np.int64)
    in_nbrs = [[] for _ in range(n)]
    for s, d in rows:
        din[idx[d]] += 1
        in_nbrs[idx[d]].append(idx[s])
    S = np.eye(n)
    for _ in range(iters):
        N = np.eye(n)
        for a in range(n):
            for b in range(n):
                if a == b or din[a] == 0 or din[b] == 0:
                    continue
                t = sum(S[i, j] for i in in_nbrs[a] for j in in_nbrs[b])
                N[a, b] = (c * t) / float(din[a] * din[b])
        S = N
    return verts, idx, S


def test_simrank_matches_numpy(spark, edges):
    rows = [(r["src"], r["dst"]) for r in edges.collect()]
    iters, c = 3, 0.8
    verts, idx, S = _numpy_simrank(rows, iters, c)
    got = simrank(edges, iters=iters, c=c).collect()
    seen = set()
    for r in got:
        a, b = r["a"], r["b"]
        assert a < b
        seen.add((a, b))
        assert r["s"] == pytest.approx(S[idx[a], idx[b]], abs=1e-12)
    # every nonzero off-diagonal pair is present
    for i, u in enumerate(verts):
        for j, v in enumerate(verts):
            if u < v and S[idx[u], idx[v]] > 0:
                assert (u, v) in seen


def test_simrank_cocited_pair_is_similar(spark, edges):
    # 3 and 4 share both in-neighbors: s1(3,4) = 0.8*2/(2*2) = 0.4
    got = {(r["a"], r["b"]): r["s"] for r in simrank(edges, iters=1).collect()}
    assert got[(3, 4)] == pytest.approx(0.4)
    # 1,2 have no in-edges at all -> never appear
    assert all(a not in (1, 2) and b not in (1, 2) for a, b in got)


def _py_simrank_mc(rows, pairs, iters, c, L, seed):
    """Verbatim replay of the simrank_mc md5 chain (hashlib)."""
    import hashlib

    in_nbrs = {}
    for s, d in sorted(set(rows)):
        in_nbrs.setdefault(d, []).append(s)
    for d in in_nbrs:
        in_nbrs[d].sort()

    def pick(l, t, v):
        nbs = in_nbrs.get(v)
        if not nbs:
            return None
        h = int(hashlib.md5(f"{seed}:{l}:{t}:{v}".encode()).hexdigest()[:15], 16)
        return nbs[h % len(nbs)]

    table = {t: int(round((c**t) * 1e6)) for t in range(1, iters + 1)}
    out = {}
    for a, b in pairs:
        tot = 0
        for l in range(L):
            ca, cb, tau = a, b, None
            for t in range(1, iters + 1):
                na, nb2 = pick(l, t, ca), pick(l, t, cb)
                if na is None or nb2 is None:
                    break  # halted walk: this fingerprint scores 0
                ca, cb = na, nb2
                if ca == cb:
                    tau = t
                    break
            if tau is not None:
                tot += table[tau]
        out[(a, b)] = tot / (L * 1e6)
    return out


def test_simrank_mc_matches_python_replay(spark, edges):
    pairs_list = [(3, 4), (1, 2), (5, 6), (3, 5), (2, 6)]
    pairs = spark.createDataFrame(pairs_list, "a long, b long")
    res = simrank(
        edges, iters=4, c=0.8, pairs=pairs, num_fingerprints=16, seed="t"
    )
    got = {(r["a"], r["b"]): r["s"] for r in res.collect()}
    rows = [(1, 3), (2, 3), (1, 4), (2, 4), (3, 5), (4, 5), (5, 6), (4, 6)]
    exp = _py_simrank_mc(rows, pairs_list, 4, 0.8, 16, "t")
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k] == exp[k], k  # bit-identical (integer micro-units)
        assert 0.0 <= got[k] <= 1.0


def test_simrank_mc_cocited_pair_scores_high(spark, edges):
    """3 and 4 share BOTH in-neighbors {1,2}: the coupled walks meet at
    step 1 whenever the two draws land on the same citer, so the MC
    estimate must be well above zero (and deterministic run-to-run)."""
    pairs = spark.createDataFrame([(3, 4)], "a long, b long")
    a = simrank(edges, iters=3, pairs=pairs, num_fingerprints=32).collect()
    b = simrank(edges, iters=3, pairs=pairs, num_fingerprints=32).collect()
    assert a[0]["s"] == b[0]["s"] > 0.1


def test_simrank_auto_gate_raises(spark, edges, monkeypatch):
    import approximate_pagerank_public_spark.operators.simrank as m

    monkeypatch.setattr(m, "EXACT_MAX_VERTICES", 3)
    with pytest.raises(ValueError, match="gate"):
        simrank(edges)
    # forcing the exact mode bypasses the gate deliberately
    assert simrank(edges, mode="exact", iters=1).count() > 0
    # mc mode without pairs is an explicit error
    with pytest.raises(ValueError, match="pairs"):
        simrank(edges, mode="mc")


def test_simrank_mc_releases_in_adjacency_cache(spark, edges, monkeypatch):
    """Every frame simrank_mc persists (the ranked in-adjacency) is
    unpersisted by the time the call returns: the result reads only its
    final checkpoint."""
    from approximate_pagerank_public_spark.operators.simrank import simrank_mc

    frame_cls = type(edges)
    cached = []
    real = frame_cls.persist

    def spy(self, *args, **kwargs):
        cached.append(real(self, *args, **kwargs))
        return cached[-1]

    monkeypatch.setattr(frame_cls, "persist", spy)
    pairs = spark.createDataFrame([(3, 4), (5, 6)], "a long, b long")
    simrank_mc(edges, pairs, iters=3, num_fingerprints=4).collect()
    assert cached
    assert all(df.storageLevel == StorageLevel.NONE for df in cached)
