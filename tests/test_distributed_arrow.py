"""mode='distributed-arrow' — message-shuffle supersteps over shared-FS
CSR blocks (plans/distblocks.py) must match the golden semantics and the
other execution paths on every variant: plain PR, PPR, multi-PPR, the
``norm`` flag, and mid-run resume.
"""

import numpy as np
import pytest

from approximate_pagerank_public_spark.functions import golden
from approximate_pagerank_public_spark.operators.pagerank import (
    multi_ppr,
    pagerank,
    personalized_pagerank,
)


@pytest.fixture(autouse=True, scope="module")
def _multi_block_store(g_rand):
    """Pin g_rand's store to 4 blocks: tiny test graphs would otherwise
    auto-coalesce to ONE block (8M-edge default), and the multi-block
    message routing/scatter path would go untested."""
    g_rand.dist_blocks(num_blocks=4)
    yield


def test_arrow_pagerank_matches_golden(g_rand):
    src, dst, w = g_rand.edges_numpy()
    gold, _ = golden.golden_pagerank(src, dst, w, 300, tol=0.0, max_iter=8)
    res = pagerank(g_rand, mode="distributed-arrow", max_iter=8, tol=0.0)
    pdf = res.ranks().toPandas().sort_values("id")
    assert np.allclose(pdf["rank"].to_numpy(), gold, atol=1e-12)


def test_arrow_ppr_matches_golden(g_rand):
    src, dst, w = g_rand.edges_numpy()
    gold, _ = golden.golden_ppr(3, src, dst, w, 300, tol=0.0, max_iter=8)
    res = personalized_pagerank(g_rand, 3, mode="distributed-arrow", max_iter=8, tol=0.0)
    pdf = res.ranks().toPandas().sort_values("id")
    assert np.allclose(pdf["rank_0"].to_numpy(), gold, atol=1e-12)


def test_arrow_multi_ppr_matches_golden(g5):
    src, dst, w = g5.edges_numpy()
    sources = [0, 2, 4]
    gold = golden.golden_multi_ppr(sources, src, dst, w, 5, tol=0.0, max_iter=8)
    res = multi_ppr(g5, sources, mode="distributed-arrow", max_iter=8, tol=0.0)
    pdf = res.ranks().toPandas().sort_values("id")
    for i in range(3):
        assert np.allclose(pdf[f"rank_{i}"].to_numpy(), gold[i], atol=1e-12)


def test_arrow_dangling_norm_off_matches_broadcast(g_rand):
    a = personalized_pagerank(
        g_rand, 3, mode="broadcast", max_iter=6, tol=0.0, dangling_norm=False
    )
    b = personalized_pagerank(
        g_rand, 3, mode="distributed-arrow", max_iter=6, tol=0.0, dangling_norm=False
    )
    assert np.allclose(a.rank_vector(0), b.rank_vector(0), atol=1e-12)
    # and the flag changes the result (g_rand has dangling vertices)
    c = personalized_pagerank(g_rand, 3, mode="distributed-arrow", max_iter=6, tol=0.0)
    assert not np.allclose(b.rank_vector(0), c.rank_vector(0), atol=1e-9)


def test_arrow_routing_invariants(g_rand):
    """Empty routing array ⇔ dangling vertex (the path's free dangling
    bitmap), and total messages ≤ |E|."""
    from pyspark.sql import functions as F

    store = g_rand.dist_blocks()
    assert store.num_partitions == 4  # _multi_block_store pinned it
    routed = store.attach_routing(g_rand.vertices)
    empty_ids = sorted(
        r["id"] for r in routed.where(F.size("pids") == 0).collect()
    )
    dang = sorted(r["id"] for r in g_rand.dangling_vertices().collect())
    assert empty_ids == dang
    assert 0 < store.num_messages <= g_rand.num_edges


def test_arrow_resume_matches_uninterrupted(g_rand, tmp_path):
    ckpt = str(tmp_path / "arrow_ckpt")
    full = pagerank(g_rand, mode="distributed-arrow", max_iter=8, tol=0.0)
    pagerank(g_rand, mode="distributed-arrow", max_iter=4, tol=0.0, checkpoint_dir=ckpt)
    res = pagerank(g_rand, mode="distributed-arrow", max_iter=8, tol=0.0, checkpoint_dir=ckpt)
    assert res.metrics[0]["iter"] == 1 and res.metrics[-1]["iter"] == 8
    # iterations 1-4 came from the loaded manifest, 5-8 ran fresh
    assert res.iterations == 8
    assert np.allclose(full.rank_vector(0), res.rank_vector(0), atol=1e-12)


def test_slot_token_murmur_matches_spark(spark):
    """The driver-side Murmur3 reimplementation behind the block→slot
    routing tokens must agree with Spark's ``F.hash`` (the function
    HashPartitioning applies), and the tokens must land each block in a
    distinct shuffle partition."""
    from pyspark.sql import functions as F

    from approximate_pagerank_public_spark.plans.distblocks import (
        _murmur3_int32,
        _slot_tokens,
    )

    vals = [0, 1, 2, 7, 13, 42, 100, 1000, 123456, 2**31 - 1]
    rows = (
        spark.range(1)
        .select(*[F.hash(F.lit(v).cast("int")).alias(f"h{i}") for i, v in enumerate(vals)])
        .first()
    )
    for i, v in enumerate(vals):
        assert rows[f"h{i}"] == _murmur3_int32(v), v

    for p in (1, 3, 8, 32):
        toks = _slot_tokens(p)
        slots = [_murmur3_int32(t) % p for t in toks]
        slots = [s + p if s < 0 else s for s in slots]
        assert slots == list(range(p))


def test_arrow_convergence_stops_early(g_rand):
    res = pagerank(g_rand, mode="distributed-arrow", tol=1e-6, max_iter=100)
    assert res.converged and res.iterations < 100
    ref = pagerank(g_rand, mode="broadcast", tol=1e-6, max_iter=100)
    assert np.allclose(res.rank_vector(0), ref.rank_vector(0), atol=1e-9)


def test_arrow_error_exit_releases_cached_state(g_rand, monkeypatch):
    """A superstep that raises propagates, and the call leaves no pinned
    checkpoint (routing or loop state) and no spilled message dir."""
    import glob
    import os

    from approximate_pagerank_public_spark.plans.distblocks import DistBlockStore

    jsc = g_rand.spark.sparkContext._jsc
    store = g_rand.dist_blocks()
    real = DistBlockStore.contribs
    calls = []

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected superstep-2 failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DistBlockStore, "contribs", failing)
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="injected"):
        pagerank(g_rand, mode="distributed-arrow", max_iter=4, tol=0.0)
    assert len(calls) == 2
    assert jsc.getPersistentRDDs().size() == before
    assert not glob.glob(os.path.join(store.dir, "msgs_*"))
