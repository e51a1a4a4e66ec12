"""Checkpoint/resume: a killed run resumes mid-computation and converges
to the same result as an uninterrupted run."""

import json
import os

import numpy as np

from approximate_pagerank_public_spark.operators.pagerank import pagerank, multi_ppr


def test_resume_matches_uninterrupted(g_rand, tmp_path):
    ckpt = str(tmp_path / "ck")
    full = pagerank(g_rand, mode="broadcast")

    # phase 1: "killed" after 5 iterations (checkpointing every superstep)
    part = pagerank(g_rand, mode="broadcast", max_iter=5, tol=0.0, checkpoint_dir=ckpt)
    assert part.iterations == 5
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["latest"] == 5
    assert len(manifest["iterations"]) == 5
    # per-partition lineage recorded
    lineage = manifest["lineage"]["5"]
    assert sum(p["rows"] for p in lineage) == g_rand.num_vertices

    # phase 2: resume from the checkpoint and run to convergence
    res = pagerank(g_rand, mode="broadcast", checkpoint_dir=ckpt, resume=True)
    assert res.converged
    assert res.metrics[0]["iter"] == 1 and res.metrics[-1]["iter"] == res.iterations
    assert res.iterations == full.iterations
    assert np.allclose(res.ranks_np, full.ranks_np, atol=1e-12)


def test_resume_multi_ppr(g_rand, tmp_path):
    ckpt = str(tmp_path / "ck8")
    sources = [0, 17, 42, 99]
    full = multi_ppr(g_rand, sources)
    multi_ppr(g_rand, sources, max_iter=3, tol=0.0, checkpoint_dir=ckpt, checkpoint_every=1)
    res = multi_ppr(g_rand, sources, checkpoint_dir=ckpt, resume=True)
    assert np.allclose(res.ranks_np, full.ranks_np, atol=1e-12)


def test_distributed_multi_resume(g5, tmp_path):
    """The distributed-arrow path checkpoints the (S, N) block via
    save_df/load_latest_df — a killed multi-source run resumes
    mid-computation and matches the uninterrupted run (VERDICT r1 item 6)."""
    ckpt = str(tmp_path / "ckdm")
    sources = [0, 2, 4]
    full = multi_ppr(g5, sources, mode="distributed-arrow", max_iter=8, tol=0.0)
    multi_ppr(
        g5, sources, mode="distributed-arrow", max_iter=3, tol=0.0,
        checkpoint_dir=ckpt,
    )
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["latest"] == 3 and manifest["mode"] == "dataframe"
    res = multi_ppr(
        g5, sources, mode="distributed-arrow", max_iter=8, tol=0.0,
        checkpoint_dir=ckpt, resume=True,
    )
    assert res.metrics[0]["iter"] == 1 and res.metrics[-1]["iter"] == 8
    a = full.ranks().toPandas().sort_values("id")
    b = res.ranks().toPandas().sort_values("id")
    for i in range(len(sources)):
        assert np.allclose(
            a[f"rank_{i}"].to_numpy(), b[f"rank_{i}"].to_numpy(), atol=1e-12
        )


def test_checkpoint_every_k(g_rand, tmp_path):
    ckpt = str(tmp_path / "ck2")
    pagerank(g_rand, mode="broadcast", max_iter=5, tol=0.0, checkpoint_dir=ckpt, checkpoint_every=2)
    manifest = json.load(open(os.path.join(ckpt, "manifest.json")))
    assert manifest["latest"] == 4  # iterations 2 and 4 saved


def test_checkpoint_parity_barrier_vs_per_superstep(g_rand, tmp_path, gang_fallback):
    """Checkpointed runs agree bit-for-bit whether the supersteps run as
    barrier chunks (default) or one Spark job each (fallback), and both
    resume to the same converged state."""
    ck_b = str(tmp_path / "ckb")
    ck_c = str(tmp_path / "ckc")
    pagerank(g_rand, mode="broadcast", max_iter=4, tol=0.0, checkpoint_dir=ck_b)
    res_b = pagerank(g_rand, mode="broadcast", checkpoint_dir=ck_b, resume=True)
    with gang_fallback():
        pagerank(g_rand, mode="broadcast", max_iter=4, tol=0.0, checkpoint_dir=ck_c)
        res_c = pagerank(g_rand, mode="broadcast", checkpoint_dir=ck_c, resume=True)
    assert res_b.iterations == res_c.iterations
    assert res_b.converged and res_c.converged
    assert np.array_equal(res_b.ranks_np, res_c.ranks_np)


# ------------------------------------------------------------ ckpt_scope


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_rdd_id(df) -> int:
    """Id of the RDD holding a persisted DataFrame's cached blocks."""
    rel = df._jdf.queryExecution().optimizedPlan()
    assert rel.nodeName() == "InMemoryRelation"
    return rel.cacheBuilder().cachedColumnBuffers().id()


def test_ckpt_free_keeps_lazily_persisted_input(spark):
    """A checkpoint whose job computes a persisted input for the first
    time must free only its own blocks, never the input's cache."""
    from pyspark.sql import functions as F

    from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

    inp = spark.range(200).withColumn("k", F.col("id") % 7).persist()
    try:
        with ckpt_scope(spark) as cs:
            out = cs.ckpt(inp.groupBy("k").count())
            cs.free(out)
        assert _cache_rdd_id(inp) in _persisted(spark)
    finally:
        inp.unpersist()


def test_random_walk_ppr_keeps_graph_adjacency_cache(spark):
    """The walk loop's second checkpoint must not uncache the Graph's
    ranked adjacency, which the first checkpoint job materialized."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        _CKPT_EVERY,
        random_walk_ppr,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    src, dst = [1, 1, 2, 2, 3, 4], [0, 3, 0, 1, 2, 3]
    g = Graph.from_edge_arrays(spark, src, dst, num_vertices=5, num_partitions=4)
    try:
        res = random_walk_ppr(
            g, 2, num_walks=32, walk_length=2 * _CKPT_EVERY, mode="distributed"
        )
        res.endpoints().collect()
        assert _cache_rdd_id(g._ranked_adj) in _persisted(spark)
    finally:
        g.unpersist()


def _release(spark, rids) -> None:
    for rid in rids:
        spark.sparkContext._jsc.sc().unpersistRDD(rid, False)


def test_ckpt_scope_keeps_union_frees_rest(spark):
    from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

    before = _persisted(spark)
    with ckpt_scope(spark) as cs:
        a = cs.ckpt(spark.range(10))
        b = cs.ckpt(spark.range(5, 15))
        cs.ckpt(spark.range(3))
        kept = cs.keep(a.join(b, "id").unionAll(a))
        assert len(_persisted(spark) - before) == 3
    left = _persisted(spark) - before
    assert left == {x._jdf.queryExecution().analyzed().rdd().id() for x in (a, b)}
    assert kept.count() == 15
    _release(spark, left)


def test_ckpt_scope_error_exit_frees_everything(spark):
    import pytest

    from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with ckpt_scope(spark) as cs:
            cs.keep(cs.ckpt(spark.range(10)))
            cs.ckpt(spark.range(5))
            raise RuntimeError("boom")
    assert _persisted(spark) - before == set()


def test_ckpt_scope_callbacks_run_on_both_exits(spark):
    import pytest

    from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

    calls = []
    with ckpt_scope(spark) as cs:
        cs.callback(calls.append, "ok")
    with pytest.raises(ValueError):
        with ckpt_scope(spark) as cs:
            cs.callback(calls.append, "err")
            raise ValueError
    assert calls == ["ok", "err"]


def test_ckpt_scope_free_none_is_noop(spark):
    from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

    before = _persisted(spark)
    with ckpt_scope(spark) as cs:
        a = cs.ckpt(spark.range(4))
        cs.free(None)
        cs.free(None, spark.range(3))
        assert len(_persisted(spark) - before) == 1
        cs.keep(a)
    assert a.count() == 4
    _release(spark, _persisted(spark) - before)
