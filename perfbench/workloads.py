"""The benchmark workloads: input generation, set-up, one query.

Each workload is driven by :mod:`perfbench.run` as a closed loop with one
client (the Spark driver): a query starts only after the previous one
finished and was checked. Every timed engine call goes through
``bench.call(<module>)``, which is both the timer and, in a traced run,
the job-group scope the per-layer rollup keys on.

Inputs are generated from the run's seed and written to parquet before
any timing starts; set-up then reads only those tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.functions import golden
from approximate_pagerank_public_spark.functions.metrics import evaluate_ranking
from approximate_pagerank_public_spark.operators.components import connected_components
from approximate_pagerank_public_spark.operators.labelprop import (
    golden_label_propagation,
    label_propagation,
)
from approximate_pagerank_public_spark.operators.pagerank import multi_ppr, pagerank
from approximate_pagerank_public_spark.operators.randomwalk import (
    node2vec_corpus,
    skipgram_pairs,
)
from approximate_pagerank_public_spark.operators.triangles import triangle_count
from approximate_pagerank_public_spark.plans.checkpoint import CheckpointManager
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.sources.generators import gnp_edges
from approximate_pagerank_public_spark.sources.transcripts import synthesize_transcripts

from perfbench.golden import PprReplay, skipgram_pairs_per_walk, symmetrized

ALPHA = 0.8
N_SOURCES = 8
# 8-source multi_ppr calls per query: each is one sample of the run's
# median edge-traversal rate, and one call is too noisy a sample on its own
PPR_CALLS = 3


class CheckFailed(AssertionError):
    """A query's output disagrees with its golden."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def ranks_close(test: np.ndarray, gold: np.ndarray, atol: float = 1e-12) -> bool:
    """Golden parity at 1e-6: relative for fixed-budget runs; runs that
    stop on an L1 tolerance of 1e-6 pass ``atol=1e-6``, the engine's own
    parity rule for them."""
    return test.shape == gold.shape and bool(np.allclose(test, gold, rtol=1e-6, atol=atol))


def ranking_quality(gold: np.ndarray, test: np.ndarray) -> dict:
    """The paper's top-K quality block, averaged over sources:
    ``{"ndcg@10": ..., "edit@10": ..., "pos@10": ..., "mae@10": ...}``."""
    per = [evaluate_ranking(g, t) for g, t in zip(gold, test)]
    out = {}
    for key, short in (("ndcg", "ndcg"), ("edit_distance", "edit"),
                       ("position_errors", "pos"), ("mae", "mae")):
        for k in per[0][key]:
            out[f"{short}@{k}"] = float(np.mean([p[key][k] for p in per]))
    return out


def draw_sources(rng: np.random.Generator, n: int) -> list[int]:
    return sorted(int(x) for x in rng.choice(n, size=N_SOURCES, replace=False))


def edge_arrays(path: str):
    t = pq.read_table(path, columns=["src", "dst", "weight"])
    return (
        t.column("src").to_numpy().astype(np.int64),
        t.column("dst").to_numpy().astype(np.int64),
        t.column("weight").to_numpy().astype(np.float64),
    )


class Workload:
    name = ""

    def __init__(self, sizes: dict):
        self.sizes = sizes
        self.g: Graph | None = None

    def release(self, bench) -> None:
        if self.g is not None:
            self.g.unpersist()
            self.g = None
        bench.spark.catalog.clearCache()

    def setup(self, bench) -> None:
        """One full set-up from the generated parquet up to a warm graph."""
        raise NotImplementedError

    def goldens(self, bench) -> None:
        raise NotImplementedError

    def query(self, bench, q: dict) -> None:
        raise NotImplementedError

    def warmup(self, bench, q: dict) -> None:
        """Untimed and checked, before the timed queries: every code path a
        query takes that set-up has not run yet, so no timed query pays a
        first call (worker start, UDF pickling, codegen, the bulk of JIT
        compilation). Without it the first timed query runs 15-40% slower
        than the next ones, by a different amount on every run."""
        self.query(bench, q)


class TranscriptQueries(Workload):
    name = "transcript_queries"

    def generate(self, bench, path: str) -> None:
        t = synthesize_transcripts(bench.spark, n_convs=self.sizes["n_convs"], seed=bench.seed)
        t.write.parquet(path)

    def setup(self, bench) -> None:
        with bench.call("etl"):
            self.g = Graph.from_transcripts(
                bench.spark.read.parquet(bench.input_path), num_partitions=bench.partitions
            )
        g = self.g
        with bench.call("graph"):
            g.num_edges
        with bench.call("blocks") as rec:
            g.blocks
        rec["mb"] = bench.dir_mb(g.blocks.dir)
        with bench.call("warmup"):
            pagerank(g, alpha=ALPHA, tol=0.0, max_iter=2)

    def goldens(self, bench) -> None:
        g = self.g
        src, dst, w = g.edges_numpy()
        n = g.num_vertices
        self.n, self.m = n, g.num_edges
        self.pr_gold = golden.golden_pagerank(src, dst, w, n, ALPHA, 1e-6, 100)[0]
        self.replay = PprReplay(src, dst, w, n)
        self.cc_gold = golden.golden_connected_components(src, dst, n)
        self.lpa_gold = golden_label_propagation(*symmetrized(src, dst, n), n, max_iter=5)
        self.tri_gold = golden.golden_triangle_count(src, dst, n)
        walk = self.sizes["walk_length"]
        self.pairs_gold = n * skipgram_pairs_per_walk(walk, 2)
        self.n2v_seed = f"n2v-{bench.seed}"

    def query(self, bench, q: dict) -> None:
        g, n, m = self.g, self.n, self.m
        with bench.call("pagerank.global") as rec:
            res = pagerank(g, alpha=ALPHA, tol=1e-6, max_iter=100)
        rec.update(et=m * res.iterations, phases=res.phase_timings, metrics=res.metrics)
        check(ranks_close(res.ranks_np[0], self.pr_gold, atol=1e-6), "pagerank vs golden")

        quality = []
        for _ in range(PPR_CALLS):
            srcs = draw_sources(bench.rng, n)
            with bench.call("pagerank.multi") as rec2:
                res = multi_ppr(g, srcs, alpha=ALPHA, tol=0.0, max_iter=10)
            rec2.update(et=m * N_SOURCES * 10, phases=res.phase_timings, metrics=res.metrics)
            gold = self.replay.run(srcs, ALPHA, 10)
            check(ranks_close(res.ranks_np, gold), "multi_ppr vs golden")
            quality.append(ranking_quality(gold, res.ranks_np))
            # global PageRank does fewer traversals per call in the same
            # time; mixing both would make the median jump between them
            q.setdefault("et_rates", []).append(rec2["et"] / rec2["wall_s"])
        q["quality"] = {k: float(np.mean([x[k] for x in quality])) for k in quality[0]}

        with bench.call("components"):
            cc = connected_components(g)
            cc.count()
        got = cc.toPandas().sort_values("id")["component"].to_numpy()
        check(np.array_equal(got, self.cc_gold), "components vs golden")

        with bench.call("labelprop"):
            lp = label_propagation(g, max_iter=5)
            lp.count()
        got = lp.toPandas().sort_values("id")["label"].to_numpy()
        check(np.array_equal(got, self.lpa_gold), "label propagation vs golden")

        with bench.call("triangles"):
            tri = triangle_count(g)
        check(tri == self.tri_gold, "triangle count vs golden")

        walk = self.sizes["walk_length"]
        with bench.call("randomwalk") as rec:
            corpus = node2vec_corpus(g, walk_length=walk, seed=self.n2v_seed)
            row = skipgram_pairs(corpus, window=2).agg(F.sum("n").alias("pairs")).first()
        rec["units"] = walk
        check(row["pairs"] == self.pairs_gold, "skip-gram pair total vs walks x window")


class SyntheticSupersteps(Workload):
    """A skewed G(n,m) edge table from ``gnp_edges`` (10% of edges go to a
    hub set of |V|/10⁴ vertices). One query is the FPGA protocol on the
    barrier path, then a checkpointed run on the arrow path and its
    resume from the manifest."""

    name = "synthetic_supersteps"

    def generate(self, bench, path: str) -> None:
        s = self.sizes
        gnp_edges(bench.spark, s["vertices"], s["edges"], seed=bench.seed, skew=0.1).write.parquet(path)

    def setup(self, bench) -> None:
        with bench.call("etl"):
            self.g = Graph(
                bench.spark.read.parquet(bench.input_path),
                num_vertices=self.sizes["vertices"],
                num_partitions=bench.partitions,
            )
        g = self.g
        with bench.call("graph"):
            g.num_edges
        with bench.call("blocks") as rec:
            g.blocks
        rec["mb"] = bench.dir_mb(g.blocks.dir)
        with bench.call("distblocks") as rec:
            store = g.dist_blocks()
        rec["mb"] = bench.dir_mb(store.dir)
        with bench.call("warmup"):
            multi_ppr(g, list(range(N_SOURCES)), alpha=ALPHA, tol=0.0, max_iter=2)

    def goldens(self, bench) -> None:
        src, dst, w = edge_arrays(bench.input_path)
        self.n, self.m = self.sizes["vertices"], self.g.num_edges
        check(self.m == len(src), "graph edge count vs input table")
        self.replay = PprReplay(src, dst, w, self.n)
        k, r = self.sizes["supersteps"], self.sizes["resume_supersteps"]
        self.gold_k = golden.golden_pagerank(src, dst, w, self.n, ALPHA, 0.0, k)[0]
        self.gold_kr = golden.golden_pagerank(src, dst, w, self.n, ALPHA, 0.0, k + r)[0]

    def warmup(self, bench, q: dict) -> None:
        # set-up's multi_ppr call already warmed the barrier path
        self._checkpointed(bench, q)

    def query(self, bench, q: dict) -> None:
        quality = [self._multi_ppr(bench, q) for _ in range(PPR_CALLS)]
        q["quality"] = {k: float(np.mean([x[k] for x in quality])) for k in quality[0]}
        self._checkpointed(bench, q)

    def _multi_ppr(self, bench, q: dict) -> dict:
        iters = self.sizes["ppr_iters"]
        srcs = draw_sources(bench.rng, self.n)
        with bench.call("pagerank.multi") as rec:
            res = multi_ppr(self.g, srcs, alpha=ALPHA, tol=0.0, max_iter=iters)
        rec.update(et=self.m * N_SOURCES * iters, phases=res.phase_timings, metrics=res.metrics)
        q.setdefault("et_rates", []).append(rec["et"] / rec["wall_s"])
        gold = self.replay.run(srcs, ALPHA, iters)
        check(ranks_close(res.ranks_np, gold), "multi_ppr vs golden replay")
        return ranking_quality(gold, res.ranks_np)

    def _ranks(self, res) -> np.ndarray:
        pdf = res.ranks().toPandas().sort_values("id")
        check(np.array_equal(pdf["id"].to_numpy(), np.arange(self.n)), "one rank per vertex")
        return pdf["rank"].to_numpy()

    def _checkpointed(self, bench, q: dict) -> None:
        k, r = self.sizes["supersteps"], self.sizes["resume_supersteps"]
        ck = os.path.join(bench.work, "ckpt", f"q{q['index']}")
        kw = dict(alpha=ALPHA, mode="distributed-arrow", tol=0.0, checkpoint_dir=ck,
                  checkpoint_every=1)
        try:
            with bench.call("pagerank.arrow") as rec:
                res = pagerank(self.g, max_iter=k, **kw)
                res.ranks().count()
            rec.update(units=k, saves=k)
            q["arrow_et_per_s"] = self.m * k / rec["wall_s"]
            check(res.iterations == k, "checkpointed run superstep count")
            check(ranks_close(self._ranks(res), self.gold_k), "arrow pagerank vs golden")

            with bench.call("pagerank.arrow") as rec2:
                res = pagerank(self.g, max_iter=k + r, **kw)
                res.ranks().count()
            ran = [mm for mm in res.metrics if mm["iter"] > k]
            rec2.update(units=len(ran), saves=len(ran))
            q["resume_s"] = rec2["wall_s"] - sum(mm["wall_ms"] for mm in ran) / 1e3
            check(len(ran) == r and res.iterations == k + r, "resume ran only the missing supersteps")
            check(ranks_close(self._ranks(res), self.gold_kr), "resumed pagerank vs golden")

            saves = [d for d in os.listdir(ck) if d.startswith("iter_")]
            q["ckpt_mb"] = bench.dir_mb(ck) / max(1, len(saves))
            with bench.call("checkpoint.load", timed=False) as rec3:
                it, df, _ = CheckpointManager(ck).load_latest_df(bench.spark)
                rows = df.count()
            check(it == k + r and rows == self.n, "checkpoint manifest points at the last save")
        finally:
            shutil.rmtree(ck, ignore_errors=True)


WORKLOADS = {w.name: w for w in (TranscriptQueries, SyntheticSupersteps)}

# partitions_per_cpu: graph and shuffle partitions per CPU; the transcript
# graph is small enough that a second task per core only adds task launches.
SIZES = {
    "transcript_queries": {"n_convs": 5_000, "walk_length": 1,
                           "partitions_per_cpu": 1},
    "synthetic_supersteps": {"vertices": 100_000, "edges": 500_000, "ppr_iters": 20,
                             "supersteps": 1, "resume_supersteps": 1,
                             "partitions_per_cpu": 2},
}

SMOKE_SIZES = {
    "transcript_queries": {"n_convs": 150, "walk_length": 2,
                           "partitions_per_cpu": 1},
    "synthetic_supersteps": {"vertices": 2_000, "edges": 10_000, "ppr_iters": 5,
                             "supersteps": 2, "resume_supersteps": 1,
                             "partitions_per_cpu": 2},
}
