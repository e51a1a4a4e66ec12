"""Benchmark harness — prints ONE JSON line.

Headline suite (at $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1,
on local[$SPARK_GRAFT_CPUS]):

- q_etl_build        transcripts → edge table (graph build, one-time ETL)
- q_pagerank         PageRank to 1e-6 on the transcript graph (north metric)
- q_multi_ppr8       8-source PPR, fixed 10-iteration budget (FPGA protocol)
- q_cc               connected components (exact)
- q_lpa5             label propagation, 5 rounds
- q_louvain4         Louvain local-move, 4 synchronous integer-gain rounds
- q_triangles        triangle count
- q_scc              strongly connected components (directed)
- q_sssp             weighted SSSP (min-plus over 1/outdeg weights)
- q_stress4          stress centrality, 4 pivot sources (Brandes sweeps)
- q_wl3              Weisfeiler-Lehman color refinement, 3 rounds
- q_coloring         Jones-Plassmann greedy coloring (auto path)
- q_node2vec_sg      node2vec 8-hop corpus + skip-gram pairs (embedding
                     training-data generation over the transcript graph)
- q_triangles_pc     triangle count on the powerlaw-cluster (pc) family
- q_text_pipeline    tfidf + minhash dedup-clusters + split + sessionize
                     (the training-data curation pass over docs/events)
- q_spmv_throughput  20 supersteps × 8 sources (multi-PPR, fixed
                     budget) on a synthetic G(n,m) graph (|V|=1e6,
                     |E|=2e7, reference-protocol analogue) through the
                     engine's fastest path (one gang-scheduled barrier
                     job, plans/barrier.py) — the scaling workload
- q_bfs50_ecc_closeness  50-source BFS ecc+closeness (PGX protocol)

Statistics protocol (reference ``host.cpp:208-237``): every measured
query runs ``$SPARK_GRAFT_BENCH_N`` times (default 5) with source
vertices RE-RANDOMIZED per repeat where the workload has sources;
``queries`` carries the per-query MEDIAN (CLAUDE.md bench discipline on
this ±30% VM) and ``stats`` the n/mean/stddev/min/max. q_etl_build
repeats too (min(N,3) fresh builds — caches dropped between reps); the
synthetic-graph build and warm-up inside q_spmv_throughput happen on
repeat 0 only, and its superstep metric is the median of per-rep
medians (one noisy rep cannot skew the pooled median).

Extra fields: pagerank iterations/min and edges-traversed/sec for the
north metric; bench_scaling.py reuses q_spmv_throughput at two
parallelism levels for the N→4N scaling-efficiency evidence.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_N,
BENCH_ONLY=q1,q2 (subset; BENCH_FULL.json is written only without it),
BENCH_SPMV_V/E/ITERS/SOURCES.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "5")))
ONLY = set(x for x in os.environ.get("BENCH_ONLY", "").split(",") if x)

SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_CONVS = max(200, int(500_000 * SF))  # FIXTURES.md bench scale: sf0.1 → 50k convs

SPMV_V = int(os.environ.get("BENCH_SPMV_V", 1_000_000))
SPMV_E = int(os.environ.get("BENCH_SPMV_E", 20_000_000))
SPMV_ITERS = int(os.environ.get("BENCH_SPMV_ITERS", 20))
SPMV_SOURCES = int(os.environ.get("BENCH_SPMV_SOURCES", 8))


def _rand_sources(rep: int, k: int, n_verts: int) -> list[int]:
    """Repeat 0 keeps the canonical fixed sources (comparable across
    rounds); later repeats re-randomize them — the reference host's
    ``num_tests`` protocol (host.cpp:378-393)."""
    if rep == 0:
        return list(range(k))
    import numpy as np

    rng = np.random.default_rng(4242 + rep)
    return sorted(int(x) for x in rng.choice(n_verts, size=k, replace=False))


def main() -> None:
    from approximate_pagerank_public_spark.session import get_spark
    from approximate_pagerank_public_spark.plans.graph import Graph
    from approximate_pagerank_public_spark.sources.transcripts import synthesize_transcripts
    from approximate_pagerank_public_spark.sources.generators import gnp_edges
    from approximate_pagerank_public_spark.operators.pagerank import pagerank, multi_ppr
    from approximate_pagerank_public_spark.operators.components import connected_components
    from approximate_pagerank_public_spark.operators.labelprop import label_propagation
    from approximate_pagerank_public_spark.operators.triangles import triangle_count

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}
    stats: dict[str, dict] = {}
    extra: dict[str, float] = {}

    def run(name, fn, n=None):
        if ONLY and name not in ONLY:
            return None
        n = n or REPEATS
        times = []
        out = None
        for rep in range(n):
            t0 = time.perf_counter()
            out = fn(rep)
            times.append(time.perf_counter() - t0)
        ts = sorted(times)
        mean = sum(times) / len(times)
        var = sum((x - mean) ** 2 for x in times) / len(times)
        queries[name] = round(ts[len(ts) // 2], 3)  # median
        stats[name] = {
            "n": n,
            "mean": round(mean, 3),
            "stddev": round(var**0.5, 3),
            "min": round(ts[0], 3),
            "max": round(ts[-1], 3),
        }
        return out

    # ---- transcript graph ------------------------------------------------
    graph_box = {}

    def build(_rep=0):
        # fresh build per repeat: drop every cached artifact of the
        # previous one so each rep pays the full transcripts→graph cost
        if graph_box.get("g") is not None:
            graph_box["g"].unpersist()
            spark.catalog.clearCache()
        t = synthesize_transcripts(spark, n_convs=N_CONVS, seed=42)
        g = Graph.from_transcripts(t, num_partitions=max(CPUS, 16))
        g.num_edges  # force materialization
        graph_box["g"] = g
        return g

    # repeated (r2 verdict: the suite's dominant cost deserves stats),
    # capped at 3 — a full rebuild is the suite's most expensive query
    run("q_etl_build", build, n=min(REPEATS, 3))
    g = graph_box.get("g")
    if g is None:  # subset run that still needs the graph
        need_graph = not ONLY or ONLY & {
            "q_pagerank",
            "q_multi_ppr8",
            "q_ppr_push",
            "q_cc",
            "q_lpa5",
            "q_louvain4",
            "q_triangles",
            "q_anf4",
            "q_densest",
            "q_scc",
            "q_sssp",
            "q_stress4",
            "q_wl3",
            "q_coloring",
            "q_node2vec_sg",
        }
        if need_graph:
            g = build()

    if g is not None:
        pr_box = {}

        def _pr(_rep):
            res = pagerank(g, alpha=0.8, tol=1e-6, max_iter=100)
            pr_box["res"] = res
            return res

        run("q_pagerank", _pr)
        if "res" in pr_box:
            res = pr_box["res"]
            secs = queries["q_pagerank"]  # median
            extra["pagerank_iterations"] = res.iterations
            extra["pagerank_converged"] = bool(res.converged)
            extra["pagerank_iters_per_min"] = round(res.iterations / secs * 60, 2)
            extra["pagerank_edges_per_sec"] = round(g.num_edges * res.iterations / secs, 0)
            extra["graph_vertices"] = g.num_vertices
            extra["graph_edges"] = g.num_edges

        run(
            "q_multi_ppr8",
            lambda rep: multi_ppr(
                g, _rand_sources(rep, 8, g.num_vertices), tol=0.0, max_iter=10
            ),
        )
        def _push(rep):
            from approximate_pagerank_public_spark.operators.push import (
                approx_ppr_push,
            )

            res = approx_ppr_push(
                g, _rand_sources(rep, 1, g.num_vertices)[0], eps=1e-5
            )
            res.state().count()
            return res

        run("q_ppr_push", _push)
        run("q_cc", lambda _rep: connected_components(g).count())
        run("q_lpa5", lambda _rep: label_propagation(g, max_iter=5).count())

        def _louvain(_rep):
            from approximate_pagerank_public_spark.operators.labelprop import (
                louvain_rounds,
            )

            return louvain_rounds(g, rounds=4).count()

        # capped at 3: ~10 s/rep, the suite's 2nd-heaviest query
        run("q_louvain4", _louvain, n=min(REPEATS, 3))
        run("q_triangles", lambda _rep: triangle_count(g))

        def _scc(_rep):
            from approximate_pagerank_public_spark.operators.scc import (
                strongly_connected_components,
            )

            return strongly_connected_components(g).count()

        def _sssp(rep):
            from approximate_pagerank_public_spark.operators.sssp import sssp

            return sssp(g, _rand_sources(rep, 1, g.num_vertices)[0]).count()

        def _stress(rep):
            from approximate_pagerank_public_spark.operators.centrality import (
                stress_centrality,
            )

            return stress_centrality(g, _rand_sources(rep, 4, g.num_vertices)).count()

        def _node2vec(_rep):
            from approximate_pagerank_public_spark.operators.randomwalk import (
                node2vec_corpus,
                skipgram_pairs,
            )

            corpus = node2vec_corpus(g, walk_length=8, seed="n2v")
            return skipgram_pairs(corpus, window=2).count()

        def _wl(_rep):
            from approximate_pagerank_public_spark.operators.wlhash import (
                wl_refinement,
            )

            return wl_refinement(g, rounds=3).count()

        def _coloring(_rep):
            from approximate_pagerank_public_spark.operators.coloring import (
                greedy_coloring,
            )

            colors, _rounds = greedy_coloring(g)
            return colors.count()

        def _anf(_rep):
            from approximate_pagerank_public_spark.operators.anf import (
                anf_hyperball,
            )

            res = anf_hyperball(g, rounds=4)
            res.neighborhood_function().count()
            return res.effective_diameter()

        def _densest(_rep):
            from approximate_pagerank_public_spark.operators.densest import (
                densest_subgraph,
            )

            res = densest_subgraph(g)
            res.memberships().count()
            return res.best_vertices

        run("q_anf4", _anf)
        run("q_densest", _densest)
        run("q_scc", _scc)
        run("q_sssp", _sssp)
        run("q_stress4", _stress)
        run("q_wl3", _wl, n=min(REPEATS, 3))
        run("q_coloring", _coloring, n=min(REPEATS, 3))
        # full n reps since the r4 hop-latency cuts (cached ranked
        # adjacency, hoisted degt, size-scaled checkpoints) — the r3 n=2
        # cap existed only because one rep cost 34-42 s
        run("q_node2vec_sg", _node2vec)

    # ---- triangle count on the reference-shaped pc family ----------------
    pc_box = {}

    def triangles_pc(rep):
        from approximate_pagerank_public_spark.sources.generators import (
            powerlaw_cluster_edges,
        )

        if "g" not in pc_box:
            pc = powerlaw_cluster_edges(spark, 100_000, 2_000_000, p_triad=0.1, seed=42)
            pc_box["g"] = Graph(pc, num_vertices=100_000, num_partitions=max(CPUS, 16))
        t = triangle_count(pc_box["g"])
        extra["pc_triangles"] = t
        return t

    run("q_triangles_pc", triangles_pc)
    if pc_box.get("g") is not None:
        pc_box["g"].unpersist()


    # ---- training-data ops on the driver tables --------------------------
    def _docs():
        """documents table: driver parquet when present, else the
        deterministic synthesizer at the SF-scaled size (sf1+ has no
        shipped parquet; BASELINE.md sf1 campaign)."""
        path = f"{SF_DIR}/documents.parquet"
        if os.path.exists(path):
            return spark.read.parquet(path)
        from approximate_pagerank_public_spark.sources.synthetic_tables import (
            synthesize_documents,
        )

        return synthesize_documents(spark, n_docs=max(500, int(50_000 * SF)), seed=42)

    def _events():
        path = f"{SF_DIR}/events.parquet"
        if os.path.exists(path):
            return spark.read.parquet(path)
        from approximate_pagerank_public_spark.sources.synthetic_tables import (
            synthesize_events,
        )

        return synthesize_events(spark, n_events=max(2000, int(1_000_000 * SF)), seed=42)

    def dedup_minhash(_rep):
        from approximate_pagerank_public_spark.operators.dedup import (
            minhash_lsh_candidates,
        )

        docs = _docs()
        return minhash_lsh_candidates(docs, num_hashes=16, bands=4).count()

    def ann_lsh(_rep):
        from pyspark.sql import functions as F
        from approximate_pagerank_public_spark.operators.similarity import lsh_ann_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        dim = len(emb.first()["embedding"])
        q = emb.limit(16).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        return lsh_ann_topk(emb, q, dim=dim, k=10, bits=4, tables=8).count()

    def text_pipeline(_rep):
        from approximate_pagerank_public_spark.operators.dedup import (
            duplicate_clusters,
            minhash_lsh_candidates,
        )
        from approximate_pagerank_public_spark.operators.events import session_stats
        from approximate_pagerank_public_spark.operators.sampling import dataset_split
        from approximate_pagerank_public_spark.operators.textstats import tfidf_topk

        docs = _docs()
        ev = _events()
        n = tfidf_topk(docs, k=5).count()
        pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4)
        n += duplicate_clusters(docs, pairs).where("NOT keep").count()
        n += dataset_split(docs).where("split = 'train'").count()
        n += session_stats(ev).count()
        return n

    def decontam(_rep):
        from approximate_pagerank_public_spark.operators.curation import (
            ngram_contamination,
        )
        from approximate_pagerank_public_spark.operators.sampling import dataset_split

        docs = dataset_split(_docs(), fractions={"train": 0.98, "eval": 0.02})
        ev_docs = docs.where("split = 'eval'")
        tr_docs = docs.where("split = 'train'")
        return ngram_contamination(ev_docs, tr_docs, n=8).where(
            "contamination > 0"
        ).count()

    def winnow(_rep):
        from approximate_pagerank_public_spark.operators.dedup import (
            winnow_matches,
        )

        return winnow_matches(_docs(), k=3, w=4, min_shared=3, cap=64).count()

    run("q_dedup_minhash", dedup_minhash)
    if os.path.exists(f"{SF_DIR}/embeddings.parquet"):
        run("q_ann_lsh", ann_lsh)
    run("q_text_pipeline", text_pipeline, n=min(REPEATS, 3))
    run("q_decontam", decontam, n=min(REPEATS, 3))
    run("q_winnow", winnow, n=min(REPEATS, 3))

    # ---- synthetic SpMV throughput (scaling workload) --------------------
    spmv_rep_medians: list[float] = []
    spmv_ets: list[float] = []

    def spmv_throughput(rep):
        if rep == 0:
            # one-time (untimed-in-median): release the transcript
            # graph, build the synthetic graph, warm the barrier path
            if graph_box.get("g") is not None:
                graph_box["g"].unpersist()
                graph_box["g"] = None
            spark.catalog.clearCache()
            edges = gnp_edges(spark, SPMV_V, SPMV_E, seed=42, skew=0.1)
            # 6x blocks per core: finer LPT granularity trims the gang's
            # straggler wait at 32 cores (measured ~8%: 0.27 -> 0.20-0.25
            # median step at 192 vs 64 blocks) and is neutral at 8 cores
            # (0.62-0.68 both ways)
            sg = Graph(edges, num_vertices=SPMV_V, num_partitions=6 * max(CPUS, 8))
            graph_box["sg"] = sg
            graph_box["sm"] = sg.num_edges
            # 4 warm-up supersteps: worker-pool spawn, block mmap page
            # faults, and JIT all land here, not in the first timed rep
            multi_ppr(sg, list(range(SPMV_SOURCES)), alpha=0.8, tol=0.0, max_iter=4)
        sg = graph_box["sg"]
        m = graph_box["sm"]
        srcs = _rand_sources(rep, SPMV_SOURCES, SPMV_V)
        t0 = time.perf_counter()
        res = multi_ppr(sg, srcs, alpha=0.8, tol=0.0, max_iter=SPMV_ITERS)
        el = time.perf_counter() - t0
        # per-rep median first, then median across reps below: a single
        # pooled median let one noisy rep's supersteps dominate the
        # headline (r2 verdict watch item: 0.17-0.31 s spread across
        # driver runs on this ±30% host)
        steps = sorted(mm["wall_ms"] / 1e3 for mm in res.metrics)
        spmv_rep_medians.append(steps[len(steps) // 2])
        spmv_ets.append(m * SPMV_ITERS * SPMV_SOURCES / el)
        return el

    out = run("q_spmv_throughput", spmv_throughput)
    if out is not None:
        m = graph_box["sm"]
        med = sorted(spmv_rep_medians)[len(spmv_rep_medians) // 2]
        ets = sorted(spmv_ets)[len(spmv_ets) // 2]
        extra["spmv_edges"] = m
        extra["spmv_sources"] = SPMV_SOURCES
        extra["spmv_supersteps"] = SPMV_ITERS
        extra["spmv_median_superstep_sec"] = round(med, 3)
        extra["spmv_rep_median_superstep_sec"] = [
            round(x, 3) for x in spmv_rep_medians
        ]
        extra["spmv_edge_traversals_per_sec"] = round(ets, 0)
        extra["spmv_edge_traversals_per_sec_median"] = round(m * SPMV_SOURCES / med, 0)

    # ---- 50-source BFS aggregates (PGX baseline protocol analogue) -------
    def bfs50(rep):
        from approximate_pagerank_public_spark.operators.traversal import bfs_stats

        sg = graph_box.get("sg")
        if sg is None:
            edges = gnp_edges(spark, SPMV_V, SPMV_E, seed=42, skew=0.1)
            sg = Graph(edges, num_vertices=SPMV_V, num_partitions=6 * max(CPUS, 8))
            graph_box["sg"] = sg
        rows = bfs_stats(sg, _rand_sources(rep, 50, SPMV_V)).collect()
        if rep == 0:
            extra["bfs50_sources"] = len(rows)
            extra["bfs50_max_ecc"] = max(r["ecc"] for r in rows)
        return rows

    run("q_bfs50_ecc_closeness", bfs50)
    if graph_box.get("sg") is not None:
        graph_box["sg"].unpersist()

    total = round(sum(queries.values()), 3)
    full = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": SF,
        "cpus": CPUS,
        "n": REPEATS,
        "stats": stats,
        "extra": extra,
    }
    # full blob to a file + stdout for humans; then a COMPACT medians-only
    # summary as the LAST line — the driver's tail capture truncated the
    # full line at r3 (BENCH_r03 "parsed": null), so the parseable record
    # must be the small one. A BENCH_ONLY subset run leaves the file
    # alone: it records the whole suite.
    if not ONLY:
        try:
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "BENCH_FULL.json"), "w") as f:
                json.dump(full, f, indent=1)
        except OSError:
            pass
    print(json.dumps(full))
    compact_extra = {
        k: extra[k]
        for k in (
            "pagerank_iters_per_min",
            "spmv_edge_traversals_per_sec",
            "spmv_median_superstep_sec",
        )
        if k in extra
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": SF,
                "cpus": CPUS,
                "n": REPEATS,
                **compact_extra,
            }
        )
    )


if __name__ == "__main__":
    main()
