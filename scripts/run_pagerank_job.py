"""spark-submit entry point: PageRank / PPR / CC / LPA / triangles over a
transcript table, with durable checkpointing and resume.

Ship as (build the zip with ``bash scripts/package.sh`` first; it is
not checked in):

    bash scripts/package.sh
    spark-submit --py-files dist/approximate_pagerank_public_spark.zip \\
        scripts/run_pagerank_job.py \\
        --transcripts <parquet-or-iceberg-path> \\
        --algorithm pagerank --alpha 0.8 --tol 1e-6 --max-iter 100 \\
        --checkpoint-dir /path/ckpt --output /path/out \\
        [--sources 0,5,9] [--mode auto|broadcast|distributed-arrow]

On a cluster the SparkSession comes from spark-submit's conf (master,
executor counts); locally it falls back to local[*]. A killed job rerun
with the same --checkpoint-dir resumes from the last completed
superstep (per-partition lineage + iteration metrics in manifest.json).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# spark-submit ships the package via --py-files; for bare `python
# scripts/run_pagerank_job.py` runs, resolve it from the repo checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--transcripts", required=True, help="parquet path or Iceberg table")
    p.add_argument(
        "--algorithm",
        default="pagerank",
        choices=[
            "pagerank", "ppr", "multi_ppr", "cc", "lpa", "triangles",
            "bfs", "bfs_stats", "fbfs",
            "scc", "sssp", "stress", "betweenness", "hits", "kcore",
            "katz", "harmonic", "mis", "ktruss", "node2vec", "diameter",
            "eigenvector", "ppr_push", "coloring", "wl",
            "anf", "landmark_dist",
        ],
    )
    p.add_argument(
        "--eps",
        type=float,
        default=1e-5,
        help="ppr_push: residual threshold per unit out-degree",
    )
    p.add_argument("--alpha", type=float, default=0.8)
    p.add_argument("--k", type=int, default=4, help="k for ktruss")
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--sources", default="", help="comma-separated vertex ids (ppr/multi_ppr/bfs)")
    p.add_argument(
        "--mode",
        default="auto",
        help="pagerank family: auto|broadcast|distributed-arrow; "
        "others (cc, scc, sssp, ...): auto|broadcast|distributed",
    )
    p.add_argument(
        "--no-dangling-norm",
        action="store_true",
        help="ppr/multi_ppr: drop the dangling-mass term (reference ppr.gm norm=false)",
    )
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument(
        "--store-dir",
        default=None,
        help="mode=distributed-arrow: shared-filesystem directory every "
        "executor can read (NFS/shm mount) for the CSR block store; "
        "defaults to /dev/shm (single-host only)",
    )
    p.add_argument("--output", required=True, help="parquet output path")
    p.add_argument("--partitions", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"apr-{args.algorithm}").getOrCreate()
    from approximate_pagerank_public_spark.plans.graph import Graph

    if args.partitions is None:
        # 2 tasks/core bounds straggler latency; spark-submit's default
        # shuffle.partitions=200 would otherwise drive 200-task supersteps
        args.partitions = 2 * spark.sparkContext.defaultParallelism

    if args.transcripts.endswith(".parquet") or "/" in args.transcripts:
        transcripts = spark.read.parquet(args.transcripts)
    else:
        transcripts = spark.read.table(args.transcripts)  # Iceberg catalog table
    graph = Graph.from_transcripts(transcripts, num_partitions=args.partitions)

    if args.store_dir is not None:
        graph.dist_blocks(path=args.store_dir)  # memoized; arrow mode reuses it

    sources = [int(s) for s in args.sources.split(",") if s != ""]
    summary: dict = {"algorithm": args.algorithm, "num_vertices": graph.num_vertices}

    if args.algorithm in ("pagerank", "ppr", "multi_ppr"):
        from approximate_pagerank_public_spark.operators.pagerank import (
            multi_ppr,
            pagerank,
            personalized_pagerank,
        )

        kw = dict(
            alpha=args.alpha,
            tol=args.tol,
            max_iter=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
        )
        if args.algorithm == "pagerank":
            res = pagerank(graph, mode=args.mode, **kw)
        elif args.algorithm == "ppr":
            res = personalized_pagerank(
                graph, sources[0], mode=args.mode,
                dangling_norm=not args.no_dangling_norm, **kw,
            )
        else:
            res = multi_ppr(
                graph, sources, mode=args.mode,
                dangling_norm=not args.no_dangling_norm, **kw,
            )
        out = res.ranks()
        if graph.vertex_names is not None:
            out = out.join(graph.vertex_names, "id")
        out.write.mode("overwrite").parquet(args.output)
        summary.update(
            iterations=res.iterations,
            converged=res.converged,
            final_l1_err=res.metrics[-1]["l1_err"] if res.metrics else None,
        )
    elif args.algorithm == "cc":
        from approximate_pagerank_public_spark.operators.components import (
            connected_components,
        )

        connected_components(graph, mode=args.mode).write.mode("overwrite").parquet(
            args.output
        )
    elif args.algorithm in ("bfs", "bfs_stats", "fbfs"):
        from approximate_pagerank_public_spark.operators.traversal import (
            bfs_stats,
            filtered_bfs,
            multi_source_bfs_block,
        )

        srcs = sources or [0]
        if args.algorithm == "bfs":
            out = multi_source_bfs_block(graph, srcs)
        elif args.algorithm == "bfs_stats":
            out = bfs_stats(graph, srcs)
        else:
            out = filtered_bfs(graph, srcs[0])
        out.write.mode("overwrite").parquet(args.output)
    elif args.algorithm == "lpa":
        from approximate_pagerank_public_spark.operators.labelprop import (
            label_propagation,
        )

        label_propagation(graph, max_iter=args.max_iter).write.mode("overwrite").parquet(
            args.output
        )
    elif args.algorithm == "scc":
        from approximate_pagerank_public_spark.operators.scc import (
            strongly_connected_components,
        )

        strongly_connected_components(graph, mode=args.mode).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.algorithm == "sssp":
        from approximate_pagerank_public_spark.operators.sssp import sssp

        sssp(graph, sources or [0], mode=args.mode).write.mode("overwrite").parquet(
            args.output
        )
    elif args.algorithm in ("stress", "betweenness"):
        from approximate_pagerank_public_spark.operators.centrality import (
            betweenness_centrality,
            stress_centrality,
        )

        fn = (
            stress_centrality
            if args.algorithm == "stress"
            else betweenness_centrality
        )
        fn(graph, sources or [0]).write.mode("overwrite").parquet(args.output)
    elif args.algorithm == "hits":
        from approximate_pagerank_public_spark.operators.hits import hits

        res = hits(graph, max_iter=args.max_iter)
        res.scores().write.mode("overwrite").parquet(args.output)
        summary.update(iterations=res.iterations)
    elif args.algorithm == "kcore":
        from approximate_pagerank_public_spark.operators.kcore import core_numbers

        res = core_numbers(graph)
        res.core_numbers().write.mode("overwrite").parquet(args.output)
        summary.update(rounds=res.rounds)
    elif args.algorithm == "katz":
        from approximate_pagerank_public_spark.operators.hits import katz_centrality

        katz_centrality(graph, beta=args.alpha, max_iter=args.max_iter).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.algorithm == "harmonic":
        from approximate_pagerank_public_spark.operators.traversal import (
            harmonic_centrality,
        )

        srcs = [int(x) for x in args.sources.split(",") if x] or [0]
        harmonic_centrality(graph, srcs).write.mode("overwrite").parquet(args.output)
    elif args.algorithm == "mis":
        from approximate_pagerank_public_spark.operators.mis import (
            maximal_independent_set,
        )

        res = maximal_independent_set(graph)
        res.labels.write.mode("overwrite").parquet(args.output)
        summary.update(rounds=res.rounds)
    elif args.algorithm == "ktruss":
        from approximate_pagerank_public_spark.operators.triangles import k_truss

        edges, rounds = k_truss(graph, k=args.k)
        edges.write.mode("overwrite").parquet(args.output)
        summary.update(rounds=rounds)
    elif args.algorithm == "node2vec":
        from approximate_pagerank_public_spark.operators.randomwalk import (
            node2vec_corpus,
        )

        node2vec_corpus(graph, walk_length=args.max_iter, mode=args.mode).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.algorithm == "eigenvector":
        from approximate_pagerank_public_spark.operators.hits import (
            eigenvector_centrality,
        )

        eigenvector_centrality(
            graph, max_iter=args.max_iter, mode=args.mode
        ).write.mode("overwrite").parquet(args.output)
    elif args.algorithm == "ppr_push":
        from approximate_pagerank_public_spark.operators.push import approx_ppr_push

        srcs = [int(x) for x in args.sources.split(",") if x] or [0]
        res = approx_ppr_push(
            graph,
            srcs[0],
            alpha=args.alpha,
            eps=args.eps,
            max_rounds=args.max_iter,
            mode=args.mode,
        )
        res.state().write.mode("overwrite").parquet(args.output)
        summary.update(rounds=res.rounds, converged=res.converged)
    elif args.algorithm == "coloring":
        from approximate_pagerank_public_spark.operators.coloring import (
            greedy_coloring,
        )

        colors, rounds = greedy_coloring(graph)
        colors.write.mode("overwrite").parquet(args.output)
        summary.update(rounds=rounds)
    elif args.algorithm == "wl":
        from approximate_pagerank_public_spark.operators.wlhash import (
            wl_refinement,
        )

        wl_refinement(graph, rounds=min(args.max_iter, 10)).write.mode(
            "overwrite"
        ).parquet(args.output)
    elif args.algorithm == "diameter":
        from approximate_pagerank_public_spark.operators.traversal import (
            approx_diameter,
        )

        approx_diameter(graph).write.mode("overwrite").parquet(args.output)
    elif args.algorithm == "anf":
        from approximate_pagerank_public_spark.operators.anf import anf_hyperball

        res = anf_hyperball(graph, rounds=min(args.max_iter, 16))
        summary["effective_diameter"] = res.effective_diameter()
        res.neighborhood_function().write.mode("overwrite").parquet(args.output)
    elif args.algorithm == "landmark_dist":
        from approximate_pagerank_public_spark.operators.landmarks import (
            landmark_distance_estimates,
        )

        ids = list(range(8))
        pairs = spark.createDataFrame(
            [(u, v) for u in ids for v in ids if u != v], "u long, v long"
        )
        landmark_distance_estimates(graph, pairs, k=4).write.mode(
            "overwrite"
        ).parquet(args.output)
    else:
        from approximate_pagerank_public_spark.operators.triangles import triangle_df

        triangle_df(graph).write.mode("overwrite").parquet(args.output)

    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
