"""Phase-level timing for one `mode='distributed-arrow'` superstep.

Materializes each stage of `DistBlockStore.contribs` separately (stages
recompute their inputs, so successive timings are additive upper
bounds) to locate where the superstep wall goes:

  A  dangling scan over the cached state
  B  outbox pack only (mapInArrow over state, no shuffle)
  C  outbox + message shuffle + block SpMV
  D  full superstep: C + join/axpb/repartition/localCheckpoint

Usage: python scripts/profile_arrow_superstep.py [cpus] [V] [E]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    v = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    e = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000_000

    from pyspark.sql import functions as F

    from approximate_pagerank_public_spark.session import get_spark
    from approximate_pagerank_public_spark.sources.generators import gnp_edges
    from approximate_pagerank_public_spark.plans.graph import Graph

    spark = get_spark(
        "arrowprof", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 16)
    )
    spark.sparkContext.setLogLevel("ERROR")
    edges = gnp_edges(spark, v, e, seed=42, skew=0.1)
    g = Graph(edges, num_vertices=v, num_partitions=max(cpus, 16))
    g.num_edges  # force layout build

    t0 = time.perf_counter()
    store = g.dist_blocks()
    print(f"store build: {time.perf_counter() - t0:.1f}s  "
          f"(messages={store.num_messages}, P={store.num_partitions})", flush=True)

    s = 8
    cols = [f"r{i}" for i in range(s)]
    init = [F.lit(1.0 / v).alias(c) for c in cols]
    routed = store.attach_routing(g.vertices)
    state = routed.select("id", "pids", *init).repartition(cpus, "id").localCheckpoint()

    for it in range(3):
        print(f"-- superstep {it}", flush=True)
        tA = time.perf_counter()
        state.where(F.size("pids") == 0).agg(*[F.sum(c).alias(c) for c in cols]).first()
        print(f"A dangling scan:          {time.perf_counter() - tA:6.2f}s", flush=True)

        tC = time.perf_counter()
        contribs = store.contribs(state, s, cpus)
        contribs.agg(F.count("*")).first()
        spilled = sum(
            os.path.getsize(os.path.join(store._msg_dir, f))
            for f in os.listdir(store._msg_dir)
        )
        print(f"C outbox+spill({spilled/1e6:.0f} MB)+manifest+spmv: "
              f"{time.perf_counter() - tC:6.2f}s", flush=True)

        tD = time.perf_counter()
        alpha = 0.8
        new_cols = [
            (F.lit(alpha) * F.coalesce(F.col(f"c{i}"), F.lit(0.0))
             + F.lit((1 - alpha) / v)).alias(c)
            for i, c in enumerate(cols)
        ]
        new = (
            state.join(contribs, "id", "left")
            .select("id", "pids", *new_cols)
            .repartition(cpus, "id")
            .localCheckpoint()
        )
        print(f"D full join+ckpt:         {time.perf_counter() - tD:6.2f}s", flush=True)
        state.unpersist()
        state = new

    store.cleanup()
    spark.stop()


if __name__ == "__main__":
    main()
