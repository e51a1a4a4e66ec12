"""Graph container: the engine's physical data model.

The reference stores the transposed adjacency matrix in CSC so PageRank
*pulls* from in-neighbors (``src/common/csc_matrix/csc_matrix.hpp:19-23``,
``load_graph_mtx`` at ``src/common/utils/utils.hpp:850-899``). The Spark
equivalent here:

- canonical relation ``edges(src:long, dst:long, weight:double)``;
- **explicit hash partitioning by dst** (the pull side) with
  ``sortWithinPartitions(dst, src)`` so each partition's Arrow batches
  are dst-clustered — the analogue of the reference's edge sort
  (``utils.hpp:337-356``) that makes segmented reduction dense;
- degree / dangling tables derived once and cached
  (dangling bitmap construction: ``src/fpga/src/pagerank_coo.cpp:175-179``).

Partitioning rationale at scale: hashing edges by ``dst`` gives every
partition — and so every CSR block built from it — its own set of dst
rows, as the reference pre-routes each stream block to the dst rows it
owns (``spmv_coo_multi_stream.hpp:178-232``). A hub's in-edges all live
in one block. Each block's partial sums are then final for its rows: the
driver merge is a scatter-assign, and barrier-gang tasks write their
rows without locks.
"""

from __future__ import annotations

import weakref

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class Graph:
    """Directed weighted graph with dense vertex ids ``0..N-1``."""

    def __init__(
        self,
        edges: DataFrame,
        num_vertices: int | None = None,
        num_partitions: int | None = None,
        vertices: DataFrame | None = None,
        layout_ready: bool = False,
    ):
        self.spark: SparkSession = edges.sparkSession
        self.num_partitions = num_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        base = edges.select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.col("weight").cast("double"),
        )
        # pull-oriented physical layout, built once and reused every
        # superstep. With `layout_ready` the caller guarantees the edges
        # already arrive dst-disjoint with exactly `num_partitions`
        # partitions (the ETL's fused dedup+layout exchange,
        # operators/etl.py::build_edge_table) — re-shuffling here would
        # pay the exchange twice
        layout = base if layout_ready else base.repartition(self.num_partitions, "dst")
        self.edges = layout.sortWithinPartitions("dst", "src").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self._releases: list[weakref.finalize] = []
        self.release_with(self.edges)
        # computes the cache now: a cached relation reports its dst-hash
        # layout only once computed, and until then the first plan over
        # it adds the exchanges that layout makes redundant
        row = self.edges.agg(
            F.max(F.greatest("src", "dst")).alias("mx"),
            F.count("*").alias("m"),
        ).first()
        self.num_edges = int(row["m"])
        self.num_vertices = (
            int(row["mx"]) + 1 if num_vertices is None else int(num_vertices)
        )
        self.vertex_names = vertices  # optional (id, entity) dictionary
        self._dangling_mask: np.ndarray | None = None
        self._blocks = None
        self._dist_blocks = None
        self._rev_graph: "Graph | None" = None
        self._und_graph: "Graph | None" = None

    def release_with(self, df: DataFrame) -> DataFrame:
        """Unpersist ``df`` when this Graph is unpersisted or collected,
        whichever comes first, and only then: Spark keys a cache by its
        plan, so unpersisting again after an equal Graph has cached the
        same plan would uncache that Graph's copy. Not at exit, when the
        session may already be stopped."""
        release = weakref.finalize(self, df.unpersist)
        release.atexit = False
        self._releases.append(release)
        return df

    def reversed_graph(self) -> "Graph":
        """Memoized transposed Graph (dst-hash layout + CSR blocks of
        the reversed edges). Backward passes — SCC masked reach, Brandes
        backward sweeps — reuse it across calls instead of paying the
        shuffle + block build each time; released by :meth:`unpersist`."""
        if self._rev_graph is None:
            self._rev_graph = Graph(
                self.edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
                ),
                num_vertices=self.num_vertices,
                num_partitions=self.num_partitions,
            )
        return self._rev_graph

    @property
    def blocks(self):
        """Shared-memory CSR BlockStore (local masters), else None —
        callers fall back to the streaming mapInArrow kernel."""
        from approximate_pagerank_public_spark.plans import blocks as blk

        if self._blocks is None and blk.shm_available(self.spark):
            self._blocks = blk.BlockStore(self.spark, self.edges)
        return self._blocks

    def dist_blocks(self, path: str | None = None, num_blocks: int | None = None):
        """Shared-filesystem CSR block store (``plans/distblocks.py``) —
        the cluster-scale superstep engine. ``path`` must be a directory
        every executor can read (shared FS on a real cluster; defaults
        to /dev/shm locally). Built once, memoized.

        ``num_blocks=None`` lets the store pick block count from |E|
        (message volume ∝ blocks·|V|, so fewer/larger blocks shuffle
        less — see distblocks.py).

        An explicit ``num_blocks`` that differs from a memoized store's
        block count rebuilds the store (the memo must not silently
        override an explicit request)."""
        from approximate_pagerank_public_spark.plans.distblocks import DistBlockStore

        if self._dist_blocks is not None and num_blocks is not None:
            # coalesce cannot split, so the achievable count is capped
            # by the edge layout's partitions — don't thrash rebuilding
            # toward an unreachable target
            achievable = min(num_blocks, self.edges.rdd.getNumPartitions())
            if self._dist_blocks.num_partitions != achievable:
                self._dist_blocks.cleanup()
                self._dist_blocks = None
        if self._dist_blocks is None:
            self._dist_blocks = DistBlockStore(
                self.spark,
                self.edges,
                path=path,
                num_blocks=num_blocks,
                num_edges=self.num_edges,
            )
        return self._dist_blocks

    # ------------------------------------------------------------ relations
    @property
    def vertices(self) -> DataFrame:
        """``(id)`` — ids are dense by ETL construction."""
        return self.spark.range(self.num_vertices).select(F.col("id").cast("long"))

    def out_degrees(self) -> DataFrame:
        """``(id, outdeg)`` for vertices with ≥1 out-edge."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("outdeg")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("indeg")
        )

    def dangling_vertices(self) -> DataFrame:
        """``(id)`` of vertices with no out-edges — anti-join, the
        DataFrame form of the reference's dangling bitmap."""
        return self.vertices.join(
            self.edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        )

    # -------------------------------------------------- driver-side vectors
    def dangling_mask(self) -> np.ndarray:
        """Boolean mask of dangling vertices (O(N) on the driver; used by
        the broadcast-kernel mode only, which presumes rank vectors fit)."""
        if self._dangling_mask is None:
            mask = np.ones(self.num_vertices, dtype=bool)
            srcs = (
                self.edges.select(F.col("src")).distinct().toPandas()["src"].to_numpy()
            )
            mask[srcs] = False
            self._dangling_mask = mask
        return self._dangling_mask

    def edges_numpy(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(src, dst, weight) arrays on the driver — for the driver paths
        ``auto`` takes while the edges fit (``plans/modes.py::edges_fit``)
        and for test goldens."""
        pdf = self.edges.toPandas()
        return (
            pdf["src"].to_numpy(np.int64),
            pdf["dst"].to_numpy(np.int64),
            pdf["weight"].to_numpy(np.float64),
        )

    def unpersist(self) -> None:
        for release in self._releases:  # the edges, the ranked adjacency
            release()
        self._releases.clear()
        self._ranked_adj = None
        if self.vertex_names is not None:
            self.vertex_names.unpersist()
        if self._blocks is not None:
            self._blocks.cleanup()
            self._blocks = None
        if self._dist_blocks is not None:
            self._dist_blocks.cleanup()
            self._dist_blocks = None
        if self._rev_graph is not None:
            self._rev_graph.unpersist()
            self._rev_graph = None
        if self._und_graph is not None:
            self._und_graph.unpersist()
            self._und_graph = None

    # -------------------------------------------------------- constructors
    @classmethod
    def from_transcripts(
        cls, transcripts: DataFrame, num_partitions: int | None = None
    ) -> "Graph":
        from approximate_pagerank_public_spark.operators.etl import (
            build_edge_table,
            edge_layout_ready,
        )

        spark = transcripts.sparkSession
        p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        vertices, edges = build_edge_table(transcripts, layout_partitions=p)
        n = vertices.count()  # cached: build_edge_table counted it already
        return cls(
            edges,
            num_vertices=n,
            num_partitions=p,
            vertices=vertices,
            layout_ready=edge_layout_ready(n),
        )

    @classmethod
    def from_edge_arrays(
        cls,
        spark: SparkSession,
        src: "np.ndarray | list[int]",
        dst: "np.ndarray | list[int]",
        num_vertices: int | None = None,
        num_partitions: int | None = None,
        normalize: bool = True,
    ) -> "Graph":
        """Test constructor from raw (src, dst) pairs; dedups, drops
        self-loops and applies 1/outdeg weights like the MTX loader
        (``utils.hpp:599-608,886-895``)."""
        import pandas as pd

        pdf = pd.DataFrame({"src": np.asarray(src), "dst": np.asarray(dst)})
        df = spark.createDataFrame(pdf)
        df = df.where(F.col("src") != F.col("dst")).distinct()
        if normalize:
            from pyspark.sql.window import Window

            w = Window.partitionBy("src")
            df = df.select(
                "src", "dst", (F.lit(1.0) / F.count("*").over(w)).alias("weight")
            )
        else:
            df = df.withColumn("weight", F.lit(1.0))
        return cls(df, num_vertices=num_vertices, num_partitions=num_partitions)

    def undirected(self) -> "Graph":
        """Memoized symmetrized Graph (reference ``undirectFast``,
        ``utils.hpp:618-671``): union with reversed edges, dedup,
        re-normalize weights. Built once, like :meth:`reversed_graph`:
        CC, LPA, bridges, the bow-tie and the diameter all reuse its
        cached edges and CSR blocks instead of paying the shuffle,
        window and block build per call. The parent graph owns it, so
        callers never unpersist it; :meth:`unpersist` releases it."""
        if self._und_graph is None:
            from pyspark.sql.window import Window

            e = self.edges.select("src", "dst")
            sym = (
                e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
                .where(F.col("src") != F.col("dst"))
                .distinct()
            )
            w = Window.partitionBy("src")
            sym = sym.select(
                "src", "dst", (F.lit(1.0) / F.count("*").over(w)).alias("weight")
            )
            self._und_graph = Graph(
                sym, num_vertices=self.num_vertices, num_partitions=self.num_partitions
            )
        return self._und_graph
