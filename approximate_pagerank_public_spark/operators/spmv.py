"""Sparse gather-scatter (SpMV) supersteps — the engine's inner loop.

Semantics (reference ``spmv_gold``, ``src/fpga/src/gold_algorithms.hpp:3-16``):
``contrib[v] = Σ_{(u,v)∈E} weight(u,v) · rank[u]`` — i.e.
``SELECT dst, SUM(weight * rank[src]) GROUP BY dst`` in pull orientation.

The broadcast-state kernel (:func:`gather_contrib`) — the north-star
path. The rank vector (or an (S,N) block for S simultaneous sources,
mirroring the FPGA's 8-query batching,
``src/fpga/src/ip_cores/multi_personalized_pagerank.cpp:157-166``) is
shipped to executors; a ``mapInArrow`` kernel streams each edge
partition's dst-sorted Arrow batches through vectorized NumPy:
fancy-index gather (the reference's ``scatter_vec``,
``spmv_coo.hpp:10-41``) + ``np.add.reduceat`` segmented reduction
(the reference's streaming write-back FSM,
``spmv_coo_multi_stream.hpp:178-232``). Each partition emits exactly
one partial sum per distinct dst. Because the edge layout is hash
partitioned **by dst**, partials are (nearly) disjoint across
partitions, so no shuffle is needed at all: the driver merges the
collected partials with ``np.add.at`` (exact even when skew salting
spreads one dst over several partitions). Shuffle count per
superstep: zero.

Rank shipping: on ``local[*]`` masters the (S,N) f64 block is written
once per superstep to ``/dev/shm`` and ``np.load(mmap_mode='r')``-ed
by every Python worker — zero-copy shared pages, no pickling. On a
real cluster the same code path falls back to a Spark broadcast
(torrent distribution, one fetch per executor).

Vertex states too large for the driver take the cluster-state SpMV of
``plans/distblocks.py`` instead (``mode='distributed-arrow'``).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from approximate_pagerank_public_spark.plans.graph import Graph

_SHM_DIR = os.environ.get("SPARK_GRAFT_SHM", "/dev/shm")


def _contrib_schema(n_sources: int) -> StructType:
    return StructType(
        [StructField("dst", LongType())]
        + [StructField(f"c{i}", DoubleType()) for i in range(n_sources)]
    )


def _segmented_sum(
    dst: np.ndarray, contrib: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sum runs of equal dst. Correct for any order (more rows if
    unsorted); dst-sorted input → one row per distinct dst."""
    starts = np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
    return dst[starts], np.add.reduceat(contrib, starts, axis=1)


class _RankShip:
    """Ship an (S, N) f64 block to Python workers.

    local[*] → shared-memory mmap file (zero-copy for all workers on the
    host); cluster → Spark broadcast.
    """

    def __init__(self, spark, rank2d: np.ndarray):
        self._path = None
        self._bc = None
        sc = spark.sparkContext
        if sc.master.startswith("local") and os.path.isdir(_SHM_DIR):
            self._path = os.path.join(_SHM_DIR, f"apr_rank_{uuid.uuid4().hex}.npy")
            np.save(self._path, rank2d)
            path = self._path

            def load() -> np.ndarray:
                return np.load(path, mmap_mode="r")

        else:
            self._bc = sc.broadcast(rank2d)
            bc = self._bc

            def load() -> np.ndarray:
                return bc.value

        self.load = load

    def cleanup(self) -> None:
        if self._path is not None:
            try:
                os.unlink(self._path)
            except OSError:
                pass
        if self._bc is not None:
            self._bc.destroy()


def spmv_partials(edges: DataFrame, load_rank, n_sources: int) -> DataFrame:
    """Per-partition partial sums ``(dst, c0..c{S-1})`` via the Arrow
    kernel. ``load_rank()`` must return the (S, N) block inside the
    worker (mmap or broadcast)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rank = load_rank()
        dsts: list[np.ndarray] = []
        parts: list[np.ndarray] = []
        for b in batches:
            if b.num_rows == 0:
                continue
            src = b.column("src").to_numpy(zero_copy_only=False)
            dst = b.column("dst").to_numpy(zero_copy_only=False)
            w = b.column("weight").to_numpy(zero_copy_only=False)
            contrib = rank[:, src] * w  # vectorized gather + multiply, (S, Eb)
            u, p = _segmented_sum(dst, contrib)
            dsts.append(u)
            parts.append(p)
        if not dsts:
            return
        # second-level combine across this partition's batches
        dst_all = np.concatenate(dsts)
        part_all = np.concatenate(parts, axis=1)
        order = np.argsort(dst_all, kind="stable")
        u, p = _segmented_sum(dst_all[order], part_all[:, order])
        arrays = [pa.array(u)] + [
            pa.array(np.ascontiguousarray(p[i])) for i in range(p.shape[0])
        ]
        yield pa.RecordBatch.from_arrays(
            arrays, names=["dst"] + [f"c{i}" for i in range(p.shape[0])]
        )

    return edges.mapInArrow(kernel, _contrib_schema(n_sources))


def gather_contrib(graph: Graph, rank: np.ndarray) -> np.ndarray:
    """One superstep gather: ``contrib = W^T · rank`` as an (S, N) array.

    One shuffle-free Spark job: kernel partials → Arrow collect →
    driver ``np.add.at`` merge. Missing dsts (no in-edges) are implicit
    zeros — the reason the reference pads zero self-loops
    (``coo_fpga.hpp:32-44``) and we don't need to.
    """
    rank2d = np.ascontiguousarray(np.atleast_2d(np.asarray(rank, dtype=np.float64)))
    n_sources = rank2d.shape[0]
    blocks = graph.blocks
    if blocks is not None:
        return blocks.gather(rank2d, op="sum")
    ship = _RankShip(graph.spark, rank2d)
    try:
        pdf = spmv_partials(graph.edges, ship.load, n_sources).toPandas()
    finally:
        ship.cleanup()
    contrib = np.zeros((n_sources, graph.num_vertices), dtype=np.float64)
    if len(pdf):
        idx = pdf["dst"].to_numpy(np.int64)
        for i in range(n_sources):
            np.add.at(contrib[i], idx, pdf[f"c{i}"].to_numpy(np.float64))
    return contrib
