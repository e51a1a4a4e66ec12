"""Sparse gather-scatter (SpMV) supersteps — the engine's inner loop.

Semantics (reference ``spmv_gold``, ``src/fpga/src/gold_algorithms.hpp:3-16``):
``contrib[v] = Σ_{(u,v)∈E} weight(u,v) · rank[u]`` — i.e.
``SELECT dst, SUM(weight * rank[src]) GROUP BY dst`` in pull orientation.

The broadcast-state kernel (:func:`gather`) — the north-star
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
partitioned **by dst**, each dst's partial comes from one partition,
so no shuffle is needed at all. The driver merges the collected
partials with ``ufunc.at``, which stays exact for an edge view whose
partitions share dsts: the reversed columns (``edges=``) that
backward passes gather over. Shuffle count per superstep: zero. The
same pass with ``np.minimum`` in place of ``np.add`` is the min-label
/ min-plus superstep of every driver-state relaxation on a master
without shm blocks, and after a failed barrier gang.

Rank shipping: on ``local[*]`` masters the (S,N) block is written
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
from collections.abc import Callable, Iterator

# no module-level pandas import: this module loads with the package in
# every Python worker, and one raised the benchmark's peak_mem_mb by
# ~87 MB (8%) on both workloads
import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from approximate_pagerank_public_spark.plans.blocks import _SHM_DIR, shm_available
from approximate_pagerank_public_spark.plans.graph import Graph


def _segmented(ufunc, dst: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``ufunc``-reduce the (S, E) ``vals`` over runs of equal dst.
    Correct for any order (more rows if unsorted); dst-sorted input →
    one row per distinct dst."""
    starts = np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
    return dst[starts], ufunc.reduceat(vals, starts, axis=1)


class _RankShip:
    """Ship an (S, N) block to Python workers.

    Local masters with shared memory → shared-memory mmap file
    (zero-copy for all workers on the host); cluster → Spark broadcast.
    """

    def __init__(self, spark, rank2d: np.ndarray):
        self._path = None
        self._bc = None
        if shm_available(spark):
            self._path = os.path.join(_SHM_DIR, f"apr_rank_{uuid.uuid4().hex}.npy")
            np.save(self._path, rank2d)
            path = self._path

            def load() -> np.ndarray:
                return np.load(path, mmap_mode="r")

        else:
            self._bc = spark.sparkContext.broadcast(rank2d)
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


def ship_and_collect(
    spark, edges: DataFrame, state: np.ndarray, kernel: Callable, schema: str
):
    """One streamed edge pass against driver state: ship ``state`` to
    the workers, run ``edges.mapInArrow(kernel(load), schema)`` —
    ``load()`` returns the state inside a worker — and collect it as a
    pandas frame. The shipped copy goes on every exit."""
    ship = _RankShip(spark, state)
    try:
        return edges.mapInArrow(kernel(ship.load), schema).toPandas()
    finally:
        ship.cleanup()


def _gather_kernel(op: str, ident, load) -> Callable:
    """The streamed :func:`gather` pass: per batch, gather
    ``state[:, src]`` (× w for ``sum``, + w for ``min``), reduce each
    dst run, then combine the batches' partials in a stable dst sort.
    One row per distinct dst of the partition."""
    ufunc = np.add if op in ("sum", "usum") else np.minimum
    weighted = op in ("sum", "min")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        state = load()
        dsts: list[np.ndarray] = []
        parts: list[np.ndarray] = []
        for b in batches:
            if b.num_rows == 0:
                continue
            src = b.column("src").to_numpy(zero_copy_only=False)
            dst = b.column("dst").to_numpy(zero_copy_only=False)
            w = b.column("weight").to_numpy(zero_copy_only=False) if weighted else None
            vals = state[:, src]  # vectorized gather, (S, Eb)
            if ufunc is np.minimum:
                # frontier srcs only: the rest hold the identity
                keep = (vals != ident).any(axis=0)
                if not keep.any():
                    continue
                if not keep.all():
                    dst, vals = dst[keep], vals[:, keep]
                    w = w[keep] if weighted else None
            if op == "sum":
                vals = vals * w
            elif op == "min":
                vals = vals + w
            u, p = _segmented(ufunc, dst, vals)
            dsts.append(u)
            parts.append(p)
        if not dsts:
            return
        # second-level combine across this partition's batches
        dst_all = np.concatenate(dsts)
        part_all = np.concatenate(parts, axis=1)
        order = np.argsort(dst_all, kind="stable")
        u, p = _segmented(ufunc, dst_all[order], part_all[:, order])
        out = np.float64 if p.dtype.kind == "f" else np.int64
        yield pa.RecordBatch.from_arrays(
            [pa.array(u)]
            + [pa.array(np.ascontiguousarray(p[i], dtype=out)) for i in range(p.shape[0])],
            names=["dst"] + [f"c{i}" for i in range(p.shape[0])],
        )

    return kernel


def gather(
    graph: Graph,
    state: np.ndarray,
    op: str,
    edges: DataFrame | None = None,
    frontier: np.ndarray | None = None,
) -> np.ndarray:
    """One driver-state edge pass, ``out[:, v] = ⊕ over edges (u, v) of
    f(state[:, u], w)`` for an (S, N) ``state`` (a 1-D one is one row):

    - ``sum``: Σ w·state (``W^T · rank``, one PageRank superstep);
    - ``usum``: Σ state (the Brandes path-count sweeps);
    - ``min``: min of state + w (weighted min-plus, SSSP);
    - ``umin``: min of state (labels, BFS levels).

    ``edges`` defaults to the graph's own; pass another edge view (the
    reversed columns) to gather over it. ``frontier`` (min ops) keeps
    only the edges whose src is in the (N,) mask. Rows no edge reaches
    hold the identity (0, or the dtype's max / +inf for min).

    With shm CSR blocks the graph's own sums run on the block kernels
    (``BlockStore.gather``). Everything else is ONE shuffle-free
    ``mapInArrow`` job: kernel partials → Arrow collect → driver
    ``ufunc.at`` merge in collected row order. Missing dsts are implicit
    identities — the reason the reference pads zero self-loops
    (``coo_fpga.hpp:32-44``) and we don't need to.
    """
    is_sum = op in ("sum", "usum")
    state2d = np.ascontiguousarray(
        np.atleast_2d(np.asarray(state, dtype=np.float64 if is_sum else None))
    )
    if edges is None and is_sum and graph.blocks is not None:
        return graph.blocks.gather(state2d, op=op)
    dtype = state2d.dtype
    if is_sum:
        ident = dtype.type(0)
    else:
        ident = np.iinfo(dtype).max if dtype.kind in "iu" else dtype.type(np.inf)
    if frontier is not None:
        state2d = np.ascontiguousarray(np.where(frontier, state2d, ident))
    s = state2d.shape[0]
    col = "double" if dtype.kind == "f" else "long"
    pdf = ship_and_collect(
        graph.spark,
        graph.edges if edges is None else edges,
        state2d,
        lambda load: _gather_kernel(op, ident, load),
        ", ".join(["dst long"] + [f"c{i} {col}" for i in range(s)]),
    )
    ufunc = np.add if is_sum else np.minimum
    out = np.full((s, graph.num_vertices), ident, dtype=dtype)
    if len(pdf):
        idx = pdf["dst"].to_numpy(np.int64)
        for i in range(s):
            ufunc.at(out[i], idx, pdf[f"c{i}"].to_numpy(dtype))
    return out
