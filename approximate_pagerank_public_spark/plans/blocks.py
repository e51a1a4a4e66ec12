"""Per-partition CSR blocks — materialized once, reused every superstep.

This is the engine's equivalent of the reference keeping the packed COO
stream resident in device memory across all iterations
(``pagerank_coo.cpp:69-89`` transfers once; the kernel then loops
``max_iter`` times on-chip). In Spark terms: streaming the cached edge
DataFrame through the JVM→Arrow→Python boundary *every* superstep costs
~0.5 GB of serialization per 20M edges; instead we pay it once, writing
each partition's dst-sorted CSR arrays (``src``, ``weight``, unique
``dst``, segment ``starts``) to shared memory (``/dev/shm``), and every
subsequent superstep is a tiny one-value-per-task job whose kernel
mmaps its block, mmaps the rank vector, computes
``np.add.reduceat(rank[:, src] * w, starts)`` and writes the partial
back to shared memory. No per-row Python, no JVM data path, no shuffle.

Scale note: this fast path engages on ``local[*]`` masters where all
Python workers share the driver's /dev/shm. On a multi-node cluster the
same blocks would live on executor-local disk with locality-aware
scheduling (RDD preferred locations); the engine then falls back to the
streaming ``mapInArrow`` kernel in ``operators/spmv.py``, which is
identical math with a per-superstep serialization cost instead.

Block manifest rows double as the per-partition lineage the checkpoint
manifest records.
"""

from __future__ import annotations

import os
import shutil
import uuid
import weakref
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

_SHM_DIR = os.environ.get("SPARK_GRAFT_SHM", "/dev/shm")

_MANIFEST_SCHEMA = "pid long, n_edges long"

# src rows per tile: at S=8 a tile's rank-state slice is 12288*64B
# ~0.77 MB — resident in the 2 MB per-core L2. Without tiling the gather
# hits the SHARED L3/DRAM for every edge, which caps multi-core scaling
# (the L3 ring saturates long before the cores do). Tiling is the same
# trade the reference makes by staging rank lanes in on-chip BRAM
# (``spmv_coo.hpp:43-68`` scatter_vec_local_buffer).
TILE_ROWS = 12_288

_BLOCK_ARRAYS = ("src", "w", "udst", "starts", "segmap", "tb", "sb")


def build_tiled_block(src, dst, w):
    """Tile a partition's edges by src range; segment (= run of one dst)
    within each tile; map segments into the partition's sorted-unique
    dst column. Returns dict of arrays (see ``tiled_spmv``)."""
    tile_id = src // TILE_ROWS
    order = np.lexsort((src, dst, tile_id))
    src, dst, w, tile_id = src[order], dst[order], w[order], tile_id[order]
    brk = np.r_[True, (dst[1:] != dst[:-1]) | (tile_id[1:] != tile_id[:-1])]
    starts = np.flatnonzero(brk)
    u_dst = np.unique(dst)
    seg_map = np.searchsorted(u_dst, dst[starts])
    tb = np.r_[np.flatnonzero(np.r_[True, tile_id[1:] != tile_id[:-1]]), len(src)]
    sb = np.searchsorted(starts, tb)
    return {
        "src": src.astype(np.int64),
        "w": w.astype(np.float64),
        "udst": u_dst.astype(np.int64),
        "starts": starts.astype(np.int64),
        "segmap": seg_map.astype(np.int64),
        "tb": tb.astype(np.int64),
        "sb": sb.astype(np.int64),
    }


def load_block(block_dir: str, pid: int) -> tuple:
    return tuple(
        np.load(f"{block_dir}/part_{pid}_{name}.npy", mmap_mode="r")
        for name in _BLOCK_ARRAYS
    )


def tiled_spmv(state: np.ndarray, blk: tuple) -> np.ndarray:
    """``p[k] = Σ_{(u,v)∈seg k} w·state[u]`` per distinct dst of this
    block — K1/K13 semantics, one L2-resident tile at a time. Summation
    order: ascending (src-tile, src) per dst, tile partials accumulated
    in tile order — identical in every caller, so all execution paths
    agree bit-for-bit."""
    src, w, u_dst, starts, seg_map, tb, sb = blk
    p = np.zeros((len(u_dst), state.shape[1]), dtype=np.float64)
    for ti in range(len(tb) - 1):
        e0, e1 = int(tb[ti]), int(tb[ti + 1])
        s0, s1 = int(sb[ti]), int(sb[ti + 1])
        contrib = state[src[e0:e1], :] * np.asarray(w[e0:e1])[:, None]
        tp = np.add.reduceat(contrib, np.asarray(starts[s0:s1]) - e0, axis=0)
        p[np.asarray(seg_map[s0:s1])] += tp
    return p


def tiled_usum(state: np.ndarray, blk: tuple) -> np.ndarray:
    """Unweighted-adjacency variant of :func:`tiled_spmv` —
    ``p[k] = Σ_{(u,v)∈seg k} state[u]`` (no weight multiply). Used by
    the Brandes sweeps (σ path counts / continuation counts), whose
    values are exact integers in f64, so tile order is association-free."""
    src, _w, u_dst, starts, seg_map, tb, sb = blk
    p = np.zeros((len(u_dst), state.shape[1]), dtype=np.float64)
    for ti in range(len(tb) - 1):
        e0, e1 = int(tb[ti]), int(tb[ti + 1])
        s0, s1 = int(sb[ti]), int(sb[ti + 1])
        contrib = state[src[e0:e1], :]
        tp = np.add.reduceat(contrib, np.asarray(starts[s0:s1]) - e0, axis=0)
        p[np.asarray(seg_map[s0:s1])] += tp
    return p


# edge count below which building a REVERSED-graph BlockStore (for
# frontier-sparse backward passes: SCC reach, Brandes backward sweeps)
# costs more than the streaming full-scan rounds it replaces
REV_BLOCKS_MIN_EDGES = 5_000_000


def _save_renamed(path: str, *arrays) -> None:
    """Write one array (``.npy``) or several (``.npz``) to ``path``
    under a tmp name, then rename: a task killed mid-write (retry /
    speculation) never leaves a truncated file that a later reader or
    exists-check trusts."""
    base, ext = os.path.splitext(path)
    tmp = f"{base}.{uuid.uuid4().hex}.tmp{ext}"
    if ext == ".npz":
        np.savez(tmp, *arrays)
    else:
        np.save(tmp, arrays[0])
    os.rename(tmp, path)


def _sorted_src_index(block_dir: str, pid: int, src_b: np.ndarray):
    """Cached src-sorted view of a block's edges: ``(ssrc, sperm)`` where
    ``ssrc = src_b[sperm]`` is ascending. Built once per block, reused by
    every sparse-frontier traversal. Written tmp + ``os.rename``, ssrc
    before sperm, so sperm existing implies a complete ssrc."""
    sp_path = f"{block_dir}/sperm_{pid}.npy"
    ss_path = f"{block_dir}/ssrc_{pid}.npy"
    if not os.path.exists(sp_path):
        perm = np.argsort(src_b, kind="stable")
        _save_renamed(ss_path, src_b[perm])
        _save_renamed(sp_path, perm)
    return np.load(ss_path, mmap_mode="r"), sp_path


def _edge_dst(block_dir: str, pid: int, blk: tuple) -> np.ndarray:
    """Per-edge dst (udst-local row index), deterministic per block so
    cached at BlockStore scope — repeated traversals reuse it instead of
    re-expanding |E| dst ids per call (measured ~1 s/call/10^7 edges)."""
    ed_path = f"{block_dir}/edst_{pid}.npy"
    if os.path.exists(ed_path):
        return np.load(ed_path, mmap_mode="r")
    src_b, _w, _udst, starts, segmap, _tb, _sb = blk
    seg_len = np.diff(np.r_[np.asarray(starts), len(src_b)])
    edge_dst = np.repeat(np.asarray(segmap), seg_len)
    _save_renamed(ed_path, edge_dst)
    return edge_dst


def _expand_ranges(lo: np.ndarray, spans: np.ndarray) -> np.ndarray:
    """Vectorized multi-range expansion: concatenated positions
    ``lo[j] .. lo[j]+spans[j]`` per j (spans must be > 0)."""
    total = int(spans.sum())
    offs = np.repeat(np.cumsum(spans) - spans, spans)
    return np.repeat(lo, spans) + np.arange(total) - offs


def frontier_edges(block_dir: str, pid: int, src_b: np.ndarray, front: np.ndarray):
    """Positions of the block's edges whose src is in the sorted
    ``front``, found through the cached src-sorted index — O(f log E +
    touched edges), no |E|-long gather. None when there are none."""
    ss, sp_path = _sorted_src_index(block_dir, pid, src_b)
    lo = np.searchsorted(ss, front, side="left")
    hi = np.searchsorted(ss, front, side="right")
    spans = hi - lo
    nz = spans > 0
    if not nz.any():
        return None
    idx = _expand_ranges(lo[nz], spans[nz])
    return np.asarray(np.load(sp_path, mmap_mode="r"))[idx]


def relax_block(
    block_dir: str,
    pid: int,
    blk: tuple,
    state: np.ndarray,
    *,
    front: np.ndarray | None = None,
    mask: np.ndarray | None = None,
    inf_value=None,
    front_frac: float | None = None,
    one=0,
    edge_weighted: bool = False,
):
    """One min-relaxation of a CSR block against global ``state``
    ``(N, S)``: ``new[dst] = min(state[dst], min over selected in-edges
    (u, dst) of state[u] (+w | +one))``. Returns ``(gd, new_rows)`` for
    the improved global dst rows (``new_rows`` already min-combined with
    the current values), or ``None`` when nothing improves.

    Edge selection — the direction-optimizing BFS trichotomy
    (Beamer et al., "Direction-Optimizing Breadth-First Search", SC'12,
    adapted to a vectorized pull kernel):

    - ``front`` given → **sparse top-down**: only edges whose src is in
      the frontier, found through the cached src-sorted index —
      O(f log E + touched edges), no |E|-long gather.
    - ``mask`` given, frontier fat → **dense top-down**: one |E| mask
      gather selects frontier-src edges.
    - ``mask`` + ``inf_value`` + ``front_frac`` given (unweighted
      min-plus only) → **bottom-up** when this block's unvisited-row
      fraction is below the global frontier fraction: select edges whose
      *dst row is still unvisited* instead. Valid for BFS because a
      visited vertex can never improve (its level is final), and every
      in-edge of a dst lives in this one block (dst-partitioned CSR), so
      the segmented min sees all candidates. Post-peak levels then touch
      only edges into the shrinking unvisited set — the classic
      bottom-up win — and values/frontier stay bit-identical to
      top-down (same min over the same candidate sets).
    """
    src_b, _w, udst, starts, segmap, _tb, _sb = blk
    src_b = np.asarray(src_b)
    udst_arr = np.asarray(udst)
    if front is not None:
        sel = frontier_edges(block_dir, pid, src_b, front)
        if sel is None:
            return None
    else:
        bottom_up = False
        if inf_value is not None and front_frac is not None and not edge_weighted:
            unv_rows = (state[udst_arr] >= inf_value).any(axis=1)
            bottom_up = unv_rows.sum() < front_frac * len(udst_arr)
        if bottom_up:
            edge_dst = _edge_dst(block_dir, pid, blk)
            sel = np.flatnonzero(unv_rows[np.asarray(edge_dst)])
        else:
            sel = np.flatnonzero(mask[src_b])
    if not len(sel):
        return None
    edge_dst = _edge_dst(block_dir, pid, blk)
    d_sel = np.asarray(edge_dst)[sel]
    cand = state[src_b[sel]]  # (k, S)
    if edge_weighted:
        # per-edge weight BEFORE the segmented min (weighted SSSP): the
        # per-candidate d[src] + w single add keeps the fixpoint
        # bit-identical to the streaming/DataFrame paths
        cand = cand + np.asarray(_w)[sel][:, None]
    order = np.argsort(d_sel, kind="stable")  # radix on ints: O(k)
    d_sel, cand = d_sel[order], cand[order]
    rst = np.flatnonzero(np.r_[True, d_sel[1:] != d_sel[:-1]])
    m = np.minimum.reduceat(cand, rst, axis=0)
    if not edge_weighted:
        m = m + one
    gd = udst_arr[d_sel[rst]]  # global dst ids
    cur = state[gd]
    new = np.minimum(cur, m)
    imp = np.flatnonzero((new < cur).any(axis=1))
    if not len(imp):
        return None
    return gd[imp], new[imp]


def vote_sums(dst: np.ndarray, label: np.ndarray, w: np.ndarray):
    """Label-propagation votes summed per ``(dst, label)``: returns the
    groups' ``(dst, label, Σw)`` in (dst, label) order. The sort is
    stable, so each group sums in its input order."""
    order = np.lexsort((label, dst))
    d, l, wt = dst[order], label[order], w[order]
    starts = np.flatnonzero(np.r_[True, (d[1:] != d[:-1]) | (l[1:] != l[:-1])])
    return d[starts], l[starts], np.add.reduceat(wt, starts)


def vote_argmax(dst: np.ndarray, label: np.ndarray, w: np.ndarray):
    """``(dst, label)`` per distinct dst: the label with the greatest
    summed vote weight, ties → smallest label (the deterministic
    synchronous LPA rule)."""
    d, l, wt = vote_sums(dst, label, w)
    o = np.lexsort((l, -wt, d))
    d, l = d[o], l[o]
    first = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
    return d[first], l[first]


def vote_block(block_dir: str, pid: int, blk: tuple, labels: np.ndarray, _front, _fmask):
    """One label-propagation round of a CSR block against the round's
    ``labels`` snapshot ``(N, 1)``: every dst row of the block takes
    :func:`vote_argmax` of its in-edges' votes. A block holds ALL
    in-edges of its dst rows (dst-partitioned CSR), so the vote is
    complete with no merge. Returns ``(gd, new_rows)`` for the rows
    whose label changes, or None — the ``run_barrier_rounds`` kernel
    contract (the frontier arguments are unused: every row re-votes)."""
    src_b, w, udst, *_ = blk
    edge_dst = np.asarray(_edge_dst(block_dir, pid, blk))
    lab = labels[np.asarray(src_b), 0]
    d, best = vote_argmax(edge_dst, lab, np.asarray(w))
    gd = np.asarray(udst)[d]
    diff = best != labels[gd, 0]
    if not diff.any():
        return None
    return gd[diff], best[diff][:, None]


def shm_available(spark: SparkSession) -> bool:
    return spark.sparkContext.master.startswith("local") and os.path.isdir(_SHM_DIR)


class BlockStore:
    """CSR blocks for one Graph, keyed by edge-partition id."""

    def __init__(self, spark: SparkSession, edges: DataFrame):
        self.spark = spark
        self.dir = os.path.join(_SHM_DIR, f"apr_blocks_{uuid.uuid4().hex}")
        os.makedirs(self.dir, exist_ok=True)
        # the dir goes with the store (or at exit), unpersisted or not
        self._finalizer = weakref.finalize(self, shutil.rmtree, self.dir, True)
        block_dir = self.dir

        def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            srcs, dsts, ws = [], [], []
            for b in batches:
                if b.num_rows:
                    srcs.append(b.column("src").to_numpy(zero_copy_only=False))
                    dsts.append(b.column("dst").to_numpy(zero_copy_only=False))
                    ws.append(b.column("weight").to_numpy(zero_copy_only=False))
            if not srcs:
                return
            src = np.concatenate(srcs)
            dst = np.concatenate(dsts)
            w = np.concatenate(ws)
            arrays = build_tiled_block(src, dst, w)
            # separate .npy per array → np.load(mmap_mode='r') in the
            # superstep kernel is a zero-copy shm mapping (npz archives
            # cannot be mmapped and would be re-read every superstep)
            for name, arr in arrays.items():
                np.save(os.path.join(block_dir, f"part_{pid}_{name}.npy"), arr)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([pid], type=pa.int64()),
                    pa.array([len(src)], type=pa.int64()),
                ],
                names=["pid", "n_edges"],
            )

        self.manifest = edges.mapInArrow(build, _MANIFEST_SCHEMA).toPandas()
        self.pids = self.manifest["pid"].tolist()
        self.num_partitions = len(self.pids)
        # each block's u_dst on the driver for the merge step; the Graph's
        # dst-hash layout makes the blocks' dst sets disjoint, so the merge
        # is a scatter-assign
        self._u_dst = {
            pid: np.load(os.path.join(self.dir, f"part_{pid}_udst.npy"), mmap_mode="r")
            for pid in self.pids
        }

    # ----------------------------------------------------------- supersteps
    def gather(self, rank2d: np.ndarray, op: str = "sum") -> np.ndarray:
        """One superstep over all blocks; ``op`` is 'sum' (weighted SpMV)
        or 'usum' (unweighted adjacency sum — Brandes sweeps)."""
        n = rank2d.shape[-1]
        if self.num_partitions == 0:  # empty graph
            return np.zeros_like(rank2d)
        tiled = tiled_usum if op == "usum" else tiled_spmv
        parts = self.run_round(
            lambda block_dir, pid, blk, state: (tiled(state, blk),),
            # ship N-major (N, S): the per-edge gather then reads one
            # contiguous S·8-byte row per edge (one cache line for S=8)
            # instead of S scattered reads — measured ~10x faster
            state=np.ascontiguousarray(rank2d.T),
        )
        out_ns = np.zeros((n, rank2d.shape[0]), dtype=np.float64)
        for pid, (p,) in parts.items():  # p: (K, S)
            out_ns[np.asarray(self._u_dst[pid])] = p
        return np.ascontiguousarray(out_ns.T)

    def run_round(self, kernel, **arrays) -> dict[int, tuple]:
        """One per-round job over all blocks, the driver-state superstep
        of every block path. ``kernel(block_dir, pid, blk, **arrays)``
        runs once per block with ``arrays`` memory-mapped from the
        round's run dir, and returns a tuple of arrays or None. Returns
        ``{pid: tuple}`` for the blocks that returned one, in the order
        the job reported them; the run dir goes on every exit."""
        run_dir = os.path.join(self.dir, f"run_{uuid.uuid4().hex}")
        os.makedirs(run_dir)
        block_dir, pids, names = self.dir, self.pids, list(arrays)
        try:
            for name, arr in arrays.items():
                _save_renamed(f"{run_dir}/{name}.npy", arr)

            def step(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
                args = {
                    name: np.load(f"{run_dir}/{name}.npy", mmap_mode="r")
                    for name in names
                }
                done = []
                for b in batches:
                    for task_i in b.column("id").to_pylist():
                        pid = pids[task_i]
                        res = kernel(block_dir, pid, load_block(block_dir, pid), **args)
                        if res is not None:
                            _save_renamed(f"{run_dir}/r_{pid}.npz", *res)
                        done.append(pid)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(done, type=pa.int64())], names=["pid"]
                )

            k = self.num_partitions
            # one task wave: per-task launch costs ~10 ms through the Python
            # worker round-trip, so extra waves dominate the superstep at
            # this scale — each task walks a contiguous range of block ids
            n_tasks = max(1, min(k, self.spark.sparkContext.defaultParallelism))
            rows = (
                self.spark.range(0, k, 1, n_tasks).mapInArrow(step, "pid long").collect()
            )
            out = {}
            for r in rows:
                path = f"{run_dir}/r_{r['pid']}.npz"
                if os.path.exists(path):
                    with np.load(path) as z:
                        out[r["pid"]] = tuple(z[f"arr_{j}"] for j in range(len(z.files)))
            return out
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    def cleanup(self) -> None:
        self._finalizer()
