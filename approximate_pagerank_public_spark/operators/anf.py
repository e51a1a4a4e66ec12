"""Approximate neighborhood function (ANF / HyperBall) — hop-plot and
effective-diameter estimation at web scale.

The canonical algorithm for "how far apart is this graph" when exact
all-pairs BFS is impossible (Palmer, Gibbons & Faloutsos, *ANF*, KDD
2002; Boldi, Rosa & Vigna, *HyperBall*, 2011): every vertex keeps a
HyperLogLog sketch of its out-ball ``B(v, r)`` (vertices reachable from
``v`` in ≤ r hops); one round merges each vertex's sketch with its
out-neighbors' sketches (register-wise max), so after ``r`` rounds the
sketch estimates ``|B(v, r)|``. The neighborhood function
``NF(r) = Σ_v |B(v, r)|`` then gives the hop plot, and the effective
diameter is the smallest ``r`` with ``NF(r) ≥ 0.9 · NF(∞)``.

Everything is derived from md5 exactly like ``functions/sketch.py``
(m=256 registers, 60-bit hash, integer rho) so the DuckDB oracle can
replay it register-for-register over an unrolled reachability CTE.
Beyond the raw HLL estimator this module ALSO applies Flajolet's
small-range (linear-counting) correction — essential here because early
rounds have tiny balls — made bit-replayable by precomputing the 256
possible values ``m·ln(m/z)`` as shared f64 literals (no engine libm in
the estimate path; both engines look the value up in the same table).

Scale shape — three paths, all bit-identical (parity-tested):

- broadcast (≤ ``BROADCAST_MAX_EDGES``): dense ``(n, 256)`` uint8
  register matrix on the driver, one vectorized ``np.maximum.at`` per
  round.
- **blocks** (the cluster-scale default when a shared FS is available):
  routed messages over the dist-block CSR store built on the REVERSED
  edges + self-loops — each sketch ships once per consuming block
  (0.14 msgs/edge measured at |E|=2·10⁷), kernel = memoized dst-sorted
  layout + one length-class segment max per block.
- **packed** (cluster-valid with no shared FS): the whole sketch as ONE
  256-byte binary column ``(id, sk)``; a round is one pull-side
  equi-join + an Arrow-native segment merge (``repartition(id)`` →
  ``mapInArrow`` → ``np.maximum.reduceat`` over a zero-copy
  ``(rows, 256)`` view of the Arrow buffers). Shuffle volume per round
  is exactly ``(|E| + |V|)`` rows × 256 B — the algorithm's true
  communication cost — independent of how full the balls are. No
  per-vertex set ever materializes.

Rounds rotate state through a ``ckpt_scope`` (CLAUDE.md lineage
invariant).

Reference scope note: the reference engine (approximate-pagerank-public)
ships ranking kernels; ANF is the standard companion reachability
statistic for the same link graphs (PGX ships it as
``adamicAdar``-family analytics), added on the engine's own dual-path +
replayable-oracle idiom.
"""

from __future__ import annotations

import math
import os
import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.functions.sketch import ALPHA_M2, M
from approximate_pagerank_public_spark.plans.blocks import shm_available
from approximate_pagerank_public_spark.plans.checkpoint import (
    ckpt_scope,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import edges_fit, resolve_mode
from approximate_pagerank_public_spark.session import upload_frame

# Flajolet small-range correction, tabulated so no engine evaluates ln():
# LC_TABLE[z-1] = m * ln(m / z) for z = n_zero ∈ 1..256. repr() round-trips
# exactly, so Spark and DuckDB parse the SAME doubles.
LC_TABLE = [float(M) * math.log(M / z) for z in range(1, M + 1)]
# raw-estimate threshold below which linear counting applies (HLL paper)
LC_THRESHOLD = 2.5 * M
# edges per block of the blocks path's store (see _anf_blocks)
ANF_EDGES_PER_BLOCK = 1_000_000


@dataclass
class ANFResult:
    rounds: int
    _nf: DataFrame  # (round, nf_micro, frac_micro)

    def neighborhood_function(self) -> DataFrame:
        return self._nf

    def effective_diameter_df(self, q: float = 0.9) -> DataFrame:
        """One row ``(eff_diameter_round, nf_micro, nf_total_micro)`` —
        the smallest round r with NF(r) >= q·NF(rounds) (the classic
        ANF/graphs-over-time effective-diameter readout, non-
        interpolated variant). The comparison is ONE IEEE multiply of
        the exact integer micro-unit sums, so it replays bit-exactly;
        everything happens over the ≤ rounds+1 NF rows."""
        last = self._nf.orderBy(F.col("round").desc()).limit(1).select(
            F.col("nf_micro").alias("nf_total_micro")
        )
        hit = (
            self._nf.crossJoin(F.broadcast(last))
            .where(
                F.col("nf_micro").cast("double")
                >= F.lit(float(q)) * F.col("nf_total_micro").cast("double")
            )
            .orderBy(F.col("round").asc())
            .limit(1)
        )
        return hit.select(
            F.col("round").cast("long").alias("eff_diameter_round"),
            "nf_micro",
            "nf_total_micro",
        )

    def mean_distance_df(self) -> DataFrame:
        """One row ``(mean_dist, reach_pairs_micro)`` — the other
        classic ANF readout (Palmer et al. 2002): estimated mean
        distance over reachable pairs, ``Σ_{r≥1} r·(NF(r)−NF(r−1)) /
        (NF(max)−NF(0))``. Integer micro-unit deltas, ONE IEEE
        division. The window runs over the ≤ rounds+1 NF rows (a
        constant, never data-sized)."""
        from pyspark.sql.window import Window

        w = Window.orderBy("round")
        d = self._nf.select(
            "round",
            (F.col("nf_micro") - F.lag("nf_micro").over(w)).alias("delta"),
        ).where(F.col("round") >= 1)
        agg = d.agg(
            F.sum(F.col("round") * F.col("delta")).alias("wsum"),
            F.sum("delta").alias("reach_pairs_micro"),
        )
        return agg.select(
            F.when(F.col("reach_pairs_micro") == 0, F.lit(0.0))
            .otherwise(
                F.col("wsum").cast("double")
                / F.col("reach_pairs_micro").cast("double")
            )
            .alias("mean_dist"),
            "reach_pairs_micro",
        )

    def effective_diameter(self, q: float = 0.9) -> int:
        """Smallest round r with NF(r) >= q * NF(rounds) — integer
        comparison over the exact micro-unit sums (≤ rounds+1 rows)."""
        rows = sorted(
            self._nf.select("round", "nf_micro").collect(),
            key=lambda x: x["round"],
        )
        target = q * rows[-1]["nf_micro"]
        for row in rows:
            if row["nf_micro"] >= target:
                return int(row["round"])
        return int(rows[-1]["round"])


# ----------------------------------------------------------- broadcast path
def _hash60(val: str) -> int:
    import hashlib

    return int(hashlib.md5(val.encode()).hexdigest()[:15], 16)


def _rho_of(v60: int) -> tuple[int, int]:
    reg = v60 % M
    w = (v60 >> 8) & 0xFFFFFFFF
    rho = 33 - w.bit_length() if w else 33
    return reg, rho


def anf_numpy(
    src: np.ndarray, dst: np.ndarray, n: int, rounds: int
) -> list[int]:
    """Pure-NumPy HyperBall replay: dense (n, 256) uint8 registers,
    ``np.maximum.at`` merge per round. Returns nf_micro per round
    0..rounds. Shared by the broadcast path and tests."""
    regs = np.zeros((n, M), dtype=np.uint8)
    for v in range(n):
        reg, rho = _rho_of(_hash60(str(v)))
        regs[v, reg] = rho
    # sort once by src, then per round one fused gather + length-class
    # segment max (``segment_max_u8``): np.maximum.at is a scalar inner
    # loop and maximum.reduceat(axis=0) is column-strided — both
    # measured >10x slower. max is order-free: bit-identical results.
    order = np.argsort(src, kind="stable")
    s_s, d_s = src[order], dst[order]
    starts = np.flatnonzero(np.r_[True, s_s[1:] != s_s[:-1]])
    seg_src = s_s[starts]
    out = [int(_est_micro(regs).sum())]
    for _ in range(rounds):
        seg_max = segment_max_u8(regs, starts, idx=d_s)
        nxt = regs.copy()
        nxt[seg_src] = np.maximum(nxt[seg_src], seg_max)
        regs = nxt
        out.append(int(_est_micro(regs).sum()))
    return out


# ------------------------------------------------------------- packed path
# A sparse (id, register, rho) relation would mirror the oracle, but its
# join fan-out saturates at 256 rows PER EDGE once balls fill up. The
# cluster-scale representation is the classic HyperBall-on-MapReduce
# one: the whole 256-register sketch as ONE 256-byte binary column,
# merged by an Arrow-native segment max. Shuffle volume per round is
# then exactly (|E| + |V|) rows x 256 B — the algorithm's true
# communication cost — and the merge is one vectorized
# np.maximum.reduceat per partition.


def _bin_to_mat(arr) -> np.ndarray:
    """(rows, 256) uint8 view of an Arrow binary column whose values are
    all exactly 256 bytes — zero-copy via the offsets/data buffers, with
    a per-row fallback if the layout ever differs."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros((0, M), dtype=np.uint8)
    bufs = arr.buffers()
    if len(bufs) == 3 and bufs[1] is not None and bufs[2] is not None:
        offs = np.frombuffer(bufs[1], dtype=np.int32)[
            arr.offset : arr.offset + n + 1
        ]
        if offs[-1] - offs[0] == n * M and np.all(np.diff(offs) == M):
            data = np.frombuffer(bufs[2], dtype=np.uint8)
            return data[offs[0] : offs[-1]].reshape(n, M)
    return np.stack(
        [np.frombuffer(v.as_py(), dtype=np.uint8) for v in arr]
    )


def _mat_to_bin(mat: np.ndarray):
    """Arrow binary Array from a (rows, 256) uint8 matrix — buffers
    built directly (no per-row Python bytes objects)."""
    import pyarrow as pa

    n = mat.shape[0]
    offsets = pa.py_buffer((np.arange(n + 1, dtype=np.int32) * M).tobytes())
    data = pa.py_buffer(np.ascontiguousarray(mat).tobytes())
    return pa.Array.from_buffers(pa.binary(), n, [None, offsets, data])


_GATHER_CHUNK = 8_000_000  # rows per length-class gather (≤ ~2 GB peak)


def segment_max_u8(
    mat: np.ndarray, starts: np.ndarray, idx: np.ndarray | None = None
) -> np.ndarray:
    """Per-segment max over rows grouped by ``starts``: row ``i`` of the
    virtual input is ``mat[i]`` (or ``mat[idx[i]]`` when ``idx`` is
    given, fusing the gather so the (rows, 256) intermediate never
    materializes). Segments are processed in LENGTH CLASSES (all
    length-L segments reshaped to (k, L, cols) and reduced over axis 1)
    — measured 13x faster than ``np.maximum.reduceat(axis=0)``, whose
    2-D inner loop is column-strided. max is order-free so the result
    is identical."""
    total = len(idx) if idx is not None else len(mat)
    n = len(starts)
    cols = mat.shape[1]
    out = np.empty((n, cols), dtype=np.uint8)
    lens = np.diff(np.r_[starts, total])
    for length in np.unique(lens):
        sel = np.flatnonzero(lens == length)
        if length == 1:
            pick = starts[sel]
            out[sel] = mat[idx[pick]] if idx is not None else mat[pick]
            continue
        step = max(1, _GATHER_CHUNK // int(length))
        for a in range(0, len(sel), step):
            s = sel[a : a + step]
            rows = (starts[s][:, None] + np.arange(length)[None, :]).ravel()
            if idx is not None:
                rows = idx[rows]
            out[s] = mat[rows].reshape(len(s), int(length), cols).max(axis=1)
    return out


def _est_micro(mat: np.ndarray) -> np.ndarray:
    """Per-row corrected-estimate micro-units (int64) for a (rows, 256)
    register matrix — the single shared estimator (same constants as the
    SQL oracle and the column path). Row-chunked so the f64 power-table
    gather stays ~100 MB instead of 8 bytes x rows x 256."""
    pow_tbl = 1.0 / (1 << np.arange(34, dtype=np.int64)).astype(np.float64)
    lc_tbl = np.asarray(LC_TABLE, dtype=np.float64)
    out = np.empty(len(mat), dtype=np.int64)
    for a in range(0, len(mat), 50_000):
        m = mat[a : a + 50_000]
        s = pow_tbl[m].sum(axis=1)
        raw = float(ALPHA_M2) / s
        n_zero = (m == 0).sum(axis=1)
        use_lc = (raw <= LC_THRESHOLD) & (n_zero > 0)
        est = np.where(use_lc, lc_tbl[np.maximum(n_zero, 1) - 1], raw)
        out[a : a + 50_000] = np.floor(est * 1e6).astype(np.int64)
    return out


def _packed_init(g: Graph) -> DataFrame:
    import pyarrow as pa

    def init(batches):
        for b in batches:
            ids = b.column(0).to_numpy(zero_copy_only=False)
            mat = np.zeros((len(ids), M), dtype=np.uint8)
            for i, vid in enumerate(ids):
                reg, rho = _rho_of(_hash60(str(int(vid))))
                mat[i, reg] = rho
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), _mat_to_bin(mat)], names=["id", "sk"]
            )

    return g.vertices.mapInArrow(init, "id long, sk binary")


def _packed_merge(df: DataFrame, parts: int) -> DataFrame:
    import pyarrow as pa

    def merge(batches):
        ids_l, mats = [], []
        for b in batches:
            ids_l.append(b.column(0).to_numpy(zero_copy_only=False))
            mats.append(_bin_to_mat(b.column(1)))
        if not ids_l:
            return
        ids = np.concatenate(ids_l)
        mat = np.vstack(mats)
        order = np.argsort(ids, kind="stable")
        ids_s = ids[order]
        starts = np.flatnonzero(np.r_[True, ids_s[1:] != ids_s[:-1]])
        out = segment_max_u8(mat, starts, idx=order)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids_s[starts]), _mat_to_bin(out)], names=["id", "sk"]
        )

    return df.repartition(parts, "id").mapInArrow(merge, "id long, sk binary")


def _nf_from_packed(state: DataFrame) -> int:
    import pyarrow as pa

    def est(batches):
        tot = 0
        for b in batches:
            tot += int(_est_micro(_bin_to_mat(b.column(1))).sum())
        yield pa.RecordBatch.from_arrays(
            [pa.array([tot], type=pa.int64())], names=["nf_part"]
        )

    parts = state.mapInArrow(est, "nf_part long")
    return int(parts.agg(F.sum("nf_part").alias("nf")).collect()[0]["nf"])


def _anf_packed(g: Graph, rounds: int) -> list[int]:
    parts = g.num_partitions
    edges = g.edges.select("src", "dst")
    with ckpt_scope(g.spark) as cs:
        state = cs.ckpt(_packed_merge(_packed_init(g), parts))
        out = [_nf_from_packed(state)]
        for _ in range(rounds):
            msgs = (
                edges.alias("e")
                .join(state.alias("s"), F.col("s.id") == F.col("e.dst"))
                .select(F.col("e.src").alias("id"), F.col("s.sk"))
            )
            nxt = cs.ckpt(_packed_merge(state.unionByName(msgs), parts))
            cs.free(state)
            state = nxt
            out.append(_nf_from_packed(state))
        return out


# -------------------------------------------------------------- blocks path
# The message-minimized variant on the engine's shared-FS CSR block
# store (plans/distblocks.py): the store is built over the REVERSED
# edges plus one self-loop per vertex, so "max over the block's in-edge
# srcs per dst" IS the ANF pull (sketch(v) <- max of v's own sketch and
# its out-neighbors') — no post-join merge needed. Each vertex's
# 256-byte sketch ships ONCE per consuming block (the PageRank twin's
# measured 0.13 msgs/edge routing), not once per edge: per-round
# shuffle is Σ_p unique_srcs(p) x 260 B + one V-row contrib exchange,
# vs (|E|+|V|) x 260 B for the packed path.


# per-worker memo of the dst-sorted ANF edge layout derived from a dist
# block (max is association-free, so the tile structure is unnecessary
# — one dst-sorted order with globally unique dst segments lets
# segment_max_u8 do the whole block in one length-class pass)
_ANF_LAYOUT_CACHE: dict = {}


def _anf_block_layout(block_dir: str, pid: int, blk: tuple):
    key = (block_dir, pid)
    lay = _ANF_LAYOUT_CACHE.get(key)
    if lay is None:
        srcl, _w, u_dst, starts, seg_map, tb, sb = blk
        n_edges = len(srcl)
        seg_lens = np.diff(np.r_[np.asarray(starts), n_edges])
        edge_tgt = np.repeat(np.asarray(seg_map), seg_lens)
        order = np.argsort(edge_tgt, kind="stable").astype(np.int64)
        srcl_o = np.asarray(srcl)[order]
        tgt_o = edge_tgt[order]
        d_starts = np.flatnonzero(np.r_[True, tgt_o[1:] != tgt_o[:-1]])
        d_rows = tgt_o[d_starts]  # globally unique per dst
        lay = (srcl_o, d_starts, d_rows)
        _ANF_LAYOUT_CACHE[key] = lay
    return lay


def _tiled_umax_u8(
    state_local: np.ndarray, blk: tuple, block_dir: str, pid: int
) -> tuple:
    """(udst, per-dst register max) over one CSR block — the uint8 /
    max-reduce sibling of ``plans/blocks.py::tiled_spmv``, via the
    memoized dst-sorted layout + length-class segment max."""
    _srcl, _w, u_dst, _starts, _seg_map, _tb, _sb = blk
    srcl_o, d_starts, d_rows = _anf_block_layout(block_dir, pid, blk)
    p = np.zeros((len(u_dst), M), dtype=np.uint8)
    p[d_rows] = segment_max_u8(state_local, d_starts, idx=srcl_o)
    return u_dst, p


def _sketch_contribs(store, state: DataFrame, shuffle_partitions: int) -> DataFrame:
    """One ANF superstep over a DistBlockStore: outbox pack → sketch
    payloads SPILLED to the store's shared FS (tmp+rename, one
    idx/sketch file pair per (state partition, target block); only
    manifests ride the shuffle — ANF payloads are 256 B/vertex, so at
    8 blocks × 10⁶ vertices this keeps ~2 GB/round out of the
    Python↔Arrow↔JVM shuffle round trip, same rationale as
    ``DistBlockStore.contribs``) → token-routed manifest shuffle →
    per-block scatter + tiled segment max.
    ``state`` must expose (id, pids, sk). Shares the store's spill-dir
    rule with ``DistBlockStore.contribs``: at most one unmaterialized
    plan per store, since building one reclaims the previous plan's
    messages."""
    import pyarrow as pa

    from approximate_pagerank_public_spark.plans.distblocks import (
        _load_dist_block,
        _slot_tokens,
    )

    block_dir = store.dir
    store.clear_messages()
    msg_dir = os.path.join(store.dir, f"msgs_{uuid.uuid4().hex}")
    os.makedirs(msg_dir, exist_ok=True)
    store._msg_dir = msg_dir

    def outbox(batches):
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        flat_l, cnt_l, sk_l = [], [], []
        for b in batches:
            if b.num_rows == 0:
                continue
            la = b.column("pids")
            cnt = np.diff(la.offsets.to_numpy(zero_copy_only=False))
            if cnt.sum() == 0:
                continue
            flat_l.append(la.flatten().to_numpy(zero_copy_only=False))
            cnt_l.append(cnt)
            sk_l.append(_bin_to_mat(b.column("sk")))
        if not flat_l:
            return
        flat_code = np.concatenate(flat_l)
        counts = np.concatenate(cnt_l)
        sks = np.vstack(sk_l)
        rep_rows = np.repeat(np.arange(len(counts)), counts)
        order = np.argsort(flat_code, kind="stable")
        fc = flat_code[order]
        fp = (fc >> 32).astype(np.int32)
        fi = (fc & 0xFFFFFFFF).astype(np.int32)
        brk = np.r_[0, np.flatnonzero(fp[1:] != fp[:-1]) + 1, len(fp)]
        out_pid, out_sf, out_kf = [], [], []
        for a, bnd in zip(brk[:-1], brk[1:]):
            pid = int(fp[a])
            sf = f"{msg_dir}/m_{part}_{pid}_idx.npy"
            kf = f"{msg_dir}/m_{part}_{pid}_sk.npy"
            for path, arr in (
                (sf, fi[a:bnd]),
                (kf, np.ascontiguousarray(sks[rep_rows[order[a:bnd]]])),
            ):
                tmp = f"{path}.{uuid.uuid4().hex}.tmp.npy"
                np.save(tmp, arr)
                os.rename(tmp, path)
            out_pid.append(pid)
            out_sf.append(sf)
            out_kf.append(kf)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_pid, type=pa.int32()),
                pa.array(out_sf, type=pa.string()),
                pa.array(out_kf, type=pa.string()),
            ],
            names=["pid", "sfile", "kfile"],
        )

    def kernel(batches):
        per_pid: dict[int, list[tuple[str, str]]] = {}
        for b in batches:
            pids = b.column("pid").to_pylist()
            sfs = b.column("sfile").to_pylist()
            kfs = b.column("kfile").to_pylist()
            for p_, s_, v_ in zip(pids, sfs, kfs):
                per_pid.setdefault(p_, []).append((s_, v_))
        for pid, files in per_pid.items():
            usrc, srcl, w, udst, starts, segmap, tb, sb = _load_dist_block(
                block_dir, pid
            )
            idx_cat = np.concatenate([np.load(sf) for sf, _ in files])
            sk_cat = np.concatenate([np.load(kf) for _, kf in files], axis=0)
            if len(idx_cat) != len(usrc):  # pragma: no cover — invariant
                raise RuntimeError(
                    f"block {pid}: {len(idx_cat)} message entries != "
                    f"{len(usrc)} expected"
                )
            state_local = np.empty((len(usrc), M), dtype=np.uint8)
            state_local[idx_cat] = sk_cat
            ids, p = _tiled_umax_u8(
                state_local,
                (srcl, w, udst, starts, segmap, tb, sb),
                block_dir,
                pid,
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.asarray(ids)), _mat_to_bin(p)], names=["id", "sk"]
            )

    msgs = state.select("id", "pids", "sk").mapInArrow(
        outbox, "pid int, sfile string, kfile string"
    )
    n_slots = max(1, int(shuffle_partitions))
    toks = _slot_tokens(n_slots)
    route = F.create_map(
        *[
            lit
            for i, pid in enumerate(store.pids)
            for lit in (F.lit(pid), F.lit(toks[i % n_slots]))
        ]
    )[F.col("pid")]
    return (
        msgs.withColumn("_route", route)
        .repartition(n_slots, "_route")
        .drop("_route")
        .mapInArrow(kernel, "id long, sk binary")
    )


def _anf_blocks(g: Graph, rounds: int) -> list[int]:
    from approximate_pagerank_public_spark.plans.distblocks import DistBlockStore

    spark = g.spark
    p = g.num_partitions
    rev = g.edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    loops = g.vertices.select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    store_edges = rev.unionByName(loops).repartition(p, "dst")
    # ANF payloads are 256 B/vertex (vs PageRank's 64 B), so kernel
    # parallelism beats message-volume minimization. The in-band nb
    # sweep at |E|=2e7 measured 32 blocks WORSE than 8 (36.3 vs
    # 32.4 s — every extra block's sketches crossed the Arrow↔JVM
    # shuffle); with the r5 file-spill the ordering flips (4-round
    # probe at 2e7/32c: 8 blocks 36.2 s, 16 blocks 32.6, 32 blocks
    # 32.0), so the default targets block count ≈ cores
    # (ANF_EDGES_PER_BLOCK; cap at the task slots, floor 4).
    n_edges = g.num_edges + g.num_vertices
    nb = max(4, min(p, -(-n_edges // ANF_EDGES_PER_BLOCK)))
    store = DistBlockStore(spark, store_edges, num_blocks=nb, num_edges=n_edges)
    with ckpt_scope(spark) as cs:
        cs.callback(store.cleanup)
        routing = store.attach_routing(g.vertices)
        state = cs.ckpt(
            routing.join(_packed_merge(_packed_init(g), p), "id").select(
                "id", "pids", "sk"
            )
        )
        out = [_nf_from_packed(state.select("id", "sk"))]
        for _ in range(rounds):
            contribs = _sketch_contribs(store, state, p)
            nxt = cs.ckpt(routing.join(contribs, "id").select("id", "pids", "sk"))
            cs.free(state)
            state = nxt
            out.append(_nf_from_packed(state.select("id", "sk")))
        return out


def anf_hyperball(g: Graph, rounds: int = 4, mode: str = "auto") -> ANFResult:
    """Neighborhood function NF(0..rounds) over OUT-balls as exact
    micro-unit integers (``nf_micro = Σ_v floor(est_v · 1e6)`` — the
    truncation makes the cross-vertex sum order-independent), plus
    ``frac_micro = stable6(nf_r / nf_rounds)`` for the hop plot /
    effective-diameter read-off."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # above the cutover: the block store where shm is there, else packed
    mode = resolve_mode(
        mode,
        edges_fit(g),
        ("broadcast", "blocks", "packed"),
        above="blocks" if shm_available(g.spark) else "packed",
    )
    if mode == "broadcast":
        src, dst, _w = g.edges_numpy()
        nf = anf_numpy(src, dst, g.num_vertices, rounds)
    elif mode == "blocks":
        nf = _anf_blocks(g, rounds)
    else:
        nf = _anf_packed(g, rounds)
    import pandas as pd

    pdf = pd.DataFrame(
        {"round": np.arange(rounds + 1, dtype=np.int64), "nf_micro": nf}
    )
    df = upload_frame(g.spark, pdf, "round long, nf_micro long").select(
        "round",
        "nf_micro",
        (
            F.floor(
                F.col("nf_micro").cast("double")
                / F.lit(float(nf[-1]))
                * F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("frac_micro"),
    )
    return ANFResult(rounds=rounds, _nf=df)


# ------------------------------------------------- HyperBall centralities
# The application HyperBall was built for (Boldi & Vigna, "In-core
# computation of geometric centralities with HyperBall", 2013): the
# per-round ball DELTAS give every vertex's distance distribution at
# once, so harmonic centrality ≈ Σ_r (1/r)·(|B(v,r)| − |B(v,r−1)|) for
# ALL vertices in R supersteps — where the exact operator needs one BFS
# per source. All arithmetic is exact integers: ball sizes in
# micro-units, 1/r scaled by lcm(1..R) so no engine divides, deltas
# clamped at 0 (the LC→raw estimator handoff can dip), giving an
# order-free BIGINT both engines agree on bit-for-bit.


def _lcm_upto(r: int) -> int:
    import math

    out = 1
    for k in range(1, r + 1):
        out = out * k // math.gcd(out, k)
    return out


def hyperball_harmonic(
    g: Graph, rounds: int = 4, mode: str = "auto"
) -> DataFrame:
    """``(id, h_micro_lcm)`` for every vertex: harmonic-centrality
    estimate scaled by 1e6·lcm(1..rounds) — exact BIGINT. Divide by
    that constant for the float value; ranking needs no division."""
    lcm = _lcm_upto(rounds)
    if resolve_mode(mode, edges_fit(g), ("broadcast", "packed")) == "broadcast":
        src, dst, _w = g.edges_numpy()
        n = g.num_vertices
        regs = np.zeros((n, M), dtype=np.uint8)
        for v in range(n):
            reg, rho = _rho_of(_hash60(str(v)))
            regs[v, reg] = rho
        order = np.argsort(src, kind="stable")
        s_s, d_s = src[order], dst[order]
        starts = np.flatnonzero(np.r_[True, s_s[1:] != s_s[:-1]])
        seg_src = s_s[starts]
        prev = _est_micro(regs)
        h = np.zeros(n, dtype=np.int64)
        for r in range(1, rounds + 1):
            seg_max = segment_max_u8(regs, starts, idx=d_s)
            nxt = regs.copy()
            nxt[seg_src] = np.maximum(nxt[seg_src], seg_max)
            regs = nxt
            cur = _est_micro(regs)
            h += (lcm // r) * np.maximum(cur - prev, 0)
            prev = cur
        import pandas as pd

        pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "h_micro_lcm": h})
        return upload_frame(g.spark, pdf, "id long, h_micro_lcm long")
    # packed path: same rounds as _anf_packed, carrying (prev, h) columns
    import pyarrow as pa

    spark = g.spark
    parts = g.num_partitions
    edges = g.edges.select("src", "dst")

    def est_col(state: DataFrame) -> DataFrame:
        def est(batches):
            for b in batches:
                mat = _bin_to_mat(b.column(1))
                yield pa.RecordBatch.from_arrays(
                    [b.column(0), pa.array(_est_micro(mat))],
                    names=["id", "ball"],
                )

        return state.select("id", "sk").mapInArrow(est, "id long, ball long")

    with ckpt_scope(spark) as cs:
        state = cs.ckpt(_packed_merge(_packed_init(g), parts))
        acc = cs.ckpt(
            est_col(state).select(
                "id",
                F.col("ball").alias("prev"),
                F.lit(0).cast("long").alias("h"),
            )
        )
        for r in range(1, rounds + 1):
            msgs = (
                edges.alias("e")
                .join(state.alias("s"), F.col("s.id") == F.col("e.dst"))
                .select(F.col("e.src").alias("id"), F.col("s.sk"))
            )
            nxt = cs.ckpt(_packed_merge(state.unionByName(msgs), parts))
            cs.free(state)
            state = nxt
            cur = est_col(state)
            nacc = cs.ckpt(
                acc.join(cur, "id").select(
                    "id",
                    F.col("ball").alias("prev"),
                    (
                        F.col("h")
                        + F.lit(lcm // r)
                        * F.greatest(F.col("ball") - F.col("prev"), F.lit(0).cast("long"))
                    ).alias("h"),
                )
            )
            cs.free(acc)
            acc = nacc
        return cs.keep(acc.select("id", F.col("h").alias("h_micro_lcm")))


# ------------------------------------------------------------------- oracle
def _anf_est_cte(edges_sql: str, vertices_sql: str, rounds: int) -> str:
    """Shared oracle prefix: unrolled reach CTEs → md5 registers →
    corrected per-(round, v) estimate relation ``est(round, v, est)``."""
    lc_list = ", ".join(repr(v) for v in LC_TABLE)
    parts = [
        f"e AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}))",
        f"r0 AS MATERIALIZED (SELECT id AS v, id AS u FROM ({vertices_sql}))",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"r{r} AS MATERIALIZED (SELECT v, u FROM r{r - 1} UNION "
            f"SELECT p.v, e.dst AS u FROM r{r - 1} p JOIN e ON e.src = p.u)"
        )
    rounds_union = " UNION ALL ".join(
        f"SELECT {r} AS round, v, u FROM r{r}" for r in range(rounds + 1)
    )
    return (
        ", ".join(parts)
        + f", reach AS ({rounds_union}), "
        "h AS (SELECT round, v, "
        "CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15) AS BIGINT) AS hv "
        "FROM reach), "
        f"rr AS (SELECT round, v, hv % {M} AS register, "
        "CASE WHEN ((hv >> 8) & 4294967295) = 0 THEN 33 "
        "     ELSE 33 - length(bin((hv >> 8) & 4294967295)) END AS rho "
        "FROM h), "
        "regs AS (SELECT round, v, register, max(rho) AS mr FROM rr "
        "GROUP BY round, v, register), "
        "pv AS (SELECT round, v, "
        "sum(1.0 / CAST((CAST(1 AS BIGINT) << mr) AS DOUBLE)) AS s_present, "
        "count(*) AS n_present FROM regs GROUP BY round, v), "
        "est AS (SELECT round, v, "
        f"CASE WHEN ({ALPHA_M2} / (s_present + CAST({M} - n_present AS DOUBLE)))"
        f" <= {LC_THRESHOLD!r} AND {M} - n_present > 0 "
        f"THEN list_extract([{lc_list}], CAST({M} - n_present AS INT)) "
        f"ELSE {ALPHA_M2} / (s_present + CAST({M} - n_present AS DOUBLE)) END "
        "AS est FROM pv)"
    )


def anf_oracle_sql(edges_sql: str, vertices_sql: str, rounds: int) -> str:
    """DuckDB replay: exact reach sets via ``rounds`` unrolled join CTEs,
    then the identical md5 register derivation, identical corrected
    estimator (same ALPHA_M2 / LC_TABLE literals), identical micro-unit
    truncation and integer NF sum. ``edges_sql`` must yield (src, dst);
    ``vertices_sql`` must yield (id)."""
    return (
        "WITH "
        + _anf_est_cte(edges_sql, vertices_sql, rounds)
        + ", nf AS (SELECT round, "
        "CAST(sum(CAST(floor(est * 1000000.0) AS BIGINT)) AS BIGINT) "
        "AS nf_micro FROM est GROUP BY round), "
        f"total AS (SELECT nf_micro AS nf_last FROM nf WHERE round = {rounds}) "
        "SELECT round, nf_micro, "
        "floor(CAST(nf_micro AS DOUBLE) / CAST(nf_last AS DOUBLE) * 1000000.0)"
        " / 1000000.0 AS frac_micro "
        "FROM nf CROSS JOIN total ORDER BY round"
    )


def effective_diameter_oracle_sql(
    edges_sql: str, vertices_sql: str, rounds: int, q: float = 0.9
) -> str:
    """DuckDB replay of :meth:`ANFResult.effective_diameter_df`: the
    same unrolled reach CTE + register pipeline as
    :func:`anf_oracle_sql`, then the single IEEE multiply threshold
    over the integer micro-unit NF sums."""
    return (
        "WITH "
        + _anf_est_cte(edges_sql, vertices_sql, rounds)
        + ", nf AS (SELECT round, "
        "CAST(sum(CAST(floor(est * 1000000.0) AS BIGINT)) AS BIGINT) "
        "AS nf_micro FROM est GROUP BY round), "
        f"total AS (SELECT nf_micro AS nf_total_micro FROM nf "
        f"WHERE round = {rounds}) "
        "SELECT CAST(round AS BIGINT) AS eff_diameter_round, nf_micro, "
        "nf_total_micro FROM nf CROSS JOIN total "
        f"WHERE CAST(nf_micro AS DOUBLE) >= {q!r} * "
        "CAST(nf_total_micro AS DOUBLE) "
        "ORDER BY round ASC LIMIT 1"
    )


def mean_distance_oracle_sql(
    edges_sql: str, vertices_sql: str, rounds: int
) -> str:
    """DuckDB replay of :meth:`ANFResult.mean_distance_df`: same reach
    CTE + NF sums, then the lag-delta weighted mean."""
    return (
        "WITH "
        + _anf_est_cte(edges_sql, vertices_sql, rounds)
        + ", nf AS (SELECT round, "
        "CAST(sum(CAST(floor(est * 1000000.0) AS BIGINT)) AS BIGINT) "
        "AS nf_micro FROM est GROUP BY round), "
        "d AS (SELECT round, nf_micro - lag(nf_micro) OVER (ORDER BY round) "
        "AS delta FROM nf), "
        "agg AS (SELECT CAST(sum(round * delta) AS BIGINT) AS wsum, "
        "CAST(sum(delta) AS BIGINT) AS reach_pairs_micro FROM d "
        "WHERE round >= 1) "
        "SELECT CASE WHEN reach_pairs_micro = 0 THEN 0.0 "
        "ELSE floor((CAST(wsum AS DOUBLE) / "
        "CAST(reach_pairs_micro AS DOUBLE)) * 1000000.0) / 1000000.0 END "
        "AS mean_dist, reach_pairs_micro FROM agg"
    )


def hyperball_harmonic_oracle_sql(
    edges_sql: str, vertices_sql: str, rounds: int, topk: int = 20
) -> str:
    """DuckDB replay of :func:`hyperball_harmonic`'s top-k: per-(round,
    v) ball micro-units, clamped deltas, lcm-scaled integer weights —
    identical BIGINTs, ties → smaller id."""
    lcm = _lcm_upto(rounds)
    wgt_vals = ", ".join(f"({r}, {lcm // r})" for r in range(1, rounds + 1))
    return (
        "WITH "
        + _anf_est_cte(edges_sql, vertices_sql, rounds)
        + ", bm AS (SELECT round, v, "
        "CAST(floor(est * 1000000.0) AS BIGINT) AS ball FROM est), "
        f"w(round, wgt) AS (VALUES {wgt_vals}), "
        "dl AS (SELECT c.v, c.round, "
        "greatest(c.ball - p.ball, CAST(0 AS BIGINT)) AS d "
        "FROM bm c JOIN bm p ON p.v = c.v AND p.round = c.round - 1), "
        "hh AS (SELECT dl.v AS id, CAST(sum(w.wgt * dl.d) AS BIGINT) "
        "AS h_micro_lcm FROM dl JOIN w ON w.round = dl.round GROUP BY dl.v) "
        f"SELECT id, h_micro_lcm FROM hh "
        f"ORDER BY h_micro_lcm DESC, id ASC LIMIT {topk}"
    )
