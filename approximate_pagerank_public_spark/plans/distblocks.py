"""Cluster-valid CSR block store + message-shuffle supersteps.

The third execution path for the iterative kernels, aimed at the regime
where vertex state exceeds one machine (the 10^12-turn target) and the
single-host shm :class:`~approximate_pagerank_public_spark.plans.blocks.
BlockStore` cannot engage:

- **Blocks on a shared filesystem.** Each edge partition's dst-sorted
  tiled CSR arrays (the exact layout ``plans/blocks.py::build_tiled_block``
  produces, plus a ``usrc``/``src_local`` remap) are written ONCE to a
  directory that every executor can read — /dev/shm locally, HDFS/S3/NFS
  on a real cluster, the same contract the checkpoint manifest already
  uses. Python workers mmap and memoize their blocks across supersteps
  (workers are reused between jobs), so after the first touch a superstep
  reads no edge bytes at all: the reference's "transfer the COO stream
  once, iterate on-chip" (``pagerank_coo.cpp:69-89``) translated to a
  multi-executor filesystem.

- **Shuffle-minimizing message aggregation.** Vertex state stays a
  DataFrame ``(id, pids, r0..r{S-1})`` hash-partitioned by id; ``pids``
  is the static routing column — one packed ``(pid << 32) | local_idx``
  code per block that needs this vertex's rank (because it appears as a
  ``src`` there), where ``local_idx`` is the vertex's position in that
  block's sorted unique-src array. Each superstep, a ``mapInArrow``
  outbox kernel packs, per (state partition, target block), ONE binary
  message ``(pid, idxs:int32, vals:f64)``. The only all-to-all is these
  packed messages: Σ_p unique_srcs(p) entries of 4+8·S bytes — never a
  per-edge row, never a JVM-side hash aggregation over |E| rows. The
  receiving kernel scatter-assigns each message's rank rows by local
  index (no sort, no merge), runs the L2-tiled NumPy SpMV against the
  mmapped block, and emits one contribution row per distinct dst.

- **Block sizing is the communication knob.** Message volume is
  Σ_p unique_srcs(p) ≈ P·V·(1 − exp(−E/(P·V))) → P·V once blocks are
  dense, so FEWER, LARGER blocks shuffle less: at V=10⁶, E=2·10⁷,
  P=32 costs 14.9·V messages; 3 blocks of ~7M edges cost 3.0·V — a 5×
  payload cut for the same SpMV work. The store therefore coalesces the
  edge layout down to ``ceil(E / edges_per_block)`` blocks (default 8M
  edges ≈ 130 MB CSR per block, env ``SPARK_GRAFT_DIST_EDGES_PER_BLOCK``)
  — a narrow ``coalesce``, no shuffle, and a union of dst-disjoint
  partitions stays dst-disjoint. On a real cluster set ``num_blocks`` ≈
  a small multiple of executor count: per-superstep communication is
  then O(blocks·V) ≈ O(executors·V), the same replication factor a 1-D
  partitioned cluster SpMV pays.

Per superstep: ONE job — outbox pack (narrow over the checkpointed
state) → packed messages SPILLED to the store's shared filesystem
(``np.save`` tmp+rename per (state partition, block), the same
every-executor-readable contract the blocks themselves use) → a
manifest-only shuffle (one tiny row per (block, source-chunk)) →
block SpMV → contribs exchanged hash(id) once → shuffle-hash join
against the in-place state → axpb projection → next localCheckpoint —
with the L1/L2 stop scalars AND the next iteration's dangling dot
(dangling ⇔ ``pids`` empty — no out-edges) accumulated by
``DataFrame.observe`` as the rows stream past. Spilling the payload
keeps the ~100 MB–1 GB of per-superstep rank bytes OUT of the
Python→Arrow→JVM→shuffle round trip (measured 4.2→sub-3 s supersteps
at |E|=10⁸/32c): the bytes move as one memcpy into the shared FS and
one mmap read, while the shuffle machinery moves only manifests —
but the STAGE structure (all outbox tasks complete before any kernel
task starts) still comes from the shuffle barrier, so no extra sync
is needed and the plan is unchanged on a real cluster.

The SpMV stage additionally splits each block's work by SOURCE-COLUMN
chunks when the multi-source width allows (kernel parallelism =
blocks × chunks instead of blocks, which otherwise idles
``cores − blocks`` tasks at the default block sizing): every chunk
task mmaps the SAME spilled value file and slices its columns, so
extra parallelism costs no extra message traffic. Chunking is
bit-exact: per-column summation order inside :func:`tiled_spmv` is
independent of which columns share a kernel call, and with
dst-disjoint blocks each (id, column) has exactly ONE non-null
contribution row, so the merging ``F.sum`` returns that value
verbatim. The state side is re-shuffled every superstep, for the
routing join and for the contribs join: on Spark 4.1
``localCheckpoint`` reports ``UnknownPartitioning``, so its hash(id, p)
layout is lost. Those are O(V·S) exchanges; a DataFrame join
formulation would instead pay an |E|-row join + |E|-row hash agg per
superstep.

Reference: the message packing mirrors the FPGA's block-local
accumulation + burst write-back (``spmv_coo_multi_stream.hpp:178-232``);
the routing column is the software analogue of its pre-routed stream
split across HBM channels.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
import weakref
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.blocks import (
    _SHM_DIR,
    TILE_ROWS,
    build_tiled_block,
)

# arrays persisted per block, in file-name order
_DIST_ARRAYS = ("usrc", "srcl", "w", "udst", "starts", "segmap", "tb", "sb")

# worker-process memo: (store_dir, pid) -> tuple of mmapped arrays.
# Python workers are reused across jobs (spark.python.worker.reuse), so
# after the first superstep touches a block the mmap stays resident and
# later supersteps pay zero filesystem reads for edge data.
_BLOCK_CACHE: dict = {}


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of one IntegerType value (the hash behind
    ``repartition(n, col)``'s HashPartitioning), reimplemented so the
    driver can pick routing tokens without running a job. Verified
    against ``F.hash`` in ``test_distributed_arrow.py``."""
    m = 0xFFFFFFFF
    k1 = (x * 0xCC9E2D51) & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = (k1 * 0x1B873593) & m
    h1 = seed ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # total bytes hashed
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    # Spark's pmod of the signed int32 hash
    if h1 >= 1 << 31:
        h1 -= 1 << 32
    return h1


def _slot_tokens(num_slots: int) -> list[int]:
    """token[s] = smallest non-negative int whose Murmur3Hash pmod
    ``num_slots`` is s — repartitioning on the token column places each
    slot's rows in exactly one distinct partition (plain hash
    partitioning of ~13 block pids into 32 slots collides and leaves
    the SpMV phase running at max-blocks-per-task)."""
    tokens: dict[int, int] = {}
    t = 0
    while len(tokens) < num_slots:
        s = _murmur3_int32(t) % num_slots
        if s < 0:
            s += num_slots
        if s not in tokens:
            tokens[s] = t
        t += 1
    return [tokens[s] for s in range(num_slots)]


def _load_dist_block(block_dir: str, pid: int) -> tuple:
    key = (block_dir, pid)
    blk = _BLOCK_CACHE.get(key)
    if blk is None:
        blk = tuple(
            np.load(f"{block_dir}/db_{pid}_{name}.npy", mmap_mode="r")
            for name in _DIST_ARRAYS
        )
        _BLOCK_CACHE[key] = blk
    return blk


def default_store_dir() -> str:
    """Local default: /dev/shm (same as BlockStore). On a cluster, pass
    an explicit shared-filesystem path instead."""
    base = _SHM_DIR if os.path.isdir(_SHM_DIR) else tempfile.gettempdir()
    return os.path.join(base, f"apr_dist_{uuid.uuid4().hex}")


class DistBlockStore:
    """CSR blocks for one Graph on a shared filesystem + routing table.

    ``path`` must be readable by every executor (shared FS on a real
    cluster). Building runs one pass over the cached edge layout; the
    same pass yields the ``(src, pid)`` pairs the routing table
    aggregates, so no extra edge scan is needed.
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        path: str | None = None,
        num_blocks: int | None = None,
        num_edges: int | None = None,
    ):
        self.spark = spark
        self.dir = path or default_store_dir()
        os.makedirs(self.dir, exist_ok=True)
        # the dir goes with the store (or at exit), unpersisted or not
        self._finalizer = weakref.finalize(self, shutil.rmtree, self.dir, True)
        block_dir = self.dir
        if num_blocks is None and num_edges:
            epb = int(
                os.environ.get("SPARK_GRAFT_DIST_EDGES_PER_BLOCK", 8_000_000)
            )
            num_blocks = max(1, -(-num_edges // epb))
        if num_blocks is not None and num_blocks < edges.rdd.getNumPartitions():
            # narrow merge of dst-disjoint partitions — stays disjoint
            edges = edges.coalesce(num_blocks)

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
            usrc = np.unique(arrays["src"])
            out = {
                "usrc": usrc,
                # local src index: messages arrive as one sorted value
                # per usrc entry, so the kernel gathers by local index
                "srcl": np.searchsorted(usrc, arrays["src"]).astype(np.int32),
                "w": arrays["w"],
                "udst": arrays["udst"],
                "starts": arrays["starts"],
                "segmap": arrays["segmap"],
                "tb": arrays["tb"],
                "sb": arrays["sb"],
            }
            for name, arr in out.items():
                tmp = f"{block_dir}/db_{pid}_{name}.{uuid.uuid4().hex}.tmp.npy"
                np.save(tmp, arr)
                os.rename(tmp, f"{block_dir}/db_{pid}_{name}.npy")
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(len(usrc), pid, dtype=np.int32)),
                    pa.array(usrc),
                    pa.array(np.arange(len(usrc), dtype=np.int32)),
                ],
                names=["pid", "src", "idx"],
            )

        pairs = edges.mapInArrow(build, "pid int, src long, idx int")
        # routing: which blocks consume each vertex's rank, as packed
        # (pid << 32) | local_idx codes. Deterministic (sorted by pid —
        # the code order IS pid order), bounded by P entries per vertex.
        code = F.shiftleft(F.col("pid").cast("long"), 32) + F.col("idx")
        self.routing = (
            pairs.groupBy("src")
            .agg(F.array_sort(F.collect_list(code)).alias("pids"))
            .withColumnRenamed("src", "id")
            .persist()
        )
        # a collected store releases its routing table too; not at exit,
        # where the JVM and its cache go with the process
        self._unroute = weakref.finalize(self, self.routing.unpersist)
        self._unroute.atexit = False
        self.num_messages = self.routing.agg(
            F.sum(F.size("pids")).alias("m")
        ).first()["m"] or 0

        # driver-side manifest from the files the build pass wrote
        self.pids = sorted(
            int(f.split("_")[1])
            for f in os.listdir(self.dir)
            if f.startswith("db_") and f.endswith("_udst.npy")
        )
        self.num_partitions = len(self.pids)

    # ------------------------------------------------------------ superstep
    def contribs(self, state: DataFrame, n_sources: int, shuffle_partitions: int) -> DataFrame:
        """One SpMV superstep as a DataFrame: ``(id, c0..c{S-1})`` — one
        row per distinct dst with ≥1 in-edge. ``state`` must expose
        ``(id, pids, r0..r{S-1})``.

        Physical plan: outbox pack (narrow over cached state) → message
        shuffle (≤ P rows per state partition, binary payload) → block
        SpMV (mmap-cached CSR, L2-tiled NumPy) — plus, when the sources
        are split into column chunks, a hash agg that merges each dst's
        chunk rows.

        At most ONE unmaterialized contribs plan may exist per store:
        building a plan reclaims the previous plan's spill dir, so an
        earlier plan evaluated after that (or two loops interleaving on
        one store) fails on its missing message files. Materialize each
        plan (checkpoint its consumer) before building the next.
        """
        s = n_sources
        cols = [f"r{i}" for i in range(s)]
        block_dir = self.dir
        n_slots = max(1, int(shuffle_partitions))
        nblocks = max(1, self.num_partitions)

        # per-superstep spill dir on the store's shared FS; the previous
        # superstep's messages are consumed by the time a new contribs()
        # plan is built (the caller materialized its state), so reclaim
        # them here — and clear_messages()/cleanup() reclaim the last one
        self.clear_messages()
        msg_dir = os.path.join(self.dir, f"msgs_{uuid.uuid4().hex}")
        os.makedirs(msg_dir, exist_ok=True)
        self._msg_dir = msg_dir

        # source-column chunking: lift the SpMV stage's parallelism from
        # `blocks` to `blocks × chunks` when the source width allows.
        # Chunk tasks slice columns of the SAME spilled value file, so
        # this costs no extra traffic (only the small idx file is read
        # once per chunk instead of once per block).
        chunks = max(1, min(s, -(-n_slots // nblocks)))
        bounds = np.linspace(0, s, chunks + 1).astype(np.int64)

        def outbox(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            from pyspark import TaskContext

            part = TaskContext.get().partitionId()
            flat_l, cnt_l, vals_l = [], [], []
            for b in batches:
                if b.num_rows == 0:
                    continue
                la = b.column("pids")
                cnt = np.diff(la.offsets.to_numpy(zero_copy_only=False))
                if cnt.sum() == 0:
                    continue
                flat_l.append(la.flatten().to_numpy(zero_copy_only=False))
                cnt_l.append(cnt)
                vals_l.append(
                    np.column_stack(
                        [
                            b.column(c).to_numpy(zero_copy_only=False)
                            for c in cols
                        ]
                    )
                )
            if not flat_l:
                return
            flat_code = np.concatenate(flat_l)
            counts = np.concatenate(cnt_l)
            vals = np.ascontiguousarray(np.concatenate(vals_l, axis=0))  # (k, S)
            rep_rows = np.repeat(np.arange(len(counts)), counts)
            # one spill file pair per target pid: a single sort of the
            # packed codes groups by pid (high bits) with local idx in
            # the low bits — the receiver scatter-assigns, no merge
            order = np.argsort(flat_code, kind="stable")
            fc = flat_code[order]
            fp = (fc >> 32).astype(np.int32)
            fi = (fc & 0xFFFFFFFF).astype(np.int32)
            brk = np.r_[0, np.flatnonzero(fp[1:] != fp[:-1]) + 1, len(fp)]
            out_pid, out_chunk, out_sf, out_vf = [], [], [], []
            for a, bnd in zip(brk[:-1], brk[1:]):
                pid = int(fp[a])
                sf = f"{msg_dir}/m_{part}_{pid}_idx.npy"
                vf = f"{msg_dir}/m_{part}_{pid}_val.npy"
                # tmp + rename: a killed/retried task never leaves a
                # truncated file a later exists-check would trust
                for path, arr in (
                    (sf, fi[a:bnd]),
                    (vf, np.ascontiguousarray(vals[rep_rows[order[a:bnd]]])),
                ):
                    tmp = f"{path}.{uuid.uuid4().hex}.tmp.npy"
                    np.save(tmp, arr)
                    os.rename(tmp, path)
                for ci in range(chunks):
                    out_pid.append(pid)
                    out_chunk.append(ci)
                    out_sf.append(sf)
                    out_vf.append(vf)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_pid, type=pa.int32()),
                    pa.array(out_chunk, type=pa.int32()),
                    pa.array(out_sf, type=pa.string()),
                    pa.array(out_vf, type=pa.string()),
                ],
                names=["pid", "chunk", "sfile", "vfile"],
            )

        def spmv_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            from approximate_pagerank_public_spark.plans.blocks import tiled_spmv

            per_key: dict[tuple[int, int], list[tuple[str, str]]] = {}
            for b in batches:
                pids = b.column("pid").to_pylist()
                cis = b.column("chunk").to_pylist()
                sfs = b.column("sfile").to_pylist()
                vfs = b.column("vfile").to_pylist()
                for p_, c_, sf_, vf_ in zip(pids, cis, sfs, vfs):
                    per_key.setdefault((p_, c_), []).append((sf_, vf_))
            for (pid, ci), files in per_key.items():
                usrc, srcl, w, udst, starts, segmap, tb, sb = _load_dist_block(
                    block_dir, pid
                )
                lo, hi = int(bounds[ci]), int(bounds[ci + 1])
                cs = hi - lo
                idx_cat = np.concatenate([np.load(sf) for sf, _ in files])
                val_cat = np.concatenate(
                    [
                        np.asarray(np.load(vf, mmap_mode="r")[:, lo:hi])
                        for _, vf in files
                    ],
                    axis=0,
                )
                if len(idx_cat) != len(usrc):  # pragma: no cover — invariant
                    raise RuntimeError(
                        f"block {pid}: {len(idx_cat)} message entries != "
                        f"{len(usrc)} expected"
                    )
                # routing emits exactly one (pid, local_idx) per usrc
                # entry, so scatter-assign fills every row once
                state_local = np.empty((len(usrc), cs), dtype=np.float64)
                state_local[idx_cat] = val_cat
                contrib = tiled_spmv(
                    state_local, (srcl, w, udst, starts, segmap, tb, sb)
                )  # (K, cs)
                arrays = [pa.array(np.asarray(udst))]
                for i in range(s):
                    if lo <= i < hi:
                        arrays.append(
                            pa.array(np.ascontiguousarray(contrib[:, i - lo]))
                        )
                    else:
                        # out-of-chunk columns are NULL (not 0.0) so the
                        # merging F.sum is bit-exact, not value + 0.0
                        arrays.append(pa.nulls(len(udst), pa.float64()))
                yield pa.RecordBatch.from_arrays(
                    arrays, names=["id"] + [f"c{i}" for i in range(s)]
                )

        msg_schema = "pid int, chunk int, sfile string, vfile string"
        out_schema = "id long, " + ", ".join(f"c{i} double" for i in range(s))
        msgs = state.select("id", "pids", *cols).mapInArrow(outbox, msg_schema)
        # route each (block, chunk) to its own shuffle slot: unit j
        # (rank in (pid, chunk) order) → slot j % P via a token whose
        # murmur3 hash pmod P IS that slot. Plain repartition(P, key)
        # hash-collides the few dozen units into fewer slots, so one
        # task owns 2-3 units while most idle and the SpMV phase runs
        # at max-units-per-task latency.
        toks = _slot_tokens(n_slots)
        route = F.create_map(
            *[
                lit
                for i, pid in enumerate(self.pids)
                for ci in range(chunks)
                for lit in (
                    F.lit(pid * chunks + ci),
                    F.lit(toks[(i * chunks + ci) % n_slots]),
                )
            ]
        )[F.col("pid") * chunks + F.col("chunk")]
        out = (
            msgs.withColumn("_route", route)
            .repartition(n_slots, "_route")
            .drop("_route")
            .mapInArrow(spmv_kernel, out_schema)
        )
        if chunks > 1:
            out = out.groupBy("id").agg(
                *[F.sum(f"c{i}").alias(f"c{i}") for i in range(s)]
            )
        return out

    def clear_messages(self) -> None:
        """Reclaim the last superstep's spilled message files. Safe to
        call once that superstep's consumer has materialized (the loop
        calls it implicitly via the next ``contribs`` and finally via
        ``cleanup``)."""
        prev = getattr(self, "_msg_dir", None)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
            self._msg_dir = None

    def attach_routing(self, verts: DataFrame) -> DataFrame:
        """``(id, pids)`` for every vertex — empty array ⇔ no out-edges
        (the dangling bitmap, free as a by-product of routing)."""
        return verts.join(self.routing, "id", "left").select(
            "id",
            F.coalesce(F.col("pids"), F.array().cast("array<bigint>")).alias("pids"),
        )

    def cleanup(self) -> None:
        self._unroute()
        self._finalizer()
