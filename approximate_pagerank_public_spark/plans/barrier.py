"""Barrier-mode PageRank/PPR: ALL supersteps inside ONE Spark job.

Per-superstep Spark jobs pay a fixed ~0.4-0.7 s scheduling + Python
worker round-trip on local[32] — at 20M edges that overhead, not the
SpMV, dominates the north metric (edges-traversed/sec). Spark's
**barrier execution mode** (``RDD.barrier().mapPartitions``,
SPIP: SPARK-24374) exists precisely for iterative synchronous
computation: one gang-scheduled job in which tasks iterate locally.
This is the engine's closest analogue to the reference FPGA kernel
looping ``max_iter`` times entirely on-chip with a single host
dispatch (``src/fpga/src/ip_cores/multi_personalized_pagerank.cpp:
205-221``: one ``enqueueTask`` → the dataflow region iterates
internally).

Work layout per superstep ``t`` (state files N-major ``(N, S)`` f64 in
/dev/shm; every phase is parallel across tasks except a tiny leader
reduction):

1. **rowwork** — each task owns a contiguous vertex-row range:
   personalization add (K4) for source rows it owns, then partial
   L1/L2 error vs ``state_{t-1}`` and partial dangling dot (K2) over
   its rows, written to per-task partial arrays.
2. **leader reduce** — task 0 sums the ``(ntasks, S)`` partials,
   decides stop (L1 ≤ tol — the reference's early termination,
   ``pagerank_cpu.cpp:45-53``), appends the iteration-metrics row
   (V9), creates the ``state_{t+1}`` file (header only), publishes
   the axpb shift ``(α/n)·d``.
3. **fill** — each task fills its row range of ``state_{t+1}`` with
   the no-in-edge base ``(α·0 + shift1) + shift2`` (replaces the
   reference's zero-self-loop padding, ``coo_fpga.hpp:32-44``).
4. **compute** — each task, for each of its CSR blocks:
   ``p = rank[src]·w`` gather + ``np.add.reduceat`` segmented sum
   (K1/K13), then writes ``(α·p + shift1) + shift2`` straight into
   the shared ``state_{t+1}`` memmap at the block's ``u_dst`` rows.
   Blocks are hash-partitioned by dst → row sets are **disjoint** →
   lock-free concurrent writes.

The sync is NOT ``ctx.barrier()``: PySpark's barrier RPC costs ~1 s
per call (driver-coordinated, coarse polling), which would dwarf the
~0.2 s superstep. Barrier mode is used only for its **gang
scheduling** guarantee (all tasks run concurrently — a plain stage
with more tasks than slots would deadlock); phases sync through
shared-memory int64 flag arrays with sub-millisecond spin-waits.
Single-host MAP_SHARED pages make the flag stores coherent; 8-byte
aligned stores are atomic on x86-64/ARM64, and release order (data
first, flag last) is preserved by CPython's sequential execution +
TSO.

Arithmetic is ordered to match ``operators.pagerank._superstep_np``
exactly (``(α·c + s1) + s2``, personalization as a final ``+=``).
The L1 stop scalar and the dangling dot reduce through the fixed-chunk
partials in ``plans/reduction.py`` — the per-superstep path uses the
same chunking, so the stop scalars (and hence the convergence
iteration) are bit-identical across both paths and any task count.

:func:`run_barrier_rounds` is the same protocol for synchronous
per-block fixpoints — min-relaxation (BFS/CC/SCC/SSSP) and label
propagation votes — with the per-block kernel as an argument.

Every family enters through :func:`run_gang`, which engages when the
graph has CSR blocks — a local master with /dev/shm (state is shared
pages); every Graph's blocks are dst-disjoint by its layout. Without
blocks, or when the gang fails, the caller falls back to its
per-superstep or streamed per-round path. Durable checkpointing runs
the loop in chunks of ``checkpoint_every`` supersteps via
``init_state``/``iter_offset`` with a save between chunks. On a
multi-node cluster the same protocol would exchange state via
executor-local disk + torrent broadcast; that variant is
intentionally not emulated here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np

from approximate_pagerank_public_spark.plans.blocks import (
    BlockStore,
    load_block,
    tiled_spmv,
)
from approximate_pagerank_public_spark.plans.reduction import (
    dang_partials,
    err_partials,
    n_chunks,
    CHUNK_ROWS,
)

try:  # job/scheduling failures surface as Py4J errors in classic PySpark
    from py4j.protocol import Py4JError

    BARRIER_FALLBACK_ERRORS: tuple = (TimeoutError, Py4JError)
except ImportError:  # pragma: no cover — Connect-only; barrier never engages
    BARRIER_FALLBACK_ERRORS = (TimeoutError,)


def run_gang(graph, gang, fallback: str):
    """The one barrier entry of every gang family: ``gang()`` (a
    :func:`run_barrier_pagerank` or :func:`run_barrier_rounds` run over
    ``graph``'s CSR blocks) and its result, or None — the caller then
    runs its ``fallback`` path. None when the graph has no blocks (no
    shm, or no edges), and when the gang was unschedulable or failed
    mid-run (one of :data:`BARRIER_FALLBACK_ERRORS`). A kernel bug
    raised inside a task lands there too, so that fallback is LOUD: a
    ``RuntimeWarning`` first. Any other error propagates."""
    blocks = graph.blocks
    if blocks is None or blocks.num_partitions == 0:
        return None
    try:
        return gang()
    except BARRIER_FALLBACK_ERRORS as ex:
        import warnings

        warnings.warn(
            f"barrier fast path failed, falling back to {fallback}: "
            f"{type(ex).__name__}: {str(ex)[:400]}",
            RuntimeWarning,
            stacklevel=3,
        )
        return None


def _task_slots(sc) -> int:
    """Concurrent task slots — NOT ``defaultParallelism`` (which the
    session pins to the shuffle-partition count and may exceed cores).
    A barrier gang larger than the slot count cannot ever schedule: the
    DAGScheduler retries 40x15 s then aborts. Only local masters reach
    this path (shm blocks exist only there)."""
    master = sc.master
    if master.startswith("local["):
        inner = master[len("local["):-1].split(",")[0]
        return os.cpu_count() or 1 if inner == "*" else max(1, int(inner))
    if master == "local":
        return 1
    return max(1, sc.defaultParallelism)


def _shared(path: str, shape, dtype, fill=None):
    mm = np.lib.format.open_memmap(path, mode="w+", dtype=dtype, shape=shape)
    if fill is not None:
        mm[:] = fill
    mm.flush()
    return mm


def _lpt_assign(blocks: BlockStore, ntasks: int) -> list[list[int]]:
    """Greedy LPT block assignment: heaviest block to the least-loaded
    task (dynamic O_EXCL claim-stealing was tried and measured WORSE —
    tmpfs directory-lock contention plus loss of per-task block cache
    affinity outweighed the balance win)."""
    sizes = dict(
        zip(blocks.manifest["pid"].tolist(), blocks.manifest["n_edges"].tolist())
    )
    assign: list[list[int]] = [[] for _ in range(ntasks)]
    loads = [0] * ntasks
    for pid in sorted(blocks.pids, key=lambda p: -sizes[p]):
        j = loads.index(min(loads))
        assign[j].append(pid)
        loads[j] += sizes[pid]
    return assign


def _wait(arr, t: int, deadline_s: float = 3600.0) -> None:
    """Spin until every flag in ``arr`` reaches ``t``. Exponential
    backoff: early waiters otherwise generate ~5k wakeups/s each,
    preempting the still-computing stragglers when every core is
    occupied by the gang."""
    t0 = time.perf_counter()
    pause = 0.0002
    while int(arr.min()) < t:
        if time.perf_counter() - t0 > deadline_s:
            raise TimeoutError("barrier sync timed out")
        time.sleep(pause)
        pause = min(pause * 1.5, 0.004)


def run_barrier_rounds(
    graph,
    state: np.ndarray,
    changed: np.ndarray,
    kernel,
    max_iters: int,
) -> tuple[np.ndarray, int, bool]:
    """ALL rounds of a synchronous per-block fixpoint — BFS levels,
    min-label CC rounds, Bellman-Ford sweeps (``kernel`` wraps
    ``plans.blocks.relax_block``) or label-propagation votes
    (``plans.blocks.vote_block``) — inside ONE gang-scheduled barrier
    job. Returns ``(state, rounds, converged)``.

    The per-round ``mapInArrow`` loops pay a fixed ~0.3-0.7 s Spark job
    launch per round — at |E|=10⁸ a 6-level single-source BFS spends
    >80% of its wall clock on scheduling, not edges. Here each task owns
    its CSR blocks for the whole run and rounds sync through
    shared-memory flags, exactly the :func:`run_barrier_pagerank`
    protocol.

    ``kernel(block_dir, pid, blk, snap, front, fmask)`` runs one block
    against the round's snapshot ``snap`` (N, S) and returns ``(gd,
    new_rows)`` — the global dst rows whose value changes — or None.
    ``front``/``fmask`` are the rows that changed last round (index
    array and boolean mask; ``changed`` seeds round 1). Blocks are
    dst-disjoint, so each task writes only rows it alone owns. The run
    stops when a round changes no row or ``max_iters`` is reached.

    Frontier bookkeeping is a versioned ``last_imp`` int32 array
    (vertex → round it last changed) instead of double-buffered masks:
    round ``t``'s frontier is ``last_imp == t-1``, writes go only to a
    task's own (disjoint) dst rows, and no zeroing phase or buffer swap
    is needed.

    Rounds are strictly SYNCHRONOUS: each round first snapshots state
    into a second shared buffer (each task copies its contiguous row
    range — one extra sub-ms spin-sync), kernels read the snapshot,
    changes write to live state. Live single-buffer reads were measured
    WRONG for BFS: a task reading a neighbour's freshly-lowered
    mid-round value can assign a *provisional* too-large finite level,
    and the bottom-up selection (which skips visited rows) never
    revisits it; LPA votes must see one round's labels by definition.
    With the snapshot, values, per-round frontiers, and the round count
    are bit-identical to the per-round ``mapInArrow`` paths (which
    snapshot by construction). The frontier mask is computed BEFORE a
    task's copy_done flag: every round-``t`` writer is blocked on all
    copy flags, so no round-``t`` ``last_imp`` store can race an
    earlier task's mask read.

    Raises on barrier-scheduling failure; the caller falls back to its
    per-round path (state here is a private shm copy, so the caller's
    array is untouched on failure).
    """
    blocks: BlockStore = graph.blocks
    n = graph.num_vertices
    sc = graph.spark.sparkContext
    ntasks = max(1, min(blocks.num_partitions, _task_slots(sc)))

    run_dir = os.path.join(blocks.dir, f"rounds_{uuid.uuid4().hex}")
    os.makedirs(run_dir)
    try:
        st = _shared(f"{run_dir}/state.npy", state.shape, state.dtype)
        st[:] = state
        st.flush()
        del st
        _shared(f"{run_dir}/snap.npy", state.shape, state.dtype)
        li = _shared(f"{run_dir}/last_imp.npy", (n,), np.int32, -1)
        li[np.asarray(changed, dtype=bool)] = 0
        li.flush()
        del li
        _shared(f"{run_dir}/copy_done.npy", (ntasks,), np.int64, -1)
        _shared(f"{run_dir}/relax_done.npy", (ntasks,), np.int64, -1)
        _shared(f"{run_dir}/imp_cnt.npy", (ntasks,), np.int64, 0)
        _shared(f"{run_dir}/ctl.npy", (2,), np.int64, -1)  # release, stop

        block_dir = blocks.dir
        assign = _lpt_assign(blocks, ntasks)

        def loop(_it):
            from pyspark import BarrierTaskContext

            ctx = BarrierTaskContext.get()
            if ctx.attemptNumber() > 0:
                # a retried gang would replay rounds over mutated shared
                # state; fail the job — the caller's per-round fallback
                # restarts from its own pristine copy
                raise RuntimeError("barrier task retry: shared state unsafe")
            me = ctx.partitionId()
            my_pids = assign[me]
            pre = {pid: load_block(block_dir, pid) for pid in my_pids}
            state = np.load(f"{run_dir}/state.npy", mmap_mode="r+")
            snap = np.load(f"{run_dir}/snap.npy", mmap_mode="r+")
            lo, hi = me * n // ntasks, (me + 1) * n // ntasks
            last_imp = np.load(f"{run_dir}/last_imp.npy", mmap_mode="r+")
            copy_done = np.load(f"{run_dir}/copy_done.npy", mmap_mode="r+")
            relax_done = np.load(f"{run_dir}/relax_done.npy", mmap_mode="r+")
            imp_cnt = np.load(f"{run_dir}/imp_cnt.npy", mmap_mode="r+")
            ctl = np.load(f"{run_dir}/ctl.npy", mmap_mode="r+")

            for t in range(1, max_iters + 1):
                # frontier mask BEFORE copy_done: round-t last_imp writers
                # are all blocked on this task's copy flag (see docstring)
                fmask = np.asarray(last_imp) == t - 1
                front = np.flatnonzero(fmask)
                snap[lo:hi] = state[lo:hi]
                copy_done[me] = t
                _wait(copy_done, t)
                imp = 0
                if len(front):
                    for pid in my_pids:
                        res = kernel(block_dir, pid, pre[pid], snap, front, fmask)
                        if res is not None:
                            gd, new = res
                            state[gd] = new
                            last_imp[gd] = t
                            imp += len(gd)
                imp_cnt[me] = imp
                relax_done[me] = t
                if me == 0:
                    _wait(relax_done, t)
                    total = int(np.asarray(imp_cnt).sum())
                    ctl[1] = 1 if total == 0 or t >= max_iters else 0
                    ctl[0] = t  # release LAST
                else:
                    _wait(ctl[:1], t)
                if ctl[1]:
                    # converged iff the LAST executed round changed
                    # nothing (not a max_iters bailout)
                    return iter([(me, t, int(np.asarray(imp_cnt).sum()) == 0)])
            return iter([(me, max_iters, False)])

        rows = (
            sc.parallelize(range(ntasks), ntasks)
            .barrier()
            .mapPartitions(loop)
            .collect()
        )
        rounds = max(r[1] for r in rows)
        converged = all(r[2] for r in rows)
        out = np.asarray(np.load(f"{run_dir}/state.npy")).copy()
        return out, rounds, converged
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_barrier_pagerank(
    graph,
    alpha: float,
    tol: float,
    max_iter: int,
    sources: list[int] | None,
    init_state: np.ndarray | None = None,
    iter_offset: int = 0,
    dangling_norm: bool = True,
    post_superstep=None,
) -> tuple[np.ndarray, list[dict], int, bool, dict]:
    """Returns ``(state (S,N), metrics, iterations, converged, phases)``
    where ``iterations`` counts supersteps run in THIS call and
    ``phases`` is the min/max per-task seconds spent in each loop phase
    (out-of-band — never mixed into the scalar metrics rows).

    ``init_state``/``iter_offset`` let a checkpointing caller run the
    loop in chunks: one barrier job per ``checkpoint_every`` supersteps,
    durable save between chunks, resume mid-computation — the job-level
    overhead amortizes over the chunk instead of every superstep.

    ``dangling_norm=False`` drops the dangling-mass term entirely — the
    reference PPR's optional ``norm`` flag (``ppr.gm:14-16``).
    ``post_superstep`` is an elementwise f64→f64 transform applied to
    the full state after every superstep (personalization included),
    before the convergence error — the fixed-point quantization hook
    (E8). Must be picklable (it ships inside the task closure).

    Raises on barrier-scheduling failure — callers fall back to the
    per-superstep path.
    """
    blocks: BlockStore = graph.blocks
    spark = graph.spark
    n = graph.num_vertices
    s = 1 if sources is None else len(sources)
    sc = spark.sparkContext
    ntasks = max(1, min(blocks.num_partitions, _task_slots(sc)))

    run_dir = os.path.join(blocks.dir, f"barrier_{uuid.uuid4().hex}")
    os.makedirs(run_dir)
    try:
        for b in range(3):
            _shared(f"{run_dir}/state_buf{b}.npy", (n, s), np.float64)
        st0 = np.load(f"{run_dir}/state_buf0.npy", mmap_mode="r+")
        if init_state is not None:
            st0[:] = np.ascontiguousarray(np.atleast_2d(init_state).T)
        elif sources is None:
            st0[:] = 1.0 / n
        else:
            st0[:] = 0.0
            for i, src in enumerate(sources):
                st0[src, i] = 1.0
        st0.flush()
        del st0
        np.save(f"{run_dir}/dang_idx.npy", np.flatnonzero(graph.dangling_mask()))
        _shared(f"{run_dir}/shift.npy", (s,), np.float64, 0.0)
        # sync flags + per-CHUNK partial reductions (chunking is a
        # function of n only — see plans/reduction.py — so the final
        # sums are bit-identical to the per-superstep path)
        nc = n_chunks(n)
        _shared(f"{run_dir}/compute_done.npy", (ntasks,), np.int64, 0)
        _shared(f"{run_dir}/row_done.npy", (ntasks,), np.int64, -1)
        _shared(f"{run_dir}/fill_done.npy", (ntasks,), np.int64, -1)
        _shared(f"{run_dir}/ctl.npy", (4,), np.int64, -1)
        _shared(f"{run_dir}/err_p.npy", (nc, s), np.float64, 0.0)
        _shared(f"{run_dir}/sq_p.npy", (nc, s), np.float64, 0.0)
        _shared(f"{run_dir}/dang_p.npy", (nc, s), np.float64, 0.0)

        block_dir = blocks.dir
        src_list = sources
        assign = _lpt_assign(blocks, ntasks)

        def loop(_it):
            from pyspark import BarrierTaskContext

            ctx = BarrierTaskContext.get()
            if ctx.attemptNumber() > 0:
                # a retried gang would replay supersteps over mutated
                # state buffers — fail the job; the caller falls back to
                # the per-superstep path, which is safe to retry
                raise RuntimeError("barrier task retry: shared state unsafe")
            me = ctx.partitionId()
            leader = me == 0
            my_pids = assign[me]
            pre = {pid: load_block(block_dir, pid) for pid in my_pids}

            def sp(i: int) -> str:
                return f"{run_dir}/state_buf{i % 3}.npy"
            # chunk-aligned row range: task me owns chunks [c_lo, c_hi)
            c_lo, c_hi = me * nc // ntasks, (me + 1) * nc // ntasks
            lo, hi = c_lo * CHUNK_ROWS, min(n, c_hi * CHUNK_ROWS)
            dang_idx = np.load(f"{run_dir}/dang_idx.npy")
            my_srcs = (
                [(i, sv) for i, sv in enumerate(src_list) if lo <= sv < hi]
                if src_list is not None
                else []
            )
            compute_done = np.load(f"{run_dir}/compute_done.npy", mmap_mode="r+")
            row_done = np.load(f"{run_dir}/row_done.npy", mmap_mode="r+")
            fill_done = np.load(f"{run_dir}/fill_done.npy", mmap_mode="r+")
            ctl = np.load(f"{run_dir}/ctl.npy", mmap_mode="r+")
            err_p = np.load(f"{run_dir}/err_p.npy", mmap_mode="r+")
            sq_p = np.load(f"{run_dir}/sq_p.npy", mmap_mode="r+")
            dang_p = np.load(f"{run_dir}/dang_p.npy", mmap_mode="r+")
            shift2 = (1.0 - alpha) / n if src_list is None else 0.0
            shift_arr = np.load(f"{run_dir}/shift.npy", mmap_mode="r+")

            t = 0
            t_wall = time.perf_counter()
            ph = {"wait": 0.0, "rowwork": 0.0, "ctl": 0.0, "fill": 0.0, "compute": 0.0}

            def _tick():
                nonlocal _last
                now = time.perf_counter()
                d, _last = now - _last, now
                return d

            _last = time.perf_counter()
            while True:
                _wait(compute_done, t)  # state_t body complete
                ph["wait"] += _tick()
                # ---- rowwork: finalize + chunked partials over my rows
                st = np.load(sp(t), mmap_mode="r+")
                if t > 0:
                    for i, sv in my_srcs:
                        st[sv, i] += 1.0 - alpha  # K4 final add
                    if post_superstep is not None:
                        st[lo:hi] = post_superstep(np.asarray(st[lo:hi]))
                    prev = np.load(sp(t - 1), mmap_mode="r")
                    err_partials(st.T, prev.T, n, c_lo, c_hi, err_p, sq_p)
                dang_partials(st.T, dang_idx, n, c_lo, c_hi, dang_p)
                ph["rowwork"] += _tick()
                row_done[me] = t
                # ---- leader reduce: stop decision, metrics, next-state prep
                if leader:
                    _wait(row_done, t)
                    stop = t >= max_iter
                    conv = False
                    if t > 0:
                        l1 = np.asarray(err_p).sum(axis=0)
                        sq = np.asarray(sq_p).sum(axis=0)
                        conv = bool(l1.max() <= tol)
                        stop = stop or conv
                        now = time.perf_counter()
                        with open(f"{run_dir}/metrics.jsonl", "a") as f:
                            f.write(
                                json.dumps(
                                    {
                                        "iter": t + iter_offset,
                                        "l1_err": float(l1.max()),
                                        "sq_l2_err": float(sq.max()),
                                        "dangling_sum": float(
                                            np.asarray(dang_p).sum(axis=0).max()
                                        ),
                                        "wall_ms": (now - t_wall) * 1e3,
                                    }
                                )
                                + "\n"
                            )
                        t_wall = now
                    if not stop and dangling_norm:
                        d = np.asarray(dang_p).sum(axis=0)  # (S,) dangling dot
                        shift_arr[:] = (alpha / n) * d
                    ctl[1] = 1 if stop else 0
                    ctl[2] = 1 if conv else 0
                    ctl[3] = t
                    ctl[0] = t  # release LAST
                else:
                    _wait(ctl[:1], t)
                ph["ctl"] += _tick()
                if ctl[1]:
                    break
                # ---- fill: no-in-edge base over my row range
                shift1 = shift_arr.copy()
                nxt = np.load(sp(t + 1), mmap_mode="r+")
                nxt[lo:hi] = shift1 + shift2  # == (α·0 + shift1) + shift2
                ph["fill"] += _tick()
                fill_done[me] = t
                _wait(fill_done, t)  # all rows based before scattered writes
                ph["wait"] += _tick()
                # ---- compute: L2-tiled SpMV per block → α·p + shift
                # at the block's (disjoint) u_dst rows
                state = np.load(sp(t), mmap_mode="r")
                for pid in my_pids:
                    blk = pre[pid]
                    p = tiled_spmv(state, blk)
                    nxt[np.asarray(blk[2])] = (alpha * p + shift1) + shift2
                del nxt
                ph["compute"] += _tick()
                t += 1
                compute_done[me] = t
            return iter([(me, t, ph)])

        rows = (
            sc.parallelize(range(ntasks), ntasks)
            .barrier()
            .mapPartitions(loop)
            .collect()
        )
        t_final = max(r[1] for r in rows)
        phases = {k: (min(r[2][k] for r in rows), max(r[2][k] for r in rows)) for k in rows[0][2]}
        ctl = np.load(f"{run_dir}/ctl.npy")
        state = np.ascontiguousarray(np.load(f"{run_dir}/state_buf{t_final % 3}.npy").T)
        metrics: list[dict] = []
        mpath = f"{run_dir}/metrics.jsonl"
        if os.path.exists(mpath):
            with open(mpath) as f:
                metrics = [json.loads(line) for line in f if line.strip()]
        phases = {k: (round(v[0], 3), round(v[1], 3)) for k, v in phases.items()}
        return state, metrics, int(ctl[3]), bool(ctl[2]), phases
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
