"""PageRank, personalized PageRank, and 8-source multi-PPR.

Semantics match the reference goldens exactly (see
``functions/golden.py`` for formula citations):

- :func:`pagerank` ≙ ``PageRankCPU::execute``
  (``pagerank_cpu.cpp:25-68``; defaults α=0.8, tol=1e-6, max_iter=100
  from ``src/common/utils/options.hpp:20-22``). The *approximation*
  axes of the reference are exposed as parameters: a small ``max_iter``
  budget (FPGA default 6) and the L1 early-termination threshold.
- :func:`personalized_pagerank` ≙ ``personalized_pagerank_golden``
  (``gold_algorithms.hpp:105-140``).
- :func:`multi_ppr` ≙ the FPGA flagship ``multi_ppr_main``
  (``multi_personalized_pagerank.cpp:114-241``): S sources propagate
  through **one SpMV per superstep** — the rank state is an (S, N)
  block, so the edge stream is read once per iteration regardless of S,
  exactly how the FPGA amortizes its memory streams across 8 queries.

All three are the same (S, N) loop (global PageRank and single-source
PPR are its S=1 cases) behind one dispatcher, with two execution paths:

- ``mode='broadcast'`` — the driver holds the O(S·N) f64 state. The
  supersteps run as one gang-scheduled barrier job (``plans/barrier.py``)
  and fall back to one Arrow-kernel Spark job per superstep; both are
  bit-identical.
- ``mode='distributed-arrow'`` — cluster-state supersteps over shared-FS
  CSR blocks with packed message shuffles and vectorized NumPy kernels
  (``plans/distblocks.py``). The recommended path at 10^12-turn scale.
- ``mode='auto'`` picks ``broadcast`` while the driver state
  ``num_vertices · S`` stays within
  ``plans/modes.py::BROADCAST_MAX_VERTICES``.

Every superstep appends to the iteration-metrics series
``(iter, l1_err, sq_l2_err, dangling_sum, wall_ms)`` — the reference's
per-iteration convergence-error write-back (V9) — and optionally
checkpoints durably via :class:`CheckpointManager` for mid-run resume.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators.spmv import gather
from approximate_pagerank_public_spark.plans.checkpoint import (
    CheckpointManager,
    ckpt_scope,
    pinned_confs,
)
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import resolve_mode, state_fits
from approximate_pagerank_public_spark.session import upload_frame

PATHS = ("broadcast", "distributed-arrow")


@dataclass
class PageRankResult:
    iterations: int
    converged: bool
    metrics: list[dict] = field(repr=False)
    sources: list[int] | None
    ranks_np: np.ndarray | None = field(default=None, repr=False)  # (S, N)
    ranks_df: DataFrame | None = field(default=None, repr=False)
    _graph: Graph | None = field(default=None, repr=False)
    # barrier-path evidence: {phase: (min_s, max_s)} per-task seconds,
    # None when the run never took the gang-scheduled path. Kept
    # out-of-band so the metrics rows stay scalar (V9 table friendly).
    phase_timings: dict | None = field(default=None, repr=False)

    def ranks(self) -> DataFrame:
        """Vertex-state DataFrame: ``(id, rank)`` or ``(id, rank_0..{S-1})``."""
        if self.ranks_df is not None:
            return self.ranks_df
        import pandas as pd

        r = self.ranks_np
        cols = ["rank"] if self.sources is None else [f"rank_{i}" for i in range(len(r))]
        pdf = pd.DataFrame({"id": np.arange(r.shape[1], dtype=np.int64), **dict(zip(cols, r))})
        schema = ", ".join(["id long", *(f"{c} double" for c in cols)])
        return upload_frame(self._graph.spark, pdf, schema)

    def metrics_df(self) -> DataFrame:
        """Iteration-metrics table ``(iter, l1_err, sq_l2_err,
        dangling_sum, wall_ms)`` — the reference's per-iteration
        convergence-error series (V9, ``multi_personalized_pagerank.cpp:
        96-108``) as a queryable DataFrame; empty when no superstep
        ran."""
        import pandas as pd

        cols = ["iter", "l1_err", "sq_l2_err", "dangling_sum", "wall_ms"]
        return upload_frame(
            self._graph.spark,
            pd.DataFrame(self.metrics, columns=cols),
            "iter long, l1_err double, sq_l2_err double, dangling_sum double, wall_ms double",
        )

    def rank_vector(self, source_pos: int = 0) -> np.ndarray:
        if self.ranks_np is not None:
            return self.ranks_np[source_pos]
        col = "rank" if self.sources is None else f"rank_{source_pos}"
        pdf = self.ranks_df.select("id", col).toPandas().sort_values("id")
        return pdf[col].to_numpy(np.float64)

    def top_k(self, k: int, source_pos: int = 0) -> list[int]:
        """Ranked vertex ids, ties broken by **higher id first** —
        reference ``sort_pr`` (``evaluation_utils.hpp:17-39``)."""
        r = self.rank_vector(source_pos)
        order = np.lexsort((-np.arange(len(r)), -r))
        return order[:k].tolist()


def _superstep_np(
    graph: Graph,
    pr: np.ndarray,
    alpha: float,
    sources: list[int] | None,
    d: np.ndarray,
) -> np.ndarray:
    """One broadcast-mode superstep on an (S, N) block. ``d`` is the
    precomputed (S,) dangling dot (K2) — zeros when ``dangling_norm``
    is off (``ppr.gm:14-16``)."""
    n = graph.num_vertices
    contrib = gather(graph, pr, "sum")  # (S, N), one Spark job
    new = alpha * contrib + (alpha / n) * d[:, None]  # axpb (K3)
    if sources is None:
        new += (1.0 - alpha) / n
    else:
        new[np.arange(len(sources)), sources] += 1.0 - alpha  # K4
    return new


def _collect_init_ranks(graph: Graph, init_ranks) -> np.ndarray:
    """Driver-side (1, N) state from a warm-start ``(id, rank)``
    DataFrame: ids absent from ``init_ranks`` (e.g. vertices that
    appeared since the previous run) fill with the cold 1/N. The
    values are used verbatim — no renormalization — because the
    teleport-damped iteration is an affine contraction whose fixed
    point is independent of the starting vector's mass (any mass error
    decays by α per superstep)."""
    n = graph.num_vertices
    pdf = init_ranks.select("id", "rank").toPandas()
    pr = np.full((1, n), 1.0 / n, dtype=np.float64)
    pr[0, pdf["id"].to_numpy()] = pdf["rank"].to_numpy(dtype=np.float64)
    return pr


def _run_broadcast(
    graph: Graph,
    alpha: float,
    tol: float,
    max_iter: int,
    sources: list[int] | None,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    dangling_norm: bool = True,
    post_superstep=None,
    init_ranks=None,
) -> PageRankResult:
    from approximate_pagerank_public_spark.plans.reduction import (
        dang_partials,
        err_partials,
        n_chunks,
    )

    n = graph.num_vertices
    dang_idx = np.flatnonzero(graph.dangling_mask())
    if init_ranks is not None:
        pr = _collect_init_ranks(graph, init_ranks)
    elif sources is None:
        pr = np.full((1, n), 1.0 / n, dtype=np.float64)
    else:
        pr = np.zeros((len(sources), n), dtype=np.float64)
        pr[np.arange(len(sources)), sources] = 1.0
    s = pr.shape[0]

    metrics: list[dict] = []
    start_it = 0
    config = {
        "alpha": alpha,
        "tol": tol,
        "max_iter": max_iter,
        "sources": sources,
        "dangling_norm": dangling_norm,
    }
    ckpt = CheckpointManager(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    if ckpt and resume:
        loaded = ckpt.load_latest(graph.spark)
        if loaded is not None:
            start_it, pr, metrics = loaded

    # Fast path: the loop runs as gang-scheduled barrier jobs (see
    # plans/barrier.py). Without checkpointing it is ONE job; with a
    # checkpoint dir it runs in chunks of `checkpoint_every`
    # supersteps with a durable save between chunks — same save points
    # and resume semantics as the per-superstep path, job overhead
    # amortized over the chunk.
    from approximate_pagerank_public_spark.plans.barrier import (
        run_barrier_pagerank,
        run_gang,
    )

    def gang() -> PageRankResult:
        it_b = start_it
        pr_b = pr
        metrics_b = list(metrics)
        conv_b = False
        phases: dict = {}
        while it_b < max_iter:
            chunk = min(checkpoint_every, max_iter - it_b) if ckpt else max_iter - it_b
            state, m, its, conv_b, phases = run_barrier_pagerank(
                graph,
                alpha,
                tol,
                chunk,
                sources,
                init_state=(
                    pr_b if (ckpt or it_b > 0 or init_ranks is not None) else None
                ),
                iter_offset=it_b,
                dangling_norm=dangling_norm,
                post_superstep=post_superstep,
            )
            if its > 0:
                pr_b = state
            metrics_b.extend(m)
            it_b += its
            if ckpt:
                ckpt.save(
                    graph.spark,
                    it_b,
                    pr_b,
                    metrics_b,
                    config=config,
                    num_partitions=graph.num_partitions,
                )
            if conv_b or its < chunk:
                break
        return PageRankResult(
            iterations=it_b,
            converged=conv_b,
            metrics=metrics_b,
            sources=sources,
            ranks_np=pr_b,
            _graph=graph,
            phase_timings=phases,
        )

    # the per-superstep path below recomputes from start_it
    res = run_gang(graph, gang, "per-superstep jobs")
    if res is not None:
        return res

    nc = n_chunks(n)
    err_buf = np.zeros((nc, s), dtype=np.float64)
    sq_buf = np.zeros((nc, s), dtype=np.float64)
    dang_buf = np.zeros((nc, s), dtype=np.float64)
    # dangling dot of the current state — same chunked association as
    # the barrier gang's rowwork partials (plans/reduction.py)
    dang_partials(pr, dang_idx, n, 0, nc, dang_buf)
    d = dang_buf.sum(axis=0)
    converged = False
    it = start_it
    zeros = np.zeros(s, dtype=np.float64)
    for it in range(start_it + 1, max_iter + 1):
        t0 = time.perf_counter()
        new = _superstep_np(graph, pr, alpha, sources, d if dangling_norm else zeros)
        if post_superstep is not None:
            new = post_superstep(new)
        err_partials(new, pr, n, 0, nc, err_buf, sq_buf)
        l1 = err_buf.sum(axis=0)
        sq = sq_buf.sum(axis=0)
        pr = new
        dang_partials(pr, dang_idx, n, 0, nc, dang_buf)
        d = dang_buf.sum(axis=0)
        metrics.append(
            {
                "iter": it,
                "l1_err": float(l1.max()),
                "sq_l2_err": float(sq.max()),
                "dangling_sum": float(d.max()),
                "wall_ms": (time.perf_counter() - t0) * 1e3,
            }
        )
        if ckpt:
            ckpt.save(
                graph.spark,
                it,
                pr,
                metrics,
                config=config,
                num_partitions=graph.num_partitions,
            )
        if l1.max() <= tol:
            converged = True
            break
    return PageRankResult(
        iterations=it,
        converged=converged,
        metrics=metrics,
        sources=sources,
        ranks_np=pr,
        _graph=graph,
    )


def _run_distributed_arrow(
    graph: Graph,
    alpha: float,
    tol: float,
    max_iter: int,
    sources: list[int] | None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    dangling_norm: bool = True,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Message-shuffle supersteps over shared-FS CSR blocks — the
    cluster-scale path (``plans/distblocks.py``; single source, plain
    PageRank, and the (S, N) multi-PPR block all share it).

    Per superstep: one job whose only all-to-all is packed per-(state
    partition, block) binary messages feeding the L2-tiled NumPy SpMV
    against mmap-cached blocks. The stop scalars and the next
    iteration's dangling dot (dangling ⇔ empty routing column) are
    observed on the job that checkpoints the new state, so neither
    costs a job of its own. Vertex state never leaves the cluster.

    The loop runs with the partition count pinned: AQE partition
    coalescing re-plans the contribs exchange to fewer partitions and
    the state's partition count drifts superstep over superstep
    (measured: escalating 5→29 s supersteps at |E|=10⁸ / 32 cores). See
    :func:`~approximate_pagerank_public_spark.plans.checkpoint.pinned_confs`.
    The pin does not keep the state's hash(id, p) layout across a
    checkpoint: on Spark 4.1 ``localCheckpoint()`` reports
    ``UnknownPartitioning``, so every superstep re-shuffles ``rt`` and
    the state (five exchanges per superstep, pinned by
    ``tests/test_plan_shapes.py``).

    On exit the pinned routing checkpoint and the last superstep's
    spilled messages are released; on an error exit the current state
    checkpoint is freed too (on success it backs the returned ranks).
    """
    spark = graph.spark
    n = graph.num_vertices
    p = graph.num_partitions
    s = 1 if sources is None else len(sources)
    cols = [f"r{i}" for i in range(s)]
    metrics: list[dict] = []
    start_it = 0
    config = {
        "alpha": alpha,
        "tol": tol,
        "max_iter": max_iter,
        "sources": sources,
        "dangling_norm": dangling_norm,
    }
    ckpt = CheckpointManager(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    with pinned_confs(
        spark,
        {
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.shuffle.partitions": str(p),
        },
    ), ckpt_scope(spark) as cs:
        store = graph.dist_blocks()
        cs.callback(store.clear_messages)
        # the routing column is STATIC — checkpoint it once and join it to
        # the loop state per superstep. The checkpointed loop state
        # carries only a 1-byte `dang` flag instead of the ~P-entry pids
        # array, cutting the per-superstep checkpoint write and the two
        # state reads by ~2× (measured 3.5 → ~3 s superstep at
        # |E|=10⁸/32c).
        rt = cs.ckpt(store.attach_routing(graph.vertices).repartition(p, "id"))
        dang = rt.select("id", F.size("pids").eqNullSafe(0).alias("dang"))
        routed = dang
        if sources is None and init_ranks is not None:
            routed = dang.join(
                init_ranks.select("id", F.col("rank").alias("_ir")), "id", "left"
            )
            init = [F.coalesce(F.col("_ir"), F.lit(1.0 / n)).alias("r0")]
        elif sources is None:
            init = [F.lit(1.0 / n).alias("r0")]
        else:
            init = [
                F.when(F.col("id") == src, 1.0).otherwise(0.0).alias(c)
                for c, src in zip(cols, sources)
            ]
        state = cs.ckpt(routed.select("id", "dang", *init).repartition(p, "id"))
        if ckpt and resume:
            loaded = ckpt.load_latest_df(spark)
            if loaded is not None:
                start_it, ranks_df, metrics = loaded
                new = cs.ckpt(
                    dang.join(ranks_df.select("id", *cols), "id")
                    .select("id", "dang", *cols)
                    .repartition(p, "id")
                )
                cs.free(state)
                state = new
        converged = False
        it = start_it
        # dangling dot of the CURRENT state, one scan before the loop;
        # every later iteration piggybacks it on the stop-scalar agg of
        # the state it just materialized — no separate per-superstep job
        if dangling_norm:
            drow = (
                state.where(F.col("dang"))
                .agg(*[F.sum(c).alias(c) for c in cols])
                .first()
            )
            d = [float(drow[c] or 0.0) for c in cols]
        else:
            d = [0.0] * s
        for it in range(start_it + 1, max_iter + 1):
            t0 = time.perf_counter()
            # not exchange-free: a checkpoint reports no partitioning, so
            # rt and state are both re-shuffled to hash(id, p)
            contribs = store.contribs(
                rt.join(state.select("id", *cols), "id"), s, p
            )
            new_cols, diff_cols = [], []
            for i, c in enumerate(cols):
                expr = F.lit(alpha) * F.coalesce(
                    F.col(f"c{i}"), F.lit(0.0)
                ) + F.lit(
                    alpha / n * d[i]
                    + ((1.0 - alpha) / n if sources is None else 0.0)
                )
                if sources is not None:
                    expr = expr + F.when(
                        F.col("id") == sources[i], 1.0 - alpha
                    ).otherwise(0.0)
                new_cols.append(expr.alias(c))
                diff_cols.append(F.abs(expr - F.col(c)).alias(f"_d{i}"))
            gaggs = (
                [
                    F.sum(F.when(F.col("dang"), F.col(c))).alias(f"_g{i}")
                    for i, c in enumerate(cols)
                ]
                if dangling_norm
                else []
            )
            # stop scalars + next dangling dot ride the SAME job as the
            # state checkpoint (CollectMetrics/observe accumulates them
            # while rows stream past), so no second O(V·S) scan job per
            # superstep; the checkpoint holds only (id, dang, r*).
            #
            # Join shape: the shuffle_hash hint builds the hash map on
            # the contribs side and streams state (a sort-merge join
            # would add two O(V·S) sorts per superstep). Both sides are
            # exchanged to hash(id, p): localCheckpoint reports
            # UnknownPartitioning, so the state is re-shuffled here too.
            obs = Observation()
            new = cs.ckpt(
                state.join(contribs.hint("shuffle_hash"), "id", "left")
                .select("id", "dang", *new_cols, *diff_cols)
                .observe(
                    obs,
                    *[F.sum(f"_d{i}").alias(f"_d{i}") for i in range(s)],
                    *[F.sum(F.pow(f"_d{i}", 2)).alias(f"_q{i}") for i in range(s)],
                    *gaggs,
                )
                .select("id", "dang", *cols)
            )
            err_row = obs.get
            l1 = max(float(err_row[f"_d{i}"]) for i in range(s))
            sq = max(float(err_row[f"_q{i}"]) for i in range(s))
            d_used = max(d)
            if dangling_norm:
                d = [float(err_row[f"_g{i}"] or 0.0) for i in range(s)]
            # the new state is materialized — free the superseded one
            cs.free(state)
            state = new  # already (id, dang, r*)
            metrics.append(
                {
                    "iter": it,
                    "l1_err": l1,
                    "sq_l2_err": sq,
                    "dangling_sum": d_used,
                    "wall_ms": (time.perf_counter() - t0) * 1e3,
                }
            )
            if ckpt:
                ckpt.save_df(state.select("id", *cols), it, metrics, config=config)
            if l1 <= tol:
                converged = True
                break
        if sources is None:
            out = state.select("id", F.col("r0").alias("rank"))
        else:
            out = state.select(
                "id", *[F.col(c).alias(f"rank_{i}") for i, c in enumerate(cols)]
            )
        cs.keep(out)
    return PageRankResult(
        iterations=it,
        converged=converged,
        metrics=metrics,
        sources=sources,
        ranks_df=out,
        _graph=graph,
    )


def _run(
    graph: Graph,
    sources: list[int] | None,
    alpha: float,
    tol: float,
    max_iter: int,
    mode: str,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    dangling_norm: bool,
    init_ranks: DataFrame | None,
) -> PageRankResult:
    """The one PageRank-family dispatcher; ``sources=None`` is global
    PageRank (S=1, uniform teleport)."""
    num_sources = 1 if sources is None else len(sources)
    # the broadcast path holds S×N f64 on the driver
    if resolve_mode(mode, state_fits(graph, num_sources), PATHS) == "broadcast":
        run = _run_broadcast
    else:
        run = _run_distributed_arrow
    return run(
        graph, alpha, tol, max_iter, sources, checkpoint_dir, checkpoint_every,
        resume, dangling_norm=dangling_norm, init_ranks=init_ranks,
    )


def pagerank(
    graph: Graph,
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    mode: str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """``init_ranks`` (an ``(id, rank)`` DataFrame, e.g. a previous
    run's ``ranks()``) warm-starts the power iteration — the
    incremental-recompute primitive for a continuously-ingested edge
    table (streaming/edge_stream.py): after a small graph delta, a warm
    start typically re-converges to 1e-6 in a small fraction of the
    cold iteration count. Ids absent from ``init_ranks`` (new vertices)
    start at the cold 1/N; values are used verbatim (the damped
    iteration's fixed point is independent of starting mass). Works on
    all three execution paths; ``max_iter=0`` returns the filled init
    state itself (useful to inspect the fill rule)."""
    return _run(
        graph, None, alpha, tol, max_iter, mode, checkpoint_dir,
        checkpoint_every, resume, True, init_ranks,
    )


def personalized_pagerank(
    graph: Graph,
    source: int,
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    mode: str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    dangling_norm: bool = True,
) -> PageRankResult:
    """``dangling_norm=False`` reproduces the reference's ``norm=false``
    PGX runs (``ppr.gm:14-16``): the dangling-mass redistribution term
    is skipped entirely, in all three execution paths."""
    return _run(
        graph, [source], alpha, tol, max_iter, mode, checkpoint_dir,
        checkpoint_every, resume, dangling_norm, None,
    )


def multi_ppr(
    graph: Graph,
    sources: list[int],
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    mode: str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    dangling_norm: bool = True,
) -> PageRankResult:
    """All sources advance in lock-step through one SpMV per superstep;
    early termination when the worst source's L1 error ≤ tol (the FPGA
    kernel instead runs a fixed budget — pass ``tol=0`` +
    ``max_iter=m`` to reproduce that exactly). ``dangling_norm=False``
    drops the dangling term (``ppr.gm:14-16``)."""
    return _run(
        graph, list(sources), alpha, tol, max_iter, mode, checkpoint_dir,
        checkpoint_every, resume, dangling_norm, None,
    )
