"""Monte-Carlo random-walk personalized PageRank.

The reference approximates PPR by truncating the power iteration
(iteration budget + L1 early exit, ``multi_personalized_pagerank.cpp``);
the other classic approximation family — the one used at web scale when
even one |E|-pass per iteration is too much — simulates α-terminated
random walks from the source and estimates PPR(v) by the fraction of
walks that END at v (Fogaras et al., "Towards Scaling Fully Personalized
PageRank", 2005; Avrachenkov et al. 2007 for the endpoint estimator).

Everything random is derandomized through md5 so the walk ensemble is
reproducible across engines (the DuckDB oracle replays it exactly):

- per (walk ``w``, step ``t``): ``r = int(md5(f"{seed}:{w}:{t}")[:15], 16)``
  (60 bits — fits a signed i64 in Spark and a UBIGINT in DuckDB);
- terminate when ``r % 100 >= continue_pct`` (α=0.8 → 80) or the
  current vertex is dangling, else hop to out-neighbor
  ``(r // 100) % outdeg`` in dst-sorted adjacency order;
- walks are truncated at ``walk_length`` steps (the tail mass beyond L
  is α^L — the estimator's declared bias, same spirit as the
  reference's fixed iteration budget).

Every walk entry point here (MC PPR, the DeepWalk corpus, node2vec) has
two paths, picked by ``plans/modes.py::resolve_mode``:

- ``broadcast`` (``auto`` while the walk draws and the edge arrays fit,
  ``plans/modes.py::walks_fit``: walks · hops under the measured
  ``WALK_MAX_HOPS`` / ``HEAVY_WALK_MAX_HOPS``, E ≤
  ``BROADCAST_MAX_EDGES``): the edges are collected once and sorted
  into a CSR in :func:`ranked_adjacency`'s (src, dst) order, every hop
  of every walk is one vectorized NumPy step over it (the md5 draws
  through ``hashlib``, one core), and the result is uploaded as one
  DataFrame. A Spark job chain per hop (joins,
  windows, checkpoints) costs ~1-2 s of driver time even on a 25k-edge
  graph; the driver step costs milliseconds there.
- ``distributed`` (the 100-TB path): walk state is a DataFrame
  ``(walk, cur, stopped)`` of W rows; each step is one equi-join against
  the ranked adjacency ``(src, rnk, dst)`` — shuffle volume O(W) per
  step, independent of |E|, and W walks spread across the cluster.
  Lineage is truncated by a checkpoint scope every few steps; no state
  lives on the driver, and the W→∞ scale axis is embarrassingly
  parallel.

Both paths draw the same md5 values and pick the same ranks, so their
rows are identical (parity tests replay every hop on both).
"""

from __future__ import annotations

from dataclasses import dataclass
from hashlib import md5

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope
from approximate_pagerank_public_spark.plans.graph import Graph
from approximate_pagerank_public_spark.plans.modes import (
    HEAVY_WALK_MAX_HOPS,
    resolve_mode,
    walks_fit,
)
from approximate_pagerank_public_spark.session import upload_frame

_CKPT_EVERY = 4  # join-lineage truncation cadence
# adjacency slots the driver node2vec hop expands at once (a walk takes
# min(outdeg(prev), outdeg(cur))): hub-to-hub walks cost time, never more
# than a few int64 arrays of this length
_HOP_CHUNK = 1 << 20
_WALK_SCHEMA = "walk long, step long, vertex long"
_PPR_SCHEMA = "id long, endpoints long, ppr_hat double"


def _step_hash(seed: str, walk_col: str, t: int) -> F.Column:
    """60-bit deterministic per-(walk, step) draw, identical in DuckDB:
    ``CAST('0x' || substring(md5(seed:w:t), 1, 15) AS UBIGINT)``."""
    payload = F.concat_ws(":", F.lit(seed), F.col(walk_col), F.lit(str(t)))
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def ranked_adjacency(g: Graph) -> DataFrame:
    """(src, rnk, dst, deg): out-neighbors indexed 0..deg-1 in dst order.

    The per-src window is safe at scale: it partitions BY src (hash
    shuffle, no global sort), and a web-graph hub's out-degree — unlike
    its in-degree — is crawl-bounded, so per-partition state stays small.

    Cached (persisted, spillable) on the Graph: every walk hop joins it
    3-4 times, and an L=8 node2vec corpus otherwise re-runs the window
    shuffle ~30 times (measured ~40% of q_node2vec_sg's wall clock).
    ``Graph.unpersist`` releases it with the other derived tables, as
    does a dropped Graph (``Graph.release_with``).
    """
    cached = getattr(g, "_ranked_adj", None)
    if cached is not None:
        return cached
    from pyspark.storagelevel import StorageLevel

    w = Window.partitionBy("src").orderBy("dst")
    df = (
        g.edges.select("src", "dst")
        .withColumn("rnk", F.row_number().over(w) - 1)
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    g._ranked_adj = g.release_with(df)
    return df


# ------------------------------------------------------------ driver path
def _draws(seed: str, walks: np.ndarray, t: int) -> np.ndarray:
    """:func:`_step_hash` on the driver: the first 60 bits of
    ``md5(f"{seed}:{walk}:{t}")`` for every walk id in ``walks``. One
    bytes format and one digest per walk, the high words read in bulk:
    ~1.6x the rate of an f-string and ``int.from_bytes`` per walk."""
    fmt = f"{seed.replace('%', '%%')}:%d:{t}".encode()
    digests = b"".join([md5(fmt % w).digest() for w in walks.tolist()])
    hi = np.frombuffer(digests, dtype=">u8")[::2]
    return (hi >> np.uint64(4)).astype(np.int64)


class _Csr:
    """The out-adjacency sorted by (src, dst) — the rank order of
    :func:`ranked_adjacency` — collected from the graph once per call."""

    def __init__(self, g: Graph):
        src, dst, _ = g.edges_numpy()
        n = max(g.num_vertices, int(max(src.max(initial=-1), dst.max(initial=-1))) + 1)
        keys = src * n + dst
        order = np.argsort(keys, kind="stable")
        self.n, self.keys, self.dst = n, keys[order], dst[order]
        self.indptr = np.searchsorted(self.keys, np.arange(n + 1) * n)

    def rows(self, cur: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(first adjacency slot, out-degree) of every vertex in ``cur``."""
        lo = self.indptr[cur]
        return lo, self.indptr[cur + 1] - lo

    def find(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Adjacency slot of every edge ``a → b``, -1 where there is none."""
        k = a * self.n + b
        pos = np.searchsorted(self.keys, k)
        hit = self.keys[np.minimum(pos, len(self.keys) - 1)] == k
        return np.where(hit, pos, -1)


def _expand(idx: np.ndarray, lo: np.ndarray, deg: np.ndarray):
    """(i, slot) for every adjacency slot of the rows ``lo[i], deg[i]``
    of each ``i`` in ``idx``."""
    d = deg[idx]
    seg = np.cumsum(d) - d
    return np.repeat(idx, d), np.arange(int(d.sum())) - np.repeat(seg - lo[idx], d)


def _node2vec_picks(csr, prev, cur, hv, wr, wi, wo) -> np.ndarray:
    """The next vertex of walks at ``cur`` (out-degree ≥ 1) that came
    from ``prev``: the rank whose cumulative class-weight bracket holds
    ``hv % total`` in the flat dst-ranked layout.

    Only the SPECIAL slots are materialized, as on the distributed
    path: the return slot (``cur → prev``) and the in-class slots
    (common out-neighbors of ``prev`` and ``cur``, found by expanding
    the smaller of the two adjacencies). Between them the cumulative
    weight rises by ``w_out`` per rank, so a draw that misses every
    special bracket resolves by integer division — a walk costs
    min(outdeg(prev), outdeg(cur)), never a hub's whole fan."""
    lo, deg = csr.rows(cur)
    plo, pdeg = csr.rows(prev)
    by_prev = pdeg <= deg
    wa, sa = _expand(np.flatnonzero(by_prev), plo, pdeg)
    da = csr.dst[sa]
    sa = csr.find(cur[wa], da)
    ka = (sa >= 0) & (da != prev[wa])
    wb, sb = _expand(np.flatnonzero(~by_prev), lo, deg)
    db = csr.dst[sb]
    kb = (csr.find(prev[wb], db) >= 0) & (db != prev[wb])
    sr = csr.find(cur, prev)
    ret = np.flatnonzero(sr >= 0)
    walk = np.concatenate([wa[ka], wb[kb], ret])
    rank = np.concatenate([sa[ka], sb[kb], sr[ret]]) - lo[walk]
    wt = np.repeat([wi, wr], [len(walk) - len(ret), len(ret)])
    order = np.lexsort((rank, walk))
    walk, rank, wt = walk[order], rank[order], wt[order]
    # C(k) = w_out·(k+1) + Σ (wt - w_out) over the walk's specials ≤ k
    acc = np.concatenate([[0], np.cumsum(wt - wo)])
    first = np.searchsorted(walk, np.arange(len(cur)))
    end = np.searchsorted(walk, np.arange(len(cur)), side="right")
    cw = wo * (rank + 1) + acc[1:] - acc[first[walk]]
    tot = wo * deg + acc[end] - acc[first]
    draw = hv % np.maximum(tot, 1)
    # offsetting each walk by the totals before it makes cw one sorted
    # array: j is the walk's first special with C > draw, if j < end
    off = np.cumsum(tot) - tot
    j = np.searchsorted(off[walk] + cw, off + draw, side="right")
    # a sentinel keeps j and j - 1 in range; the masks ignore it
    cw, wt, rank = (np.append(a, 0) for a in (cw, wt, rank))
    hit = (j < end) & (draw >= cw[j] - wt[j])
    after = j > first  # the segment starts after special j - 1
    base = np.where(after, cw[j - 1], 0)
    seg_rank = np.where(after, rank[j - 1] + 1, 0) + (draw - base) // max(wo, 1)
    nxt = csr.dst[lo + np.where(hit, rank[j], np.where(tot > 0, seg_rank, 0))]
    # every class weight zero: no candidate can be drawn, the walk pads
    return np.where(tot > 0, nxt, cur)


def _node2vec_hop(csr, walks, prev, cur, seed, t, wr, wi, wo) -> np.ndarray:
    """Step ``t`` of every walk; dangling walks stay put. The walks are
    picked in chunks that expand at most ``_HOP_CHUNK`` adjacency slots
    (at least one walk per chunk)."""
    lo, deg = csr.rows(cur)
    mv = np.flatnonzero(deg)
    hv = _draws(seed, walks[mv], t)
    nxt = cur.copy()
    ends = np.cumsum(np.minimum(deg[mv], csr.rows(prev[mv])[1]))
    i = 0
    while i < len(mv):
        base = ends[i - 1] if i else 0
        j = max(i + 1, int(np.searchsorted(ends, base + _HOP_CHUNK, side="right")))
        w = mv[i:j]
        nxt[w] = _node2vec_picks(csr, prev[w], cur[w], hv[i:j], wr, wi, wo)
        i = j
    return nxt


def _corpus_frame(g: Graph, walks: np.ndarray, pos: np.ndarray) -> DataFrame:
    """``(walk, step, vertex)`` rows of ``pos[step, i]``, the position of
    walk ``walks[i]`` after ``step`` hops."""
    pdf = pd.DataFrame(
        {
            "walk": np.tile(walks, len(pos)),
            "step": np.repeat(np.arange(len(pos), dtype=np.int64), len(walks)),
            "vertex": pos.ravel(),
        }
    )
    return upload_frame(g.spark, pdf, _WALK_SCHEMA)


def _random_walk_corpus_broadcast(
    g: Graph, k: int, walk_length: int, seed: str
) -> DataFrame:
    csr = _Csr(g)
    walks = np.arange(g.num_vertices * k, dtype=np.int64)
    pos = np.empty((walk_length + 1, len(walks)), dtype=np.int64)
    pos[0] = walks // k
    for t in range(walk_length):
        pos[t + 1] = pos[t]
        cur = pos[t + 1]
        lo, deg = csr.rows(cur)
        mv = np.flatnonzero(deg)
        cur[mv] = csr.dst[lo[mv] + _draws(seed, walks[mv], t) % deg[mv]]
    return _corpus_frame(g, walks, pos)


def _node2vec_broadcast(
    g: Graph, walk_length: int, wr: int, wi: int, wo: int, seed: str
) -> DataFrame:
    csr = _Csr(g)
    walks = np.arange(g.num_vertices, dtype=np.int64)
    pos = np.empty((walk_length + 1, len(walks)), dtype=np.int64)
    pos[0] = walks
    for t in range(walk_length):
        prev = pos[t - 1] if t else pos[0]
        pos[t + 1] = _node2vec_hop(csr, walks, prev, pos[t], seed, t, wr, wi, wo)
    return _corpus_frame(g, walks, pos)


def _random_walk_ppr_broadcast(
    g: Graph, source: int, num_walks: int, walk_length: int, pct: int, seed: str
) -> DataFrame:
    csr = _Csr(g)
    cur = np.full(num_walks, int(source), dtype=np.int64)
    live = np.arange(num_walks, dtype=np.int64) if 0 <= source < csr.n else cur[:0]
    for t in range(walk_length):
        hv = _draws(seed, live, t)
        go = hv % 100 < pct
        live, hv = live[go], hv[go]
        lo, deg = csr.rows(cur[live])
        # a dangling vertex stops the walk too
        mv = deg > 0
        live, hv, lo, deg = live[mv], hv[mv], lo[mv], deg[mv]
        cur[live] = csr.dst[lo + (hv // 100) % deg]
    ids, n = np.unique(cur, return_counts=True)
    pdf = pd.DataFrame({"id": ids, "endpoints": n, "ppr_hat": n / float(num_walks)})
    return upload_frame(g.spark, pdf, _PPR_SCHEMA)


@dataclass
class RandomWalkResult:
    num_walks: int
    walk_length: int
    _df: DataFrame

    def endpoints(self) -> DataFrame:
        """(id, endpoints, ppr_hat) — visit mass of walk ENDPOINTS."""
        return self._df


def random_walk_ppr(
    g: Graph,
    source: int,
    num_walks: int = 256,
    walk_length: int = 12,
    alpha: float = 0.8,
    seed: str = "mc",
    mode: str = "auto",
) -> RandomWalkResult:
    """α-terminated endpoint-estimator MC PPR from ``source``.

    ``alpha`` is the continuation probability — the same α as the
    reference's PPR damping (``options.hpp:20``), quantized to integer
    percent so the md5 draw decides identically in both engines.

    ``mode``: ``broadcast`` walks every hop on the driver CSR (``auto``
    while ``num_walks · walk_length`` ≤ ``HEAVY_WALK_MAX_HOPS`` and the
    edges fit), ``distributed`` joins the walk-state DataFrame against
    the ranked adjacency per hop; same endpoints on both.
    """
    spark = g.spark
    continue_pct = int(round(alpha * 100))
    fits = walks_fit(g, walk_length, walks=num_walks, limit=HEAVY_WALK_MAX_HOPS)
    if resolve_mode(mode, fits) == "broadcast":
        df = _random_walk_ppr_broadcast(
            g, source, num_walks, walk_length, continue_pct, seed
        )
        return RandomWalkResult(num_walks=num_walks, walk_length=walk_length, _df=df)
    adj = ranked_adjacency(g)

    with ckpt_scope(spark) as cs:
        state = spark.range(num_walks).select(
            F.col("id").alias("walk"),
            F.lit(int(source)).cast("long").alias("cur"),
            F.lit(False).alias("stopped"),
        )
        for t in range(walk_length):
            s = state.withColumn("hv", _step_hash(seed, "walk", t))
            s = s.withColumn(
                "terminate",
                F.col("stopped") | (F.col("hv") % 100 >= F.lit(continue_pct)),
            ).withColumn("pick", F.expr("hv div 100"))
            # plan-level aliases: state's `cur` lineage traces back to adj's
            # `dst` from the previous step, so dataset-column references would
            # be ambiguous on the re-join (Spark's failAmbiguousSelfJoin)
            nxt = (
                s.alias("w")
                .join(
                    adj.alias("a"),
                    (F.col("w.cur") == F.col("a.src"))
                    & ((F.col("w.pick") % F.col("a.deg")) == F.col("a.rnk"))
                    & ~F.col("w.terminate"),
                    "left",
                )
                .select(
                    F.col("w.walk").alias("walk"),
                    F.coalesce(F.col("a.dst"), F.col("w.cur")).alias("cur"),
                    # dangling (no adjacency match while trying to move) stops too
                    (F.col("w.terminate") | F.col("a.dst").isNull()).alias("stopped"),
                )
            )
            if (t + 1) % _CKPT_EVERY == 0 or t == walk_length - 1:
                nxt = cs.ckpt(nxt)
                cs.free(state)
            state = nxt

        out = (
            state.groupBy(F.col("cur").alias("id"))
            .agg(F.count("*").alias("endpoints"))
            .select(
                "id",
                "endpoints",
                (F.col("endpoints") / F.lit(float(num_walks))).alias("ppr_hat"),
            )
        )
        return RandomWalkResult(
            num_walks=num_walks, walk_length=walk_length, _df=cs.keep(out)
        )


def random_walk_corpus(
    g: Graph,
    walks_per_vertex: int = 1,
    walk_length: int = 8,
    seed: str = "rw",
    mode: str = "auto",
) -> DataFrame:
    """``(walk, step, vertex)`` — fixed-length random-walk trajectories
    from EVERY vertex (DeepWalk/node2vec-style corpus for embedding
    training, minus the p/q bias). Walk ``w = start · K + k`` hops to
    out-neighbor ``md5(seed:w:t) % outdeg`` in dst-sorted adjacency
    order; a dangling vertex pads the remaining steps in place (the
    trajectory keeps its fixed length — documented, SQL-replayable).

    ``mode``: ``broadcast`` (``auto`` while ``V·K·L`` ≤ ``WALK_MAX_HOPS``
    and the edges fit) runs every hop as one NumPy step over the driver
    CSR and uploads the corpus;
    ``distributed`` keeps the state ``(walk, cur)`` of V·K rows on the
    cluster, each step one equi-join against the ranked adjacency
    (shuffle O(V·K), independent of |E|), lineage truncated by a
    checkpoint scope; the corpus is the union of the L+1 per-step
    snapshots. md5 derandomization makes the corpus bit-reproducible
    across paths and engines — the DuckDB oracle replays every hop.
    """
    spark = g.spark
    k = int(walks_per_vertex)
    if resolve_mode(mode, walks_fit(g, walk_length, per_vertex=k)) == "broadcast":
        return _random_walk_corpus_broadcast(g, k, walk_length, seed)
    adj = ranked_adjacency(g)
    state = (
        g.vertices.select(F.col("id").alias("cur"))
        .crossJoin(spark.range(k).select(F.col("id").alias("k")))
        .select((F.col("cur") * k + F.col("k")).alias("walk"), "cur")
    )
    with ckpt_scope(spark) as cs:
        steps = [state.withColumn("step", F.lit(0).cast("long"))]
        for t in range(walk_length):
            s = state.withColumn("hv", _step_hash(seed, "walk", t))
            nxt = (
                s.alias("w")
                .join(
                    adj.alias("a"),
                    (F.col("w.cur") == F.col("a.src"))
                    & ((F.col("w.hv") % F.col("a.deg")) == F.col("a.rnk")),
                    "left",
                )
                .select(
                    F.col("w.walk").alias("walk"),
                    F.coalesce(F.col("a.dst"), F.col("w.cur")).alias("cur"),
                )
            )
            # every per-step snapshot IS part of the corpus, so NO step
            # checkpoint is ever superseded — none may be freed (the blocks
            # are the only copy once lineage is truncated)
            small = max(1, min(g.num_partitions, g.num_vertices * k // 65_536 + 1))
            state = cs.ckpt(nxt.coalesce(small))
            steps.append(state.withColumn("step", F.lit(t + 1).cast("long")))
        out = steps[0]
        for s in steps[1:]:
            out = out.unionAll(s)
        return cs.keep(out.select("walk", "step", F.col("cur").alias("vertex")))


def node2vec_corpus(
    g: Graph,
    walk_length: int = 8,
    w_return: int = 1,
    w_in: int = 4,
    w_out: int = 2,
    seed: str = "n2v",
    mode: str = "auto",
) -> DataFrame:
    """``(walk, step, vertex)`` — SECOND-ORDER biased walks from every
    vertex (node2vec, Grover & Leskovec 2016), md5-derandomized.

    The p/q bias is expressed as INTEGER weights over the three
    candidate classes relative to the previous vertex ``prev``:
    ``w_return`` for ``next == prev`` (node2vec weight 1/p),
    ``w_in`` for ``next`` with a directed edge ``prev → next``
    (distance-1 class, weight 1), ``w_out`` otherwise (1/q). Integer
    weights make the inverse-CDF draw exact: candidates are laid out in
    dst-ranked order, the 60-bit md5 draw reduces mod the weight total,
    and the picked candidate is the cumulative-weight bracket containing
    the draw — every step replays verbatim in DuckDB SQL (no floats
    anywhere). The distance-1 test uses the DIRECTED edge set (the walk
    itself follows out-edges); defaults (1, 4, 2) ≡ p=4, q=2 at L=4.

    Step 0 sets ``prev = start``: every out-neighbor of the start is
    then distance-1 (edge ``start → next`` exists by construction), so
    the first hop is uniform — the standard node2vec convention.
    Dangling vertices pad in place, keeping trajectories fixed-length
    like :func:`random_walk_corpus`.

    ``mode``: ``broadcast`` (``auto`` while ``V·L`` ≤
    ``HEAVY_WALK_MAX_HOPS`` and the edges fit) walks on the driver CSR:
    per hop, each walk's special slots (collapse 2 below)
    are class-tested by ``searchsorted`` on the sorted ``src·n + dst``
    keys and the draw picks its bracket by ``searchsorted`` on their
    integer cumulative weights, or by integer division between them
    (collapse 3); walks go in chunks that expand at most ``_HOP_CHUNK``
    slots. The full per-candidate layout was measured at 6-7 s per hop
    on the sf0.1 transcript graph (1.5·10⁸ candidates: walks pile onto
    a 5·10⁴-out-degree hub); the special slots alone, 0.2-0.4 s.
    ``distributed`` is the Spark sampler below; both return the same
    rows.

    Distributed scale shape — the naive exact sampler is hub-quadratic,
    this one is not. Expanding every (walk, neighbor) candidate costs
    Σ walks_at(v)·outdeg(v), which detonates when walks concentrate on
    hubs (measured 40-60 s/step on the sf0.1 Zipf graph). Three
    collapses fix it without changing a single pick:

    1. The layout depends only on the distinct state PAIR (prev, cur),
       so everything is computed per pair, never per walk.
    2. Only SPECIAL candidates (the return slot + the in-class slots =
       common out-neighbors of prev and cur) are materialized, via the
       degree-oriented wedge trick: each pair expands its SMALLER side
       (prev's or cur's adjacency) and equi-joins the other — a hub
       adjacency is only scanned for hub-hub pairs.
    3. Between special slots the cumulative weight is LINEAR with slope
       ``w_out``, so an out-class draw resolves by integer division over
       a per-pair SEGMENT table (≤ specials+1 rows) and one equi-join
       into the ranked adjacency at the computed rank. The full
       out-class fan of a hub never exists anywhere.

    Per step: a handful of hash joins + windows over the special rows
    only; walk state streams through one bracket join. State is
    (walk, prev, cur), checkpointed per step (snapshots ARE the corpus).
    """
    spark = g.spark
    wr, wi, wo = int(w_return), int(w_in), int(w_out)
    fits = walks_fit(g, walk_length, limit=HEAVY_WALK_MAX_HOPS)
    if resolve_mode(mode, fits) == "broadcast":
        return _node2vec_broadcast(g, walk_length, wr, wi, wo, seed)
    adj = ranked_adjacency(g)
    e2 = g.edges.select(F.col("src").alias("p_src"), F.col("dst").alias("p_dst"))
    # loop-invariant V-row tables: materialize once, not per hop; walk
    # state is O(V·K), so checkpoint/snapshot partition counts scale with
    # the graph instead of pinning 32 near-empty tasks per tiny stage
    small = max(1, min(g.num_partitions, g.num_vertices // 65_536 + 1))
    with ckpt_scope(spark) as cs:
        degt = cs.ckpt(
            adj.groupBy("src").agg(F.max("deg").alias("deg")).coalesce(small)
        )
        state = g.vertices.select(
            F.col("id").alias("walk"), F.col("id").alias("prev"), F.col("id").alias("cur")
        )
        steps = [state.select("walk", F.lit(0).cast("long").alias("step"), F.col("cur"))]
        pair_w = Window.partitionBy("prev", "cur")
        rnk_w = pair_w.orderBy("rnk")
        for t in range(walk_length):
            prs = (
                state.select("prev", "cur")
                .distinct()
                .join(
                    degt.select(F.col("src").alias("prev"), F.col("deg").alias("dp")),
                    "prev",
                    "left",
                )
                .join(
                    degt.select(F.col("src").alias("cur"), F.col("deg").alias("dc")),
                    "cur",
                    "left",
                )
                .where(F.col("dc").isNotNull())  # dangling cur pads in place
            )
            # prs and spec fan out into 4-5 consumers each (in-class joins,
            # return slot, decision rows, totals) — eagerly materialize once
            # per step: lazy persist() was tried and measured 2x WORSE (the
            # hop's final job runs the decision subtrees as parallel stages,
            # which race to compute the shared cache and each re-run the
            # distinct + joins)
            prs = cs.ckpt(prs.coalesce(small))
            # ---- in-class slots: d in N_out(prev) ∩ N_out(cur), d != prev.
            # Expand the smaller adjacency, equi-join the other (wedge trick).
            live = F.col("dp").isNotNull()
            via_prev = (
                prs.where(live & (F.col("dp") <= F.col("dc")))
                .join(e2, F.col("p_src") == F.col("prev"))
                .join(
                    adj.select(
                        F.col("src").alias("cur"),
                        F.col("dst").alias("p_dst"),
                        "rnk",
                    ),
                    ["cur", "p_dst"],
                )
                .select("prev", "cur", "dc", F.col("p_dst").alias("dst"), "rnk")
            )
            via_cur = (
                prs.where(live & (F.col("dp") > F.col("dc")))
                .join(adj.select(F.col("src").alias("cur"), "dst", "rnk"), "cur")
                .join(
                    e2,
                    (F.col("p_src") == F.col("prev"))
                    & (F.col("p_dst") == F.col("dst")),
                )
                .select("prev", "cur", "dc", "dst", "rnk")
            )
            in_class = (
                via_prev.unionAll(via_cur)
                .where(F.col("dst") != F.col("prev"))
                .withColumn("wt", F.lit(wi).cast("long"))
            )
            # ---- return slot: cur -> prev edge, weight w_return
            ret = (
                prs.join(
                    adj.select(
                        F.col("src").alias("cur"), F.col("dst").alias("prev"), "rnk"
                    ),
                    ["cur", "prev"],
                )
                .select(
                    "prev", "cur", "dc", F.col("prev").alias("dst"), "rnk",
                    F.lit(wr).cast("long").alias("wt"),
                )
            )
            spec = in_class.unionAll(ret)
            # piecewise-linear cumsum: Ci = Σ_{special j ≤ i} (wt_j - w_out);
            # cw(k) = w_out·(k+1) + C(k) reproduces the flat mixed-rank layout
            spec = spec.select(
                "prev", "cur", "dc", "dst", "rnk", "wt",
                F.sum(F.col("wt") - F.lit(wo)).over(rnk_w).alias("ci"),
            ).select(
                "*",
                (F.lit(wo) * (F.col("rnk") + 1) + F.col("ci")).alias("cw"),
                # C_last = Σ(wt - w_out) over ALL specials — NOT max(ci): ci
                # is non-monotone whenever a class weight is below w_out
                # (e.g. the return slot at w_return < w_out)
                F.sum(F.col("wt") - F.lit(wo)).over(pair_w).alias("cm"),
            )
            spec = cs.ckpt(spec.coalesce(small))
            # decision rows: special brackets carry dst directly; segment
            # rows carry the linear offset c for k = (draw - c) div w_out
            dec_special = spec.select(
                "prev", "cur",
                (F.col("cw") - F.col("wt")).alias("lo"),
                F.col("cw").alias("hi"),
                "dst",
                F.lit(None).cast("long").alias("c"),
            )
            tot_expr = (F.lit(wo) * F.col("dc") + F.coalesce("cm", F.lit(0))).alias("tot")
            dec_seg_mid = spec.select(
                "prev", "cur",
                F.col("cw").alias("lo"),
                F.coalesce(
                    F.lead(F.col("cw") - F.col("wt")).over(rnk_w),
                    F.lit(wo) * F.col("dc") + F.col("cm"),
                ).alias("hi"),
                F.lit(None).cast("long").alias("dst"),
                F.col("ci").alias("c"),
            )
            first_lo = prs.join(
                spec.groupBy("prev", "cur").agg(
                    F.min(F.col("cw") - F.col("wt")).alias("flo")
                ),
                ["prev", "cur"],
                "left",
            )
            dec_seg_lead = first_lo.select(
                "prev", "cur",
                F.lit(0).cast("long").alias("lo"),
                F.coalesce("flo", F.lit(wo) * F.col("dc")).alias("hi"),
                F.lit(None).cast("long").alias("dst"),
                F.lit(0).cast("long").alias("c"),
            )
            decision = dec_special.unionAll(dec_seg_mid).unionAll(dec_seg_lead)
            totals = prs.join(
                spec.groupBy("prev", "cur").agg(F.max("cm").alias("cm")),
                ["prev", "cur"],
                "left",
            ).select("prev", "cur", tot_expr)
            st = state.join(totals, ["prev", "cur"], "left").withColumn(
                "draw", _step_hash(seed, "walk", t) % F.col("tot")
            )
            hit = (
                st.alias("w")
                .join(
                    decision.alias("d"),
                    (F.col("w.prev") == F.col("d.prev"))
                    & (F.col("w.cur") == F.col("d.cur"))
                    & (F.col("w.draw") >= F.col("d.lo"))
                    & (F.col("w.draw") < F.col("d.hi")),
                    "left",
                )
                .select(
                    F.col("w.walk").alias("walk"),
                    F.col("w.cur").alias("scur"),
                    F.col("d.dst").alias("sdst"),
                    F.when(
                        F.col("d.dst").isNull() & F.col("d.c").isNotNull(),
                        ((F.col("w.draw") - F.col("d.c")) / F.lit(wo)).cast("long"),
                    ).alias("k"),
                )
            )
            nxt = (
                hit.alias("h")
                .join(
                    adj.alias("a2"),
                    (F.col("h.scur") == F.col("a2.src"))
                    & (F.col("h.k") == F.col("a2.rnk")),
                    "left",
                )
                .select(
                    F.col("h.walk").alias("walk"),
                    F.col("h.scur").alias("prev"),
                    F.coalesce(
                        F.col("h.sdst"), F.col("a2.dst"), F.col("h.scur")
                    ).alias("cur"),
                )
            )
            state = cs.ckpt(nxt.coalesce(small))
            cs.free(prs, spec)
            steps.append(
                state.select("walk", F.lit(t + 1).cast("long").alias("step"), F.col("cur"))
            )
        out = steps[0]
        for s in steps[1:]:
            out = out.unionAll(s)
        return cs.keep(out.select("walk", "step", F.col("cur").alias("vertex")))


def skipgram_pairs(corpus: DataFrame, window: int = 2) -> DataFrame:
    """``(center, context, n)`` — word2vec-style training pairs from a
    walk corpus ``(walk, step, vertex)``: every ordered pair of vertices
    within ``window`` steps of each other on the same walk, counted.
    One self-equi-join on ``walk`` (bounded expansion ≤ 2·window rows
    per position) and a map-side-combinable count."""
    a = corpus.select(
        F.col("walk"), F.col("step").alias("s1"), F.col("vertex").alias("center")
    )
    b = corpus.select(
        F.col("walk"), F.col("step").alias("s2"), F.col("vertex").alias("context")
    )
    return (
        a.join(b, "walk")
        .where(
            (F.abs(F.col("s2") - F.col("s1")) <= F.lit(int(window)))
            & (F.col("s1") != F.col("s2"))
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("n"))
    )


def pmi_scores(pairs: DataFrame) -> DataFrame:
    """Pointwise-mutual-information RATIO per skip-gram pair:
    ``p(u,v) / (p(u)·p(v)) = n(u,v)·N / (n(u)·n(v))`` — the word2vec
    association statistic, kept as the raw ratio (not its log) so the
    value is exact-integer products and ONE correctly-rounded IEEE
    division, hash-reproducible across engines (``log`` is libm- and
    engine-specific; callers wanting PMI proper take the log locally).

    Input ``(center, context, n)``; output adds ``pmi_ratio``. All three
    marginal aggregates are map-side-combinable integer sums; the total
    joins back as a broadcast 1-row cross join, the marginals as
    equi-joins (AQE broadcasts them while the vocabulary is small).
    """
    tot = pairs.agg(F.sum("n").alias("_N"))
    cu = pairs.groupBy("center").agg(F.sum("n").alias("_cu"))
    cv = pairs.groupBy("context").agg(F.sum("n").alias("_cv"))
    return (
        pairs.join(cu, "center")
        .join(cv, "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            "n",
            (
                (F.col("n").cast("double") * F.col("_N").cast("double"))
                / (F.col("_cu").cast("double") * F.col("_cv").cast("double"))
            ).alias("pmi_ratio"),
        )
    )
