"""Execution-path selection: the one broadcast-vs-cluster cutover.

Every iterative family runs a driver path (``broadcast``: its state or
its edge arrays live on the driver) and a cluster path (``distributed``;
platform paths keep their own names — PageRank's ``distributed-arrow``,
ANF's ``blocks``/``packed``). :func:`resolve_mode` is the one place a
``mode`` argument is checked and ``auto`` is resolved: an unknown mode
raises ``ValueError`` naming the valid ones, and ``auto`` picks the
driver path while what that path holds fits, measured by one of

- :func:`state_fits` — one state cell per vertex and source
  (``num_vertices · sources`` ≤ :data:`BROADCAST_MAX_VERTICES`), for
  families whose driver path holds state vectors over the CSR blocks;
- :func:`edges_fit` — the edge arrays a driver path collects
  (``Graph.edges_numpy()`` or an Arrow collect; ``num_edges`` ≤
  :data:`BROADCAST_MAX_EDGES`);
- :func:`walks_fit` — the random-walk families: the collected edges and
  one md5 draw per walk and hop on the driver (``walks · hops`` ≤
  :data:`WALK_MAX_HOPS` for the DeepWalk corpus,
  :data:`HEAVY_WALK_MAX_HOPS` for node2vec and MC PPR, whose join hops
  cost more).

Both measures are lazy, so an explicit mode reads no size and a
vertex-gated family never counts edges. Family-specific measured
cutovers pass their own limit or predicate through the same call.
"""

from __future__ import annotations

from collections.abc import Callable

# MEASURED at the protocol-max graph (BENCH_SCALING.json
# `distributed-twin/ppr-supersteps*` rows, |E|=1e8): the single-host
# barrier/block path sustains ~1.1B edge-traversals/s while the
# cluster-state paths reach 51-216M on the same box, so on ONE node the
# driver path wins whenever its state fits: 1e8 f64 cells is ~0.8 GB.
BROADCAST_MAX_VERTICES = 100_000_000

# A driver path that collects (src, dst[, weight]) holds O(E) arrays;
# above this the one-off Arrow collect stops being cheap relative to
# the join path (same order of magnitude as the state-cell cutover).
BROADCAST_MAX_EDGES = 50_000_000

# Random walks: the driver path draws one md5 value per walk and hop
# through hashlib on ONE core (~0.7M/s) and holds every corpus position;
# the join samplers spread the draws over the executors but pay a job
# chain per hop. MEASURED on gnp_edges(2e5, 2e6, skew 0.1), 4 cores
# (local[4]), driver path vs join sampler, walk-hops = walks · hops:
# - random_walk_corpus, 8 hops: 3.2e6 walk-hops 7.6 s vs 18.1 s, 6.4e6
#   11.3 vs 12.3, 1.28e7 21.0 vs 18.0, 2.56e7 37.5 vs 26.8 (driver peak
#   RSS 2.0 GB). The fits cross near 8e6 on 4 cores; with unbounded
#   executors only the ~1 s per-hop chain is left and the driver path
#   still wins below ~3.6e6.
WALK_MAX_HOPS = 4_000_000
# - node2vec_corpus, 8 hops: 1.6e6 walk-hops 7.1 s vs 103.7 s (its join
#   hop is a chain of joins and windows); random_walk_ppr, 12 hops,
#   α=0.8: 9.6e6 5.4 s vs 21.4, 3.84e7 21.2 vs 45.7 (its driver path
#   draws only for live walks). Neither crossed in the measured range,
#   so their limit is the driver memory instead: a 2.5e7-position corpus
#   peaks near 2 GB.
HEAVY_WALK_MAX_HOPS = 25_000_000

PATHS = ("broadcast", "distributed")


def resolve_mode(
    mode: str,
    fits: Callable[[], bool],
    paths: tuple[str, ...] = PATHS,
    above: str | None = None,
) -> str:
    """``mode`` itself when it names one of ``paths``; for ``"auto"``,
    ``paths[0]`` (the driver path) when ``fits()``, else ``above`` (by
    default ``paths[1]``). Anything else raises ``ValueError``."""
    valid = ("auto", *paths)
    if mode not in valid:
        raise ValueError(f"unknown mode {mode!r}; expected one of {valid}")
    if mode != "auto":
        return mode
    return paths[0] if fits() else above or paths[1]


def state_fits(
    graph, sources: int = 1, limit: int = BROADCAST_MAX_VERTICES
) -> Callable[[], bool]:
    """The driver path holds ``sources`` state cells per vertex."""
    return lambda: graph.num_vertices * sources <= limit


def edges_fit(graph, limit: int = BROADCAST_MAX_EDGES) -> Callable[[], bool]:
    """The driver path collects the edge arrays."""
    return lambda: graph.num_edges <= limit


def walks_fit(
    graph,
    hops: int,
    per_vertex: int = 1,
    walks: int | None = None,
    limit: int = WALK_MAX_HOPS,
) -> Callable[[], bool]:
    """The driver walk path collects the edge arrays and draws one md5
    value per walk and hop, for ``walks`` walks (by default
    ``per_vertex`` from every vertex); a corpus also holds every walk's
    ``hops + 1`` positions."""

    def fits() -> bool:
        n = graph.num_vertices * per_vertex if walks is None else walks
        return n * hops <= limit and edges_fit(graph)()

    return fits
