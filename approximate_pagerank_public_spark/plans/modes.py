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
  :data:`BROADCAST_MAX_EDGES`).

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
