"""Golden references the benchmark checks every query against.

Global PageRank, connected components, label propagation and triangles
use the engine's own NumPy goldens (``functions/golden.py``,
``operators/labelprop.py``) unchanged. Multi-source PPR uses
:class:`PprReplay`, a vectorized replay of
``functions.golden.golden_ppr`` for all sources at once: the same
update ``pr = α·Wᵀ·pr + α/N·(d·pr) + (1-α)·1[v=src]``, with the edge
sum done by ``np.add.reduceat`` over dst-sorted edges instead of
``np.add.at``, so a 10⁶-edge, 8-source query replays in about a second.
"""

from __future__ import annotations

import numpy as np

from approximate_pagerank_public_spark.functions.golden import dangling_mask_from_edges


class PprReplay:
    """Fixed-budget multi-source PPR on one edge list (``tol=0`` runs)."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, w: np.ndarray, n: int):
        order = np.argsort(dst, kind="stable")
        self.src = src[order]
        self.w = w[order][:, None]
        self.udst, self.starts = np.unique(dst[order], return_index=True)
        self.dangling = dangling_mask_from_edges(src, n)
        self.n = n

    def run(self, sources: list[int], alpha: float, iters: int) -> np.ndarray:
        """(S, N) ranks after exactly ``iters`` supersteps."""
        s = np.arange(len(sources))
        pr = np.zeros((self.n, len(sources)))
        pr[sources, s] = 1.0
        for _ in range(iters):
            new = np.zeros_like(pr)
            new[self.udst] = np.add.reduceat(pr[self.src] * self.w, self.starts, axis=0)
            new *= alpha
            new += (alpha / self.n) * pr[self.dangling].sum(axis=0)
            new[sources, s] += 1.0 - alpha
            pr = new
        return pr.T


def symmetrized(src: np.ndarray, dst: np.ndarray, n: int):
    """``Graph.undirected()`` in NumPy: both directions, no self-loops,
    deduplicated, weight 1/outdeg — the input ``golden_label_propagation``
    expects."""
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    keep = a != b
    code = np.unique(a[keep] * n + b[keep])
    s2, d2 = code // n, code % n
    w2 = 1.0 / np.bincount(s2, minlength=n)[s2]
    return s2, d2, w2


def skipgram_pairs_per_walk(walk_length: int, window: int) -> int:
    """Ordered (center, context) position pairs on one walk of
    ``walk_length`` hops (``walk_length + 1`` positions)."""
    return sum(2 * (walk_length + 1 - d) for d in range(1, window + 1) if d <= walk_length)
