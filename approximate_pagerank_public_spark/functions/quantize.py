"""Reduced-precision fixed-point emulation — the reference's core
approximation axis.

The FPGA computes in ``ap_ufixed<26,1,AP_TRN_ZERO>`` (26 total bits,
1 integer bit, truncate-toward-zero; ``csc_fpga.hpp:8-11,44``) and the
benchmark sweeps 20-26 bits vs float32 vs CPU float64
(``plot_errors.py``, ``plot_exec_time.py:260-270``). The engine
computes in f64 by default; these helpers reproduce the precision study
by quantizing values to the same grid.

``ap_ufixed<W,1>`` has ``W-1`` fractional bits and truncates toward
zero: q(x) = floor(x · 2^(W-1)) / 2^(W-1), clamped to [0, 2).
"""

from __future__ import annotations

import numpy as np


def quantize_np(x: np.ndarray, total_bits: int = 26, int_bits: int = 1) -> np.ndarray:
    frac = total_bits - int_bits
    scale = float(2**frac)
    hi = float(2**int_bits)
    return np.floor(np.clip(x, 0.0, hi - 1.0 / scale) * scale) / scale


def quantized_pagerank(graph, total_bits: int = 26, **kwargs):
    """PageRank with rank-state quantization after every superstep —
    emulating the kernel's fixed-point accumulate/write-back. Returns
    the usual PageRankResult; compare with the f64 run via
    ``functions.metrics.evaluate_ranking`` for the accuracy-vs-bits
    study (reference protocol, ``build/hw/run.py`` + ``plot_errors.py``).

    Implemented as the ``post_superstep`` hook of ``_run_broadcast`` —
    applied inside BOTH the gang-scheduled barrier loop (each task
    quantizes its own row range after the K4 add, before the error
    partials) and the per-superstep fallback, so quantization is active
    on every execution path and bit-identical between them.
    """
    import functools

    from approximate_pagerank_public_spark.operators.pagerank import (
        _run_broadcast,
    )

    hook = functools.partial(quantize_np, total_bits=total_bits)
    return _run_broadcast(
        graph,
        kwargs.get("alpha", 0.8),
        kwargs.get("tol", 0.0),
        kwargs.get("max_iter", 100),
        kwargs.get("sources"),
        None,
        1,
        False,
        post_superstep=hook,
    )
