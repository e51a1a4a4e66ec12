"""SimRank structural similarity (Jeh & Widom, KDD 2002).

``s(a,b) = C / (|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i,j)`` with
``s(v,v) = 1`` — "two objects are similar if they are referenced by
similar objects". The reference repo stops at PageRank-family scores;
SimRank extends the link-analysis family with a pairwise similarity the
LLM-pipeline side uses for related-entity retrieval.

Determinism contract (mirrors the PageRank unrolled-CTE oracle):
iteration 1 is EXACT — ``s1(a,b) = C·|I(a)∩I(b)| / (dᵃ·dᵇ)``, an
integer count and one pinned ``(C·t)/(dᵃ·dᵇ)`` division. Later
iterations sum doubles inside ONE aggregate per pair (unordered, ulp
noise only) and apply the same pinned projection, so after the
contract's 1e-6 truncation both engines agree — the identical
argument (and test evidence) as ``_pagerank_fixed_oracle``.

Scale shape, stated honestly: ALL-PAIRS SimRank is Θ(V²) state by
definition — no partitioning trick removes that. This operator keeps
only the NONZERO pairs (sparse state, symmetric half + implicit unit
diagonal), expands through two edge equi-joins per iteration (never a
cartesian), and is intended for moderate vertex counts (entity
vocabularies, not raw documents); the established 100-TB path is the
Monte-Carlo estimator over reverse walks (Fogaras & Rácz, WWW 2005),
whose deterministic walk machinery lives in ``operators/randomwalk.py``.
Iterations rotate state through a ``ckpt_scope`` (the leak rule in
``plans/checkpoint.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.checkpoint import ckpt_scope
from ..plans.modes import resolve_mode

#: beyond this vertex count the exact Θ(V²)-pair iteration is gated off:
#: `simrank` raises unless the caller either forces mode='exact' or
#: passes candidate `pairs` for the MC estimator.
EXACT_MAX_VERTICES = 200_000


def simrank(
    edges: DataFrame,
    iters: int = 3,
    c: float = 0.8,
    src_col: str = "src",
    dst_col: str = "dst",
    mode: str = "auto",
    pairs: DataFrame | None = None,
    num_fingerprints: int = 24,
    seed: str = "srmc",
) -> DataFrame:
    """Nonzero off-diagonal SimRank scores ``(a, b, s)`` with ``a < b``
    after ``iters`` iterations from the unit-diagonal start.

    ``mode``: ``'exact'`` runs the sparse pairwise iteration (Θ(V²)
    worst-case pair state — moderate vertex counts only); ``'mc'`` runs
    the Fogaras–Rácz coupled-reverse-walk estimator over the supplied
    candidate ``pairs`` (see :func:`simrank_mc` — the 100-TB path);
    ``'auto'`` picks mc whenever ``pairs`` is given, else exact — but
    RAISES beyond :data:`EXACT_MAX_VERTICES` vertices instead of
    launching an all-pairs computation that cannot finish at scale.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    spark = edges.sparkSession
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    din = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("d"))
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    mode = resolve_mode(
        mode,
        lambda: pairs is None and verts.count() <= EXACT_MAX_VERTICES,
        ("exact", "mc"),
    )
    if mode == "mc":
        if pairs is None:
            raise ValueError(
                "mode='mc' needs candidate `pairs` (a, b); `auto` picks it for"
                f" graphs beyond the exact-path gate ({EXACT_MAX_VERTICES}"
                " vertices) — force mode='exact' if you really want Θ(V²)"
                " pair state"
            )
        return simrank_mc(
            edges,
            pairs,
            iters=iters,
            c=c,
            num_fingerprints=num_fingerprints,
            seed=seed,
            src_col=src_col,
            dst_col=dst_col,
        )

    def _project(counts: DataFrame) -> DataFrame:
        # pinned association: (C · t) / (dᵃ·dᵇ) — integers exact, one division
        da = din.select(F.col("id").alias("a"), F.col("d").alias("_da"))
        db = din.select(F.col("id").alias("b"), F.col("d").alias("_db"))
        return (
            counts.join(da, "a")
            .join(db, "b")
            .select(
                "a",
                "b",
                (
                    (F.lit(float(c)) * F.col("t"))
                    / (F.col("_da") * F.col("_db")).cast("double")
                ).alias("s"),
            )
        )

    with ckpt_scope(spark) as cs:
        ea = e.select(F.col("src").alias("_i"), F.col("dst").alias("a"))
        eb = e.select(F.col("src").alias("_j"), F.col("dst").alias("b"))

        # iteration 1: common in-neighbors (the diag-only start, exact ints)
        c1 = (
            e.alias("x")
            .join(e.alias("y"), F.col("x.src") == F.col("y.src"))
            .where(F.col("x.dst") < F.col("y.dst"))
            .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
            .agg(F.count("*").cast("double").alias("t"))
        )
        p = cs.ckpt(_project(c1))
        for _ in range(iters - 1):
            sym = (
                p.select(F.col("a").alias("_i"), F.col("b").alias("_j"), "s")
                .union(p.select(F.col("b").alias("_i"), F.col("a").alias("_j"), "s"))
                .union(
                    verts.select(
                        F.col("id").alias("_i"),
                        F.col("id").alias("_j"),
                        F.lit(1.0).alias("s"),
                    )
                )
            )
            cexp = (
                sym.join(ea, "_i")
                .join(eb, "_j")
                .where(F.col("a") < F.col("b"))
                .groupBy("a", "b")
                .agg(F.sum("s").alias("t"))
            )
            nxt = cs.ckpt(_project(cexp))
            cs.free(p)
            p = nxt
        return cs.keep(p)


def simrank_mc(
    edges: DataFrame,
    pairs: DataFrame,
    iters: int = 5,
    c: float = 0.8,
    num_fingerprints: int = 24,
    seed: str = "srmc",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Monte-Carlo SimRank over candidate ``pairs`` — the scale path
    (Fogaras & Rácz, "Scaling link-based similarity search", WWW 2005).

    ``s(a,b) = E[c^τ]`` where τ is the first-meeting step of two COUPLED
    uniform reverse random walks started at a and b: at step t every
    walk standing on vertex v draws the SAME in-neighbor
    ``md5(seed:l:t:v) % indeg(v)`` (the draw is a function of the
    fingerprint l, the step and the VERTEX — not the walk — so walks
    that meet coalesce and never separate, exactly the paper's coupling).
    A walk on a vertex with no in-neighbors halts and its pair scores 0
    for that fingerprint (matching exact SimRank's s=0 when either side
    has no in-neighbors). The estimate averages ``num_fingerprints``
    independent fingerprints.

    Determinism contract: the md5 draw is replayed verbatim by the
    DuckDB oracle (60-bit ``conv(substr(md5(...),1,15),16,10)`` — the
    ``operators/randomwalk.py`` recipe), and per-fingerprint scores are
    quantized to INTEGER micro-units (``round(c^τ·10⁶)``, literals
    precomputed driver-side so no cross-engine ``pow``) BEFORE the
    cross-fingerprint sum — the ANF micro-unit discipline, making the
    final division the only float op and bit-identical in both engines.

    Scale shape: state is ``|pairs|·L`` rows; each step costs two
    1:1 equi-joins against the ranked in-adjacency — the in-degree is
    pre-joined so the rank is computed on the STATE side and the
    neighbor join matches on (vertex, rank) exactly: no per-hub
    fan-out, no residual join predicate. Lineage rotates through a
    checkpoint scope, which also unpersists the cached in-adjacency
    (the last step is always checkpointed, so the result never reads
    it). The one skewed shape is the per-dst ranking window at BUILD
    time (hub in-degrees funnel
    into single partitions for that one pass — same accepted shape as
    ``randomwalk.ranked_adjacency``, paid once, not per step).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if num_fingerprints < 1:
        raise ValueError("num_fingerprints must be >= 1")
    spark = edges.sparkSession
    ls = int(num_fingerprints)

    with ckpt_scope(spark) as cs:
        e = edges.select(
            F.col(src_col).alias("nb"), F.col(dst_col).alias("v")
        ).distinct()
        # ranked in-adjacency: in-neighbors of v indexed 0..ind-1 in nb order
        wv = Window.partitionBy("v").orderBy("nb")
        ia = (
            e.withColumn("rnk", F.row_number().over(wv) - 1)
            .withColumn("ind", F.count("*").over(Window.partitionBy("v")))
            .persist()
        )
        cs.callback(ia.unpersist)
        ind = ia.select("v", "ind").distinct()

        p = (
            pairs.select(F.col("a").cast("long"), F.col("b").cast("long"))
            .where(F.col("a") < F.col("b"))
            .distinct()
        )
        state = (
            p.crossJoin(spark.range(ls).select(F.col("id").alias("l")))
            .select(
                "a",
                "b",
                "l",
                F.col("a").alias("ca"),
                F.col("b").alias("cb"),
                F.lit(False).alias("dead"),
                F.lit(None).cast("int").alias("tau"),
            )
        )
        state = cs.ckpt(state)

        def _pick(cur: str, t: int) -> F.Column:
            """rank drawn on the state side: md5(seed:l:t:cur) % ind."""
            payload = F.concat_ws(
                ":", F.lit(seed), F.col("l"), F.lit(str(t)), F.col(cur)
            )
            return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")

        for t in range(1, iters + 1):
            act = F.col("tau").isNull() & ~F.col("dead")
            s0 = (
                state.join(
                    ind.select(F.col("v").alias("ca"), F.col("ind").alias("_ia")),
                    "ca",
                    "left",
                )
                .join(
                    ind.select(F.col("v").alias("cb"), F.col("ind").alias("_ib")),
                    "cb",
                    "left",
                )
                .withColumn("_ra", _pick("ca", t) % F.col("_ia"))
                .withColumn("_rb", _pick("cb", t) % F.col("_ib"))
            )
            s1 = (
                s0.join(
                    ia.select(
                        F.col("v").alias("ca"),
                        F.col("rnk").alias("_ra"),
                        F.col("nb").alias("_na"),
                    ),
                    ["ca", "_ra"],
                    "left",
                )
                .join(
                    ia.select(
                        F.col("v").alias("cb"),
                        F.col("rnk").alias("_rb"),
                        F.col("nb").alias("_nb"),
                    ),
                    ["cb", "_rb"],
                    "left",
                )
            )
            both = F.col("_na").isNotNull() & F.col("_nb").isNotNull()
            met = act & both & (F.col("_na") == F.col("_nb"))
            nxt = s1.select(
                "a",
                "b",
                "l",
                F.when(act & both, F.col("_na")).otherwise(F.col("ca")).alias("ca"),
                F.when(act & both, F.col("_nb")).otherwise(F.col("cb")).alias("cb"),
                (F.col("dead") | (act & ~both)).alias("dead"),
                F.coalesce(
                    F.col("tau"), F.when(met, F.lit(t).cast("int"))
                ).alias("tau"),
            )
            if t % _MC_CKPT_EVERY == 0 or t == iters:
                nxt = cs.ckpt(nxt)
                cs.free(state)
            state = nxt

        # integer micro-unit score table, computed driver-side (no libm pow
        # in either engine): tau -> round(c^tau * 1e6)
        table = {t: int(round((c**t) * 1e6)) for t in range(1, iters + 1)}
        score = F.lit(0)
        for t, v in table.items():
            score = F.when(F.col("tau") == t, F.lit(v)).otherwise(score)
        out = (
            state.withColumn("_sc", score.cast("long"))
            .groupBy("a", "b")
            .agg(F.sum("_sc").alias("_t"))
            .select(
                "a",
                "b",
                (F.col("_t") / F.lit(float(ls) * 1e6)).alias("s"),
            )
        )
        return cs.keep(out)


_MC_CKPT_EVERY = 2  # two joins per step double the per-step lineage depth
