"""Triangle counting — one-shot DataFrame job (north-rule algorithm).

One pure equi-join pipeline (Catalyst/AQE pick broadcast vs sort-merge
and split skewed keys): canonical low-id→high-id orientation, wedges at
the middle vertex (``a<b<c``), closing semi-join. It needs no degree
computation, and its wedge set is small whenever hub ids don't cluster
adversarially in the middle of the id range. A ``(degree, id)``
node-iterator++ orientation (wedge count ≤ O(E^{3/2}) for any id
assignment) measured slower — 14 s vs 5.8 s on the 2M-edge
powerlaw-cluster bench graph, ~5 s vs ~2 s on the transcript graph —
and was removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope
from approximate_pagerank_public_spark.plans.graph import Graph


def canonical_edges(graph: Graph) -> DataFrame:
    """Undirected simple edges oriented ``u < v`` by id, deduped."""
    e = graph.edges.select("src", "dst")
    return (
        e.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _triangles_of(e: DataFrame) -> DataFrame:
    """``(a, b, c)`` with ``a<b<c`` over an explicit canonical edge set."""
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"], "left_semi").select("a", "b", "c")


def triangle_count(graph: Graph) -> int:
    """Total number of triangles in the undirected simple graph."""
    return triangle_df(graph).count()


def triangle_df(graph: Graph) -> DataFrame:
    """``(a, b, c)`` with ``a<b<c`` (by id) — one row per triangle."""
    return _triangles_of(canonical_edges(graph))


def per_vertex_triangles(graph: Graph) -> DataFrame:
    """``(id, triangles)`` — triangles incident to each vertex."""
    t = triangle_df(graph)
    verts = (
        t.select(F.col("a").alias("id"))
        .unionAll(t.select(F.col("b").alias("id")))
        .unionAll(t.select(F.col("c").alias("id")))
    )
    return verts.groupBy("id").agg(F.count("*").alias("triangles"))


def clustering_coefficient(graph: Graph) -> DataFrame:
    """``(id, deg, triangles, lcc)`` for every graph vertex:
    ``lcc = 2·T(v) / (deg(v)·(deg(v)−1))`` on the undirected simple
    graph, 0.0 for deg < 2. T and deg are exact integers and the lcc is
    ONE IEEE division, so the value is bit-identical across engines
    (the DuckDB oracle hash-checks it without tolerance games)."""
    e = canonical_edges(graph)
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    t = per_vertex_triangles(graph)
    return (
        graph.vertices.join(deg, "id", "left")
        .join(t, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("deg"), F.lit(0)).alias("deg"),
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) >= 2,
                2.0
                * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )



def salted_wedge_pairs(
    nb: DataFrame,
    center: str = "w",
    endpoint: str = "x",
    carry: str | None = None,
    keep_center: bool = False,
) -> DataFrame:
    """Self-join a (center, endpoint) wedge list on the center vertex
    with the fan-out-safe layout. A wedge join's OUTPUT is Σ deg(w)²
    while its INPUT is one edge list — AQE's size-based coalescing sees
    only the input and folds the exchange into 1-2 tasks that then
    explode quadratically inside (measured: 812 s for 197M wedge pairs
    in 2 tasks at |V|≈2·10⁵). Counter-measures, result-invariant: salt
    the ``u`` side by hash(u), replicate the ``v`` side across the salt
    range (each (u, v) pair still meets exactly once per shared center,
    at g = hash(u)), and pin BOTH sides with an explicit
    ``repartition(P, w, g)`` the join reuses — user partitioning is
    never AQE-coalesced, and the salt also splits a mega-hub center's
    pairs across P tasks instead of one. Replication cost: the wedge
    list × P on one side — input-linear, while the win is on the
    quadratic output side.

    ``carry``: optional extra column carried from the ``u`` side (e.g.
    the RA micro-weight). Returns ``(u, v[, carry])`` with ``u < v``;
    with ``keep_center=True`` the center column is retained under its
    original name (for within-part pair mining that aggregates per
    center afterwards).
    """
    spark = nb.sparkSession
    p = max(int(spark.sparkContext.defaultParallelism), 8)
    a_cols = [F.col(endpoint).alias("u")] + ([F.col(carry)] if carry else [])
    a = nb.select(F.col(center).alias("_w"), *a_cols).withColumn(
        "_g", F.pmod(F.xxhash64("u"), F.lit(p)).cast("int")
    )
    salts = spark.range(p).select(F.col("id").cast("int").alias("_g"))
    b = nb.select(
        F.col(center).alias("_w"), F.col(endpoint).alias("v")
    ).crossJoin(F.broadcast(salts))
    joined = (
        a.repartition(p, "_w", "_g")
        .join(b.repartition(p, "_w", "_g"), ["_w", "_g"])
        .where(F.col("u") < F.col("v"))
        .drop("_g")
    )
    if keep_center:
        return joined.withColumnRenamed("_w", center)
    return joined.drop("_w")


def four_cycles_df(graph: Graph, max_wedge_degree: int | None = None) -> DataFrame:
    """One row ``(four_cycles)``: number of 4-cycles (squares) in the
    undirected simple graph, by the common-neighbor-pair identity
    ``#C4 = Σ_{a<c} C(w(a,c), 2) / 2`` with ``w`` = common-neighbor
    count of the diagonal pair — every square is seen from each of its
    two diagonals exactly once. All-integer (the final ``/4`` of
    ``Σ w·(w−1)`` is exact), so the DuckDB oracle hash-checks it.

    The wedge join enumerates Σ deg(b)² middle-vertex pairs; for
    hub-heavy graphs pass ``max_wedge_degree`` to skip middles above
    the cap (declared approximation — the Chiba–Nishizeki mitigation a
    100-TB run would pair with exact counting on the hub-free
    remainder; drops are logged)."""
    e = canonical_edges(graph)
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if max_wedge_degree is not None:
        deg = sym.groupBy("u").agg(F.count("*").alias("_d"))
        kept = deg.where(F.col("_d") <= max_wedge_degree).select("u")
        dropped = deg.where(F.col("_d") > max_wedge_degree).count()
        if dropped:
            import logging

            logging.getLogger(__name__).warning(
                "four_cycles: skipped %d wedge middles above degree cap %d",
                dropped,
                max_wedge_degree,
            )
        sym = sym.join(kept, "u", "left_semi")
    wedges = sym.select(F.col("u").alias("_m"), F.col("v").alias("_e"))
    pairs = (
        salted_wedge_pairs(wedges, center="_m", endpoint="_e")
        .groupBy(F.col("u").alias("a"), F.col("v").alias("c"))
        .agg(F.count("*").alias("w"))
    )
    return pairs.agg(
        F.expr("coalesce(sum(w * (w - 1)), 0) DIV 4").alias("four_cycles")
    )


def four_cycle_count(graph: Graph, max_wedge_degree: int | None = None) -> int:
    return four_cycles_df(graph, max_wedge_degree).first()["four_cycles"]


def four_cliques_df(graph: Graph) -> DataFrame:
    """``(a, b, c, d)`` with ``a<b<c<d`` — one row per 4-clique (K4),
    by extension joins off the id-oriented triangle list: a triangle
    ``a<b<c`` plus a fourth vertex ``d`` with all three closing edges
    present. The extension candidates come from the ``a``-side
    adjacency and the two semi-joins prune on ``(b,d)`` / ``(c,d)``
    before anything materializes — the standard distributed k-clique
    listing plan (Chiba–Nishizeki orientation bounds the join fan-out
    by Σ out(x)·tri(x), not by raw degree)."""
    e = canonical_edges(graph)
    tri = triangle_df(graph)
    ext = tri.join(e.select(F.col("u").alias("a"), F.col("v").alias("d")), "a")
    ext = ext.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("d")),
        ["b", "d"],
        "left_semi",
    )
    ext = ext.join(
        e.select(F.col("u").alias("c"), F.col("v").alias("d")),
        ["c", "d"],
        "left_semi",
    )
    return ext.select("a", "b", "c", "d")


def four_clique_count_df(graph: Graph) -> DataFrame:
    """One row ``(four_cliques)`` — exact K4 count, all-integer."""
    return four_cliques_df(graph).agg(
        F.count("*").cast("long").alias("four_cliques")
    )


def k_truss(graph: Graph, k: int = 4, max_rounds: int = 100) -> tuple[DataFrame, int]:
    """Edges of the k-truss: the maximal subgraph in which every edge
    sits in ≥ k-2 triangles OF THE SUBGRAPH (Cohen 2008) — the standard
    cohesion filter one notch stronger than k-core.

    Simultaneous peeling: each round recomputes per-edge support over
    the surviving canonical edges (same wedge-join shape as
    :func:`triangle_df`) and drops every under-supported edge at once;
    fixpoint when the edge count stops shrinking. Rounds are bounded by
    the peel depth (small in practice); every step is joins + a
    map-side-combinable count — no driver state beyond the count scalar,
    lineage truncated per round by a checkpoint scope. Returns
    ``((u, v) DataFrame, rounds)``; ``rounds`` counts support passes
    including the final no-change verification pass.
    """
    p = graph.num_partitions
    thr = int(k) - 2
    e = canonical_edges(graph)
    if thr <= 0:
        return e, 0
    with ckpt_scope(graph.spark) as cs:
        e = cs.ckpt(e.repartition(p, "u"))
        prev_n = e.count()
        rounds = 0
        while rounds < max_rounds:
            rounds += 1
            tri = _triangles_of(e)
            sup_rows = (
                tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
                .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
                .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            )
            strong = (
                sup_rows.groupBy("u", "v")
                .agg(F.count("*").alias("sup"))
                .where(F.col("sup") >= F.lit(thr))
                .select("u", "v")
            )
            kept = cs.ckpt(
                e.join(strong, ["u", "v"], "left_semi").repartition(p, "u")
            )
            n = kept.count()
            cs.free(e)
            e = kept
            if n == prev_n:
                break
            prev_n = n
        else:  # pragma: no cover — peel depth << 100 on any real graph
            import warnings

            warnings.warn(
                f"k-truss peel hit max_rounds={max_rounds} before fixpoint",
                RuntimeWarning,
                stacklevel=2,
            )
        return cs.keep(e), rounds


def truss_decomposition(
    graph: Graph, max_k: int = 100, max_rounds: int = 1000
) -> DataFrame:
    """``(u, v, trussness)`` for every canonical undirected edge —
    trussness(e) = the largest k such that e survives in the k-truss
    (Cohen 2008). The k-truss is the unique maximal subgraph, so the
    values are schedule-independent: the DuckDB oracle recomputes the
    same sets with its own unrolled peel and must agree edge-for-edge.

    Incremental peel: the (k+1)-truss is a subgraph of the k-truss, so
    each k level starts from the previous fixpoint and only ever
    shrinks — total support work is Σ_k (rounds_k × wedge volume of the
    surviving subgraph), the standard distributed truss-decomposition
    shape. Edges dropped while peeling at threshold k-2 get trussness
    k-1; the loop ends when a level's fixpoint is empty. Every step is
    the wedge join + map-side-combinable count of :func:`k_truss`;
    per-level lineage truncated by a checkpoint scope; labels accumulate
    as a lazily-unioned DataFrame collapsed per level.
    """
    p = graph.num_partitions
    with ckpt_scope(graph.spark) as cs:
        active = cs.ckpt(canonical_edges(graph).repartition(p, "u"))
        n_active = active.count()
        out: DataFrame | None = None
        k = 2
        while n_active and k < max_k:
            k += 1
            thr = k - 2
            before = active
            rounds = 0
            while rounds < max_rounds:
                rounds += 1
                tri = _triangles_of(active)
                strong = (
                    tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
                    .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
                    .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
                    .groupBy("u", "v")
                    .agg(F.count("*").alias("sup"))
                    .where(F.col("sup") >= F.lit(thr))
                    .select("u", "v")
                )
                kept = cs.ckpt(
                    active.join(strong, ["u", "v"], "left_semi").repartition(p, "u")
                )
                n = kept.count()
                if active is not before:
                    cs.free(active)
                active = kept
                if n == n_active:
                    break
                n_active = n
            dropped = before.join(active, ["u", "v"], "left_anti").select(
                "u", "v", F.lit(k - 1).cast("long").alias("trussness")
            )
            labeled = dropped if out is None else out.unionAll(dropped)
            # one collapse per k level keeps the plan depth O(1) and lets
            # the superseded label checkpoints + the pre-level edge set go
            collapsed = cs.ckpt(labeled.repartition(p, "u"))
            collapsed.count()
            cs.free(out, before)
            out = collapsed
        if out is not None:
            return cs.keep(out)
    return canonical_edges(graph).select(
        "u", "v", F.lit(2).cast("long").alias("trussness")
    ).where(F.lit(False))


def sampled_triangle_estimate(
    graph: Graph, q: int = 3, salt: str = "tri"
) -> DataFrame:
    """DOULION (Tsourakakis et al., KDD 2009) sampled triangle count:
    keep each canonical edge with probability 1/q — here DETERMINISTIC
    via md5("salt:u:v") mod q (the repo's standard replayable-sampling
    recipe), so the DuckDB oracle reproduces the exact sample — count
    triangles on the sparsified graph, scale by q³.

    One row: ``(sampled_edges, tri_sampled, est_triangles)`` — all
    BIGINT (the estimate is tri·q³, exact integer arithmetic).

    The 100-TB move: triangle counting's wedge join is the quadratic
    hot spot; sparsifying first cuts the wedge volume by ~q² and the
    join input by q while keeping the estimator unbiased (variance
    bounds in the paper). The sample predicate is a pure map over the
    edge relation — no extra shuffle before the (much smaller) count.
    """
    e = canonical_edges(graph)
    key = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(salt), F.col("u"), F.col("v"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(int(q)),
    )
    s = e.where(key == 0).persist()
    n_edges = s.count()
    n_tri = _triangles_of(s).count()
    s.unpersist()
    return graph.spark.createDataFrame(
        [(n_edges, n_tri, n_tri * q**3)],
        "sampled_edges long, tri_sampled long, est_triangles long",
    )


def edge_support(graph: Graph) -> DataFrame:
    """``(u, v, support)`` for every canonical undirected edge —
    support = number of triangles the edge lies in (the k-truss
    building block and the standard tie-strength signal). One explode
    of the wedge-bounded triangle list + a left join back to the edge
    relation (zero-support edges included)."""
    tri = triangle_df(graph)
    per_edge = (
        tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
        .groupBy("u", "v")
        .agg(F.count("*").alias("s"))
    )
    return (
        canonical_edges(graph)
        .join(per_edge, ["u", "v"], "left")
        .select("u", "v", F.coalesce("s", F.lit(0)).cast("long").alias("support"))
    )


def clique_percolation(
    graph: Graph,
    max_rounds: int = 60,
) -> DataFrame:
    """k=3 clique percolation communities (CPM — Palla, Derényi, Farkas
    & Vicsek, Nature 2005): two triangles belong to one community iff
    connected through a chain of triangles sharing an EDGE; vertices in
    no triangle belong to no community (and a vertex may sit in several
    — CPM is the classic OVERLAPPING community model). Returns one row
    per triangle ``(a, b, c, community)`` with ``community`` = the
    minimum triangle key reachable in the triangle-adjacency graph.

    Triangle keys are 60-bit md5 integers of ``'a:b:c'`` (the engine's
    portable hash family — DuckDB replays them bit-for-bit; collision
    odds 2^-60 per pair). Scale shape: the triangle-adjacency graph is
    NEVER materialized pairwise — each shared edge contributes a
    per-edge MIN-STAR (every triangle on edge e links to e's minimum
    key: component-identical to the full Σ t_e² adjacency, but LINEAR
    in the edge→triangle postings), and the component labels come from
    the pair-list CC every other caller uses
    (``components.pair_components``: union-find on the driver for small
    star sets, else the O(log n)-round large-star/small-star loop).
    """
    from .components import pair_components

    with ckpt_scope(graph.spark) as cs:
        e = canonical_edges(graph)
        tri = _triangles_of(e)
        tid = F.conv(
            F.substring(F.md5(F.concat_ws(":", "a", "b", "c")), 1, 15), 16, 10
        ).cast("long")
        # materialize the keyed triangle list ONCE — the three posting
        # branches and the final label join would otherwise re-run the
        # triangle wedge join 4x (localCheckpoint, not persist: the lineage
        # behind it is the expensive part, and the blocks are the operator's
        # own working set)
        trik = cs.ckpt(tri.withColumn("tid", tid))
        posting = (
            trik.select(F.concat_ws(":", "a", "b").alias("ek"), "tid")
            .unionAll(trik.select(F.concat_ws(":", "a", "c").alias("ek"), "tid"))
            .unionAll(trik.select(F.concat_ws(":", "b", "c").alias("ek"), "tid"))
        )
        mins = posting.groupBy("ek").agg(F.min("tid").alias("m"))
        stars = (
            posting.join(mins, "ek")
            .where(F.col("tid") != F.col("m"))
            .select(F.col("tid").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        p = max(int(e.sparkSession.sparkContext.defaultParallelism), 8)
        roots = pair_components(cs, stars, p, max_rounds=max_rounds)
        out = trik.join(roots, trik["tid"] == roots["a"], "left").select(
            trik["a"].alias("a"),
            "b",
            "c",
            F.least(F.col("tid"), F.coalesce("r", F.col("tid"))).alias("community"),
        )
        return cs.keep(out)
