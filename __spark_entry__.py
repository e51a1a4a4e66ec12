"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (top-20 PageRank over the
sf0.001 transcript-derived graph). ``queries()`` exposes every
implemented operator; ``oracle_sql()`` provides DuckDB-equivalent SQL
for the SQL-expressible subset (iterative/hash-dependent ops get the
weaker rows-only check).

All float aggregates are rounded to 6 dp on BOTH sides so the driver's
value-hash compares stably across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _stable6(col) -> F.Column:
    """Truncate a double to 6 dp via floor — unlike round(), floor has no
    half-way ties, so identical input doubles give identical outputs in
    Spark and DuckDB (the driver compares value-hashes exactly)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(1000000.0)) / F.lit(1000000.0)


# ----------------------------------------------------------------- helpers
# Cross-query cache: the driver runs all ~80 queries() entries in one
# session, and ~half of them start from the same transcripts→edges→Graph
# pipeline. Rebuilding the Graph (ETL jobs + CSR block store) per query
# roughly doubled the contract's wall clock at r3 — which is why the
# driver's CORRECTNESS_r03 record ran out of budget at 50/78. Keyed by
# (sf_dir, Spark applicationId) so a fresh session never sees another
# session's DataFrames; entries are tiny at contract scale (sf0.01).
_Q_CACHE: dict = {}


def _q_cached(spark: SparkSession, sf_dir: str, what: str, build):
    key = (what, sf_dir, spark.sparkContext.applicationId)
    if key not in _Q_CACHE:
        _Q_CACHE[key] = build()
    return _Q_CACHE[key]


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.sources.transcripts import (
        transcripts_from_events,
    )

    def build():
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        return transcripts_from_events(events)

    return _q_cached(spark, sf_dir, "transcripts", build)


def _graph(spark: SparkSession, sf_dir: str):
    from approximate_pagerank_public_spark.plans.graph import Graph

    return _q_cached(
        spark,
        sf_dir,
        "graph",
        lambda: Graph.from_transcripts(
            _transcripts(spark, sf_dir), num_partitions=16
        ),
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the cached Graph's canonical edge relation (dst-hash layout,
    # persisted once) — NOT a fresh build_edge_table pass per query
    return _graph(spark, sf_dir).edges


def _scc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(id, scc)`` shared by scc / scc_condensation / critical_path
    (one SCC pass per session, localCheckpoint-materialized)."""
    from approximate_pagerank_public_spark.operators.scc import (
        strongly_connected_components,
    )

    return _q_cached(
        spark,
        sf_dir,
        "scc_labels",
        lambda: strongly_connected_components(_graph(spark, sf_dir))
        .select("id", "scc")
        .localCheckpoint(),
    )


def _walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DeepWalk corpus shared by random_walks / skipgram /
    skipgram_pmi (identical parameters) — materialized once."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        random_walk_corpus,
    )

    def build():
        g = _graph(spark, sf_dir)
        return random_walk_corpus(
            g, walks_per_vertex=1, walk_length=4, seed="rw"
        ).localCheckpoint()

    return _q_cached(spark, sf_dir, "walk_corpus", build)


# DuckDB-side CTE prefix: transcripts + edges derived from the events view
def _duck_transcripts_cte() -> str:
    from approximate_pagerank_public_spark.sources.transcripts import (
        transcripts_from_events_sql,
    )

    return transcripts_from_events_sql("duckdb")


def _duck_edges_sql() -> str:
    from approximate_pagerank_public_spark.operators.etl import EDGES_SQL_TEMPLATE

    return EDGES_SQL_TEMPLATE.format(SRC=f"({_duck_transcripts_cte()})")


def _duck_bridges_ctes(e_sql: str) -> str:
    """Shared CTE chain (for a ``WITH RECURSIVE`` header) replaying
    ``operators/biconnect.py`` verbatim: min-label CC roots → BFS
    forest levels → min-parent tree → md5-60bit non-tree values →
    per-vertex ``bit_xor`` incidence → subtree XOR via the descendant
    closure → ``br`` = tree edges with signature 0."""
    # non-recursive CTEs MATERIALIZED (repo invariant: DuckDB inlines
    # plain CTEs, and re-inlining the recursive subtrees downstream
    # blows up evaluation combinatorially)
    return (
        # explicit DISTINCT: inside WITH RECURSIVE, DuckDB compiles a
        # top-level-UNION CTE as a (non-self-referencing) recursive CTE
        # and the UNION degrades to UNION ALL (measured: 2452 vs 2396
        # rows) — min-label consumers don't care, XOR/count consumers do
        f"e AS MATERIALIZED ({e_sql}), "
        "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "  (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)), "
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und), "
        "r(id, lbl) AS (SELECT id, id FROM verts "
        "  UNION SELECT und.dst, r.lbl FROM r JOIN und ON r.id = und.src), "
        "comp AS MATERIALIZED "
        "  (SELECT id, min(lbl) AS component FROM r GROUP BY id), "
        "lr(id, d) AS (SELECT component, 0 FROM "
        "  (SELECT DISTINCT component FROM comp) "
        "  UNION SELECT und.dst, lr.d + 1 FROM lr "
        "  JOIN und ON lr.id = und.src WHERE lr.d < 300), "
        # loud-fail guard: a BFS level at the recursion cap means deeper
        # vertices were silently truncated — error() instead of a wrong
        # bridge set (levels are contiguous, so depth>300 always puts a
        # vertex exactly at 300)
        "lv AS MATERIALIZED (SELECT id, CASE WHEN min(d) >= 300 THEN "
        "  CAST(error('bridges oracle: BFS depth cap (300) reached') "
        "  AS BIGINT) ELSE min(d) END AS lvl FROM lr GROUP BY id), "
        "tree AS MATERIALIZED "
        "  (SELECT u.dst AS id, min(u.src) AS parent FROM und u "
        "  JOIN lv la ON la.id = u.src JOIN lv lb ON lb.id = u.dst "
        "  WHERE la.lvl = lb.lvl - 1 GROUP BY u.dst), "
        "pairs AS MATERIALIZED "
        "  (SELECT src AS a, dst AS b FROM und WHERE src < dst), "
        # NOT EXISTS, not EXCEPT: DuckDB refuses set-op CTE bodies
        # inside a WITH RECURSIVE list
        "nt AS MATERIALIZED (SELECT p.a, p.b FROM pairs p WHERE NOT EXISTS "
        "  (SELECT 1 FROM tree t WHERE least(t.id, t.parent) = p.a "
        "   AND greatest(t.id, t.parent) = p.b)), "
        "h AS MATERIALIZED (SELECT a, b, CAST('0x' || substr(md5('br:' || "
        "  CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 15) "
        "  AS BIGINT) AS hv FROM nt), "
        "wv AS MATERIALIZED (SELECT id, bit_xor(hv) AS w FROM "
        "  (SELECT a AS id, hv FROM h UNION ALL SELECT b AS id, hv FROM h) "
        "  GROUP BY id), "
        "dsc(anc, x) AS (SELECT id, id FROM verts "
        "  UNION SELECT d.anc, t.id FROM dsc d JOIN tree t ON t.parent = d.x), "
        "sig AS MATERIALIZED "
        "  (SELECT d.anc AS id, bit_xor(coalesce(w.w, 0)) AS sig "
        "  FROM dsc d LEFT JOIN wv w ON w.id = d.x GROUP BY d.anc), "
        "br AS MATERIALIZED (SELECT least(t.id, t.parent) AS a, "
        "  greatest(t.id, t.parent) AS b "
        "  FROM tree t JOIN sig s ON s.id = t.id WHERE s.sig = 0)"
    )


def _duck_vertices_sql() -> str:
    from approximate_pagerank_public_spark.operators.etl import VERTICES_SQL_TEMPLATE

    return VERTICES_SQL_TEMPLATE.format(SRC=f"({_duck_transcripts_cte()})")


def _duck_decayed_edges_sql() -> str:
    from approximate_pagerank_public_spark.operators.temporal import (
        DECAYED_EDGES_SQL_TEMPLATE,
    )

    return DECAYED_EDGES_SQL_TEMPLATE.format(SRC=f"({_duck_transcripts_cte()})")


# --------------------------------------------- convergence replay (oracle)
_REPLAY_CACHE: dict = {}


def _oracle_sf_dir() -> str:
    """The sf dir the driver compares at (same candidate order as
    ``_emb_dim`` — the contract gives ``oracle_sql()`` no sf_dir)."""
    import os

    for d in ("/root/testdata/sf0.01", "/root/testdata/sf0.001"):
        if os.path.exists(f"{d}/events.parquet"):
            return d
    return "/root/testdata/sf0.01"


def _duck_edge_arrays(sf_dir: str):
    """(src, dst, weight, n) materialized from the oracle's own edge SQL
    (DuckDB over the events parquet) — so the replay below iterates over
    exactly the edge table the unrolled-CTE oracles will see."""
    import numpy as np

    key = ("edges", sf_dir)
    if key not in _REPLAY_CACHE:
        import duckdb

        con = duckdb.connect()
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        )
        t = con.sql(_duck_edges_sql()).fetchnumpy()
        src = t["src"].astype(np.int64)
        dst = t["dst"].astype(np.int64)
        w = t["weight"].astype(np.float64)
        n = int(max(src.max(), dst.max())) + 1
        _REPLAY_CACHE[key] = (src, dst, w, n)
    return _REPLAY_CACHE[key]


def _replay_convergent_iters(
    sources: list[int] | None,
    alpha: float = 0.8,
    tol: float = 1e-6,
    max_iter: int = 100,
    sf_dir: str | None = None,
) -> int:
    """Replay the engine's power iteration to find the convergent
    iteration count K for the unrolled-CTE oracles.

    The stop scalars are path-deterministic by design (CLAUDE.md
    invariant): L1 error reduces through the same fixed 16k-row chunk
    partials as both engine paths (``plans/reduction.py``), so the K
    found here matches the engine's ``res.iterations`` (asserted by
    ``tests/test_contract_oracles.py``). The per-dst gather association
    differs harmlessly — the L1-vs-tol decision has ~1e-10 slack."""
    import numpy as np

    from approximate_pagerank_public_spark.plans.reduction import (
        dang_partials,
        err_partials,
        n_chunks,
    )

    src, dst, w, n = _duck_edge_arrays(sf_dir or _oracle_sf_dir())
    dang_mask = np.ones(n, dtype=bool)
    dang_mask[src] = False
    dang_idx = np.flatnonzero(dang_mask)
    if sources is None:
        pr = np.full((1, n), 1.0 / n, dtype=np.float64)
    else:
        pr = np.zeros((len(sources), n), dtype=np.float64)
        pr[np.arange(len(sources)), sources] = 1.0
    s = pr.shape[0]
    nc = n_chunks(n)
    err = np.zeros((nc, s))
    sq = np.zeros((nc, s))
    db = np.zeros((nc, s))
    dang_partials(pr, dang_idx, n, 0, nc, db)
    d = db.sum(axis=0)
    wv = w
    for it in range(1, max_iter + 1):
        contrib = np.zeros_like(pr)
        for i in range(s):
            np.add.at(contrib[i], dst, wv * pr[i, src])
        new = alpha * contrib + (alpha / n) * d[:, None]
        if sources is None:
            new += (1.0 - alpha) / n
        else:
            new[np.arange(s), list(sources)] += 1.0 - alpha
        err_partials(new, pr, n, 0, nc, err, sq)
        pr = new
        dang_partials(pr, dang_idx, n, 0, nc, db)
        d = db.sum(axis=0)
        if err.sum(axis=0).max() <= tol:
            return it
    return max_iter


def _replay_push_rounds(
    source: int = 0,
    alpha: float = 0.8,
    eps: float = 1e-5,
    max_rounds: int = 200,
    sf_dir: str | None = None,
) -> int:
    """Synchronous forward-push round count over the oracle's own edge
    table (``operators/push.py`` semantics, NumPy replay — the rounds
    are deterministic because every above-threshold vertex pushes
    simultaneously)."""
    import numpy as np

    sf = sf_dir or _oracle_sf_dir()
    key = ("push_rounds", sf, source, alpha, eps)
    if key not in _REPLAY_CACHE:
        src, dst, w, n = _duck_edge_arrays(sf)
        outdeg = np.zeros(n, dtype=np.int64)
        np.add.at(outdeg, src, 1)
        thresh = eps * np.maximum(outdeg, 1)
        dangling = outdeg == 0
        r = np.zeros(n)
        r[source] = 1.0
        rounds = 0
        for rounds in range(1, max_rounds + 1):
            mask = r > thresh
            if not mask.any():
                rounds -= 1
                break
            sel = mask[src]
            pushed = np.zeros(n)
            np.add.at(pushed, dst[sel], alpha * r[src[sel]] * w[sel])
            r_new = pushed + r * ~mask
            r_new[source] += alpha * float(r[mask & dangling].sum())
            r = r_new
        _REPLAY_CACHE[key] = rounds
    return _REPLAY_CACHE[key]


def _replay_sssp_rounds(source: int = 0, sf_dir: str | None = None) -> int:
    """Min-plus Bellman-Ford fixpoint round count over the oracle's own
    edge table — the unrolled-CTE depth for the sssp oracle. Extra
    rounds past fixpoint are idempotent, so this K is exact-or-safe."""
    import numpy as np

    sf = sf_dir or _oracle_sf_dir()
    key = ("sssp_rounds", sf, source)
    if key not in _REPLAY_CACHE:
        src, dst, w, _n = _duck_edge_arrays(sf)
        n = _n
        d = np.full(n, np.inf)
        d[source] = 0.0
        rounds = 0
        while True:
            cand = d.copy()
            np.minimum.at(cand, dst, d[src] + w)
            rounds += 1
            if np.array_equal(cand, d):
                break
            d = cand
        _REPLAY_CACHE[key] = rounds
    return _REPLAY_CACHE[key]


def _replay_bfs_levels(source: int, sf_dir: str | None = None) -> int:
    """Max BFS level from ``source`` over the oracle's own edge table —
    the unroll depth for the stress-centrality sweeps."""
    import numpy as np

    sf = sf_dir or _oracle_sf_dir()
    key = ("bfs_levels", sf, source)
    if key not in _REPLAY_CACHE:
        src, dst, _w, n = _duck_edge_arrays(sf)
        dist = np.full(n, -1, dtype=np.int64)
        dist[source] = 0
        lvl = 0
        frontier = np.array([source], dtype=np.int64)
        while True:
            mask = np.isin(src, frontier)
            nxt = np.unique(dst[mask])
            nxt = nxt[dist[nxt] == -1]
            if not len(nxt):
                break
            lvl += 1
            dist[nxt] = lvl
            frontier = nxt
        _REPLAY_CACHE[key] = lvl
    return _REPLAY_CACHE[key]


# ------------------------------------------------------------------- entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: top-20 PageRank entities of the sf0.001 transcript graph."""
    from approximate_pagerank_public_spark.operators.pagerank import pagerank

    g = _graph(spark, SF_SMOKE)
    res = pagerank(g, alpha=0.8, tol=1e-6, max_iter=100)
    ranks = res.ranks()  # (id, rank)
    out = (
        ranks.join(g.vertex_names, "id")
        .orderBy(F.col("rank").desc(), F.col("id").desc())
        .limit(20)
        .select("id", "entity", F.round("rank", 6).alias("rank"))
    )
    return out


# ----------------------------------------------------------------- queries
def q_transcript_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


def q_edge_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _edges(spark, sf_dir).select(
        "src", "dst", _stable6("weight").alias("weight")
    )


def q_out_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    return e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("outdeg"))


def q_dangling_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    dsts = e.select(F.col("dst").alias("id")).distinct()
    srcs = e.select(F.col("src").alias("id")).distinct()
    return dsts.join(srcs, "id", "left_anti")


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    return deg.groupBy("outdeg").agg(F.count("*").alias("n_vertices"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.triangles import triangle_df
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    t = triangle_df(g)
    return t.agg(F.count("*").alias("n_triangles"))


def q_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support (the k-truss building block) — exact
    integers off the wedge-bounded triangle list, zero-support edges
    included."""
    from approximate_pagerank_public_spark.operators.triangles import (
        edge_support,
    )

    g = _graph(spark, sf_dir)
    return edge_support(g)


def q_sampled_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sparsify-then-count triangle estimate (KDD'09):
    deterministic md5 edge sample at p=1/3, triangles on the sample,
    estimate = tri·27 — all BIGINT, the oracle reproduces the exact
    sample and joins."""
    from approximate_pagerank_public_spark.operators.triangles import (
        sampled_triangle_estimate,
    )

    g = _graph(spark, sf_dir)
    return sampled_triangle_estimate(g, q=3)


def q_four_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle (square) count by the common-neighbor-pair identity —
    all-integer, hash-exact vs the DuckDB wedge-join replay."""
    from approximate_pagerank_public_spark.operators.triangles import four_cycles_df
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return four_cycles_df(g)


def q_four_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact K4 count by extension joins off the oriented triangle
    list (operators/triangles.py::four_clique_count_df) — all-integer,
    hash-exact vs the DuckDB 4-way join replay."""
    from approximate_pagerank_public_spark.operators.triangles import (
        four_clique_count_df,
    )

    g = _graph(spark, sf_dir)
    return four_clique_count_df(g)


def q_top_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return (
        t.where(F.col("role") == "tool")
        .groupBy("tool")
        .agg(F.count("*").alias("n_calls"))
        .orderBy(F.col("n_calls").desc(), F.col("tool"))
        .limit(10)
    )


def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("n_tool_turns"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


def q_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: convergent PageRank (tol=1e-6), top-20 entities.

    Ordering uses the 1e-6-TRUNCATED rank (ties → higher id, reference
    ``sort_pr``, ``evaluation_utils.hpp:17-39``) so the top-20 cut is
    identical in both engines; the oracle replays the convergent
    iteration count (path-deterministic stop scalars) as an unrolled
    CTE chain."""
    from approximate_pagerank_public_spark.operators.pagerank import pagerank

    g = _graph(spark, sf_dir)
    res = pagerank(g)
    return (
        res.ranks()
        .join(g.vertex_names, "id")
        .select("id", "entity", _stable6("rank").alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("id").desc())
        .limit(20)
    )


def q_pagerank_fixed8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 8-iteration PageRank (the reference's iteration-budget
    approximation knob, FPGA default max_iter=6 — options.hpp:20) over
    the transcript graph — oracle-checked against an 8x-unrolled CTE
    chain in DuckDB with matching fp association."""
    from approximate_pagerank_public_spark.operators.pagerank import pagerank

    g = _graph(spark, sf_dir)
    res = pagerank(g, alpha=0.8, tol=0.0, max_iter=8)
    return res.ranks().select("id", _stable6("rank").alias("rank"))


def q_pagerank_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (warm-start) PageRank — the streaming-recompute
    primitive: 8 fixed iterations on a deterministic edge SUBSET
    (``(src*31 + dst) % 5 != 0``, out-degree weights recomputed on the
    subset, full vertex universe kept), then 4 warm iterations on the
    FULL graph starting from those ranks (``init_ranks``). Replayed in
    DuckDB as one continuous 12-deep unrolled CTE chain that switches
    edge tables (and dangling sets) at the hand-off."""
    from pyspark.sql.window import Window

    from approximate_pagerank_public_spark.operators.pagerank import pagerank
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    sub = g.edges.where(((F.col("src") * 31 + F.col("dst")) % 5) != 0).select(
        "src", "dst"
    )
    sub_w = sub.withColumn(
        "weight", F.lit(1.0) / F.count("*").over(Window.partitionBy("src"))
    )
    g_sub = Graph(sub_w, num_vertices=g.num_vertices, num_partitions=16)
    r1 = pagerank(g_sub, alpha=0.8, tol=0.0, max_iter=8)
    r2 = pagerank(g, alpha=0.8, tol=0.0, max_iter=4, init_ranks=r1.ranks())
    return r2.ranks().select("id", _stable6("rank").alias("rank"))


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 8 fixed power iterations (Kleinberg) —
    oracle-checked against an unrolled CTE chain that replays the exact
    fp association (raw per-vertex sums → one global L2 norm → divide;
    operators/hits.py)."""
    from approximate_pagerank_public_spark.operators.hits import hits

    g = _graph(spark, sf_dir)
    res = hits(g, max_iter=8)
    return res.scores().select(
        "id",
        _stable6("hub").alias("hub"),
        _stable6("authority").alias("authority"),
    )


def q_mc_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo random-walk PPR from vertex 0: 256 md5-derandomized
    α-terminated walks, endpoint estimator (operators/randomwalk.py) —
    the walk ensemble is bit-reproducible, so the oracle replays every
    hop in SQL."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        random_walk_ppr,
    )

    g = _graph(spark, sf_dir)
    res = random_walk_ppr(
        g, 0, num_walks=256, walk_length=12, alpha=0.8, seed="mc"
    )
    return res.endpoints().select(
        "id", "endpoints", _stable6("ppr_hat").alias("ppr_hat")
    )


def q_ppr_push(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-push approximate PPR from vertex 0 (Andersen–Chung–Lang,
    synchronous rounds; operators/push.py) — the oracle replays the
    round count over its own edge table and unrolls every push round
    in SQL, checking approximation AND residual per vertex."""
    from approximate_pagerank_public_spark.operators.push import approx_ppr_push

    g = _graph(spark, sf_dir)
    res = approx_ppr_push(g, 0, alpha=0.8, eps=1e-5, max_rounds=200)
    return res.state().select(
        "id", _stable6("p").alias("p_hat"), _stable6("r").alias("residual")
    )


def q_sweep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank-Nibble local clustering (ACL'06): forward-push from
    vertex 0, sweep the support by truncated p/deg, exact integer
    cut/volume per prefix and micro-unit conductance — the certified
    local-cluster readout of the approximate-PageRank family."""
    from approximate_pagerank_public_spark.operators.push import (
        approx_ppr_push,
        sweep_cut,
    )

    g = _graph(spark, sf_dir)
    res = approx_ppr_push(g, 0, alpha=0.8, eps=1e-5, max_rounds=200)
    return sweep_cut(g, res.state().select("id", "p"), k_max=20)


def q_ppr_fixed8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 8-iteration personalized PageRank from vertex 0
    (reference K10, ``gold_algorithms.hpp:105-140``: teleport mass goes
    only to the source) — oracle-checked like pagerank_fixed8."""
    from approximate_pagerank_public_spark.operators.pagerank import (
        personalized_pagerank,
    )

    g = _graph(spark, sf_dir)
    res = personalized_pagerank(g, 0, alpha=0.8, tol=0.0, max_iter=8)
    ranks = res.ranks()
    col = "rank_0" if "rank_0" in ranks.columns else "rank"
    return ranks.select("id", _stable6(col).alias("rank"))


def q_ppr_norm_off(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 8-iteration PPR with the reference's norm=false
    (ppr.gm:14-16): dangling mass NOT redistributed — oracle-checked
    against the unrolled CTE chain with the dangling term dropped."""
    from approximate_pagerank_public_spark.operators.pagerank import (
        personalized_pagerank,
    )

    g = _graph(spark, sf_dir)
    res = personalized_pagerank(
        g, 0, alpha=0.8, tol=0.0, max_iter=8, dangling_norm=False
    )
    ranks = res.ranks()
    col = "rank_0" if "rank_0" in ranks.columns else "rank"
    return ranks.select("id", _stable6(col).alias("rank"))


def q_multi_ppr_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-source batched PPR to convergence (worst-source L1 ≤ 1e-6),
    top-10 per source on the truncated rank, ties → higher id
    (``sort_pr``). ``pos`` keeps the ranking order hash-checked."""
    import numpy as np
    import pandas as pd

    from approximate_pagerank_public_spark.operators.pagerank import multi_ppr

    g = _graph(spark, sf_dir)
    sources = list(range(min(8, g.num_vertices)))
    res = multi_ppr(g, sources)
    rows = []
    for i, s in enumerate(sources):
        r = res.rank_vector(i)
        rt = np.floor(r * 1e6) / 1e6
        order = np.lexsort((-np.arange(len(rt)), -rt))[:10]
        for pos, vid in enumerate(order, start=1):
            rows.append((s, pos, int(vid)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "pos", "vertex"]),
        "source long, pos long, vertex long",
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.components import (
        connected_components,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return connected_components(g).select("id", "component")


def q_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on the distributed path, the
    large-star/small-star O(log n) alternation — same labels as the
    broadcast min-prop, same recursive-CTE oracle."""
    from approximate_pagerank_public_spark.operators.components import (
        connected_components,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return connected_components(g, mode="distributed").select("id", "component")


def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.components import (
        component_sizes,
        connected_components,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return component_sizes(connected_components(g)).orderBy("component")


#: the full transcript graph is hub-dense and 2-edge-connected
#: everywhere (zero bridges — a vacuous check), so the biconnectivity
#: queries run on a deterministic ~25% spanning subgraph that mixes
#: pendant trees and cycles (49 bridges / 303 pairs at sf0.01)
_BRIDGE_EDGE_COND = "(src * 131 + dst) % 8 < 2"


def _bridge_subgraph(spark: SparkSession, sf_dir: str):
    """Sparse subgraph shared by bridges/two_edge_components — ONE
    Graph build per session (the two queries otherwise pay it twice).
    The cached Graph stays persisted for the session; the contract
    session is short-lived, so no unpersist bookkeeping."""
    from approximate_pagerank_public_spark.plans.graph import Graph

    def build():
        g = _graph(spark, sf_dir)
        e2 = g.edges.where(F.expr(_BRIDGE_EDGE_COND))
        return (
            Graph(
                e2, num_vertices=g.num_vertices, num_partitions=g.num_partitions
            ),
            e2,
        )

    return _q_cached(spark, sf_dir, "bridge_subgraph", build)


def q_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge edges via cycle-space XOR sampling (Pritchard &
    Thurimella) over the deterministic BFS forest — the md5 chain is
    replayed verbatim by the oracle (recursive-CTE forest + descendant
    closure + bit_xor)."""
    from approximate_pagerank_public_spark.operators.biconnect import bridges

    g2, _e2 = _bridge_subgraph(spark, sf_dir)
    return bridges(g2).orderBy("a", "b")


def q_two_edge_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-edge-connected component labels: star-CC over the non-bridge
    pair list; bridge-only vertices are singletons (restricted to the
    subgraph's non-isolated vertices — the oracle's vertex universe)."""
    from approximate_pagerank_public_spark.operators.biconnect import (
        two_edge_components,
    )

    g2, e2 = _bridge_subgraph(spark, sf_dir)
    verts_in = (
        e2.select(F.col("src").alias("id"))
        .union(e2.select(F.col("dst").alias("id")))
        .distinct()
    )
    return (
        two_edge_components(g2)
        .join(verts_in, "id")
        .select("id", "component")
    )


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie census of the directed link graph: CORE (largest
    SCC, ties → smaller label), OUT, IN, TENDRIL (incl. tubes),
    DISCONNECTED — one SCC pass + two reach passes + one weak-CC pass
    composed into a codegen'd CASE."""
    from approximate_pagerank_public_spark.operators.scc import (
        bowtie_decomposition,
    )

    g = _graph(spark, sf_dir)
    return bowtie_decomposition(g).select("id", "cls")


def q_attack_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Albert–Barabási targeted-attack robustness curve: giant weak
    component size after removing the top-k highest-degree hubs,
    k ∈ {0,1,4,16}."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        attack_tolerance,
    )

    g = _graph(spark, sf_dir)
    return attack_tolerance(g).orderBy("k")


def q_random_failure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-failure percolation curve (giant component vs fraction
    of surviving edges, md5-deterministic sampling) — the
    attack_tolerance contrast."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        random_failure_curve,
    )

    g = _graph(spark, sf_dir)
    return random_failure_curve(g).orderBy("keep_pct")


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating ANN quality: per-query hit count (and recall)
    of the LSH top-5 against the exact cosine top-5 — both pipelines
    already oracled; this composes them."""
    exact = q_cosine_topk(spark, sf_dir).select("query_id", "vec_id")
    lsh = q_ann_lsh_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        exact.join(lsh, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    qids = exact.select("query_id").distinct()
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        _stable6(F.coalesce("hits", F.lit(0)).cast("double") / F.lit(5.0)).alias(
            "recall"
        ),
    )


def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest path (in edges) ending at each SCC-condensation node —
    max-plus frontier relaxation over the condensation DAG (rounds =
    DAG depth); the overall max is the graph's critical path length."""
    from approximate_pagerank_public_spark.operators.scc import (
        dag_longest_path,
    )

    g = _graph(spark, sf_dir)
    labels = _scc_labels(spark, sf_dir)
    e = g.edges.select("src", "dst")
    ce = (
        e.join(labels.select(F.col("id").alias("src"), F.col("scc").alias("s1")), "src")
        .join(labels.select(F.col("id").alias("dst"), F.col("scc").alias("s2")), "dst")
        .where(F.col("s1") != F.col("s2"))
        .select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
        .distinct()
    )
    nodes = labels.select(F.col("scc").alias("id")).distinct()
    return (
        dag_longest_path(ce, nodes)
        .select(F.col("id").alias("scc"), "longest")
        .orderBy("scc")
    )


def q_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection (k=5) over the
    3-gram shingle universe — submodular greedy, unrolled-round
    oracle."""
    from approximate_pagerank_public_spark.operators.curation import (
        max_coverage_docs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return max_coverage_docs(docs, k=5)


def q_euler_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Eulerian feasibility summary (odd-degree count +
    non-isolated component count ⇒ circuit/path booleans)."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        euler_check,
    )

    g = _graph(spark, sf_dir)
    return euler_check(g)


def q_hitting_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-walk hitting probability of `tool:tool_error` (with
    `role:system` as a competing absorber), 8 Jacobi rounds — the
    pagerank_fixed8 determinism convention, unrolled-CTE oracle."""
    from approximate_pagerank_public_spark.operators.absorbing import (
        hitting_probability,
    )

    g = _graph(spark, sf_dir)
    names = g.vertex_names
    t = [int(r["id"]) for r in names.where(
        F.col("entity") == "tool:tool_error").collect()]
    a = [int(r["id"]) for r in names.where(
        F.col("entity") == "role:system").collect()]
    res = hitting_probability(g, t, a, iters=8)
    return res.select("id", _stable6("p").alias("p"))


def q_seeded_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation from 5 clamped seed vertices
    (ids 0-4, label = id), 4 synchronous rounds — same exact-rational
    vote arithmetic as label_propagation, unrolled-CTE oracle."""
    from approximate_pagerank_public_spark.operators.labelprop import (
        seeded_label_propagation,
    )

    g = _graph(spark, sf_dir)
    seeds = g.vertices.select("id").where(F.col("id") < 5).select(
        "id", F.col("id").alias("label")
    )
    return seeded_label_propagation(g, seeds, rounds=4)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.labelprop import label_propagation
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return label_propagation(g, max_iter=5).select("id", "label")


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four synchronous Louvain local-move rounds (modularity-gain
    argmax with the gain compared in ALL-INTEGER form, ties → stay,
    then smaller label) — replayed by an unrolled CTE oracle with no
    floating point anywhere, so the labels are hash-exact."""
    from approximate_pagerank_public_spark.operators.labelprop import louvain_rounds

    g = _graph(spark, sf_dir)
    return louvain_rounds(g, rounds=4).select("id", "label")


def q_louvain_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Louvain level step: 2 fine local-move rounds, integer
    contraction into a weighted community multigraph, 2 coarse rounds
    over it, projection back — every quantity an integer edge count,
    so the unrolled two-phase CTE oracle replays it bit-exactly."""
    from approximate_pagerank_public_spark.operators.labelprop import (
        louvain_multilevel,
    )

    g = _graph(spark, sf_dir)
    return louvain_multilevel(g, fine_rounds=2, coarse_rounds=2).select(
        "id", "label"
    )


def q_community_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-level multigraph contraction of the LPA-5 partition —
    the multilevel coarsening step; replayed over the unrolled-LPA
    oracle chain (all integers ⇒ hash-exact)."""
    from approximate_pagerank_public_spark.operators.labelprop import (
        contract_communities,
        label_propagation,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    labels = label_propagation(g, max_iter=5)
    return contract_communities(g, labels)


def q_bfs_from_min_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.traversal import bfs
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return bfs(g, 0).select("id", F.col("dist").cast("long").alias("dist"))


def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.traversal import eccentricity
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return eccentricity(g, [0]).select("source", F.col("ecc").cast("long").alias("ecc"))


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style fixed-length walk corpus (1 walk/vertex, 4 hops),
    md5-derandomized — every hop replayed verbatim by the SQL oracle."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        random_walk_corpus,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    return _walk_corpus(spark, sf_dir)


def q_approx_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound from vertex 0 (farthest-vertex
    tie-break = smallest id, so the oracle replays the pick exactly)."""
    from approximate_pagerank_public_spark.operators.traversal import (
        approx_diameter,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return approx_diameter(g, 0)


def q_widest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottleneck (widest-path) capacities from vertex 0 over the
    max-min semiring — caps are pure least/greatest selections of the
    1/outdeg weights (no accumulation), stable6-truncated on both
    sides; the oracle is a recursive CTE whose state is bounded by
    |V| × distinct weights."""
    from approximate_pagerank_public_spark.operators.traversal import (
        widest_path,
    )

    g = _graph(spark, sf_dir)
    return widest_path(g, 0).select("id", _stable6("cap").alias("cap"))


def q_exact_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT diameter (iFUB, Crescenzi et al. 2013) of the undirected
    component containing the max-degree vertex (ties → smallest id).
    The engine examines BFS-tree fringes by descending root distance
    with batched multi-source eccentricity sweeps; the oracle computes
    the true all-pairs diameter of the same component independently —
    iFUB is exact for any root, so the values must agree."""
    from approximate_pagerank_public_spark.operators.traversal import (
        exact_diameter,
    )

    g = _graph(spark, sf_dir)
    return exact_diameter(g)


def q_fbfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference fbfs (fbfs.gm): visit-counter-gated prop/dist writes,
    deterministic (level, id) visit order — fully oracle-checked."""
    from approximate_pagerank_public_spark.operators.traversal import filtered_bfs
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return filtered_bfs(g, 0).select("id", "dist", "prop")


STRESS_SOURCES = [0, 1, 2, 3]


def q_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stress centrality (# shortest paths through v) from 4 fixed
    pivot sources (Brandes-Pich sampled protocol) — all-integer
    two-sweep accumulation, replayed level-for-level in SQL."""
    from approximate_pagerank_public_spark.operators.centrality import (
        stress_centrality,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return stress_centrality(g, STRESS_SOURCES).select("id", "stress")


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness (δ accumulation) from the same 4 pivot
    sources as ``q_stress``. NO oracle_sql entry — documented reason:
    δ sums float divisions (σ(v)/σ(w)) across DAG edges whose
    accumulation association is the engine's tiled backward gather; a
    SQL re-aggregation orders the sums differently, so even truncated
    values can straddle a 1e-6 floor boundary. The driver records the
    rows+schema check; VALUE correctness is pinned engine-side by
    ``tests/test_centrality.py`` against a pure-Python Brandes golden
    (allclose 1e-12), and the integer-exact twin statistic (stress) is
    hash-checked by ``q_stress``."""
    from approximate_pagerank_public_spark.operators.centrality import (
        betweenness_centrality,
    )

    g = _graph(spark, sf_dir)
    return betweenness_centrality(g, STRESS_SOURCES).select(
        "id", _stable6("betweenness").alias("betweenness")
    )


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-in degree assortativity (Newman 2002) — exact integer sums,
    final value one sqrt-product division, hash-exact."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        degree_assortativity,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return degree_assortativity(g).select(
        "m", _stable6("assortativity").alias("assortativity")
    )


def q_type_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-type mixing matrix + Newman attribute assortativity —
    exact integer counts, one IEEE division (_stable6-truncated)."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        type_mixing,
    )

    g = _graph(spark, sf_dir)
    out = type_mixing(g)
    return out.select(
        "src_type", "dst_type", "edges", _stable6("r").alias("r")
    )


def q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the total-degree distribution — exact
    histogram arithmetic, one IEEE division, stable6-truncated."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        degree_gini,
    )

    g = _graph(spark, sf_dir)
    out = degree_gini(g)
    return out.select("n", "total_degree", _stable6("gini").alias("gini"))


def q_avg_nbr_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed knn (Barrat 2004): per-vertex mean out-degree of
    out-neighbors — exact BIGINT sums, avg is one IEEE division."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        avg_neighbor_degree,
    )

    g = _graph(spark, sf_dir)
    return avg_neighbor_degree(g).select(
        "id", "deg", "nbr_deg_sum", _stable6("avg_nbr_deg").alias("avg_nbr_deg")
    )


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity r = L↔/L (Garlaschelli 2004) — exact counts,
    ratio is one IEEE division."""
    from approximate_pagerank_public_spark.operators.graphstats import reciprocity

    g = _graph(spark, sf_dir)
    return reciprocity(g).select(
        "m", "reciprocal", _stable6("reciprocity").alias("reciprocity")
    )


def q_triad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davis-Leinhardt 16-class directed triad census — exact integer
    counts via the Batagelj-Mrvar wedge + closed-form split; the oracle
    is an INDEPENDENT brute-force all-triples formulation."""
    from approximate_pagerank_public_spark.operators.triads import triad_census

    g = _graph(spark, sf_dir)
    return triad_census(g)


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient 3T/W — T and W exact BIGINTs, one
    IEEE division, bit-identical across engines (no truncation)."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        global_transitivity,
    )

    g = _graph(spark, sf_dir)
    return global_transitivity(g).select("n_triangles", "wedges", "transitivity")


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) for every degree threshold present
    (Zhou & Mondragón 2004) — exact-integer club sizes/edges, phi one
    IEEE division."""
    from approximate_pagerank_public_spark.operators.graphstats import rich_club

    g = _graph(spark, sf_dir)
    return rich_club(g).select("k", "n_k", "e_k", "phi")


def q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round Weisfeiler-Lehman color refinement (hashed-multiset,
    hub-safe) — 60-bit integer colors, hash-exact; the oracle unrolls
    the identical md5 chain (operators/wlhash.py)."""
    from approximate_pagerank_public_spark.operators.wlhash import wl_refinement

    g = _graph(spark, sf_dir)
    return wl_refinement(g, rounds=3).select("id", "wl")


def q_wl_graph_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-graph WL fingerprint: md5 over the canonical (sorted)
    color histogram of the 3-round refinement — the standard
    graph-isomorphism-invariant signature for corpus-level graph dedup
    / drift detection. Deterministic via array_sort (collect_list
    order never reaches the hash)."""
    from approximate_pagerank_public_spark.operators.wlhash import wl_refinement

    g = _graph(spark, sf_dir)
    hist = wl_refinement(g, rounds=3).groupBy("wl").agg(
        F.count("*").alias("c")
    )
    arr = hist.agg(
        F.array_sort(F.collect_list(F.struct("wl", "c"))).alias("a"),
        F.count("*").alias("n_colors"),
        F.sum("c").alias("n_vertices"),
    )
    canon = F.concat_ws(
        "|",
        F.transform(
            "a",
            lambda s: F.concat_ws(
                ":", s["wl"].cast("string"), s["c"].cast("string")
            ),
        ),
    )
    return arr.select(
        F.md5(canon).alias("graph_hash"),
        F.col("n_colors").cast("long"),
        F.col("n_vertices").cast("long"),
    )


def q_degree_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust hub detection: |deg − median| > max(3·MAD, 1) over total
    degree — exact integer medians via the histogram/cumsum quantile
    trick; the crawl-hygiene gate before ranking."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        degree_outliers,
    )

    g = _graph(spark, sf_dir)
    return degree_outliers(g)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA-5 communities — integer-numerator
    single-division form, replayed over the same unrolled-LPA oracle."""
    from approximate_pagerank_public_spark.operators.graphstats import modularity
    from approximate_pagerank_public_spark.operators.labelprop import (
        label_propagation,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    labels = label_propagation(g, max_iter=5)
    return modularity(g, labels).select(
        "n_communities", _stable6("modularity").alias("modularity")
    )


def q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance φ = cut/min(vol, 2m−vol) of the LPA-5
    partition — integer cut/vol counts, one IEEE division, replayed
    over the same unrolled-LPA oracle chain."""
    from approximate_pagerank_public_spark.operators.graphstats import (
        community_conductance,
    )
    from approximate_pagerank_public_spark.operators.labelprop import (
        label_propagation,
    )

    g = _graph(spark, sf_dir)
    labels = label_propagation(g, max_iter=5)
    return community_conductance(g, labels).select(
        "label", "vol", "cut", _stable6("conductance").alias("conductance")
    )


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components on the DIRECTED transcript graph
    (conversational feedback loops); label = min vertex id per SCC.
    Oracle: transitive closure (recursive CTE) — min mutually-reachable
    id. Integer labels propagated by min ⇒ hash-exact."""
    return _scc_labels(spark, sf_dir)


def q_sssp_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted min-plus shortest paths over the 1/outdeg edge weights
    from source 0 — Bellman-Ford rounds, reached vertices only. Oracle:
    the same rounds unrolled as min-plus CTEs (min is fp-order-free and
    each candidate is one IEEE add, so values are bit-identical)."""
    from approximate_pagerank_public_spark.operators.sssp import sssp
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return sssp(g, 0).select("id", _stable6("dist").alias("dist"))


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-text estimate per role next to
    the exact count — md5-derived registers, exact power-of-two register
    sum (≤41 mantissa bits), ONE division ⇒ the DuckDB oracle replays it
    register-for-register, hash-exact."""
    from approximate_pagerank_public_spark.functions.sketch import (
        approx_distinct_hll,
    )

    t = _transcripts(spark, sf_dir)
    approx = approx_distinct_hll(t, ["role"], "text")
    exact = t.groupBy("role").agg(
        F.countDistinct("text").alias("exact_distinct")
    )
    return approx.join(exact, "role").select(
        "role", _stable6("approx_distinct").alias("approx_distinct"), "exact_distinct"
    )


def q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch algebra over events: distinct click users, purchase
    users, their union (register-max merge — exact for HLL) and the
    inclusion-exclusion intersection — all replayed register-for-
    register by the oracle, stable6-truncated."""
    from approximate_pagerank_public_spark.functions.sketch import hll_set_ops

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hll_set_ops(ev, "user_id", "event_type", "click", "purchase")
    return out.select(
        _stable6("d_a").alias("d_a"),
        _stable6("d_b").alias("d_b"),
        _stable6("d_union").alias("d_union"),
        _stable6("d_intersect").alias("d_intersect"),
    )


def q_anf_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall approximate neighborhood function NF(0..4) over
    out-balls — md5 HLL registers with tabulated linear-counting
    correction, per-vertex estimates truncated to exact micro-units so
    the cross-vertex sum is order-free; the oracle replays the registers
    over an unrolled 4-hop reachability CTE."""
    from approximate_pagerank_public_spark.operators.anf import anf_hyperball

    g = _graph(spark, sf_dir)
    return anf_hyperball(g, rounds=4).neighborhood_function()


def q_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF effective diameter (Palmer et al. 2002 readout): smallest
    round r with NF(r) ≥ 0.9·NF(4) over the HyperBall neighborhood
    function — one IEEE multiply over exact integer micro-unit sums."""
    from approximate_pagerank_public_spark.operators.anf import anf_hyperball

    g = _graph(spark, sf_dir)
    return anf_hyperball(g, rounds=4).effective_diameter_df(q=0.9)


def q_mean_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF mean-distance readout: Σ r·ΔNF(r) / Σ ΔNF(r) over the
    HyperBall neighborhood function — integer micro-unit deltas, one
    IEEE division (_stable6-truncated)."""
    from approximate_pagerank_public_spark.operators.anf import anf_hyperball

    g = _graph(spark, sf_dir)
    out = anf_hyperball(g, rounds=4).mean_distance_df()
    return out.select(
        _stable6("mean_dist").alias("mean_dist"), "reach_pairs_micro"
    )


def q_hyperball_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall geometric centrality (Boldi–Vigna 2013): approximate
    harmonic centrality for ALL vertices from the per-round ball deltas
    — all-integer (micro-units × lcm(1..4) weights, clamped deltas);
    top-20, ties → smaller id. The exact operator needs one BFS per
    source; this needs 4 supersteps total."""
    from approximate_pagerank_public_spark.operators.anf import (
        hyperball_harmonic,
    )

    g = _graph(spark, sf_dir)
    return (
        hyperball_harmonic(g, rounds=4)
        .orderBy(F.col("h_micro_lcm").desc(), F.col("id").asc())
        .limit(20)
    )


def q_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG: the directed graph with SCCs contracted to
    single nodes — ``(scc_src, scc_dst, n_edges)`` per cross-component
    edge class. Two broadcast-sized label joins over the edge relation;
    self-pairs dropped (those are the intra-SCC edges)."""
    g = _graph(spark, sf_dir)
    labels = _scc_labels(spark, sf_dir)
    e = g.edges.select("src", "dst")
    return (
        e.join(labels.select(F.col("id").alias("src"), F.col("scc").alias("scc_src")), "src")
        .join(labels.select(F.col("id").alias("dst"), F.col("scc").alias("scc_dst")), "dst")
        .where(F.col("scc_src") != F.col("scc_dst"))
        .groupBy("scc_src", "scc_dst")
        .agg(F.count("*").alias("n_edges"))
    )


def q_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest (distributed Borůvka / Kruskal golden —
    unique under the (w, u, v) total order). Oracle: unrolled Borůvka
    rounds with recursive-CTE merges, identical edge set."""
    from approximate_pagerank_public_spark.operators.msf import (
        minimum_spanning_forest,
    )

    g = _graph(spark, sf_dir)
    msf = minimum_spanning_forest(g)
    return msf.select("u", "v", _stable6("w").alias("wt"))


def q_maximal_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic maximal matching (Israeli–Itai rounds, md5 edge
    priorities): an edge matches iff it is the min-priority active edge
    at BOTH endpoints. Oracle unrolls the identical rounds (gate graph
    empties in 2; 6 unrolled for margin — extra rounds idempotent)."""
    from approximate_pagerank_public_spark.operators.matching import (
        maximal_matching,
    )

    g = _graph(spark, sf_dir)
    return maximal_matching(g)


def q_affinity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affinity clustering (Bateni et al. 2017): labels after 2 Borůvka
    rounds — MSF-based hierarchical clustering at MapReduce scale;
    oracle = the same unrolled-Borůvka chain read at l2."""
    from approximate_pagerank_public_spark.operators.msf import affinity_clusters

    g = _graph(spark, sf_dir)
    return affinity_clusters(g, rounds=2)


def q_landmark_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark distance sketches (Potamias et al. CIKM'09): top-4
    in-degree landmarks (ties → smaller id), batched multi-source BFS
    forward + on the reversed graph, min-plus upper-bound estimates for
    all ordered pairs over ids 0..7; unreachable ⇒ -1. Oracle replays
    the pick, both sweeps (recursive CTEs), and the combine."""
    from approximate_pagerank_public_spark.operators.landmarks import (
        landmark_distance_estimates,
    )

    g = _graph(spark, sf_dir)
    ids = list(range(8))
    pairs = (
        spark.createDataFrame([(u, v) for u in ids for v in ids if u != v], "u long, v long")
    )
    return landmark_distance_estimates(g, pairs, k=4)


def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded stream-stream join (batch twin of the watermarked
    streaming interval join): every (click, purchase) pair of the same
    user with the purchase 1 µs – 1 h after the click; gap as exact
    BIGINT µs. One equi-shuffle on user_id, band predicate on the join."""
    from approximate_pagerank_public_spark.operators.events import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min inner-product join-cardinality estimate (CM'05 §4.2)
    for clicks ⋈ purchases on user_id, exact size side-by-side — the
    planner primitive that avoids shuffling either table by the key."""
    from approximate_pagerank_public_spark.functions.sketch import (
        cms_join_size_estimate,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cms_join_size_estimate(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        "user_id",
    )


def q_snm_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández & Stolfo 1995):
    within each 2-char key-prefix block, docs sort by (normalized key,
    doc_id) and pair with the next w−1=2 neighbors via lead() — the
    sort-based complement of the MinHash/LSH blockers. Windows are
    PARTITIONED by the prefix block so the sort is partition-parallel
    (no global single-partition window); cross-block misses are the
    standard SNM blocking trade. Pure window plan — no join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql.window import Window

    key = F.substring(
        F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")), 1, 12
    )
    ranked = docs.select("doc_id", key.alias("k")).withColumn(
        "blk", F.substring("k", 1, 2)
    )
    w_ = Window.partitionBy("blk").orderBy(F.col("k"), F.col("doc_id"))
    pairs = None
    for gap in (1, 2):
        p = ranked.select(
            F.col("doc_id").alias("a"),
            F.lead("doc_id", gap).over(w_).alias("b"),
            F.lit(gap).cast("long").alias("rank_gap"),
        ).where(F.col("b").isNotNull())
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-filter: md5-split the corpus
    50/50 (last md5 hex digit of doc_id < '8'), build an m=2048/k=3
    filter over train texts, probe every eval doc — bloom_hit next to
    exact membership, so the hash check pins both the bit construction
    and the (deliberately nonzero) false-positive behavior."""
    from approximate_pagerank_public_spark.functions.bloom import (
        bloom_build,
        bloom_probe,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1) < F.lit("8")
    train = docs.where(is_train)
    ev = docs.where(~is_train)
    bits = bloom_build(train, "text", m=2048, k=3)
    hits = bloom_probe(bits, ev, "text", m=2048, k=3)
    exact = (
        train.select(F.col("text").alias("value"))
        .distinct()
        .withColumn("_ex", F.lit(1))
    )
    return (
        ev.select("doc_id", F.col("text").alias("value"))
        .join(hits, "value")
        .join(exact, "value", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.col("_ex").isNotNull().alias("exact_hit"),
        )
    )


def q_hrw_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash placement of every document onto 8 shards plus
    the per-shard load — assignment is a pure projection (no shuffle);
    the oracle replays the integer argmax code-for-code."""
    from approximate_pagerank_public_spark.functions.sharding import hrw_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assigned = hrw_assign(docs.select("doc_id"), "doc_id", 8)
    return assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


def q_hourly_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed cardinality: per origin-anchored hour window, the HLL
    distinct-user estimate next to the exact count — the streaming-
    rollup shape composed with the replayable sketch."""
    from approximate_pagerank_public_spark.functions.sketch import (
        approx_distinct_hll,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t0 = ev.agg(F.min("ts").alias("_t0"))
    b = ev.crossJoin(F.broadcast(t0)).select(
        F.expr("timestampdiff(MICROSECOND, _t0, ts) div 3600000000").alias(
            "window_idx"
        ),
        # md5 of the DECIMAL STRING on both engines (Spark md5 of a raw
        # BIGINT would hash the 8-byte binary instead)
        F.col("user_id").cast("string").alias("uid"),
    )
    approx = approx_distinct_hll(b, ["window_idx"], "uid")
    exact = b.groupBy("window_idx").agg(
        F.countDistinct("uid").alias("exact_users")
    )
    return approx.join(exact, "window_idx").select(
        "window_idx",
        _stable6("approx_distinct").alias("approx_users"),
        "exact_users",
    )


def q_exact_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup exercised on a column with real collisions (events.props)."""
    from approximate_pagerank_public_spark.operators.dedup import exact_duplicates

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return exact_duplicates(ev, id_col="event_id", text_col="props").withColumnRenamed(
        "doc_id", "event_id"
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.dedup import exact_duplicates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_duplicates(docs).select("dup_group", "doc_id")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.textstats import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_count(docs)


def q_doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p95/p99 of document whitespace-token counts —
    histogram + cumsum selection, every output column an exact BIGINT
    (functions/quantiles.py)."""
    from approximate_pagerank_public_spark.functions.quantiles import (
        exact_int_quantiles,
    )
    from approximate_pagerank_public_spark.operators.textstats import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_int_quantiles(token_count(docs), "n_ws_tokens")


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus vocabulary (lowercased whitespace tokens) —
    explode + hash agg; shuffle volume = distinct tokens."""
    from approximate_pagerank_public_spark.operators.textstats import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, k=50)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 6 BPE merge rules (Sennrich et al. 2016) learned over the
    corpus vocabulary — exact integer pair counts, (count desc, left
    asc, right asc) argmax each round; the oracle unrolls every round
    as a CTE (pair count → argmax → literal string replace)."""
    from approximate_pagerank_public_spark.operators.bpe import bpe_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_merges(docs, n_merges=6)


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary words segmented by the 6 learned BPE merges —
    the encode side: the same replace chain applied as a pure
    projection."""
    from approximate_pagerank_public_spark.operators.bpe import bpe_segment

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_segment(docs, n_merges=6, top_words=50)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate vs the corpus top-10 vocabulary
    (operators/textstats.py::oov_rate) — broadcast vocab join, integer
    counts, stable6 rate."""
    from approximate_pagerank_public_spark.operators.textstats import oov_rate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = oov_rate(docs, k=10)
    return r.select(
        "doc_id", "n_tok", "n_oov", _stable6("oov_rate").alias("oov_rate")
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.textstats import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_score(docs).select(
        "doc_id",
        _stable6("len_score").alias("len_score"),
        _stable6("punct_ratio").alias("punct_ratio"),
        _stable6("stopword_ratio").alias("stopword_ratio"),
        _stable6("quality").alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.textstats import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id(docs).select("doc_id", "lang_pred")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.textstats import fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint(docs, method="md5")


def q_per_vertex_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.triangles import (
        per_vertex_triangles,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return per_vertex_triangles(g)


def q_kcore3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the transcript graph (simultaneous-removal peel;
    operators/kcore.py) — the oracle unrolls the replay-computed round
    count; extra rounds are idempotent, so the unroll is exact."""
    from approximate_pagerank_public_spark.operators.kcore import k_core
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return k_core(g, 3).subgraph_vertices()


def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-peel densest subgraph (Bahmani et al. 2012, 1+eps = 9/8;
    operators/densest.py) — all-integer rounds, the oracle unrolls the
    replay-computed round count and best round verbatim."""
    from approximate_pagerank_public_spark.operators.densest import (
        densest_subgraph,
    )

    g = _graph(spark, sf_dir)
    return densest_subgraph(g).memberships()


def q_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness of every vertex via the H-index iteration (Lü et al.
    2016; operators/kcore.py) — integer-valued, hash-exact."""
    from approximate_pagerank_public_spark.operators.kcore import core_numbers
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return core_numbers(g).core_numbers()


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient: 2T/(d(d-1)) — T and d exact ints,
    one IEEE division, bit-identical across engines (no truncation)."""
    from approximate_pagerank_public_spark.operators.triangles import (
        clustering_coefficient,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return clustering_coefficient(g)



def q_spectral_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second eigenvector of the normalized adjacency (deflated power
    iteration, 8 rounds) over the entity graph — the spectral
    bisection/clustering primitive; u = sqrt(degree) deflation is
    closed-form, so there's no first-eigenvector phase to replay."""
    from approximate_pagerank_public_spark.operators.spectral import (
        normalized_fiedler,
    )

    r = normalized_fiedler(_edges(spark, sf_dir), iters=8)
    return r.select("id", _stable6("f").alias("f"))


def q_simrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 SimRank pairs (3 iterations, C=0.8) over the entity graph
    — iteration 1 is exact integers + one pinned division; later sums
    ride the pagerank-oracle ulp argument; cut by (stable6 s desc, a,
    b) on both sides."""
    from approximate_pagerank_public_spark.operators.simrank import simrank

    r = simrank(_edges(spark, sf_dir), iters=3, c=0.8)
    s6 = _stable6("s").alias("s")
    return (
        r.select("a", "b", s6)
        .orderBy(F.col("s").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(50)
    )


def q_simrank_mc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fogaras–Rácz MC SimRank (the Θ(V²)-free scale mode,
    ``operators/simrank.py::simrank_mc``) over all 120 pairs of the 16
    smallest cited entities: 16 coupled-reverse-walk fingerprints × 4
    steps, md5 draws keyed on (fingerprint, step, VERTEX) so walks
    coalesce, per-fingerprint scores in integer micro-units before the
    cross-fingerprint sum — the oracle replays every hop verbatim."""
    from approximate_pagerank_public_spark.operators.simrank import simrank

    e = _edges(spark, sf_dir)
    cand = (
        e.select(F.col("dst").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(16)  # k-sized global sort — bounded by construction
    )
    pairs = (
        cand.select(F.col("id").alias("a"))
        .crossJoin(cand.select(F.col("id").alias("b")))
        .where(F.col("a") < F.col("b"))
    )
    r = simrank(
        e, iters=4, c=0.8, mode="mc", pairs=pairs, num_fingerprints=16
    )
    return r.select("a", "b", _stable6("s").alias("s"))


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over non-adjacent pairs
    (operators/linkpred.py). Oracled columns are exact ints + one IEEE
    division (jaccard); the Adamic–Adar sum stays engine-side (libm ln
    is not bit-standardized across engines — tested vs a NumPy golden
    in tests/test_kcore_linkpred.py instead)."""
    from approximate_pagerank_public_spark.operators.linkpred import (
        link_prediction,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return link_prediction(g, min_common=3).select("u", "v", "cn", "jaccard", "pa")


def q_peel_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion layers of the k=3 core peel (operators/kcore.py):
    ``layer = r`` for vertices removed in simultaneous-removal round r,
    0 for 3-core survivors. All-integer; the oracle unrolls the
    replay-computed round count (``peel_layers_numpy`` over its own
    edge table), exactly the ``kcore3`` pattern."""
    from approximate_pagerank_public_spark.operators.kcore import peel_layers

    g = _graph(spark, sf_dir)
    df, _rounds = peel_layers(g, 3)
    return df.select("id", "layer")


def q_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (Zhou–Lü–Zhang 2009) over
    non-adjacent pairs (operators/linkpred.py). Every common neighbor
    contributes ``1000000 div deg(w)`` micro-units, so the RA score is
    an exact BIGINT sum — hash-exact with no float anywhere (the trick
    Adamic–Adar's ``1/ln deg`` cannot play)."""
    from approximate_pagerank_public_spark.operators.linkpred import (
        resource_allocation,
    )

    g = _graph(spark, sf_dir)
    return resource_allocation(g, min_common=3).select(
        "u", "v", "cn", "ra_micro"
    )


def q_topk_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    return (
        e.groupBy(F.col("dst").alias("id"))
        .agg(F.count("*").alias("indeg"))
        .orderBy(F.col("indeg").desc(), F.col("id").desc())
        .limit(20)
    )


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.traversal import (
        closeness_centrality,
    )
    from approximate_pagerank_public_spark.plans.graph import Graph

    g = _graph(spark, sf_dir)
    return closeness_centrality(g, [0]).select(
        "source", _stable6("closeness").alias("closeness")
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates on md5 hashes — the oracle replays the
    whole pipeline (shingles → md5 minhash → md5 band buckets →
    bucket self-join) in DuckDB; xxhash64 stays the fast default for
    non-oracled use."""
    from approximate_pagerank_public_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_candidates(docs, num_hashes=16, bands=4, hash_method="md5")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(docs)


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash near-duplicate pairs (Manku-style): 4×16-bit band
    buckets via the salted pinned-partition pair join, then the exact
    ``bit_count(xor) ≤ 8`` Hamming verify — integer-exact on both
    engines."""
    from approximate_pagerank_public_spark.operators.dedup import simhash_near_dup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_near_dup(docs, max_hamming=8, bands=4)


def _emb_dim(sf_dir: str | None = None) -> int:
    """Embedding dimensionality, read from the parquet footer (row 0) —
    both the Spark queries and the oracle-SQL generator derive it from
    the same data, so the literal hyperplanes always match the vectors."""
    import glob
    import os

    cands = ([sf_dir] if sf_dir else []) + [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.001",
    ]
    for d in cands:
        p = f"{d}/embeddings.parquet"
        try:
            import pyarrow.parquet as pq

            files = sorted(glob.glob(p + "/*.parquet")) if os.path.isdir(p) else [p]
            t = pq.ParquetFile(files[0]).read_row_group(0, columns=["embedding"])
            return len(t.column("embedding")[0])
        except Exception:
            continue
    return 64


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with vectors cast to array<double> so the sequential
    fold dot product is bit-identical to DuckDB's list_dot_product (both
    left-to-right f64 accumulation)."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def q_kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-first) seed selection over the
    embedding corpus — argmax chain on bit-identical left-fold
    distances; oracle unrolls the 8 greedy rounds."""
    from approximate_pagerank_public_spark.operators.similarity import (
        kcenter_seeds,
    )

    emb = _emb_double(spark, sf_dir)
    return kcenter_seeds(emb, k=8)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = _emb_double(spark, sf_dir)
    queries = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    res = cosine_topk_bruteforce(emb, queries, k=5)
    return res.select(
        "query_id", "vec_id", "rank", _stable6("cosine").alias("cosine")
    )


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the corpus's first principal component
    (operators/pca.py): exact-integer moment pass (mapInArrow partial
    Gram, no corpus shuffle) + a driver-side d×d power iteration whose
    every fold the oracle replays in index order."""
    from approximate_pagerank_public_spark.operators.pca import embedding_pca

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    r = embedding_pca(emb, iters=8)
    return r.select("vec_id", _stable6("pc1").alias("pc1"))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.similarity import lsh_ann_topk

    emb = _emb_double(spark, sf_dir)
    queries = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    return lsh_ann_topk(
        emb, queries, dim=_emb_dim(sf_dir), k=5, bits=4, tables=8
    ).select(
        "query_id", "vec_id", "rank", _stable6("cosine").alias("cosine")
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-rank (λ=0.5) of the exact cosine top-10 —
    greedy rounds driven by raw bit-exact cosines, output stable6."""
    from approximate_pagerank_public_spark.operators.similarity import (
        mmr_rerank,
    )

    emb = _emb_double(spark, sf_dir)
    queries_df = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    return mmr_rerank(emb, queries_df, k_candidates=10, k=5)


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the exact-cosine and LSH-ANN top-5
    lists — per-(query, vec) sorted fold of 1/(60+rank) terms,
    stable6-truncated before the top-k cut, ties → smaller vec_id."""
    from approximate_pagerank_public_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_ann_topk,
        rrf_fuse,
    )

    emb = _emb_double(spark, sf_dir)
    queries_df = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    a = cosine_topk_bruteforce(emb, queries_df, k=5)
    b = lsh_ann_topk(emb, queries_df, dim=_emb_dim(sf_dir), k=5, bits=4, tables=8)
    return rrf_fuse({"a_cos": a, "b_lsh": b}, k=5, c=60)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = _emb_double(spark, sf_dir)
    res = embedding_near_duplicates(emb, threshold=0.45)
    return res.select("a_id", "b_id", _stable6("cosine").alias("cosine"))


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spherical k-means cell per embedding (the IVF
    coarse quantizer standalone) — integer cells, hash-exact; the
    oracle replays the literal trained centroids + argmax tie rule."""
    from approximate_pagerank_public_spark.operators.similarity import (
        kmeans_assign,
    )

    emb = _emb_double(spark, sf_dir)
    return kmeans_assign(emb, n_cells=8)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from approximate_pagerank_public_spark.operators.similarity import ivf_ann_topk

    emb = _emb_double(spark, sf_dir)
    queries = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    return ivf_ann_topk(
        emb, queries, dim=_emb_dim(sf_dir), k=5, n_cells=8, n_probe=4
    ).select(
        "query_id", "vec_id", "rank", _stable6("cosine").alias("cosine")
    )


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (m=4 subspaces x 8 codes over the
    64-dim embeddings) — one small-int column per subspace, hash-exact;
    the oracle replays the literal per-subspace L2 codebooks trained by
    the same deterministic driver-side recipe."""
    from approximate_pagerank_public_spark.operators.similarity import pq_encode

    emb = _emb_double(spark, sf_dir)
    return pq_encode(emb, dim=_emb_dim(sf_dir), m=4, codes=8)


def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k for the first 5 vectors as queries:
    asymmetric distance = fixed-order sum of 4 lookup-table terms, each
    a literal ``||c||^2 - 2 x.c`` — bit-identical to the DuckDB replay
    (sequential-fold dot products, left-assoc adds)."""
    from approximate_pagerank_public_spark.operators.similarity import pq_ann_topk

    emb = _emb_double(spark, sf_dir)
    queries = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    return pq_ann_topk(
        emb, queries, dim=_emb_dim(sf_dir), k=5, m=4, codes=8
    ).select("query_id", "vec_id", "rank", _stable6("adist").alias("adist"))


def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (coarse cells restrict candidates, PQ/ADC
    ranks them) for the first 5 vectors as queries, n_probe=3 of 8
    cells — the oracle replays BOTH deterministic trainings (spherical
    k-means cells + per-subspace L2 codebooks) as literals and the
    fixed-order ADC sum over the candidate set."""
    from approximate_pagerank_public_spark.operators.similarity import (
        ivfpq_ann_topk,
    )

    emb = _emb_double(spark, sf_dir)
    queries = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    return ivfpq_ann_topk(
        emb, queries, dim=_emb_dim(sf_dir), k=5, n_cells=8, n_probe=3, m=4, codes=8
    ).select("query_id", "vec_id", "rank", _stable6("adist").alias("adist"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over deterministic candidate pairs
    (consecutive doc ids) — the LSH verification stage, oracle-checked."""
    from approximate_pagerank_public_spark.operators.dedup import ngram_jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = docs.select(F.col("doc_id").alias("a")).join(
        docs.select((F.col("doc_id") - 1).alias("a"), F.col("doc_id").alias("b")),
        "a",
    )
    res = ngram_jaccard(docs, pairs)
    return res.select("a", "b", _stable6("jaccard").alias("jaccard"))


def q_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set similarity self-join via prefix filtering
    (operators/dedup.py::prefix_filter_pairs, PPJoin family): all pairs
    with Jaccard ≥ 0.9 over distinct word tokens — candidates from the
    rarest-first prefix equi-join, verified exactly; the threshold
    compare is an integer cross-multiplication."""
    from approximate_pagerank_public_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = prefix_filter_pairs(docs, threshold_bp=9000)
    return res.select("a", "b", "inter", _stable6("jaccard").alias("jaccard"))


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (4h idle gap) —
    per-session integer aggregates, hash-exact."""
    from approximate_pagerank_public_spark.operators.events import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(ev, gap_seconds=14400).select(
        "user_id", "session_seq", "n_events", "duration_us", "first_event", "last_event"
    )


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup anchored at the stream's first event —
    batch twin of a Structured Streaming window aggregate; window index
    is an exact integer DIFFERENCE (tz-free), money in integer cents."""
    from approximate_pagerank_public_spark.operators.events import hourly_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hourly_rollup(ev).select(
        "window_idx", "event_type", "n_events", "value_cents"
    )


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type activity z-scores — exact integer count moments,
    one IEEE sqrt (correctly rounded on both engines) and one division,
    stable6 at the output."""
    from approximate_pagerank_public_spark.operators.events import rate_anomaly

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    r = rate_anomaly(ev)
    return r.select(
        "event_type", "window_idx", "n_events", _stable6("z").alias("z")
    )


def q_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 1-hour/15-minute rollup anchored at the stream origin —
    overlapping windows, bounded 4x fan-out, exact integer counts."""
    from approximate_pagerank_public_spark.operators.events import sliding_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sliding_rollup(ev).select("window_idx", "event_type", "n_events")


def q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation inter-turn latency stats over the transcripts —
    integer-microsecond gap aggregates, avg is one IEEE division."""
    from approximate_pagerank_public_spark.operators.events import turn_latency

    t = _transcripts(spark, sf_dir)
    return turn_latency(t).select(
        "conv_id",
        "n_turns",
        "total_gap_us",
        "max_gap_us",
        _stable6("avg_gap_us").alias("avg_gap_us"),
    )


def q_tool_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool response-time proxy (gap from the preceding turn to
    each tool turn) — exact BIGINT µs aggregates, avg one IEEE
    division."""
    from approximate_pagerank_public_spark.operators.events import tool_latency

    t = _transcripts(spark, sf_dir)
    return tool_latency(t).select(
        "tool",
        "n_calls",
        "total_gap_us",
        "max_gap_us",
        _stable6("avg_gap_us").alias("avg_gap_us"),
    )


def q_tool_error_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool error-follow rates over agent transcripts — integer
    counts + one IEEE division, stable6-truncated."""
    from approximate_pagerank_public_spark.operators.events import (
        tool_error_adjacency,
    )

    t = _transcripts(spark, sf_dir)
    out = tool_error_adjacency(t)
    return out.select(
        "tool",
        "n_calls",
        "n_with_next",
        "n_next_error",
        _stable6("error_follow_rate").alias("error_follow_rate"),
    )


MIX_TARGETS_BP = {f"src{i}": (1000 if i < 4 else 375) for i in range(20)}


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing downsample to target source proportions (src0–3 get
    10% each, the rest 3.75%) — exact integer thresholds over md5
    buckets, growth-invariant, corpus never shuffled."""
    from approximate_pagerank_public_spark.operators.sampling import (
        mixture_resample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_resample(docs, MIX_TARGETS_BP, "source", "doc_id", "mix")


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly cohort-retention table over events — first-activity-hour
    cohorts × hours-since-cohort, all integer differences from the
    stream origin (tz-free), hash-exact."""
    from approximate_pagerank_public_spark.operators.events import (
        retention_cohorts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev)


def q_tool_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-tool p50/p95 latency — grouped histogram-cumsum rank
    selection, every column an exact BIGINT."""
    from approximate_pagerank_public_spark.operators.events import (
        tool_latency_quantiles,
    )

    t = _transcripts(spark, sf_dir)
    return tool_latency_quantiles(t, percents=(50, 95))


def q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF join: each click event gains the latest prior-or-same-ts
    purchase (id + value) of the same user — union+window formulation,
    oracle = independent correlated-subquery semantics in DuckDB."""
    from approximate_pagerank_public_spark.operators.events import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") == "click")
    right = ev.where(F.col("event_type") == "purchase")
    out = asof_join(left, right, payload_cols=("event_id", "value"))
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        _stable6("asof_value").alias("asof_value"),
    )


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: greedy-earliest
    strict progression, folded per key in one shuffle (`F.aggregate`
    over the (ts,id)-sorted step events — `operators/events.py:funnel`).
    All time values are integer-microsecond DIFFERENCES (timezone-free,
    hash-exact); the oracle is the independent chained-conditional-min
    formulation, not a replay of the fold."""
    from approximate_pagerank_public_spark.operators.events import funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(ev, ["view", "click", "purchase"]).select(
        "user_id", "steps_completed", "t0_offset_us", "d01_us", "d12_us"
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts (Markov bigrams) over
    each user's (ts, event_id)-ordered stream — one key shuffle +
    window lag, |types|² output groups."""
    from approximate_pagerank_public_spark.operators.events import (
        event_transitions,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_transitions(ev)


def q_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload aggregation: `$.k` extracted from the
    JSON props string (codegen'd get_json_object, no UDF), integer
    aggregates per event_type — hash-exact."""
    from approximate_pagerank_public_spark.operators.events import (
        props_numeric_stats,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return props_numeric_stats(ev, json_path="$.k")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-scoped near-dup pairs: deterministic
    sample-trained k-means cells (the IVF quantizer), exact cosine
    within a cell only — the oracle recomputes the centroids with the
    same NumPy trainer and replays assignment + pairing in SQL."""
    from approximate_pagerank_public_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _emb_double(spark, sf_dir)
    return semantic_dedup(emb, threshold=0.45, n_cells=8).select(
        "cell", "a_id", "b_id", _stable6("cosine").alias("cosine")
    )


def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality, 8 unrolled attenuated-path iterations."""
    from approximate_pagerank_public_spark.operators.hits import katz_centrality

    g = _graph(spark, sf_dir)
    return katz_centrality(g, beta=0.05, max_iter=8).select(
        "id", _stable6("katz").alias("katz")
    )


def q_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality, 8 fixed L2-normalized power iterations
    (HITS's authority chain without the hub interleave;
    operators/hits.py) — oracle replays the exact fp association."""
    from approximate_pagerank_public_spark.operators.hits import (
        eigenvector_centrality,
    )

    g = _graph(spark, sf_dir)
    return eigenvector_centrality(g, max_iter=8).select(
        "id", _stable6("eig").alias("eig")
    )


def q_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of corpus token frequencies probed at the top-20
    vocabulary — integer registers, cell-for-cell SQL replay."""
    from approximate_pagerank_public_spark.functions.sketch import (
        count_min_build,
        count_min_estimate,
    )
    from approximate_pagerank_public_spark.operators.textstats import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("value")
    ).where(F.col("value") != "")
    sk = count_min_build(toks, "value", width=512, depth=4)
    q = vocab_topk(docs, k=20).select(F.col("token").alias("value"))
    return count_min_estimate(sk, q, "value", width=512, depth=4)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF terms (linear idf: exact-integer numerator,
    one IEEE division ⇒ hash-exact)."""
    from approximate_pagerank_public_spark.operators.textstats import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_topk(docs, k=5, idf="linear").select(
        "doc_id", "token", "tf", _stable6("score").alias("score"), "rank"
    )


def q_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, k=3-gram, window w=4): per-window
    rightmost-min gram hash via one lexicographic string-min window
    (operators/dedup.py::winnow_fingerprints) — DuckDB replays the
    identical md5 keys and frame."""
    from approximate_pagerank_public_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=3, w=4)


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match ranking: doc pairs sharing >= 3 distinct winnowing
    fingerprints, posting lists capped at 64 docs (deterministic
    smallest-doc_id truncation, replayed by the oracle); the pair join
    runs in the salted pinned-partition wedge layout."""
    from approximate_pagerank_public_spark.operators.dedup import (
        winnow_matches,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_matches(docs, k=3, w=4, min_shared=3, cap=64)


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dups (Broder's second
    measure): ordered pairs with |S(src) ∩ S(dst)| / |S(src)| >= 0.8 —
    integer-exact threshold cut, capped posting-list candidates, salted
    wedge pair join (operators/dedup.py::containment_pairs)."""
    from approximate_pagerank_public_spark.operators.dedup import (
        containment_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return containment_pairs(docs, threshold_bp=8000, shingle_n=3, cap=64)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global first-occurrence line dedup at 8-token chunk
    granularity (operators/curation.py::line_dedup) — per-doc kept
    counts + the reassembled clean text, hash-exact."""
    from approximate_pagerank_public_spark.operators.curation import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return line_dedup(docs, chunk_tokens=8, join_sep=" ")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 (k1=1.2, b=0.75, rational Robertson idf)
    for the query {join, spark, vector} — per-term score is one IEEE
    division of exact int64 products, micro-unit-truncated BEFORE the
    cross-term sum (operators/textstats.py::bm25_topk), so the total is
    an order-independent integer and the oracle hash-matches."""
    from approximate_pagerank_public_spark.operators.textstats import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, ["join", "spark", "vector"], k=10)


def q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order (p/q-biased) walk corpus, integer class weights —
    every hop SQL-replayable."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        node2vec_corpus,
    )

    g = _graph(spark, sf_dir)
    return node2vec_corpus(g, walk_length=4, w_return=1, w_in=4, w_out=2, seed="n2v")


def q_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) training pairs over the DeepWalk
    corpus — the embedding-training data generator."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        random_walk_corpus,
        skipgram_pairs,
    )

    g = _graph(spark, sf_dir)
    corpus = _walk_corpus(spark, sf_dir)
    return skipgram_pairs(corpus, window=2)


def q_trussness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full truss decomposition (Cohen 2008): per-edge trussness by
    incremental simultaneous peeling. The k-truss is the unique maximal
    subgraph, so the oracle's own unrolled peel (round counts replayed
    by ``_replay_trussness_schedule``) must agree edge-for-edge."""
    from approximate_pagerank_public_spark.operators.triangles import (
        truss_decomposition,
    )

    g = _graph(spark, sf_dir)
    return truss_decomposition(g)


def q_ktruss4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss edge set via simultaneous peeling; the oracle unrolls the
    replayed peel rounds (idempotent past fixpoint)."""
    from approximate_pagerank_public_spark.operators.triangles import k_truss

    g = _graph(spark, sf_dir)
    edges, _rounds = k_truss(g, k=4)
    return edges


def q_clique_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 clique percolation (CPM): per-triangle overlapping-community
    labels — min 60-bit md5 triangle key reachable through shared-edge
    chains; per-edge MIN-STAR reduction (linear in postings) + the
    shared star-CC loop (operators/triangles.py::clique_percolation)."""
    from approximate_pagerank_public_spark.operators.triangles import (
        clique_percolation,
    )

    g = _graph(spark, sf_dir)
    return clique_percolation(g)


def q_greedy_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann greedy coloring, md5-derandomized static
    priorities — the oracle unrolls the identical rounds in SQL (round
    count replayed in pure Python over the oracle's own edge table)."""
    from approximate_pagerank_public_spark.operators.coloring import (
        greedy_coloring,
    )

    g = _graph(spark, sf_dir)
    colors, _rounds = greedy_coloring(g, seed="col")
    return colors


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set, md5-derandomized — the oracle
    unrolls the identical rounds in SQL (round count replayed in pure
    Python over the oracle's own edge table)."""
    from approximate_pagerank_public_spark.operators.mis import (
        maximal_independent_set,
    )

    g = _graph(spark, sf_dir)
    return maximal_independent_set(g, seed="mis").labels


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality for sources 0-3 off ONE multi-source BFS;
    float sum folded over the integer distance histogram in ascending-d
    order on both sides (pinned association ⇒ hash-exact after 6dp)."""
    from approximate_pagerank_public_spark.operators.traversal import (
        harmonic_centrality,
    )

    g = _graph(spark, sf_dir)
    return harmonic_centrality(g, [0, 1, 2, 3]).select(
        "source", _stable6("harmonic").alias("harmonic")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (md5 MinHash+LSH) resolved into transitive
    clusters with a min-id keeper — star-CC over the pair list only."""
    from approximate_pagerank_public_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, hash_method="md5")
    return duplicate_clusters(docs, pairs).select("doc_id", "rep_id", "keep")


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test assignment per document —
    growth-invariant (adding docs never reassigns old ones)."""
    from approximate_pagerank_public_spark.operators.sampling import dataset_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dataset_split(docs, seed="split").select("doc_id", "split")


def q_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli thinning by the quality score: keep iff
    md5 bucket < the weight's stable6 integer (operators/sampling.py::
    quality_resample) — a pure map, growth-invariant."""
    from approximate_pagerank_public_spark.operators.sampling import (
        quality_resample,
    )
    from approximate_pagerank_public_spark.operators.textstats import (
        quality_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = quality_resample(quality_score(docs), weight_col="quality")
    return kept.select("doc_id", _stable6("quality").alias("quality"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smallest-k-by-md5 per language — a deterministic reservoir sample."""
    from approximate_pagerank_public_spark.operators.sampling import (
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(docs, strata_col="lang", k=10, seed="strat").select(
        "doc_id", "lang", "sample_rank"
    )


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C protocol): word
    3-gram overlap of every test-split document against the train
    split of the same deterministic md5-bucket split; boilerplate
    3-grams with train document-frequency > 100 are dropped from both
    sides before the join (the deterministic hot-key bound)."""
    from approximate_pagerank_public_spark.operators.curation import (
        split_contamination,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = split_contamination(docs, n=3, max_shingle_df=100)
    return out.select(
        "doc_id",
        "total_ngrams",
        "matched_ngrams",
        "matched_train_docs",
        _stable6("contamination").alias("contamination"),
    )


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (Mihalcea & Tarau 2004): fixed-8-iteration
    PageRank over the adjacent-token co-occurrence graph (α = 0.85,
    cnt/src-sum weights) — the transcript PageRank stack rerun over a
    vocabulary graph, oracle = the same unrolled-CTE power iteration."""
    from approximate_pagerank_public_spark.operators.textrank import (
        textrank_keywords,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textrank_keywords(docs, topk=20, iters=8, alpha=0.85)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing placement (256-token
    windows): global exclusive cumsum of token counts in doc_id order
    (partition-parallel offsets pattern), all integer div arithmetic."""
    from approximate_pagerank_public_spark.operators.curation import (
        pack_chunks,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_chunks(docs, chunk_tokens=256)


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc overlapping token windows (the RAG / long-context
    chunker): 16-token windows at stride 12, md5 chunk fingerprints —
    a pure per-row map, no shuffle (operators/curation.py::chunk_windows)."""
    from approximate_pagerank_public_spark.operators.curation import (
        chunk_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_windows(docs, window=16, stride=12)


def _pii_text_col() -> "F.Column":
    """Deterministic PII-bearing derived text: the synthetic corpus has
    no real PII, so docs with ``doc_id % 3 != 0`` get a suffix carrying
    one email, one IPv4, one 16-digit card-like run and one phone-like
    sequence, all derived from doc_id — the oracle builds the identical
    string in SQL, so counts and the redacted fingerprint are non-trivial
    on BOTH sides."""
    did = F.col("doc_id").cast("string")
    suffix = F.concat(
        F.lit(" contact user"),
        did,
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 card 4111111111111"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" tel +1 555 01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    return F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), suffix)
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction over the PII-salted corpus: per-doc match
    counts for 4 pattern classes and the md5 of the redacted text
    (operators/curation.py::pii_scan) — codegen-only regex pass."""
    from approximate_pagerank_public_spark.operators.curation import pii_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", _pii_text_col().alias("text")
    )
    return pii_scan(docs)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-window dedup (Lee et al. 2022 at fixed 8-token
    window granularity): per document, how many sliding windows also
    occur in another document. Integer counts + one IEEE division —
    the md5-window pipeline replays hash-exactly in DuckDB."""
    from approximate_pagerank_public_spark.operators.curation import (
        window_dedup_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = window_dedup_stats(docs, window=8)
    return out.select(
        "doc_id",
        "total_windows",
        "dup_windows",
        _stable6("dup_fraction").alias("dup_fraction"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over the lineitem fixture —
    money arithmetic entirely in integer cents / cent·percent, so every
    aggregate is an exact BIGINT (hash-trivial cross-engine)."""
    from approximate_pagerank_public_spark.operators.relational import (
        pricing_summary,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_segment_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 revenue orders of the BUILDING segment
    around a date cut (customer ⋈ orders ⋈ lineitem, integer revenue,
    ties → smaller orderkey)."""
    from approximate_pagerank_public_spark.operators.relational import (
        segment_top_orders,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return segment_top_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join (region ⋈ nation ⋈ customer ⋈
    orders ⋈ lineitem ⋈ supplier with the local-supplier constraint),
    per-nation integer revenue."""
    from approximate_pagerank_public_spark.operators.relational import (
        regional_revenue,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return regional_revenue(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped per-ship-year PROMO revenue share: exact
    integer cent·percent sums, one IEEE division for the share."""
    from approximate_pagerank_public_spark.operators.relational import (
        promo_revenue_share,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    out = promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )
    return out.select(
        F.col("ship_year").cast("long").alias("ship_year"),
        "promo_cpct",
        "total_cpct",
        _stable6("promo_share").alias("promo_share"),
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: per-priority count of one
    quarter's orders with ≥1 late line (LEFT SEMI join with the
    lateness inequality as a residual — the fixture's shipdate stands
    in for the missing commit/receipt dates). Exact integers."""
    from approximate_pagerank_public_spark.operators.relational import (
        order_priority_counts,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return order_priority_counts(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped two-nation shipping volume by ship year —
    integer cent·percent revenue, both flow directions."""
    from approximate_pagerank_public_spark.operators.relational import (
        volume_shipping,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return volume_shipping(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share per order year: exact BIGINT
    numerator/denominator plus the stable6 of their single IEEE
    division."""
    from approximate_pagerank_public_spark.operators.relational import (
        market_share,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return market_share(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped maximum-revenue supplier(s) of a quarter —
    exact-integer max + equality join reproduces ties identically."""
    from approximate_pagerank_public_spark.operators.relational import (
        top_supplier,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return top_supplier(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped OR-of-brackets revenue over lineitem ⋈ part."""
    from approximate_pagerank_public_spark.operators.relational import (
        bracket_revenue,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return bracket_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item revenue: top-20 customers by
    returned (l_returnflag='R') revenue in one quarter, with nation.
    Money in exact cent·percent/cents integers, ties → smaller
    custkey."""
    from approximate_pagerank_public_spark.operators.relational import (
        returned_revenue_topk,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table

    return returned_revenue_topk(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate
    lines (count + char mass), the dominant word 2-gram and its char
    fraction, and the duplicate 2-gram position fraction. Every metric
    is integer counts + one IEEE division (hash-exact)."""
    from approximate_pagerank_public_spark.operators.curation import (
        repetition_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_stats(docs, top_n=2, dup_n=2)
    return out.select(
        "doc_id",
        "n_lines",
        _stable6("dup_line_frac").alias("dup_line_frac"),
        _stable6("dup_line_char_frac").alias("dup_line_char_frac"),
        "top_ngram",
        _stable6("top_ngram_frac").alias("top_ngram_frac"),
        _stable6("dup_ngram_frac").alias("dup_ngram_frac"),
    )


def q_pagerank_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed PageRank: 8 fixed iterations over the temporal
    edge weights ``(1/(1+age_days))/outdeg`` (operators/temporal.py) —
    the same unrolled-CTE oracle as pagerank_fixed8 with the decayed
    edge relation swapped in. Weights are exact-integer arithmetic plus
    two IEEE divisions, so both engines see bit-identical matrices."""
    from approximate_pagerank_public_spark.operators.pagerank import pagerank
    from approximate_pagerank_public_spark.operators.temporal import decayed_graph

    g = decayed_graph(_transcripts(spark, sf_dir), num_partitions=16)
    res = pagerank(g, alpha=0.8, tol=0.0, max_iter=8)
    return res.ranks().select("id", _stable6("rank").alias("rank"))


def q_tool_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent tool sets (k=1-3, support = distinct
    conversations containing the whole set, min 20) — the market-basket
    pass over the conv×tool incidence; the salted wedge layout runs the
    within-conversation pair join (operators/bipartite.py::
    frequent_itemsets)."""
    from approximate_pagerank_public_spark.operators.bipartite import (
        frequent_itemsets,
    )

    t = _transcripts(spark, sf_dir)
    inc = t.where(F.col("role") == "tool").select("conv_id", "tool")
    return frequent_itemsets(
        inc, "conv_id", "tool", min_support=20, max_items_per_part=256
    )


def q_role_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-sequence trigram counts over the stable turn order — the
    second-order conversation-flow signature (operators/events.py::
    role_trigrams)."""
    from approximate_pagerank_public_spark.operators.events import (
        role_trigrams,
    )

    return role_trigrams(_transcripts(spark, sf_dir))


def q_tool_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection conv×tool → tool–tool co-occurrence counts,
    per-conversation item cap 4 (deterministic lexicographic truncation
    — the LSH-style skew bound), pairs seen in ≥2 conversations."""
    from approximate_pagerank_public_spark.operators.bipartite import (
        tool_cooccurrence,
    )

    return tool_cooccurrence(
        _transcripts(spark, sf_dir), max_tools_per_conv=4, min_count=2
    )


def q_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (2×2 biclique) count of the conv×tool bipartite graph
    — Σ C(common-part count, 2) over tool pairs, all-integer
    (operators/bipartite.py::butterfly_count)."""
    from approximate_pagerank_public_spark.operators.bipartite import (
        butterfly_count,
    )

    inc = _transcripts(spark, sf_dir).where(F.col("role") == "tool")
    return butterfly_count(inc, "conv_id", "tool")


def q_neighbor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style mean aggregate: per vertex, the element-wise mean
    of its in-neighbors' feature vectors (vertex v's features = embedding
    row ``v % n_vecs``), long form ``(id, dim, nbr_mean, deg)``."""
    from approximate_pagerank_public_spark.operators.features import (
        neighbor_mean_modulo,
    )

    g = _graph(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return neighbor_mean_modulo(g, emb).select(
        "id", "dim", _stable6("nbr_mean").alias("nbr_mean"), "deg"
    )


def q_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI ratios over the DeepWalk skip-gram pairs — the co-occurrence
    weighting step of an embedding-training pipeline. Exact-integer
    marginals, one IEEE division (log left to the consumer)."""
    from approximate_pagerank_public_spark.operators.randomwalk import (
        pmi_scores,
        random_walk_corpus,
        skipgram_pairs,
    )

    g = _graph(spark, sf_dir)
    corpus = _walk_corpus(spark, sf_dir)
    pairs = skipgram_pairs(corpus, window=2)
    return pmi_scores(pairs).select(
        "center", "context", "n", _stable6("pmi_ratio").alias("pmi_ratio")
    )


def q_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hub/authority scores, 8 fixed iterations — the stochastic
    sibling of HITS (operators/hits.py::salsa); per-vertex degree
    division BEFORE the edge scatter keeps the association replayable."""
    from approximate_pagerank_public_spark.operators.hits import salsa

    g = _graph(spark, sf_dir)
    return salsa(g, max_iter=8).select(
        "id",
        _stable6("hub").alias("hub"),
        _stable6("authority").alias("authority"),
    )


def q_gnn_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style sampled 2-hop blocks for an 8-root batch,
    fanouts (3, 2) — md5-derandomized neighbor sampling, all-integer
    output ``(root, hop, src, dst)`` (operators/gnnsample.py)."""
    from approximate_pagerank_public_spark.operators.gnnsample import khop_sample

    g = _graph(spark, sf_dir)
    return khop_sample(g.edges, list(range(8)), [3, 2], seed="gnn")


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative sampling over the DeepWalk skip-gram pairs:
    each positive emits 2 uniform md5 negatives — pure map, exactly
    |pairs|·3 rows, all-integer ``(center, context, label)``."""
    from approximate_pagerank_public_spark.operators.gnnsample import (
        negative_samples,
    )
    from approximate_pagerank_public_spark.operators.randomwalk import (
        random_walk_corpus,
        skipgram_pairs,
    )

    g = _graph(spark, sf_dir)
    corpus = _walk_corpus(spark, sf_dir)
    pairs = skipgram_pairs(corpus, window=2)
    return negative_samples(pairs, n_vertices=g.num_vertices, n_neg=2, seed="neg")


def q_weighted_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec unigram^0.75 negative sampling over the same skip-gram
    pairs: slot-table draw from the degree^0.75 noise distribution
    (integer ⌊√⌊√d³⌋⌋ weights — IEEE sqrt is correctly rounded in both
    engines, libm pow is not)."""
    from approximate_pagerank_public_spark.operators.gnnsample import (
        weighted_negative_samples,
    )
    from approximate_pagerank_public_spark.operators.randomwalk import (
        skipgram_pairs,
    )

    g = _graph(spark, sf_dir)
    corpus = _walk_corpus(spark, sf_dir)
    pairs = skipgram_pairs(corpus, window=2)
    e = _edges(spark, sf_dir)
    degrees = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return weighted_negative_samples(pairs, degrees, n_neg=2, seed="wneg")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- driver CORRECTNESS window (first 50): r5 rotation onto
        # never-driver-recorded queries (sentinels first) — see
        # VERDICT r4 task #1 / BASELINE.md gate-window audit trail
        "transcript_etl": q_transcript_etl,
        "edge_derivation": q_edge_derivation,
        "anf_hyperball": q_anf_hyperball,
        "effective_diameter": q_effective_diameter,
        "mean_distance": q_mean_distance,
        "hyperball_harmonic": q_hyperball_harmonic,
        "landmark_dist": q_landmark_dist,
        "msf": q_msf,
        "affinity_clusters": q_affinity_clusters,
        "maximal_matching": q_maximal_matching,
        "densest_subgraph": q_densest_subgraph,
        "bpe_merges": q_bpe_merges,
        "bpe_segment": q_bpe_segment,
        "oov_rate": q_oov_rate,
        "kmeans_assign": q_kmeans_assign,
        "pq_encode": q_pq_encode,
        "pq_ann_topk": q_pq_ann_topk,
        "ivfpq_ann_topk": q_ivfpq_ann_topk,
        "winnow_fps": q_winnow_fps,
        "winnow_matches": q_winnow_matches,
        "containment": q_containment,
        "prefix_join": q_prefix_join,
        "simrank": q_simrank,
        "simrank_mc": q_simrank_mc,
        "spectral_embedding": q_spectral_embedding,
        "resource_alloc": q_resource_allocation,
        "peel_layers": q_peel_layers,
        "hll_set_ops": q_hll_set_ops,
        "bloom_membership": q_bloom_membership,
        "sampled_triangles": q_sampled_triangles,
        "edge_support": q_edge_support,
        "scc_condensation": q_scc_condensation,
        "wl_graph_hash": q_wl_graph_hash,
        "hrw_shards": q_hrw_shards,
        "hourly_distinct_users": q_hourly_distinct_users,
        "session_stats": q_session_stats,
        "hourly_rollup": q_hourly_rollup,
        "rate_anomaly": q_rate_anomaly,
        "sliding_rollup": q_sliding_rollup,
        "turn_latency": q_turn_latency,
        "tool_latency": q_tool_latency,
        "tool_latency_quantiles": q_tool_latency_quantiles,
        "retention_cohorts": q_retention_cohorts,
        "tool_error_adjacency": q_tool_error_adjacency,
        "event_asof": q_event_asof,
        "funnel_steps": q_funnel_steps,
        "event_transitions": q_event_transitions,
        "props_stats": q_props_stats,
        "pricing_summary": q_pricing_summary,
        "segment_top_orders": q_segment_top_orders,
        "regional_revenue": q_regional_revenue,
        "out_degree": q_out_degree,
        "dangling_vertices": q_dangling_vertices,
        "degree_distribution": q_degree_distribution,
        "triangle_count": q_triangle_count,
        "four_cycles": q_four_cycles,
        "four_cliques": q_four_cliques,
        "top_tools": q_top_tools,
        "conversation_stats": q_conversation_stats,
        "pagerank_top20": q_pagerank_top20,
        "pagerank_fixed8": q_pagerank_fixed8,
        "pagerank_warm": q_pagerank_warm,
        "hits": q_hits,
        "mc_ppr": q_mc_ppr,
        "ppr_fixed8": q_ppr_fixed8,
        "ppr_push": q_ppr_push,
        "sweep_cut": q_sweep_cut,
        "ppr_norm_off": q_ppr_norm_off,
        "multi_ppr_top10": q_multi_ppr_top10,
        "connected_components": q_connected_components,
        "bridges": q_bridges,
        "two_edge_components": q_two_edge_components,
        "kcenter_seeds": q_kcenter_seeds,
        "euler_check": q_euler_check,
        "hitting_prob": q_hitting_prob,
        "bowtie": q_bowtie,
        "critical_path": q_critical_path,
        "max_coverage": q_max_coverage,
        "attack_tolerance": q_attack_tolerance,
        "random_failure": q_random_failure,
        "ann_recall": q_ann_recall,
        "cc_star": q_cc_star,
        "component_sizes": q_component_sizes,
        "label_propagation": q_label_propagation,
        "seeded_lpa": q_seeded_lpa,
        "louvain": q_louvain,
        "conductance": q_conductance,
        "louvain_multilevel": q_louvain_multilevel,
        "modularity": q_modularity,
        "community_graph": q_community_graph,
        "assortativity": q_assortativity,
        "type_mixing": q_type_mixing,
        "degree_gini": q_degree_gini,
        "avg_nbr_degree": q_avg_nbr_degree,
        "reciprocity": q_reciprocity,
        "transitivity": q_transitivity,
        "rich_club": q_rich_club,
        "wl_colors": q_wl_colors,
        "triad_census": q_triad_census,
        "clique_communities": q_clique_communities,
        "stress": q_stress,
        "betweenness": q_betweenness,
        "bfs_dist": q_bfs_from_min_conv,
        "approx_diameter": q_approx_diameter,
        "exact_diameter": q_exact_diameter,
        "widest_path": q_widest_path,
        "random_walks": q_random_walks,
        "scc": q_scc,
        "sssp_dist": q_sssp_dist,
        "fbfs": q_fbfs,
        "exact_dedup": q_exact_dedup,
        "exact_dedup_events": q_exact_dedup_events,
        "hll_distinct": q_hll_distinct,
        "click_attribution": q_click_attribution,
        "join_size_estimate": q_join_size_estimate,
        "snm_blocking": q_snm_blocking,
        "degree_outliers": q_degree_outliers,
        "eccentricity": q_eccentricity,
        "token_count": q_token_count,
        "doclen_quantiles": q_doclen_quantiles,
        "vocab_topk": q_vocab_topk,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "per_vertex_triangles": q_per_vertex_triangles,
        "kcore3": q_kcore3,
        "core_numbers": q_core_numbers,
        "clustering_coeff": q_clustering_coeff,
        "link_pred": q_link_prediction,
        "topk_indegree": q_topk_indegree,
        "closeness": q_closeness,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "cosine_topk": q_cosine_topk,
        "embedding_pca": q_embedding_pca,
        "ann_lsh_topk": q_ann_lsh_topk,
        "rrf_fusion": q_rrf_fusion,
        "mmr_rerank": q_mmr_rerank,
        "embedding_near_dup": q_embedding_near_dup,
        "ivf_ann_topk": q_ivf_ann_topk,
        "ngram_jaccard": q_ngram_jaccard,
        "semantic_dedup": q_semantic_dedup,
        "katz": q_katz,
        "eigenvector": q_eigenvector,
        "cms_tokens": q_cms_tokens,
        "tfidf_topk": q_tfidf_topk,
        "bm25": q_bm25,
        "line_dedup": q_line_dedup,
        "node2vec": q_node2vec,
        "skipgram": q_skipgram,
        "ktruss4": q_ktruss4,
        "trussness": q_trussness,
        "mis": q_mis,
        "greedy_coloring": q_greedy_coloring,
        "harmonic": q_harmonic,
        "dedup_clusters": q_dedup_clusters,
        "dataset_split": q_dataset_split,
        "quality_resample": q_quality_resample,
        "mixture_resample": q_mixture_resample,
        "stratified_sample": q_stratified_sample,
        "split_contamination": q_split_contamination,
        "repetition_stats": q_repetition_stats,
        "dup_spans": q_dup_spans,
        "pack_chunks": q_pack_chunks,
        "chunk_windows": q_chunk_windows,
        "pii_scan": q_pii_scan,
        "textrank": q_textrank,
        "promo_share": q_promo_share,
        "order_priority": q_order_priority,
        "returned_revenue": q_returned_revenue,
        "volume_shipping": q_volume_shipping,
        "market_share": q_market_share,
        "top_supplier": q_top_supplier,
        "bracket_revenue": q_bracket_revenue,
        "pagerank_decay": q_pagerank_decay,
        "tool_cooccurrence": q_tool_cooccurrence,
        "tool_itemsets": q_tool_itemsets,
        "role_trigrams": q_role_trigrams,
        "butterflies": q_butterflies,
        "neighbor_agg": q_neighbor_agg,
        "skipgram_pmi": q_skipgram_pmi,
        "gnn_khop": q_gnn_khop,
        "negative_sampling": q_negative_sampling,
        "weighted_negative_sampling": q_weighted_negative_sampling,
        "salsa": q_salsa,
    }


# -------------------------------------------------------------- oracle SQL
def _duck_cos(a: str, b: str) -> str:
    """DuckDB cosine written with the exact same formula/association as
    the Spark side (`similarity.with_cosine`): dot/(sqrt(aa)*sqrt(bb)),
    each dot a sequential f64 left fold — bit-identical across engines
    (list_dot_product verified bit-equal to a left-to-right fold)."""
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


_DUCK_EMB = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
_DUCK_EMB_Q = "SELECT vec_id AS query_id, v AS qv FROM emb ORDER BY query_id LIMIT 5"


def _kcenter_oracle(k: int = 8) -> str:
    """Unrolled greedy farthest-first rounds (``similarity.
    kcenter_seeds``): identical ``(aa − 2·dot) + bb`` association,
    DuckDB ``list_dot_product`` == the Spark left fold."""
    ctes = [
        f"emb AS MATERIALIZED ({_DUCK_EMB})",
        "base AS MATERIALIZED (SELECT vec_id, v, "
        "list_dot_product(v, v) AS aa FROM emb)",
        "c1 AS MATERIALIZED (SELECT vec_id, v, aa FROM base "
        "ORDER BY vec_id LIMIT 1)",
        "m2 AS MATERIALIZED (SELECT b.vec_id, b.v, b.aa, "
        "((b.aa - 2 * list_dot_product(b.v, c.v)) + c.aa) AS mind2 "
        "FROM base b, c1 c)",
        "c2 AS MATERIALIZED (SELECT * FROM m2 "
        "ORDER BY mind2 DESC, vec_id ASC LIMIT 1)",
    ]
    for i in range(3, k + 1):
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.v, m.aa, "
            f"least(m.mind2, ((m.aa - 2 * list_dot_product(m.v, c.v)) "
            f"+ c.aa)) AS mind2 FROM m{i - 1} m, c{i - 1} c)"
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT * FROM m{i} "
            "ORDER BY mind2 DESC, vec_id ASC LIMIT 1)"
        )
    sel = [
        "SELECT CAST(1 AS BIGINT) AS pos, vec_id, 0.0 AS radius FROM c1"
    ] + [
        f"SELECT CAST({i} AS BIGINT), vec_id, "
        f"floor(mind2 * 1000000.0) / 1000000.0 FROM c{i}"
        for i in range(2, k + 1)
    ]
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(sel)


def _cosine_topk_oracle() -> str:
    return (
        f"WITH emb AS ({_DUCK_EMB}), q AS ({_DUCK_EMB_Q}), "
        "scored AS (SELECT q.query_id, e.vec_id, "
        f"{_duck_cos('e.v', 'q.qv')} AS cosine FROM emb e CROSS JOIN q), "
        "ranked AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        'PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS "rank" '
        "FROM scored) "
        'SELECT query_id, vec_id, "rank", '
        "floor(cosine * 1000000.0) / 1000000.0 AS cosine "
        'FROM ranked WHERE "rank" <= 5'
    )


def _mmr_oracle(k_candidates: int = 10, k: int = 5) -> str:
    """Unrolled MMR greedy rounds: raw (untruncated) cosines drive every
    argmax exactly as the engine's, λ = 0.5 scales by an exact power of
    two, output scores stable6-truncated."""
    parts = [
        f"WITH emb AS MATERIALIZED ({_DUCK_EMB}), q AS ({_DUCK_EMB_Q}), ",
        "scored AS (SELECT q.query_id, e.vec_id, "
        f"{_duck_cos('e.v', 'q.qv')} AS cosine FROM emb e CROSS JOIN q), ",
        "cands AS MATERIALIZED (SELECT query_id, vec_id, cosine FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id ASC) AS rn FROM scored) "
        f"WHERE rn <= {int(k_candidates)}), ",
        "ce AS (SELECT c.query_id, c.vec_id, e.v FROM cands c "
        "JOIN emb e USING (vec_id)), ",
        "pairs AS MATERIALIZED (SELECT x.query_id, x.vec_id AS i, "
        f"y.vec_id AS j, {_duck_cos('x.v', 'y.v')} AS sim "
        "FROM ce x JOIN ce y ON y.query_id = x.query_id "
        "AND y.vec_id <> x.vec_id), ",
        "sel1 AS (SELECT query_id, vec_id, 1 AS mmr_rank, "
        "0.5 * cosine AS score FROM (SELECT *, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn "
        "FROM cands) WHERE rn = 1), ",
    ]
    prev = "sel1"
    for r in range(2, int(k) + 1):
        parts.append(
            f"m{r} AS (SELECT p.query_id, p.i AS vec_id, max(p.sim) AS msim "
            f"FROM pairs p JOIN {prev} s ON s.query_id = p.query_id "
            "AND s.vec_id = p.j GROUP BY p.query_id, p.i), "
            f"p{r} AS (SELECT query_id, vec_id, {r} AS mmr_rank, score FROM "
            "(SELECT c.query_id, c.vec_id, "
            "0.5 * c.cosine - 0.5 * m.msim AS score, "
            "row_number() OVER (PARTITION BY c.query_id "
            "ORDER BY 0.5 * c.cosine - 0.5 * m.msim DESC, c.vec_id ASC) "
            f"AS rn FROM cands c JOIN m{r} m ON m.query_id = c.query_id "
            "AND m.vec_id = c.vec_id "
            f"WHERE NOT EXISTS (SELECT 1 FROM {prev} s "
            "WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)) "
            "WHERE rn = 1), "
            f"sel{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM p{r}), "
        )
        prev = f"sel{r}"
    return (
        "".join(parts).rstrip(", ")
        + " SELECT query_id, vec_id, mmr_rank, "
        "floor(score * 1000000.0) / 1000000.0 AS mmr_score "
        f"FROM {prev}"
    )


def _ann_lsh_oracle() -> str:
    """LSH-ANN pipeline replayed in SQL with the engine's literal
    hyperplanes — buckets, candidate generation, and exact re-rank are
    all oracle-checked, not just row counts."""
    from approximate_pagerank_public_spark.operators.similarity import _hyperplanes

    dim = _emb_dim()
    rows = []
    for t in range(8):
        for i, p in enumerate(_hyperplanes(dim, 4, t, 42)):
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            rows.append(f"({t}, {i}, CAST({lit} AS DOUBLE[]))")
    return (
        f"WITH emb AS ({_DUCK_EMB}), q AS ({_DUCK_EMB_Q}), "
        f"planes(tbl, idx, p) AS (VALUES {', '.join(rows)}), "
        "cb AS (SELECT e.vec_id, p.tbl, "
        "  SUM(CASE WHEN list_dot_product(e.v, p.p) >= 0 "
        "      THEN 1 << p.idx ELSE 0 END) AS bucket "
        "  FROM emb e CROSS JOIN planes p GROUP BY e.vec_id, p.tbl), "
        "qb AS (SELECT qq.query_id, p.tbl, "
        "  SUM(CASE WHEN list_dot_product(qq.qv, p.p) >= 0 "
        "      THEN 1 << p.idx ELSE 0 END) AS bucket "
        "  FROM q qq CROSS JOIN planes p GROUP BY qq.query_id, p.tbl), "
        "cand AS (SELECT DISTINCT qb.query_id, cb.vec_id "
        "  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket), "
        "scored AS (SELECT c.query_id, c.vec_id, "
        f"  {_duck_cos('e.v', 'q.qv')} AS cosine "
        "  FROM cand c JOIN emb e ON e.vec_id = c.vec_id "
        "  JOIN q ON q.query_id = c.query_id), "
        "ranked AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        'PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS "rank" '
        "FROM scored) "
        'SELECT query_id, vec_id, "rank", '
        "floor(cosine * 1000000.0) / 1000000.0 AS cosine "
        'FROM ranked WHERE "rank" <= 5'
    )


def _pca_oracle(iters: int = 8, dim: int | None = None) -> str:
    """Full replay of operators/pca.py::embedding_pca — exact-integer
    moments (quantize → HUGEINT Gram/sums), covariance with the pinned
    ``(G/n − (s_t/n)(s_u/n))/1e12`` association, then the d×d power
    iteration unrolled with every matvec row and norm a
    ``list_reduce(list(... ORDER BY idx))`` sequential fold — matching
    the engine's driver-side Python loops term for term. The final
    projection is ``list_dot_product(q/1e6, pc) − mean·pc`` on both
    sides (F.aggregate ≡ list_dot_product, the `_duck_cos` parity)."""
    d = dim if dim is not None else _emb_dim()
    parts = [
        "WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), ",
        "qt AS MATERIALIZED (SELECT vec_id, list_transform(v, "
        "x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS q FROM emb), ",
        f"idx AS MATERIALIZED (SELECT CAST(range AS INTEGER) AS t "
        f"FROM range(1, {d + 1})), ",
        "mom AS MATERIALIZED (SELECT t.t, u.t AS u, "
        "sum(qt.q[t.t] * qt.q[u.t]) AS g "
        "FROM qt CROSS JOIN idx t CROSS JOIN idx u GROUP BY t.t, u.t), ",
        "sv AS MATERIALIZED (SELECT t.t, sum(qt.q[t.t]) AS s "
        "FROM qt CROSS JOIN idx t GROUP BY t.t), ",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM qt), ",
        "cov AS MATERIALIZED (SELECT m.t, m.u, "
        "(CAST(m.g AS DOUBLE) / (SELECT n FROM nn) - "
        "(CAST(st.s AS DOUBLE) / (SELECT n FROM nn)) * "
        "(CAST(su.s AS DOUBLE) / (SELECT n FROM nn))) / 1000000000000.0 AS c "
        "FROM mom m JOIN sv st ON st.t = m.t JOIN sv su ON su.t = m.u), ",
        "x0 AS MATERIALIZED (SELECT t, "
        "CAST((t * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5 AS x "
        "FROM idx), ",
    ]
    for k in range(iters):
        parts.append(
            f"z{k} AS MATERIALIZED (SELECT c.t, "
            f"list_reduce(list(c.c * x.x ORDER BY c.u), (a, b) -> a + b) "
            f"AS z FROM cov c JOIN x{k} x ON x.t = c.u GROUP BY c.t), "
            f"n{k} AS MATERIALIZED (SELECT coalesce(nullif(sqrt("
            f"list_reduce(list(z * z ORDER BY t), (a, b) -> a + b)), 0.0), "
            f"1.0) AS nrm FROM z{k}), "
            f"x{k + 1} AS MATERIALIZED (SELECT t, "
            f"z / (SELECT nrm FROM n{k}) AS x FROM z{k}), "
        )
    parts.append(
        f"pcv AS MATERIALIZED (SELECT list(x ORDER BY t) AS pc "
        f"FROM x{iters}), "
        "md AS MATERIALIZED (SELECT list_reduce(list("
        "((CAST(s.s AS DOUBLE) / (SELECT n FROM nn)) / 1000000.0) * x.x "
        f"ORDER BY s.t), (a, b) -> a + b) AS mdot "
        f"FROM sv s JOIN x{iters} x ON x.t = s.t) "
        "SELECT vec_id, floor((list_dot_product(list_transform(q, "
        "y -> CAST(y AS DOUBLE) / 1000000.0), (SELECT pc FROM pcv)) "
        "- (SELECT mdot FROM md)) * 1000000.0) / 1000000.0 AS pc1 FROM qt"
    )
    return "".join(parts)


def _embedding_near_dup_oracle() -> str:
    cos = _duck_cos("a.v", "b.v")
    return (
        f"WITH emb AS ({_DUCK_EMB}) "
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, "
        f"floor({cos} * 1000000.0) / 1000000.0 AS cosine "
        "FROM emb a JOIN emb b ON a.vec_id < b.vec_id "
        f"WHERE {cos} >= 0.45"
    )


_DUCK_SHINGLES = (
    "toksrc AS (SELECT doc_id, "
    "  string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks "
    "  FROM documents), "
    "sh AS (SELECT doc_id, unnest(list_distinct("
    "  [array_to_string(toks[i+1:i+3], ' ') "
    "   for i in range(0, greatest(len(toks) - 3, 0) + 1)])) AS shingle "
    "  FROM toksrc)"
)


def _minhash_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Replays ``minhash_lsh_candidates(hash_method='md5')`` end-to-end:
    md5 minhashes (lexicographic min over fixed-length hex == numeric
    min, identical in both engines), md5 band buckets, self-join on
    (band, bucket). The 2000-doc bucket cap cannot trigger at the
    500-doc oracle scale, so the replay omits it."""
    r = num_hashes // bands
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS m{i}" for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        expr = " || ',' || ".join(f"m{b * r + j}" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sig"
        )
    return (
        f"WITH {_DUCK_SHINGLES}, "
        f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id), "
        f"banded AS ({' UNION ALL '.join(band_selects)}) "
        "SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM banded x "
        "JOIN banded y ON x.band = y.band AND x.bucket = y.bucket "
        "AND x.doc_id < y.doc_id"
    )


def _replay_mis_rounds(seed: str = "mis", sf_dir: str | None = None) -> int:
    """Replay Luby MIS over the oracle's own DuckDB edge table (pure
    Python + hashlib md5 — the identical priority strings) and return
    the number of rounds until no vertex is active, so the unrolled SQL
    oracle runs exactly the engine's rounds."""
    import hashlib

    sf_dir = sf_dir or _oracle_sf_dir()
    key = ("mis_rounds", sf_dir, seed)
    if key in _REPLAY_CACHE:
        return _REPLAY_CACHE[key]
    src, dst, _w, n = _duck_edge_arrays(sf_dir)
    nbrs: dict[int, set[int]] = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    active = set(range(n))
    rnd = 0
    while active:
        rnd += 1
        pr = {
            v: hashlib.md5(f"{seed}:{rnd}:{v}".encode()).hexdigest()
            + str(v).zfill(12)
            for v in active
        }
        sel = {
            v
            for v in active
            if all(pr[v] < pr[u] for u in nbrs.get(v, ()) if u in active)
        }
        rm = set(sel)
        for v in sel:
            rm |= nbrs.get(v, set()) & active
        active -= rm
    _REPLAY_CACHE[key] = rnd
    return rnd


def _replay_ktruss_rounds(k: int, sf_dir: str | None = None) -> int:
    """Peel k-truss in pure Python over the oracle's own edge table;
    returns rounds-until-fixpoint (extra unrolled rounds are idempotent,
    so this only needs to be ≥ the engine's changed-round count)."""
    sf_dir = sf_dir or _oracle_sf_dir()
    key = ("ktruss_rounds", sf_dir, k)
    if key in _REPLAY_CACHE:
        return _REPLAY_CACHE[key]
    src, dst, _w, _n = _duck_edge_arrays(sf_dir)
    edges = {
        (min(a, b), max(a, b))
        for a, b in zip(src.tolist(), dst.tolist())
        if a != b
    }
    thr = k - 2
    rounds = 0
    while True:
        rounds += 1
        adj: dict[int, set[int]] = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        nxt = {(u, v) for u, v in edges if len(adj[u] & adj[v]) >= thr}
        if nxt == edges:
            break
        edges = nxt
    _REPLAY_CACHE[key] = rounds
    return rounds


def _ktruss_oracle(k: int = 4) -> str:
    """Unrolled simultaneous-peel rounds — triangle support per round is
    the same EXISTS wedge join as the per_vertex_triangles oracle; all
    integers ⇒ hash-exact."""
    rounds = _replay_ktruss_rounds(k)
    thr = k - 2
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "e1 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM e WHERE src <> dst), ",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"t{r} AS (SELECT ab.a, ab.b, bc.c FROM "
            f"(SELECT u AS a, v AS b FROM e{r}) ab JOIN "
            f"(SELECT u AS b, v AS c FROM e{r}) bc USING (b) "
            f"WHERE EXISTS (SELECT 1 FROM e{r} x "
            "WHERE x.u = ab.a AND x.v = bc.c)), "
            f"s{r} AS (SELECT u, v, count(*) AS sup FROM ("
            f"SELECT a AS u, b AS v FROM t{r} UNION ALL "
            f"SELECT b, c FROM t{r} UNION ALL "
            f"SELECT a, c FROM t{r}) GROUP BY u, v), "
            f"e{r + 1} AS MATERIALIZED (SELECT x.u, x.v FROM e{r} x "
            f"JOIN s{r} s ON s.u = x.u AND s.v = x.v AND s.sup >= {thr}), "
        )
    return "".join(parts).rstrip(", ") + f" SELECT u, v FROM e{rounds + 1}"


def _replay_trussness_schedule(
    sf_dir: str | None = None,
) -> list[tuple[int, int]]:
    """Replay full truss decomposition in pure Python over the oracle's
    own edge table; returns ``[(k, dropping_rounds)]`` per level until
    the k-truss empties (trussness is schedule-independent, so this
    only pins the UNROLL DEPTH of the SQL peel, not the answer)."""
    sf_dir = sf_dir or _oracle_sf_dir()
    key = ("trussness_schedule", sf_dir)
    if key in _REPLAY_CACHE:
        return _REPLAY_CACHE[key]
    src, dst, _w, _n = _duck_edge_arrays(sf_dir)
    edges = {
        (min(a, b), max(a, b))
        for a, b in zip(src.tolist(), dst.tolist())
        if a != b
    }
    schedule: list[tuple[int, int]] = []
    k = 2
    while edges:
        k += 1
        thr = k - 2
        rounds = 0
        while True:
            adj: dict[int, set[int]] = {}
            for u, v in edges:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
            nxt = {(u, v) for u, v in edges if len(adj[u] & adj[v]) >= thr}
            if nxt == edges:
                break
            rounds += 1
            edges = nxt
        schedule.append((k, rounds))
    _REPLAY_CACHE[key] = schedule
    return schedule


def _trussness_oracle() -> str:
    """Chained unrolled peels, one block per k level (round counts
    replayed by :func:`_replay_trussness_schedule`); trussness k-1 =
    anti-diff of consecutive level fixpoints. All integers ⇒
    hash-exact."""
    schedule = _replay_trussness_schedule()
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "t2 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM e WHERE src <> dst), ",
    ]
    prev = "t2"
    selects = []
    for k, rounds in schedule:
        thr = k - 2
        cur = prev
        for r in range(1, rounds + 1):
            nm = f"k{k}r{r}"
            parts.append(
                f"{nm}t AS (SELECT ab.a, ab.b, bc.c FROM "
                f"(SELECT u AS a, v AS b FROM {cur}) ab JOIN "
                f"(SELECT u AS b, v AS c FROM {cur}) bc USING (b) "
                f"WHERE EXISTS (SELECT 1 FROM {cur} x "
                "WHERE x.u = ab.a AND x.v = bc.c)), "
                f"{nm}s AS (SELECT u, v, count(*) AS sup FROM ("
                f"SELECT a AS u, b AS v FROM {nm}t UNION ALL "
                f"SELECT b, c FROM {nm}t UNION ALL "
                f"SELECT a, c FROM {nm}t) GROUP BY u, v), "
                f"{nm} AS MATERIALIZED (SELECT x.u, x.v FROM {cur} x "
                f"JOIN {nm}s s ON s.u = x.u AND s.v = x.v "
                f"AND s.sup >= {thr}), "
            )
            cur = nm
        selects.append(
            f"SELECT x.u, x.v, CAST({k - 1} AS BIGINT) AS trussness "
            f"FROM {prev} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {cur} y WHERE y.u = x.u AND y.v = x.v)"
        )
        prev = cur
    return "".join(parts).rstrip(", ") + " " + " UNION ALL ".join(selects)


def _replay_coloring_rounds(seed: str = "col", sf_dir: str | None = None) -> int:
    """Replay Jones-Plassmann coloring over the oracle's own DuckDB edge
    table (pure Python + hashlib md5 — identical static priorities) and
    return the round count for the unrolled SQL oracle."""
    import hashlib

    sf_dir = sf_dir or _oracle_sf_dir()
    key = ("coloring_rounds", sf_dir, seed)
    if key in _REPLAY_CACHE:
        return _REPLAY_CACHE[key]
    src, dst, _w, n = _duck_edge_arrays(sf_dir)
    nbrs: dict[int, set[int]] = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
    pri = {
        v: hashlib.md5(f"{seed}:{v}".encode()).hexdigest() + str(v).zfill(12)
        for v in range(n)
    }
    active = set(range(n))
    rnd = 0
    while active:
        rnd += 1
        win = {
            v
            for v in active
            if all(pri[v] < pri[u] for u in nbrs.get(v, ()) if u in active)
        }
        active -= win
    _REPLAY_CACHE[key] = rnd
    return rnd


def _coloring_oracle(seed: str = "col") -> str:
    """Unrolled JP rounds (count replayed by
    :func:`_replay_coloring_rounds`) — md5-string priorities compare
    identically in both engines; the min-free-color step enumerates
    candidates 0..|forbidden| and takes the min not forbidden."""
    rounds = _replay_coloring_rounds(seed)
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "sym AS MATERIALIZED (SELECT DISTINCT a, b FROM ("
        "SELECT src AS a, dst AS b FROM e WHERE src <> dst "
        "UNION ALL SELECT dst, src FROM e WHERE src <> dst)), ",
        "verts AS (SELECT DISTINCT src AS id FROM "
        "(SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), ",
        f"p AS MATERIALIZED (SELECT id, md5('{seed}:' || CAST(id AS VARCHAR)) "
        "|| lpad(CAST(id AS VARCHAR), 12, '0') AS pr FROM verts), ",
        "a1 AS MATERIALIZED (SELECT id FROM verts), ",
        "col0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INT) "
        "AS color WHERE 1 = 0), ",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS (SELECT s.a AS id, min(p.pr) AS npr FROM sym s "
            f"JOIN a{r} x ON x.id = s.a JOIN a{r} y ON y.id = s.b "
            "JOIN p ON p.id = s.b GROUP BY s.a), "
            f"s{r} AS MATERIALIZED (SELECT act.id FROM a{r} act "
            "JOIN p ON p.id = act.id "
            f"LEFT JOIN n{r} n ON n.id = act.id "
            "WHERE p.pr < coalesce(n.npr, '~')), "
            f"f{r} AS (SELECT s.a AS id, c.color FROM sym s "
            f"JOIN s{r} w ON w.id = s.a JOIN col{r - 1} c ON c.id = s.b), "
            f"nf{r} AS (SELECT id, count(*) AS n FROM f{r} GROUP BY id), "
            f"cand{r} AS (SELECT w.id, "
            "unnest(range(0, coalesce(nf.n, 0) + 1)) AS c "
            f"FROM s{r} w LEFT JOIN nf{r} nf ON nf.id = w.id), "
            f"mf{r} AS (SELECT cand.id, CAST(min(cand.c) AS INT) AS color "
            f"FROM cand{r} cand WHERE NOT EXISTS (SELECT 1 FROM f{r} f "
            "WHERE f.id = cand.id AND f.color = cand.c) GROUP BY cand.id), "
            f"col{r} AS MATERIALIZED (SELECT * FROM col{r - 1} "
            f"UNION ALL SELECT * FROM mf{r}), "
            f"a{r + 1} AS MATERIALIZED (SELECT id FROM a{r} "
            f"WHERE id NOT IN (SELECT id FROM s{r})), "
        )
    body = "".join(parts).rstrip(", ")
    return f"{body} SELECT id, color FROM col{rounds}"


def _mis_oracle(seed: str = "mis") -> str:
    """Unrolled Luby rounds (count replayed by :func:`_replay_mis_rounds`)
    — md5-string priorities compare identically in both engines, all
    other steps are joins/min/anti-join on integers ⇒ hash-exact."""
    rounds = _replay_mis_rounds(seed)
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "sym AS MATERIALIZED (SELECT DISTINCT a, b FROM ("
        "SELECT src AS a, dst AS b FROM e WHERE src <> dst "
        "UNION ALL SELECT dst, src FROM e WHERE src <> dst)), ",
        "verts AS (SELECT DISTINCT src AS id FROM "
        "(SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), ",
        "a1 AS MATERIALIZED (SELECT id FROM verts), ",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT id, "
            f"md5('{seed}:{r}:' || CAST(id AS VARCHAR)) || "
            "lpad(CAST(id AS VARCHAR), 12, '0') AS pr "
            f"FROM a{r}), "
            f"n{r} AS (SELECT s.a AS id, min(p.pr) AS npr FROM sym s "
            f"JOIN a{r} x ON x.id = s.a JOIN p{r} p ON p.id = s.b "
            "GROUP BY s.a), "
            f"s{r} AS MATERIALIZED (SELECT p.id FROM p{r} p "
            f"LEFT JOIN n{r} n USING (id) "
            "WHERE p.pr < coalesce(n.npr, '~')), "
            f"rm{r} AS (SELECT id FROM s{r} UNION "
            f"SELECT s.b AS id FROM sym s JOIN s{r} k ON k.id = s.a), "
            f"a{r + 1} AS MATERIALIZED (SELECT id FROM a{r} "
            f"WHERE id NOT IN (SELECT id FROM rm{r})), "
        )
    mis_union = " UNION ALL ".join(
        f"SELECT id FROM s{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"mis AS ({mis_union}) ")
    return "".join(parts) + (
        "SELECT v.id, v.id IN (SELECT id FROM mis) AS in_mis FROM verts v"
    )


def _katz_oracle(beta: float = 0.05, iters: int = 8) -> str:
    """Unrolled Katz power series — same association as the engine
    (``1 + β·Σ``); 1e-6 truncation absorbs per-dst sum-order drift
    (the pagerank_fixed8 discipline)."""
    e_sql = _duck_edges_sql()
    b = repr(float(beta))
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "x0 AS (SELECT id, 1.0 AS x FROM verts), ",
    ]
    for t in range(iters):
        parts.append(
            f"x{t + 1} AS MATERIALIZED (SELECT v.id, "
            f"1.0 + {b} * coalesce(s.s, 0.0) AS x FROM verts v "
            "LEFT JOIN (SELECT e.dst AS id, sum(x.x) AS s "
            f"FROM x{t} x JOIN e ON e.src = x.id GROUP BY e.dst) s "
            "ON s.id = v.id), "
        )
    return "".join(parts).rstrip(", ") + (
        f" SELECT id, floor(x * 1000000.0) / 1000000.0 AS katz FROM x{iters}"
    )


def _ppr_push_oracle(
    source: int = 0, alpha: float = 0.8, eps: float = 1e-5
) -> str:
    """Unrolled synchronous forward-push rounds (operators/push.py) —
    round count replayed by ``_replay_push_rounds`` over the oracle's
    own edge table; association matches the engine: p-take is one
    multiply, residual = (pushed-sum + kept) + source-dangling-return."""
    rounds = _replay_push_rounds(source, alpha, eps)
    e_sql = _duck_edges_sql()
    a = repr(float(alpha))
    take = repr(float(1.0 - alpha))
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg "
        "FROM e GROUP BY src), ",
        f"v0 AS MATERIALIZED (SELECT v.id, 0.0 AS p, "
        f"CASE WHEN v.id = {source} THEN 1.0 ELSE 0.0 END AS r, "
        f"{eps!r} * greatest(coalesce(d.outdeg, 0), 1) AS thresh, "
        "d.outdeg IS NULL AS dangling "
        "FROM verts v LEFT JOIN deg d ON d.id = v.id), ",
    ]
    for t in range(rounds):
        parts.append(
            f"push{t} AS MATERIALIZED (SELECT e.dst AS id, "
            f"sum({a} * s.r * e.weight) AS m "
            f"FROM e JOIN v{t} s ON s.id = e.src AND s.r > s.thresh "
            "GROUP BY e.dst), "
        )
        parts.append(
            f"dang{t} AS MATERIALIZED (SELECT coalesce(sum({a} * r), 0.0) AS m "
            f"FROM v{t} WHERE dangling AND r > thresh), "
        )
        parts.append(
            f"v{t + 1} AS MATERIALIZED (SELECT s.id, "
            f"s.p + CASE WHEN s.r > s.thresh THEN {take} * s.r ELSE 0.0 END AS p, "
            "(coalesce(pu.m, 0.0) "
            "+ CASE WHEN s.r > s.thresh THEN 0.0 ELSE s.r END) "
            f"+ CASE WHEN s.id = {source} THEN (SELECT m FROM dang{t}) "
            "ELSE 0.0 END AS r, "
            "s.thresh, s.dangling "
            f"FROM v{t} s LEFT JOIN push{t} pu ON pu.id = s.id), "
        )
    return "".join(parts).rstrip(", ") + (
        f" SELECT id, floor(p * 1000000.0) / 1000000.0 AS p_hat, "
        f"floor(r * 1000000.0) / 1000000.0 AS residual FROM v{rounds}"
    )


def _eigenvector_oracle(iters: int = 8) -> str:
    """Unrolled L2-normalized power iteration — HITS's authority chain
    without the hub interleave; same association as the engine (raw
    per-vertex sums → ONE global sqrt(sum(raw²)) → divide, zero/empty
    norm → 1.0 like ``_l2``)."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED (SELECT src, dst FROM ({e_sql})), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "x0 AS MATERIALIZED (SELECT id, 1.0 AS s FROM verts), ",
    ]
    for k in range(iters):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT e.dst AS gid, sum(x{k}.s) AS raw "
            f"FROM e JOIN x{k} ON x{k}.id = e.src GROUP BY e.dst), "
        )
        parts.append(
            f"n{k} AS MATERIALIZED (SELECT coalesce(nullif("
            f"sqrt(sum(raw * raw)), 0.0), 1.0) AS n FROM r{k}), "
        )
        parts.append(
            f"x{k + 1} AS MATERIALIZED (SELECT v.id, "
            f"coalesce(r.raw, 0.0) / (SELECT n FROM n{k}) AS s "
            f"FROM verts v LEFT JOIN r{k} r ON r.gid = v.id), "
        )
    return "".join(parts).rstrip(", ") + (
        f" SELECT id, floor(s * 1000000.0) / 1000000.0 AS eig FROM x{iters}"
    )


def _cms_tokens_oracle(width: int = 512, depth: int = 4) -> str:
    """Count-min registers + min-probe replayed cell-for-cell."""
    from approximate_pagerank_public_spark.functions.sketch import cms_oracle_sql

    relation = (
        "(SELECT token AS value FROM (SELECT unnest(string_split_regex("
        "lower(trim(text)), '\\s+')) AS token FROM documents) "
        "WHERE token <> '') tk"
    )
    query_sql = (
        "SELECT token AS value FROM (SELECT token, count(*) AS n FROM "
        "(SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token "
        "FROM documents) WHERE token <> '' GROUP BY token "
        "ORDER BY n DESC, token ASC LIMIT 20)"
    )
    return cms_oracle_sql(relation, "value", width, depth, query_sql)


def _bpe_ctes(n_merges: int = 6) -> str:
    """The unrolled BPE training chain (no ``WITH`` prefix): w0 word
    counts -> m0 initial per-char symbol strings -> per round r:
    b{r-1} symbol arrays, p{r} weighted pair counts, best{r} the
    (count desc, left asc, right asc) argmax, m{r} the literal
    ``|l||r|`` -> ``|lr|`` replace — exactly
    ``operators/bpe.py::bpe_merges``."""
    parts = [
        "w0 AS (SELECT w, count(*) AS cnt FROM (SELECT "
        "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w "
        "FROM documents) t WHERE regexp_matches(w, '^[a-z0-9]+$') "
        "GROUP BY w), "
        "m0 AS MATERIALIZED (SELECT w, cnt, "
        "regexp_replace(w, '(.)', '|\\1|', 'g') AS s FROM w0)"
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"b{r - 1} AS (SELECT cnt, "
            "string_split(substr(s, 2, length(s) - 2), '||') AS sy "
            f"FROM m{r - 1}), "
            f"p{r} AS (SELECT sy[i] AS l, sy[i + 1] AS rr, "
            f"sum(cnt) AS total FROM b{r - 1}, "
            "unnest(range(1, len(sy))) AS t(i) GROUP BY 1, 2), "
            f"best{r} AS MATERIALIZED (SELECT l, rr, total FROM p{r} "
            "ORDER BY total DESC, l ASC, rr ASC LIMIT 1), "
            f"m{r} AS MATERIALIZED (SELECT w, cnt, "
            "replace(s, '|' || b.l || '||' || b.rr || '|', "
            f"'|' || b.l || b.rr || '|') AS s FROM m{r - 1} "
            f"CROSS JOIN best{r} b)"
        )
    return ", ".join(parts)


def _bpe_merges_oracle(n_merges: int = 6) -> str:
    union = " UNION ALL ".join(
        f"SELECT {r} AS round, l AS left_sym, rr AS right_sym, "
        f"CAST(total AS BIGINT) AS freq FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_ctes(n_merges)} SELECT * FROM ({union})"


def _bpe_segment_oracle(n_merges: int = 6, top_words: int = 50) -> str:
    return (
        f"WITH {_bpe_ctes(n_merges)}, "
        "seg AS (SELECT w, cnt, array_to_string(string_split("
        f"substr(s, 2, length(s) - 2), '||'), ' ') AS pieces FROM m{n_merges}), "
        "ranked AS (SELECT w, cnt, pieces, row_number() OVER ("
        "ORDER BY cnt DESC, w ASC) AS rn FROM seg) "
        "SELECT w, cnt, pieces, "
        "CAST(len(string_split(pieces, ' ')) AS INT) AS n_pieces "
        f"FROM ranked WHERE rn <= {top_words}"
    )


def _dedup_clusters_oracle() -> str:
    """Transitive closure over the md5-MinHash candidate pairs: rep_id =
    min mutually-reachable doc id (recursive CTE), keep = is-rep. The
    pair CTE is the verbatim ``_minhash_oracle`` query nested as a
    derived table, so both checks share one pair definition."""
    pairs_sql = _minhash_oracle()
    return (
        "WITH RECURSIVE "
        f"pairs AS MATERIALIZED (SELECT * FROM ({pairs_sql}) t), "
        "sym AS (SELECT a, b FROM pairs UNION "
        "SELECT b AS a, a AS b FROM pairs), "
        "reach(id, lbl) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT s.a AS id, r.lbl FROM sym s JOIN reach r ON r.id = s.b) "
        "SELECT id AS doc_id, min(lbl) AS rep_id, id = min(lbl) AS keep "
        "FROM reach GROUP BY id"
    )


def _ngram_jaccard_oracle() -> str:
    return (
        "WITH toksrc AS (SELECT doc_id, "
        "  string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks "
        "  FROM documents), "
        "sh AS (SELECT doc_id, unnest(list_distinct("
        "  [array_to_string(toks[i+1:i+3], ' ') "
        "   for i in range(0, greatest(len(toks) - 3, 0) + 1)])) AS shingle "
        "  FROM toksrc), "
        "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
        "pairs AS (SELECT d1.doc_id AS a, d2.doc_id AS b FROM documents d1 "
        "  JOIN documents d2 ON d2.doc_id = d1.doc_id + 1), "
        "inter AS (SELECT p.a, p.b, count(*) AS i FROM pairs p "
        "  JOIN sh sa ON sa.doc_id = p.a "
        "  JOIN sh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle "
        "  GROUP BY p.a, p.b) "
        "SELECT p.a, p.b, floor(coalesce(i.i, 0) "
        "  / (za.sz + zb.sz - coalesce(i.i, 0)) * 1000000.0) / 1000000.0 AS jaccard "
        "FROM pairs p LEFT JOIN inter i ON i.a = p.a AND i.b = p.b "
        "JOIN sizes za ON za.doc_id = p.a JOIN sizes zb ON zb.doc_id = p.b"
    )


def _split_contamination_oracle(n: int = 3, max_df: int = 100) -> str:
    """Replays operators/curation.py::split_contamination verbatim:
    the md5-bucket split (train <800000, test >=900000 millionths),
    shingles() word n-grams (distinct per doc, degenerate whole-doc
    shingle below n tokens), the train document-frequency boilerplate
    cap, and the one IEEE division truncated to 6 dp."""
    norm = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
    return (
        "WITH sp AS (SELECT doc_id, "
        f"string_split({norm}, ' ') AS toks, "
        "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) "
        "AS BIGINT) % 1000000 AS bk FROM documents), "
        "sh AS (SELECT doc_id, bk, unnest(list_distinct("
        f"[array_to_string(toks[i+1:i+{n}], ' ') "
        f"for i in range(0, greatest(len(toks) - {n}, 0) + 1)])) AS shingle "
        "FROM sp), "
        "ev AS (SELECT doc_id, shingle FROM sh WHERE bk >= 900000), "
        "tr AS (SELECT doc_id AS train_doc, shingle FROM sh WHERE bk < 800000), "
        "keep AS (SELECT shingle FROM tr GROUP BY shingle "
        f"HAVING count(*) <= {max_df}), "
        "trk AS (SELECT train_doc, shingle FROM tr JOIN keep USING (shingle)), "
        "totals AS (SELECT doc_id, count(*) AS total_ngrams FROM ev "
        "GROUP BY doc_id), "
        "hits AS (SELECT ev.doc_id, "
        "count(DISTINCT ev.shingle) AS matched_ngrams, "
        "count(DISTINCT trk.train_doc) AS matched_train_docs "
        "FROM ev JOIN trk USING (shingle) GROUP BY ev.doc_id) "
        "SELECT t.doc_id, t.total_ngrams, "
        "CAST(coalesce(h.matched_ngrams, 0) AS BIGINT) AS matched_ngrams, "
        "CAST(coalesce(h.matched_train_docs, 0) AS BIGINT) AS matched_train_docs, "
        "floor(CAST(coalesce(h.matched_ngrams, 0) AS DOUBLE) "
        "/ CAST(t.total_ngrams AS DOUBLE) * 1000000.0) / 1000000.0 "
        "AS contamination "
        "FROM totals t LEFT JOIN hits h USING (doc_id)"
    )


_REV_CPCT_SQL = (
    "CAST(round(l_extendedprice*100) AS BIGINT) * "
    "(100 - CAST(round(l_discount*100) AS BIGINT))"
)


def _order_priority_oracle(
    date_from: str = "1996-10-01",
    date_to: str = "1997-01-01",
    late_days: int = 60,
) -> str:
    """`operators/relational.py::order_priority_counts` (Q4 shape) —
    EXISTS over the lateness inequality, exact integer counts."""
    return (
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count "
        f"FROM orders WHERE o_orderdate >= TIMESTAMP '{date_from}' "
        f"AND o_orderdate < TIMESTAMP '{date_to}' "
        "AND EXISTS (SELECT 1 FROM lineitem "
        "WHERE l_orderkey = o_orderkey "
        f"AND l_shipdate > o_orderdate + INTERVAL {late_days} DAY) "
        "GROUP BY o_orderpriority"
    )


def _returned_revenue_oracle(
    date_from: str = "1996-10-01", date_to: str = "1997-01-01", k: int = 20
) -> str:
    """`operators/relational.py::returned_revenue_topk` (Q10 shape) —
    integer cent·percent revenue, cents balance, deterministic top-k."""
    return (
        "SELECT c_custkey, c_name, "
        f"CAST(sum({_REV_CPCT_SQL}) AS BIGINT) AS revenue_cpct, "
        "CAST(round(c_acctbal*100) AS BIGINT) AS acctbal_cents, n_name "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE o_orderdate >= TIMESTAMP '{date_from}' "
        f"AND o_orderdate < TIMESTAMP '{date_to}' "
        "AND l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, acctbal_cents, n_name "
        f"ORDER BY revenue_cpct DESC, c_custkey ASC LIMIT {k}"
    )


def _pricing_summary_oracle() -> str:
    """`operators/relational.py::pricing_summary` — all-integer money
    (see the module docstring for why round(x·100) is cross-engine
    bit-exact on the 2-dp fixtures)."""
    return (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, "
        "CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) "
        "AS sum_base_cents, "
        f"CAST(sum({_REV_CPCT_SQL}) AS BIGINT) AS sum_disc_cpct, "
        "CAST(count(*) AS BIGINT) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    )


def _segment_top_orders_oracle() -> str:
    """`operators/relational.py::segment_top_orders` (Q3 shape)."""
    return (
        "SELECT l_orderkey, "
        f"CAST(sum({_REV_CPCT_SQL}) AS BIGINT) AS revenue_cpct, "
        "o_orderpriority "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1997-06-01' "
        "AND l_shipdate > TIMESTAMP '1997-06-01' "
        "GROUP BY l_orderkey, o_orderpriority "
        "ORDER BY revenue_cpct DESC, l_orderkey ASC LIMIT 10"
    )


def _regional_revenue_oracle() -> str:
    """`operators/relational.py::regional_revenue` (Q5 shape with the
    local-supplier constraint)."""
    return (
        "SELECT n_name, "
        f"CAST(sum({_REV_CPCT_SQL}) AS BIGINT) AS revenue_cpct "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "JOIN customer ON c_nationkey = n_nationkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey "
        "WHERE r_name = 'ASIA' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY n_name"
    )


def _volume_shipping_oracle() -> str:
    """`operators/relational.py::volume_shipping` (Q7 shape)."""
    return (
        "SELECT supp_nation, cust_nation, l_year, "
        f"CAST(sum({_REV_CPCT_SQL}) AS BIGINT) AS revenue_cpct FROM "
        "(SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(date_part('year', l_shipdate) AS BIGINT) AS l_year, "
        "l_extendedprice, l_discount "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE n1.n_name IN ('NATION_1','NATION_2') "
        "AND n2.n_name IN ('NATION_1','NATION_2') "
        "AND n1.n_name <> n2.n_name "
        "AND l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01') "
        "GROUP BY supp_nation, cust_nation, l_year"
    )


def _market_share_oracle() -> str:
    """`operators/relational.py::market_share` (Q8 shape)."""
    num = f"sum(CASE WHEN supp_name = 'NATION_3' THEN {_REV_CPCT_SQL} ELSE 0 END)"
    den = f"sum({_REV_CPCT_SQL})"
    return (
        f"SELECT o_year, CAST({num} AS BIGINT) AS nation_cpct, "
        f"CAST({den} AS BIGINT) AS total_cpct, "
        f"floor((CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)) "
        "* 1000000.0) / 1000000.0 AS mkt_share FROM "
        "(SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year, "
        "sn.n_name AS supp_name, l_extendedprice, l_discount "
        "FROM region JOIN nation cn ON cn.n_regionkey = r_regionkey "
        "JOIN customer ON c_nationkey = cn.n_nationkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation sn ON s_nationkey = sn.n_nationkey "
        "WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY' "
        "AND o_orderdate >= TIMESTAMP '1995-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01') "
        "GROUP BY o_year"
    )


def _top_supplier_oracle() -> str:
    """`operators/relational.py::top_supplier` (Q15 shape)."""
    return (
        "WITH rev AS MATERIALIZED (SELECT l_suppkey, "
        f"CAST(sum({_REV_CPCT_SQL}) AS BIGINT) AS total_revenue_cpct "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-07-01' "
        "AND l_shipdate < TIMESTAMP '1996-10-01' GROUP BY l_suppkey) "
        "SELECT s_suppkey, s_name, total_revenue_cpct "
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE total_revenue_cpct = "
        "(SELECT max(total_revenue_cpct) FROM rev)"
    )


def _bracket_revenue_oracle() -> str:
    """`operators/relational.py::bracket_revenue` (Q19 shape)."""
    q = "CAST(round(l_quantity) AS BIGINT)"
    return (
        f"SELECT CAST(coalesce(sum({_REV_CPCT_SQL}), 0) AS BIGINT) "
        "AS revenue_cpct, count(*) AS n_lines "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 "
        f"AND {q} BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 "
        f"AND {q} BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15 "
        f"AND {q} BETWEEN 20 AND 30)"
    )


def _promo_share_oracle() -> str:
    """`operators/relational.py::promo_revenue_share` (Q14 shape)."""
    return (
        "SELECT CAST(date_part('year', l_shipdate) AS BIGINT) AS ship_year, "
        f"CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_CPCT_SQL} "
        "ELSE 0 END) AS BIGINT) AS promo_cpct, "
        f"CAST(sum({_REV_CPCT_SQL}) AS BIGINT) AS total_cpct, "
        "floor((CAST(sum(CASE WHEN p_type = 'PROMO' THEN "
        f"{_REV_CPCT_SQL} ELSE 0 END) AS DOUBLE) / "
        f"CAST(sum({_REV_CPCT_SQL}) AS DOUBLE)) * 1000000.0) / 1000000.0 "
        "AS promo_share "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "GROUP BY date_part('year', l_shipdate)"
    )


def _dup_spans_oracle(w: int = 8) -> str:
    """Exact substring-window dedup
    (`operators/curation.py::window_dedup_stats`): same tokenizer as
    the token/vocab oracles, md5 over the space-joined w-token window,
    cross-doc distinct frequency ≥ 2 flags a window. Counts BIGINT; the
    fraction is one IEEE division, floor-truncated on both sides."""
    return (
        "WITH toks AS MATERIALIZED ("
        "SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t "
        "FROM documents), "
        "w AS MATERIALIZED ("
        f"SELECT doc_id, md5(array_to_string(t[i:i+{w-1}], ' ')) AS h "
        f"FROM toks, LATERAL (SELECT unnest(range(1, len(t) - {w-2})) AS i) r "
        f"WHERE len(t) >= {w}), "
        "d AS MATERIALIZED ("
        "SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2) "
        "SELECT w.doc_id, CAST(count(*) AS BIGINT) AS total_windows, "
        "CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS dup_windows, "
        "floor((CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) "
        "AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000.0) / 1000000.0 "
        "AS dup_fraction "
        "FROM w LEFT JOIN d ON d.h = w.h GROUP BY w.doc_id"
    )


def _repetition_stats_oracle(n: int = 2) -> str:
    """Replays operators/curation.py::repetition_stats (top_n = dup_n =
    ``n`` so one gram relation serves both): duplicate-line fractions
    over raw \\n lines, the (count desc, gram asc) top n-gram, and the
    duplicate n-gram position fraction — integer counts + one division
    per metric, floor-truncated to 6 dp like the engine."""
    norm = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
    return (
        "WITH base AS (SELECT doc_id, "
        "string_split(text, chr(10)) AS lns, "
        f"string_split({norm}, ' ') AS toks, "
        f"length({norm}) AS chars FROM documents), "
        "lr AS (SELECT doc_id, unnest(lns) AS line FROM base), "
        "pl AS (SELECT doc_id, line, count(*) AS c FROM lr "
        "GROUP BY doc_id, line), "
        "la AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines, "
        "count(*) AS n_distinct_lines, "
        "CAST(sum(c * length(line)) AS BIGINT) AS line_chars, "
        "CAST(sum(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END) AS BIGINT) "
        "AS dup_line_chars FROM pl GROUP BY doc_id), "
        "g2 AS (SELECT doc_id, unnest("
        f"[array_to_string(toks[i+1:i+{n}], ' ') "
        f"for i in range(0, greatest(len(toks) - {n} + 1, 0))]) AS g "
        "FROM base), "
        "pg AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g), "
        "tg AS (SELECT doc_id, g AS top_ngram, c * length(g) AS top_ngram_chars "
        "FROM (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id "
        "ORDER BY c DESC, g ASC) AS rn FROM pg) WHERE rn = 1), "
        "dup AS (SELECT doc_id, count(*) AS ngram_positions, "
        "count(DISTINCT g) AS distinct_ngrams FROM g2 GROUP BY doc_id) "
        "SELECT b.doc_id, la.n_lines, "
        "floor(CASE WHEN la.n_lines > 0 THEN 1.0 - "
        "CAST(la.n_distinct_lines AS DOUBLE) / CAST(la.n_lines AS DOUBLE) "
        "ELSE 0.0 END * 1000000.0) / 1000000.0 AS dup_line_frac, "
        "floor(CASE WHEN la.line_chars > 0 THEN "
        "CAST(la.dup_line_chars AS DOUBLE) / CAST(la.line_chars AS DOUBLE) "
        "ELSE 0.0 END * 1000000.0) / 1000000.0 AS dup_line_char_frac, "
        "t.top_ngram, "
        "floor(CASE WHEN b.chars > 0 THEN "
        "CAST(coalesce(t.top_ngram_chars, 0) AS DOUBLE) / CAST(b.chars AS DOUBLE) "
        "ELSE 0.0 END * 1000000.0) / 1000000.0 AS top_ngram_frac, "
        "floor(CASE WHEN coalesce(d.ngram_positions, 0) > 0 THEN "
        "CAST(d.ngram_positions - d.distinct_ngrams AS DOUBLE) "
        "/ CAST(d.ngram_positions AS DOUBLE) ELSE 0.0 END * 1000000.0) "
        "/ 1000000.0 AS dup_ngram_frac "
        "FROM base b LEFT JOIN la USING (doc_id) LEFT JOIN tg t USING (doc_id) "
        "LEFT JOIN dup d USING (doc_id)"
    )


def _attack_tolerance_oracle(ks=(0, 1, 4, 16)) -> str:
    """`operators/graphstats.py::attack_tolerance` — per k: drop the
    global (deg DESC, id ASC) top-k hit list, min-label CC over the
    survivors, max component size."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH RECURSIVE e AS MATERIALIZED ({e_sql}), ",
        "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)), ",
        "pairs AS MATERIALIZED "
        "(SELECT src AS a, dst AS b FROM und WHERE src < dst), ",
        "deg AS MATERIALIZED (SELECT id, count(*) AS deg FROM "
        "(SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs) "
        "GROUP BY id), ",
        "hits AS MATERIALIZED (SELECT id, row_number() OVER "
        "(ORDER BY deg DESC, id ASC) AS rn FROM deg), ",
    ]
    sels = []
    for k in sorted(int(x) for x in ks):
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT a, b FROM pairs "
            f"WHERE a NOT IN (SELECT id FROM hits WHERE rn <= {k}) "
            f"AND b NOT IN (SELECT id FROM hits WHERE rn <= {k})), "
        )
        parts.append(
            f"u{k} AS MATERIALIZED (SELECT DISTINCT id FROM "
            f"(SELECT a AS id FROM s{k} UNION ALL SELECT b FROM s{k})), "
        )
        parts.append(
            f"y{k} AS MATERIALIZED (SELECT a AS src, b AS dst FROM s{k} "
            f"UNION ALL SELECT b, a FROM s{k}), "
        )
        parts.append(
            f"r{k}(id, lbl) AS (SELECT id, id FROM u{k} "
            f"UNION SELECT y{k}.dst, r{k}.lbl FROM r{k} "
            f"JOIN y{k} ON r{k}.id = y{k}.src), "
        )
        parts.append(
            f"c{k} AS MATERIALIZED "
            f"(SELECT id, min(lbl) AS comp FROM r{k} GROUP BY id), "
        )
        sels.append(
            f"SELECT CAST({k} AS BIGINT) AS k, "
            f"CAST((SELECT count(*) FROM hits WHERE rn <= {k}) AS BIGINT) "
            "AS removed, "
            "CAST(coalesce((SELECT max(n) FROM "
            f"(SELECT comp, count(*) AS n FROM c{k} GROUP BY comp)), 0) "
            "AS BIGINT) AS giant_size"
        )
    return "".join(parts)[:-2] + " " + " UNION ALL ".join(sels)


def _random_failure_oracle(keep_pcts=(100, 75, 50, 25)) -> str:
    """`operators/graphstats.py::random_failure_curve` — md5 percent
    survival + per-point min-label CC over the survivors."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH RECURSIVE e AS MATERIALIZED ({e_sql}), ",
        "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)), ",
        "pairs AS MATERIALIZED (SELECT a, b, "
        "CAST('0x' || substr(md5('rf:' || CAST(a AS VARCHAR) || ':' || "
        "CAST(b AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS pct FROM "
        "(SELECT src AS a, dst AS b FROM und WHERE src < dst)), ",
    ]
    sels = []
    for keep in sorted((int(x) for x in keep_pcts), reverse=True):
        parts.append(
            f"s{keep} AS MATERIALIZED "
            f"(SELECT a, b FROM pairs WHERE pct < {keep}), "
        )
        parts.append(
            f"u{keep} AS MATERIALIZED (SELECT DISTINCT id FROM "
            f"(SELECT a AS id FROM s{keep} UNION ALL SELECT b FROM s{keep})), "
        )
        parts.append(
            f"y{keep} AS MATERIALIZED (SELECT a AS src, b AS dst FROM s{keep} "
            f"UNION ALL SELECT b, a FROM s{keep}), "
        )
        parts.append(
            f"r{keep}(id, lbl) AS (SELECT id, id FROM u{keep} "
            f"UNION SELECT y{keep}.dst, r{keep}.lbl FROM r{keep} "
            f"JOIN y{keep} ON r{keep}.id = y{keep}.src), "
        )
        parts.append(
            f"c{keep} AS MATERIALIZED "
            f"(SELECT id, min(lbl) AS comp FROM r{keep} GROUP BY id), "
        )
        sels.append(
            f"SELECT CAST({keep} AS BIGINT) AS keep_pct, "
            f"CAST((SELECT count(*) FROM s{keep}) AS BIGINT) AS kept_pairs, "
            "CAST(coalesce((SELECT max(n) FROM "
            f"(SELECT comp, count(*) AS n FROM c{keep} GROUP BY comp)), 0) "
            "AS BIGINT) AS giant_size"
        )
    return "".join(parts)[:-2] + " " + " UNION ALL ".join(sels)


def _ann_recall_oracle() -> str:
    """Composes the exact-cosine and LSH oracles (both independently
    hash-checked) into the per-query hit count."""
    return (
        f"WITH ex AS MATERIALIZED ({_cosine_topk_oracle()}), "
        f"lsh AS MATERIALIZED ({_ann_lsh_oracle()}), "
        "qids AS (SELECT DISTINCT query_id FROM ex), "
        "h AS (SELECT e.query_id, count(*) AS hits FROM ex e JOIN lsh l "
        "ON l.query_id = e.query_id AND l.vec_id = e.vec_id "
        "GROUP BY e.query_id) "
        "SELECT q.query_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, "
        "floor((CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0) * 1000000.0) "
        "/ 1000000.0 AS recall "
        "FROM qids q LEFT JOIN h ON h.query_id = q.query_id"
    )


def _max_coverage_oracle(k: int = 5) -> str:
    """`operators/curation.py::max_coverage_docs` unrolled: k greedy
    rounds of (count, argmax, retire-covered-shingles)."""
    parts = [f"WITH {_DUCK_SHINGLES}, ", "r1 AS MATERIALIZED (SELECT doc_id, shingle FROM sh), "]
    for i in range(1, k + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT doc_id, count(*) AS gain "
            f"FROM r{i} GROUP BY doc_id "
            "ORDER BY gain DESC, doc_id ASC LIMIT 1), "
        )
        if i < k:
            parts.append(
                f"r{i + 1} AS MATERIALIZED (SELECT r.doc_id, r.shingle "
                f"FROM r{i} r WHERE r.shingle NOT IN "
                f"(SELECT shingle FROM r{i} "
                f"WHERE doc_id = (SELECT doc_id FROM c{i}))), "
            )
    body = "".join(parts)[:-2]
    sel = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS pos, doc_id, "
        f"CAST(gain AS BIGINT) AS new_shingles FROM c{i}"
        for i in range(1, k + 1)
    )
    return body + " " + sel


def _hitting_prob_oracle(iters: int = 8) -> str:
    """`operators/absorbing.py::hitting_probability` unrolled — same
    clamped-Jacobi rounds, same ``(weight · p)`` per-src sums (the
    pagerank_fixed8 convention: stable6 truncation at the edge absorbs
    the engines' differing in-group summation orders)."""
    parts = [
        f"WITH e AS MATERIALIZED ({_duck_edges_sql()}), ",
        f"v AS MATERIALIZED ({_duck_vertices_sql()}), ",
        "t AS MATERIALIZED (SELECT id FROM v WHERE "
        "entity = 'tool:tool_error'), ",
        "ab AS MATERIALIZED (SELECT id FROM v WHERE "
        "entity = 'role:system'), ",
        "p0 AS MATERIALIZED (SELECT id, CASE WHEN id IN "
        "(SELECT id FROM t) THEN 1.0 ELSE 0.0 END AS p FROM v), ",
    ]
    for k in range(int(iters)):
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT e.src, sum(e.weight * q.p) AS s "
            f"FROM e JOIN p{k} q ON q.id = e.dst GROUP BY e.src), "
        )
        parts.append(
            f"p{k + 1} AS MATERIALIZED (SELECT v.id, "
            "CASE WHEN v.id IN (SELECT id FROM t) THEN 1.0 "
            "WHEN v.id IN (SELECT id FROM ab) THEN 0.0 "
            f"ELSE coalesce(s{k}.s, 0.0) END AS p "
            f"FROM v LEFT JOIN s{k} ON s{k}.src = v.id), "
        )
    body = "".join(parts)[:-2]  # drop trailing ", "
    return (
        body
        + f" SELECT id, floor(p * 1000000.0) / 1000000.0 AS p FROM p{int(iters)}"
    )


def _pagerank_fixed_oracle(
    iters: int = 8,
    alpha: float = 0.8,
    source: int | None = None,
    dangling_norm: bool = True,
    e_sql: str | None = None,
) -> str:
    """PageRank unrolled as a chained-CTE power iteration (no recursive
    aggregation needed). Arithmetic is parenthesized to match the
    engine's superstep exactly — ``(α·c + (α/n)·dm) + (1-α)/n`` — so
    after 1e-6 truncation both engines agree despite different
    summation orders inside the per-dst aggregates. ``e_sql`` overrides
    the edge relation (default: the uniform 1/outdeg transcript edges;
    the temporal query passes the recency-decayed weights)."""
    e_sql = e_sql or _duck_edges_sql()
    a = repr(float(alpha))
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts), ",
        "dang AS MATERIALIZED "
        "(SELECT id FROM verts WHERE id NOT IN (SELECT src FROM e)), ",
        (
            "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT c FROM nv) AS r FROM verts), "
            if source is None
            else f"r0 AS MATERIALIZED (SELECT id, CASE WHEN id = {source} "
            "THEN 1.0 ELSE 0.0 END AS r FROM verts), "
        ),
    ]
    for k in range(iters):
        if dangling_norm:
            parts.append(
                f"d{k} AS MATERIALIZED (SELECT coalesce(sum(r), 0.0) AS dm FROM r{k} "
                f"WHERE id IN (SELECT id FROM dang)), "
            )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e.dst, sum(e.weight * r{k}.r) AS s "
            f"FROM e JOIN r{k} ON r{k}.id = e.src GROUP BY e.dst), "
        )
        dang_term = (
            f" + ({a} / (SELECT c FROM nv)) * (SELECT dm FROM d{k})"
            if dangling_norm
            else ""
        )
        parts.append(
            f"r{k+1} AS MATERIALIZED (SELECT v.id, "
            f"({a} * coalesce(c{k}.s, 0.0){dang_term})"
            + (
                f" + ((1.0 - {a}) / (SELECT c FROM nv)) AS r "
                if source is None
                else f" + (CASE WHEN v.id = {source} THEN (1.0 - {a}) "
                "ELSE 0.0 END) AS r "
            )
            + f"FROM verts v LEFT JOIN c{k} ON c{k}.dst = v.id), "
        )
    sql = "".join(parts).rstrip(", ")
    return (
        sql + f" SELECT id, floor(r * 1000000.0) / 1000000.0 AS rank FROM r{iters}"
    )


_TEXTRANK_VT_SQL = (
    "SELECT token, CAST(dense_rank() OVER (ORDER BY token) - 1 AS BIGINT) "
    "AS id FROM (SELECT DISTINCT a AS token FROM ("
    "SELECT a, b FROM ("
    "SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b "
    "FROM (SELECT doc_id, "
    "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok, "
    "generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) "
    "AS pos FROM documents)) WHERE b IS NOT NULL AND a <> b "
    "UNION ALL SELECT b, a FROM ("
    "SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b "
    "FROM (SELECT doc_id, "
    "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok, "
    "generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) "
    "AS pos FROM documents)) WHERE b IS NOT NULL AND a <> b) "
    "UNION SELECT b FROM ("
    "SELECT a, b FROM ("
    "SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b "
    "FROM (SELECT doc_id, "
    "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok, "
    "generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) "
    "AS pos FROM documents)) WHERE b IS NOT NULL AND a <> b "
    "UNION ALL SELECT b, a FROM ("
    "SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b "
    "FROM (SELECT doc_id, "
    "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok, "
    "generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) "
    "AS pos FROM documents)) WHERE b IS NOT NULL AND a <> b))"
)


def _textrank_oracle(iters: int = 8, alpha: float = 0.85, topk: int = 20) -> str:
    """TextRank replay: the token co-occurrence edge relation (counts /
    src-sum weights, dense_rank-1 token ids) plugged into the SAME
    unrolled power-iteration oracle as pagerank_fixed8, then the
    (truncated rank desc, token asc) top-k cut."""
    pair_sql = (
        "SELECT a, b FROM ("
        "SELECT tok AS a, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) "
        "AS b FROM (SELECT doc_id, "
        "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok, "
        "generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) "
        "AS pos FROM documents)) WHERE b IS NOT NULL AND a <> b"
    )
    e_sql = (
        f"SELECT va.id AS src, vb.id AS dst, "
        "CAST(co.cnt AS DOUBLE) / CAST(ss.ssum AS DOUBLE) AS weight FROM "
        f"(SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM "
        f"({pair_sql} UNION ALL SELECT b, a FROM ({pair_sql}) p2) sym "
        "GROUP BY a, b) co "
        "JOIN (SELECT a, CAST(sum(cnt) AS BIGINT) AS ssum FROM "
        f"(SELECT a, CAST(count(*) AS BIGINT) AS cnt FROM "
        f"({pair_sql} UNION ALL SELECT b, a FROM ({pair_sql}) p3) sym2 "
        "GROUP BY a, b) GROUP BY a) ss ON ss.a = co.a "
        f"JOIN ({_TEXTRANK_VT_SQL}) va ON va.token = co.a "
        f"JOIN ({_TEXTRANK_VT_SQL}) vb ON vb.token = co.b"
    )
    pr = _pagerank_fixed_oracle(iters, alpha, e_sql=e_sql)
    return (
        f"SELECT vt.token, pr.rank FROM ({pr}) pr "
        f"JOIN ({_TEXTRANK_VT_SQL}) vt ON vt.id = pr.id "
        f"ORDER BY pr.rank DESC, vt.token ASC LIMIT {int(topk)}"
    )


def _spectral_oracle(iters: int = 8) -> str:
    """Deflated power iteration unrolled (operators/spectral.py):
    u = sqrt(degree) is the CLOSED-FORM dominant eigenvector of the
    normalized adjacency, uᵀu = Σd = 2m is an exact BIGINT, and every
    iteration is (pinned projection) → (one edge aggregation of
    ``y_j / (u_i·u_j)`` terms) → (one L2 norm) — the
    ``_pagerank_fixed_oracle`` ulp-under-truncation argument carries
    the cross-engine match."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH eraw AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({e_sql})), ",
        "sym AS MATERIALIZED (SELECT DISTINCT j, i FROM "
        "(SELECT src AS j, dst AS i FROM eraw "
        "UNION ALL SELECT dst AS j, src AS i FROM eraw)), ",
        "deg AS MATERIALIZED (SELECT i AS id, CAST(count(*) AS BIGINT) "
        "AS d FROM sym GROUP BY i), ",
        "u AS MATERIALIZED (SELECT id, sqrt(CAST(d AS DOUBLE)) AS u "
        "FROM deg), ",
        "m2 AS MATERIALIZED (SELECT CAST(sum(d) AS BIGINT) AS m FROM deg), ",
        "x0 AS MATERIALIZED (SELECT id, "
        "CAST((id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5 "
        "AS x FROM u), ",
    ]
    for k in range(iters):
        parts.append(
            f"pj{k} AS MATERIALIZED (SELECT "
            f"coalesce(sum(u.u * x{k}.x), 0.0) / "
            "CAST((SELECT m FROM m2) AS DOUBLE) AS p "
            f"FROM u JOIN x{k} USING (id)), "
            f"y{k} AS MATERIALIZED (SELECT u.id, "
            f"x{k}.x - ((SELECT p FROM pj{k}) * u.u) AS y "
            f"FROM u JOIN x{k} USING (id)), "
            f"zr{k} AS MATERIALIZED (SELECT sym.i AS id, "
            f"sum(y{k}.y / (ui.u * uj.u)) AS z FROM sym "
            f"JOIN y{k} ON y{k}.id = sym.j "
            "JOIN u uj ON uj.id = sym.j JOIN u ui ON ui.id = sym.i "
            "GROUP BY sym.i), "
            f"z{k} AS MATERIALIZED (SELECT u.id, "
            f"coalesce(zr{k}.z, 0.0) AS z FROM u "
            f"LEFT JOIN zr{k} ON zr{k}.id = u.id), "
            f"n{k} AS MATERIALIZED (SELECT coalesce(nullif("
            f"sqrt(sum(z * z)), 0.0), 1.0) AS n FROM z{k}), "
            f"x{k + 1} AS MATERIALIZED (SELECT id, "
            f"z / (SELECT n FROM n{k}) AS x FROM z{k}), "
        )
    sql = "".join(parts).rstrip(", ")
    return (
        sql
        + f" SELECT id, floor(x * 1000000.0) / 1000000.0 AS f FROM x{iters}"
    )


def _hits_oracle(iters: int = 8) -> str:
    """HITS unrolled as a chained-CTE power iteration. Association
    matches ``operators/hits.py`` exactly: raw per-vertex sums over the
    (already deduped) edge table, ONE global ``sqrt(sum(raw²))`` over
    the raw sums only (absent vertices contribute 0), then the divide;
    a zero/empty norm divides by 1.0 like the engine's ``_l2``."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED (SELECT src, dst FROM ({e_sql})), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "h0 AS MATERIALIZED (SELECT id, 1.0 AS s FROM verts), ",
    ]
    for k in range(iters):
        parts.append(
            f"ar{k} AS MATERIALIZED (SELECT e.dst AS gid, sum(h{k}.s) AS raw "
            f"FROM e JOIN h{k} ON h{k}.id = e.src GROUP BY e.dst), "
        )
        parts.append(
            f"an{k} AS MATERIALIZED (SELECT coalesce(nullif("
            f"sqrt(sum(raw * raw)), 0.0), 1.0) AS n FROM ar{k}), "
        )
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT v.id, "
            f"coalesce(r.raw, 0.0) / (SELECT n FROM an{k}) AS s "
            f"FROM verts v LEFT JOIN ar{k} r ON r.gid = v.id), "
        )
        parts.append(
            f"hr{k} AS MATERIALIZED (SELECT e.src AS gid, sum(a{k}.s) AS raw "
            f"FROM e JOIN a{k} ON a{k}.id = e.dst GROUP BY e.src), "
        )
        parts.append(
            f"hn{k} AS MATERIALIZED (SELECT coalesce(nullif("
            f"sqrt(sum(raw * raw)), 0.0), 1.0) AS n FROM hr{k}), "
        )
        parts.append(
            f"h{k+1} AS MATERIALIZED (SELECT v.id, "
            f"coalesce(r.raw, 0.0) / (SELECT n FROM hn{k}) AS s "
            f"FROM verts v LEFT JOIN hr{k} r ON r.gid = v.id), "
        )
    sql = "".join(parts).rstrip(", ")
    return (
        sql
        + f" SELECT h.id, floor(h.s * 1000000.0) / 1000000.0 AS hub, "
        f"floor(a.s * 1000000.0) / 1000000.0 AS authority "
        f"FROM h{iters} h JOIN a{iters - 1} a ON a.id = h.id"
    )


def _mc_ppr_oracle(
    source: int = 0,
    num_walks: int = 256,
    walk_length: int = 12,
    alpha: float = 0.8,
    seed: str = "mc",
) -> str:
    """Replays ``random_walk_ppr`` hop-for-hop: same 60-bit md5 draw
    (``CAST('0x'||substring(md5(seed:w:t),1,15) AS UBIGINT)`` ==
    Spark's ``conv(substring(md5(...),1,15),16,10)``), same α-percent
    termination, same ``(hv // 100) % deg``-th dst-sorted neighbor."""
    e_sql = _duck_edges_sql()
    pct = int(round(alpha * 100))
    parts = [
        f"WITH e AS MATERIALIZED (SELECT src, dst FROM ({e_sql})), ",
        "adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk, "
        "count(*) OVER (PARTITION BY src) AS deg FROM e), ",
        f"w0 AS MATERIALIZED (SELECT range AS walk, "
        f"CAST({source} AS BIGINT) AS cur, false AS stopped "
        f"FROM range({num_walks})), ",
    ]
    for t in range(walk_length):
        parts.append(
            f"s{t} AS (SELECT walk, cur, stopped, "
            f"CAST(CAST(('0x' || substring(md5('{seed}:' || walk || ':{t}'), 1, 15)) "
            f"AS UBIGINT) AS BIGINT) AS hv FROM w{t}), "
        )
        parts.append(
            f"w{t+1} AS MATERIALIZED (SELECT s.walk, "
            f"coalesce(a.dst, s.cur) AS cur, "
            f"((s.stopped OR (s.hv % 100) >= {pct}) OR a.dst IS NULL) AS stopped "
            f"FROM s{t} s LEFT JOIN adj a ON a.src = s.cur "
            f"AND ((s.hv // 100) % a.deg) = a.rnk "
            f"AND NOT (s.stopped OR (s.hv % 100) >= {pct})), "
        )
    sql = "".join(parts).rstrip(", ")
    return (
        sql + f" SELECT cur AS id, count(*) AS endpoints, "
        f"floor(count(*) / {float(num_walks)!r} * 1000000.0) / 1000000.0 AS ppr_hat "
        f"FROM w{walk_length} GROUP BY cur"
    )


_DUCK_SYM_CTES = (
    "canon AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
    "greatest(src, dst) AS v FROM e WHERE src <> dst), "
    "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM canon "
    "UNION ALL SELECT v AS src, u AS dst FROM canon), "
)


def _kcore_oracle(k: int = 3) -> str:
    """Unrolls the simultaneous-removal peel for the replay-computed
    round count (``peel_kcore_numpy`` over the oracle's own edge table);
    extra rounds are idempotent, so the unroll is exact."""
    import numpy as np

    from approximate_pagerank_public_spark.operators.kcore import peel_kcore_numpy

    src, dst, _w, n = _duck_edge_arrays(_oracle_sf_dir())
    pairs = {(min(s, d), max(s, d)) for s, d in zip(src.tolist(), dst.tolist()) if s != d}
    if pairs:
        u, v = map(np.asarray, zip(*sorted(pairs)))
        _ids, _cd, rounds = peel_kcore_numpy(
            np.concatenate([u, v]), np.concatenate([v, u]), n, k
        )
    else:
        rounds = 0
    e_sql = _duck_edges_sql()
    parts = [f"WITH e AS MATERIALIZED ({e_sql}), ", _DUCK_SYM_CTES, "s0 AS (SELECT * FROM sym), "]
    for i in range(rounds):
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT src FROM s{i} "
            f"GROUP BY src HAVING count(*) >= {k}), "
        )
        parts.append(
            f"s{i+1} AS MATERIALIZED (SELECT s.src, s.dst FROM s{i} s "
            f"JOIN a{i} x ON x.src = s.src JOIN a{i} y ON y.src = s.dst), "
        )
    sql = "".join(parts).rstrip(", ")
    return (
        sql + f" SELECT src AS id, count(*) AS core_deg FROM s{rounds} GROUP BY src"
    )


def _densest_oracle() -> str:
    """Replays the integer peel (``peel_densest_numpy`` over the
    oracle's own edge table) for the exact round count and best round,
    then unrolls that many CTE rounds."""
    import numpy as np

    from approximate_pagerank_public_spark.operators.densest import (
        densest_oracle_sql,
        peel_densest_numpy,
    )

    src, dst, _w, n = _duck_edge_arrays(_oracle_sf_dir())
    pairs = {
        (min(s, d), max(s, d))
        for s, d in zip(src.tolist(), dst.tolist())
        if s != d
    }
    if pairs:
        u, v = map(np.asarray, zip(*sorted(pairs)))
        _rr, best_r, _bv, _be, rounds = peel_densest_numpy(
            u.astype(np.int64), v.astype(np.int64), n
        )
    else:
        best_r, rounds = 0, 0
    return densest_oracle_sql(_duck_edges_sql(), rounds, best_r)


def _coreness_oracle() -> str:
    """Unrolls the H-index iteration (c_{{t+1}}(v) = max over desc-sorted
    neighbor values of least(row_number, value)) for the replay-computed
    round count — integer-valued throughout, hash-exact."""
    import numpy as np

    from approximate_pagerank_public_spark.operators.kcore import (
        hindex_coreness_numpy,
    )

    src, dst, _w, n = _duck_edge_arrays(_oracle_sf_dir())
    pairs = {(min(s, d), max(s, d)) for s, d in zip(src.tolist(), dst.tolist()) if s != d}
    if pairs:
        u, v = map(np.asarray, zip(*sorted(pairs)))
        _c, rounds = hindex_coreness_numpy(
            np.concatenate([u, v]), np.concatenate([v, u]), n
        )
    else:
        rounds = 1
    e_sql = _duck_edges_sql()
    v_sql = _duck_vertices_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        _DUCK_SYM_CTES,
        f"verts AS MATERIALIZED (SELECT id FROM ({v_sql})), ",
        "d0 AS (SELECT src AS id, count(*) AS c FROM sym GROUP BY src), ",
        "c0 AS MATERIALIZED (SELECT v.id, CAST(coalesce(d0.c, 0) AS BIGINT) AS c "
        "FROM verts v LEFT JOIN d0 USING (id)), ",
    ]
    for t in range(rounds):
        parts.append(
            f"h{t} AS MATERIALIZED (SELECT dst AS id, max(least(rn, c)) AS h FROM "
            f"(SELECT s.dst, cp.c, row_number() OVER "
            f"(PARTITION BY s.dst ORDER BY cp.c DESC) AS rn "
            f"FROM sym s JOIN c{t} cp ON cp.id = s.src) GROUP BY dst), "
        )
        parts.append(
            f"c{t+1} AS MATERIALIZED (SELECT v.id, "
            f"CAST(coalesce(h{t}.h, 0) AS BIGINT) AS c "
            f"FROM verts v LEFT JOIN h{t} USING (id)), "
        )
    sql = "".join(parts).rstrip(", ")
    return sql + f" SELECT id, c AS core FROM c{rounds}"


def _clustering_coeff_oracle() -> str:
    """Same formula/association as the Spark side: (2.0·T)/(d·(d−1)) —
    exact ints, one IEEE division, bit-identical across engines."""
    e_sql = _duck_edges_sql()
    v_sql = _duck_vertices_sql()
    return (
        f"WITH e AS MATERIALIZED ({e_sql}), "
        + _DUCK_SYM_CTES
        + f"verts AS MATERIALIZED (SELECT id FROM ({v_sql})), "
        "deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src), "
        "ab AS (SELECT u AS a, v AS b FROM canon), "
        "bc AS (SELECT u AS b, v AS c FROM canon), "
        "ac AS (SELECT u AS a, v AS c FROM canon), "
        "tri AS (SELECT a, b, c FROM ab JOIN bc USING (b) "
        "        WHERE EXISTS (SELECT 1 FROM ac WHERE ac.a = ab.a AND ac.c = bc.c)), "
        "tv AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri "
        "       UNION ALL SELECT c FROM tri), "
        "t AS (SELECT id, count(*) AS triangles FROM tv GROUP BY id) "
        "SELECT v.id, coalesce(deg.deg, 0) AS deg, "
        "coalesce(t.triangles, 0) AS triangles, "
        "CASE WHEN coalesce(deg.deg, 0) >= 2 "
        "THEN 2.0 * coalesce(t.triangles, 0) / (deg.deg * (deg.deg - 1)) "
        "ELSE 0.0 END AS lcc "
        "FROM verts v LEFT JOIN deg USING (id) LEFT JOIN t USING (id)"
    )


def _simrank_oracle(iters: int = 3, c: float = 0.8, k: int = 50) -> str:
    """SimRank unrolled: p1 = exact common-in-neighbor counts + the
    pinned ``(C·t)/(dᵃ·dᵇ)`` projection; each later round = symmetric
    closure + unit diagonal, two edge equi-joins, ONE sum per pair,
    same pinned projection — the ``_pagerank_fixed_oracle`` ulp
    argument carries the cross-engine match through the final 1e-6
    truncation. Top-k cut by (truncated s desc, a asc, b asc)."""
    cl = repr(float(c))
    parts = [
        f"WITH eraw AS MATERIALIZED ({_duck_edges_sql()}), ",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "din AS MATERIALIZED (SELECT dst AS id, CAST(count(*) AS BIGINT) "
        "AS d FROM e GROUP BY dst), ",
        "c1 AS (SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS DOUBLE) "
        "AS t FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst "
        "GROUP BY 1, 2), ",
        f"p1 AS MATERIALIZED (SELECT a, b, ({cl} * t) / "
        "CAST(da.d * db.d AS DOUBLE) AS s FROM c1 "
        "JOIN din da ON da.id = a JOIN din db ON db.id = b), ",
    ]
    for r in range(2, iters + 1):
        parts.append(
            f"sym{r - 1} AS (SELECT a AS i, b AS j, s FROM p{r - 1} "
            f"UNION ALL SELECT b, a, s FROM p{r - 1} "
            "UNION ALL SELECT id, id, 1.0 FROM verts), "
            f"c{r} AS (SELECT ea.dst AS a, eb.dst AS b, sum(y.s) AS t "
            f"FROM sym{r - 1} y JOIN e ea ON ea.src = y.i "
            "JOIN e eb ON eb.src = y.j WHERE ea.dst < eb.dst "
            "GROUP BY 1, 2), "
            f"p{r} AS MATERIALIZED (SELECT a, b, ({cl} * t) / "
            f"CAST(da.d * db.d AS DOUBLE) AS s FROM c{r} "
            "JOIN din da ON da.id = a JOIN din db ON db.id = b), "
        )
    return (
        "".join(parts)
        + "t6 AS (SELECT a, b, floor(s * 1000000.0) / 1000000.0 AS s "
        + f"FROM p{iters}) "
        + "SELECT a, b, s FROM (SELECT a, b, s, row_number() OVER ("
        + "ORDER BY s DESC, a ASC, b ASC) AS rn FROM t6) "
        + f"WHERE rn <= {k}"
    )


def _simrank_mc_oracle(
    iters: int = 4,
    c: float = 0.8,
    ls: int = 16,
    k: int = 16,
    seed: str = "srmc",
) -> str:
    """Hop-for-hop replay of ``simrank_mc``: ranked in-adjacency, the
    60-bit md5 draw keyed on (seed, fingerprint, step, current vertex),
    1:1 (vertex, rank) neighbor joins with the in-degree pre-joined,
    halted-walk death, coalescing first-meet τ, and the integer
    micro-unit score table (literals computed here, no SQL pow)."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH eraw AS MATERIALIZED ({e_sql}), ",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw), ",
        "ia AS MATERIALIZED (SELECT dst AS v, src AS nb, "
        "row_number() OVER (PARTITION BY dst ORDER BY src) - 1 AS rnk, "
        "count(*) OVER (PARTITION BY dst) AS ind FROM e), ",
        "dind AS MATERIALIZED (SELECT DISTINCT v, ind FROM ia), ",
        f"cand AS MATERIALIZED (SELECT id FROM "
        f"(SELECT DISTINCT dst AS id FROM e) ORDER BY id LIMIT {k}), ",
        f"w0 AS MATERIALIZED (SELECT x.id AS a, y.id AS b, "
        f"l.range AS l, x.id AS ca, y.id AS cb, false AS dead, "
        f"CAST(NULL AS INT) AS tau "
        f"FROM cand x JOIN cand y ON x.id < y.id CROSS JOIN range({ls}) l), ",
    ]
    for t in range(1, iters + 1):
        hv = (
            "CAST(CAST(('0x' || substring(md5('{seed}:' || l || "
            "':{t}:' || {cur}), 1, 15)) AS UBIGINT) AS BIGINT)"
        )
        hva = hv.format(seed=seed, t=t, cur="ca")
        hvb = hv.format(seed=seed, t=t, cur="cb")
        parts.append(
            f"j{t} AS (SELECT h.a, h.b, h.l, h.ca, h.cb, h.dead, h.tau, "
            f"na.nb AS _na, nb2.nb AS _nb FROM w{t - 1} h "
            f"LEFT JOIN dind da ON da.v = h.ca "
            f"LEFT JOIN dind db ON db.v = h.cb "
            f"LEFT JOIN ia na ON na.v = h.ca AND na.rnk = ({hva} % da.ind) "
            f"LEFT JOIN ia nb2 ON nb2.v = h.cb AND nb2.rnk = ({hvb} % db.ind)), "
        )
        parts.append(
            f"w{t} AS MATERIALIZED (SELECT a, b, l, "
            "CASE WHEN (tau IS NULL AND NOT dead) AND _na IS NOT NULL "
            "AND _nb IS NOT NULL THEN _na ELSE ca END AS ca, "
            "CASE WHEN (tau IS NULL AND NOT dead) AND _na IS NOT NULL "
            "AND _nb IS NOT NULL THEN _nb ELSE cb END AS cb, "
            "(dead OR ((tau IS NULL AND NOT dead) AND "
            "(_na IS NULL OR _nb IS NULL))) AS dead, "
            "COALESCE(tau, CASE WHEN (tau IS NULL AND NOT dead) AND "
            "_na IS NOT NULL AND _nb IS NOT NULL AND _na = _nb "
            f"THEN {t} END) AS tau FROM j{t}), "
        )
    # integer micro-unit table — same driver-side literals as the engine
    cases = " ".join(
        f"WHEN {t} THEN {int(round((c**t) * 1e6))}"
        for t in range(1, iters + 1)
    )
    return (
        "".join(parts)
        + f"sc AS (SELECT a, b, CASE tau {cases} ELSE 0 END AS sci "
        + f"FROM w{iters}), "
        + "agg AS (SELECT a, b, sum(sci) AS t FROM sc GROUP BY a, b) "
        + "SELECT a, b, floor((CAST(t AS DOUBLE) / "
        + f"{float(ls) * 1e6!r}) * 1000000.0) / 1000000.0 AS s FROM agg"
    )


def _link_pred_oracle(min_common: int = 3) -> str:
    """Wedge join on the center vertex, existing-edge anti, exact-int
    scores + one IEEE division (jaccard) — same association as Spark."""
    e_sql = _duck_edges_sql()
    return (
        f"WITH e AS MATERIALIZED ({e_sql}), "
        + _DUCK_SYM_CTES
        + "nb AS (SELECT src AS w, dst AS x FROM sym), "
        "deg AS (SELECT w, count(*) AS dw FROM nb GROUP BY w), "
        "sc AS (SELECT a.x AS u, b.x AS v, count(*) AS cn "
        "       FROM nb a JOIN nb b USING (w) WHERE a.x < b.x "
        f"       GROUP BY a.x, b.x HAVING count(*) >= {min_common}), "
        "ne AS (SELECT sc.* FROM sc WHERE NOT EXISTS "
        "       (SELECT 1 FROM canon WHERE canon.u = sc.u AND canon.v = sc.v)) "
        "SELECT ne.u, ne.v, ne.cn, "
        "CAST(ne.cn AS DOUBLE) / CAST(du.dw + dv.dw - ne.cn AS DOUBLE) AS jaccard, "
        "du.dw * dv.dw AS pa "
        "FROM ne JOIN deg du ON du.w = ne.u JOIN deg dv ON dv.w = ne.v"
    )


def _prefix_join_oracle(bp: int = 9000) -> str:
    """`operators/dedup.py::prefix_filter_pairs` replay: same distinct
    tokens, same (df, tok) prefix ordering, same integer prefix length
    and cross-multiplied threshold; jaccard = one IEEE division,
    stable6-truncated on both sides."""
    return (
        "WITH toks AS MATERIALIZED (SELECT DISTINCT doc_id, tok FROM "
        "(SELECT doc_id, unnest(string_split(lower(regexp_replace(text, "
        "'\\s+', ' ', 'g')), ' ')) AS tok FROM documents) WHERE tok <> ''), "
        "dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok), "
        "sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id), "
        "pref AS (SELECT doc_id, tok FROM (SELECT t.doc_id, t.tok, "
        "row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn, "
        "s.sz FROM toks t JOIN dfreq d USING (tok) JOIN sz s USING (doc_id)) "
        f"WHERE rn <= sz - (({bp}*sz + 9999) // 10000) + 1), "
        "cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b "
        "FROM pref a JOIN pref b USING (tok) WHERE a.doc_id < b.doc_id), "
        "i AS (SELECT c.a, c.b, count(*) AS inter FROM cand c "
        "JOIN toks ta ON ta.doc_id = c.a "
        "JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok "
        "GROUP BY c.a, c.b) "
        "SELECT i.a, i.b, i.inter, "
        "floor((CAST(i.inter AS DOUBLE) / "
        "CAST(sa.sz + sb.sz - i.inter AS DOUBLE)) * 1000000.0) / 1000000.0 "
        "AS jaccard "
        "FROM i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b "
        f"WHERE i.inter * 10000 >= {bp} * (sa.sz + sb.sz - i.inter)"
    )


def _bm25_oracle(terms: tuple[str, ...], k: int = 10) -> str:
    """`operators/textstats.py::bm25_topk` replay: same tokenizer, same
    exact-integer num/den products (k1=6/5, b=3/4, rational idf), same
    single IEEE division and ⌊s·10⁶⌋ per-term truncation before the
    integer cross-term sum. Ties → ascending doc_id on both sides."""
    in_list = ",".join(f"'{t}'" for t in sorted(set(terms)))
    return (
        "WITH toks AS MATERIALIZED (SELECT doc_id, tok FROM "
        "(SELECT doc_id, unnest(string_split_regex(lower(trim(text)), "
        "'\\s+')) AS tok FROM documents) WHERE tok <> ''), "
        "scal AS (SELECT (SELECT count(*) FROM documents) AS n, "
        "count(*) AS l FROM toks), "
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), "
        f"tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks "
        f"WHERE tok IN ({in_list}) GROUP BY doc_id, tok), "
        "dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), "
        "per AS (SELECT t.doc_id, CAST(floor("
        "CAST((2*s.n - 2*d.df + 1) * 22 * t.tf * s.l AS DOUBLE) / "
        "CAST((2*d.df + 1) * (10*s.l*t.tf + 3*s.l + 9*dl.dl*s.n) AS DOUBLE) "
        "* 1000000.0) AS BIGINT) AS micro "
        "FROM tf t JOIN dfreq d USING (tok) JOIN dl USING (doc_id) "
        "CROSS JOIN scal s), "
        "tot AS (SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro "
        "FROM per GROUP BY doc_id) "
        'SELECT doc_id, score_micro, CAST(row_number() OVER '
        '(ORDER BY score_micro DESC, doc_id ASC) AS INTEGER) AS "rank" '
        f"FROM tot ORDER BY score_micro DESC, doc_id ASC LIMIT {k}"
    )


def _winnow_fps_cte(k: int = 3, w: int = 4) -> str:
    """Shared winnowing CTE: positioned k-gram md5s, rightmost-min
    selection per w-window via the lexicographic ``h || ':' ||
    lpad(10^9 - pos)`` key — byte-for-byte the engine's recipe
    (operators/dedup.py::winnow_fingerprints)."""
    return (
        "toks AS (SELECT doc_id, string_split(lower(regexp_replace(text, "
        "'\\s+', ' ', 'g')), ' ') AS t FROM documents), "
        "grams AS (SELECT doc_id, "
        f"unnest(generate_series(0, greatest(length(t) - {k}, 0))) AS pos, "
        "t FROM toks), "
        "h AS (SELECT doc_id, pos, md5(array_to_string(list_slice(t, pos + 1, "
        f"least(pos + {k}, length(t))), ' ')) AS h FROM grams), "
        "keyed AS (SELECT doc_id, pos, "
        "h || ':' || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0') AS key, "
        "max(pos) OVER (PARTITION BY doc_id) AS np FROM h), "
        "winner AS (SELECT doc_id, pos, np, "
        "min(key) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wk FROM keyed), "
        "sel AS (SELECT DISTINCT doc_id, "
        "CAST(1000000000 - CAST(substring(wk, 34, 10) AS BIGINT) AS BIGINT) AS pos, "
        "substring(wk, 1, 32) AS fp FROM winner "
        f"WHERE pos >= least({w - 1}, np))"
    )


def _line_dedup_oracle(c: int = 8) -> str:
    """`operators/curation.py::line_dedup` (chunk mode) replay: same
    tokenizer, same ⌈n/c⌉ fixed-width chunking, same keep-first rule
    (row_number over (doc_id, pos)), same in-order space re-join. All
    columns are integers/strings — hash-exact with no float anywhere."""
    return (
        "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), "
        "'\\s+') AS t FROM documents), "
        "lines AS (SELECT doc_id, i + 1 AS pos, "
        f"array_to_string(t[i*{c}+1 : i*{c}+{c}], ' ') AS line "
        "FROM toks, LATERAL (SELECT unnest(range(0, "
        f"CAST(ceil(len(t)/{c}.0) AS BIGINT))) AS i) r WHERE len(t) > 0), "
        "l2 AS (SELECT * FROM lines WHERE line <> ''), "
        "fl AS (SELECT *, row_number() OVER (PARTITION BY line "
        "ORDER BY doc_id, pos) AS rn FROM l2) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines, "
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
        "coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' "
        "ORDER BY pos), '') AS clean_text "
        "FROM fl GROUP BY doc_id"
    )


def _peel_layers_oracle(k: int = 3) -> str:
    """Unrolls the onion peel for the replay-computed round count.
    Round i+1's removals are ``alive_i EXCEPT a_i`` where ``a_i`` is the
    HAVING-count survivor set over the round-i edge table — this also
    catches vertices whose last live neighbor vanished (absent from the
    GROUP BY entirely), matching ``peel_layers_numpy``."""
    import numpy as np

    from approximate_pagerank_public_spark.operators.kcore import (
        peel_layers_numpy,
    )

    src, dst, _w, n = _duck_edge_arrays(_oracle_sf_dir())
    pairs = {
        (min(s, d), max(s, d)) for s, d in zip(src.tolist(), dst.tolist()) if s != d
    }
    if pairs:
        u, v = map(np.asarray, zip(*sorted(pairs)))
        _ids, _layers, rounds = peel_layers_numpy(
            np.concatenate([u, v]), np.concatenate([v, u]), n, k
        )
    else:
        rounds = 0
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        _DUCK_SYM_CTES,
        "s0 AS (SELECT * FROM sym), ",
        "alive0 AS MATERIALIZED (SELECT DISTINCT src FROM s0), ",
    ]
    for i in range(rounds):
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT src FROM s{i} "
            f"GROUP BY src HAVING count(*) >= {k}), "
        )
        parts.append(
            f"r{i+1} AS MATERIALIZED (SELECT src FROM alive{i} "
            f"EXCEPT SELECT src FROM a{i}), "
        )
        parts.append(f"alive{i+1} AS MATERIALIZED (SELECT src FROM a{i}), ")
        parts.append(
            f"s{i+1} AS MATERIALIZED (SELECT s.src, s.dst FROM s{i} s "
            f"JOIN a{i} x ON x.src = s.src JOIN a{i} y ON y.src = s.dst), "
        )
    sql = "".join(parts).rstrip(", ")
    selects = [
        f"SELECT src AS id, CAST(0 AS BIGINT) AS layer FROM alive{rounds}"
    ]
    for i in range(1, rounds + 1):
        selects.append(
            f"SELECT src AS id, CAST({i} AS BIGINT) AS layer FROM r{i}"
        )
    return sql + " " + " UNION ALL ".join(selects)


def _resource_allocation_oracle(min_common: int = 3) -> str:
    """Same wedge join as ``_link_pred_oracle`` with the integer
    micro-unit RA weight riding the wedge rows: ``1000000 // dw`` is an
    exact-integer division in DuckDB (truncation toward zero matches
    Spark's ``div`` — degrees are positive), and the per-pair BIGINT
    sum is order-free, so ``ra_micro`` hash-checks bit-exact."""
    e_sql = _duck_edges_sql()
    return (
        f"WITH e AS MATERIALIZED ({e_sql}), "
        + _DUCK_SYM_CTES
        + "nb AS (SELECT src AS w, dst AS x FROM sym), "
        "deg AS (SELECT w, count(*) AS dw FROM nb GROUP BY w), "
        "nbw AS (SELECT nb.w, nb.x, CAST(1000000 AS BIGINT) // deg.dw AS ra_w "
        "        FROM nb JOIN deg USING (w)), "
        "sc AS (SELECT a.x AS u, b.x AS v, count(*) AS cn, "
        "              CAST(sum(a.ra_w) AS BIGINT) AS ra_micro "
        "       FROM nbw a JOIN nbw b USING (w) WHERE a.x < b.x "
        f"       GROUP BY a.x, b.x HAVING count(*) >= {min_common}) "
        "SELECT sc.u, sc.v, sc.cn, sc.ra_micro FROM sc WHERE NOT EXISTS "
        "(SELECT 1 FROM canon WHERE canon.u = sc.u AND canon.v = sc.v)"
    )


def _pagerank_warm_oracle(
    iters_sub: int = 8, iters_warm: int = 4, alpha: float = 0.8
) -> str:
    """Warm-start replay: one continuous unrolled CTE chain —
    ``iters_sub`` power iterations over the deterministic edge subset
    (same ``(src*31 + dst) % 5 != 0`` predicate and recomputed
    1/outdeg weights as ``q_pagerank_warm``), then ``iters_warm`` more
    over the full edge table; the edge table AND the dangling set
    switch at the hand-off, the rank vector carries over untruncated.
    Same fp association as ``_pagerank_fixed_oracle``."""
    e_sql = _duck_edges_sql()
    a = repr(float(alpha))
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts), ",
        "es AS MATERIALIZED (SELECT src, dst, "
        "1.0 / CAST(count(*) OVER (PARTITION BY src) AS DOUBLE) AS weight "
        "FROM e WHERE ((src * 31 + dst) % 5) <> 0), ",
        "dang AS MATERIALIZED "
        "(SELECT id FROM verts WHERE id NOT IN (SELECT src FROM e)), ",
        "dangs AS MATERIALIZED "
        "(SELECT id FROM verts WHERE id NOT IN (SELECT src FROM es)), ",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT c FROM nv) AS r FROM verts), ",
    ]
    total = iters_sub + iters_warm
    for k in range(total):
        tbl, dg = ("es", "dangs") if k < iters_sub else ("e", "dang")
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT coalesce(sum(r), 0.0) AS dm FROM r{k} "
            f"WHERE id IN (SELECT id FROM {dg})), "
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT t.dst, sum(t.weight * r{k}.r) AS s "
            f"FROM {tbl} t JOIN r{k} ON r{k}.id = t.src GROUP BY t.dst), "
        )
        parts.append(
            f"r{k+1} AS MATERIALIZED (SELECT v.id, "
            f"({a} * coalesce(c{k}.s, 0.0)"
            f" + ({a} / (SELECT c FROM nv)) * (SELECT dm FROM d{k}))"
            f" + ((1.0 - {a}) / (SELECT c FROM nv)) AS r "
            f"FROM verts v LEFT JOIN c{k} ON c{k}.dst = v.id), "
        )
    sql = "".join(parts).rstrip(", ")
    return (
        sql + f" SELECT id, floor(r * 1000000.0) / 1000000.0 AS rank FROM r{total}"
    )


def _pagerank_top20_oracle() -> str:
    """Flagship oracle: the convergent iteration count K (replayed via
    ``_replay_convergent_iters`` — path-deterministic stop scalars make
    it stable) unrolled as the same CTE chain ``pagerank_fixed8`` uses
    (reference golden semantics ``gold_algorithms.hpp:65-100``), then
    the ``sort_pr`` top-20 cut on the truncated rank."""
    iters = _replay_convergent_iters(None)
    inner = _pagerank_fixed_oracle(iters, 0.8)
    return (
        f"WITH pr AS MATERIALIZED ({inner}), "
        f"vd AS MATERIALIZED ({_duck_vertices_sql()}) "
        "SELECT pr.id, vd.entity, pr.rank FROM pr JOIN vd ON vd.id = pr.id "
        "ORDER BY pr.rank DESC, pr.id DESC LIMIT 20"
    )


def _multi_ppr_top10_oracle(n_sources: int = 8, k: int = 10) -> str:
    """8-source convergent PPR (shared worst-source L1 stop → one K for
    all chains), each source's top-10 by truncated rank with the
    ``sort_pr`` higher-id tie-break (``evaluation_utils.hpp:17-39``)."""
    iters = _replay_convergent_iters(list(range(n_sources)))
    parts = []
    for s in range(n_sources):
        inner = _pagerank_fixed_oracle(iters, 0.8, source=s)
        parts.append(
            f"SELECT CAST({s} AS BIGINT) AS source, pos, vertex FROM ("
            "SELECT row_number() OVER (ORDER BY rank DESC, id DESC) AS pos, "
            f"id AS vertex FROM ({inner})) t WHERE pos <= {k}"
        )
    return " UNION ALL ".join(parts)


def _simhash_oracle() -> str:
    """Replays ``dedup.simhash(hash_method='md5')``: 64 bit planes from
    the first 16 hex digits of md5(token), sign-summed per doc, signed
    64-bit value rebuilt as a sum of disjoint-bit literals."""
    b_exprs = []
    for i in range(64):
        j = i // 4 + 1
        shift = 3 - i % 4
        b_exprs.append(
            "SUM(CASE WHEN (((strpos('0123456789abcdef', substr(fp, "
            f"{j}, 1)) - 1) >> {shift}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        )
    val_terms = ["(CASE WHEN b63 > 0 THEN -9223372036854775808 ELSE 0 END)"]
    for i in range(63):
        val_terms.append(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)")
    return (
        "WITH toks AS (SELECT doc_id, unnest(string_split("
        "lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok "
        "FROM documents), "
        "h AS (SELECT doc_id, md5(tok) AS fp FROM toks), "
        f"b AS (SELECT doc_id, {', '.join(b_exprs)} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, CAST({' + '.join(val_terms)} AS BIGINT) AS simhash FROM b"
    )


def _simhash_near_dup_oracle(max_hamming: int = 8, bands: int = 4) -> str:
    """Replays ``dedup.simhash_near_dup``: the `_simhash_oracle`
    signature relation, banded into ``bands`` equal-width buckets
    (arithmetic shift + mask — identical to Spark's on negative int64),
    distinct same-bucket pairs a<b, ``bit_count(xor)`` verify."""
    width = 64 // bands
    mask = (1 << width) - 1
    band_sel = " UNION ALL ".join(
        f"SELECT {b * (mask + 1)} + ((simhash >> {b * width}) & {mask}) AS bk, "
        "doc_id FROM sig"
        for b in range(bands)
    )
    return (
        f"WITH sig AS MATERIALIZED ({_simhash_oracle()}), "
        f"bk AS MATERIALIZED ({band_sel}), "
        "p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x "
        "JOIN bk y ON y.bk = x.bk AND x.doc_id < y.doc_id) "
        "SELECT p.a, p.b, CAST(bit_count(xor(sa.simhash, sb.simhash)) "
        "AS BIGINT) AS hamming FROM p "
        "JOIN sig sa ON sa.doc_id = p.a JOIN sig sb ON sb.doc_id = p.b "
        f"WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {int(max_hamming)}"
    )


def _ivf_centroids(n_cells: int = 8, kmeans_iters: int = 5, train_sample: int = 4096):
    """The engine's IVF coarse quantizer, reproduced outside Spark: the
    training sample is the first ``train_sample`` vectors in vec_id
    order (deterministic), run through the SAME ``_kmeans_centroids``
    NumPy code — so the literal centroids below are bit-identical to
    what ``ivf_ann_topk`` trains at query time."""
    import numpy as np
    import pyarrow.parquet as pq

    from approximate_pagerank_public_spark.operators.similarity import (
        _kmeans_centroids,
    )

    key = ("ivf", n_cells, kmeans_iters, train_sample)
    if key not in _REPLAY_CACHE:
        d = _oracle_sf_dir()
        t = pq.read_table(
            f"{d}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).to_pandas()
        t = t.sort_values("vec_id").head(train_sample)
        sample = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in t["embedding"]]
        )
        _REPLAY_CACHE[key] = _kmeans_centroids(sample, n_cells, kmeans_iters)
    return _REPLAY_CACHE[key]


def _ivf_ann_oracle(n_cells: int = 8, n_probe: int = 4, k: int = 5) -> str:
    """Full IVF pipeline replay: literal centroids → argmax cell
    assignment (dot desc, cell asc — exactly ``_cell_sorted``) → probe
    ``n_probe`` cells per query → exact cosine re-rank."""
    cents = _ivf_centroids(n_cells)
    rows = [
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    ]
    return (
        f"WITH emb AS ({_DUCK_EMB}), q AS ({_DUCK_EMB_Q}), "
        f"cents(cell, cv) AS (VALUES {', '.join(rows)}), "
        "cd AS (SELECT e.vec_id, c.cell, list_dot_product(e.v, c.cv) AS d "
        "FROM emb e CROSS JOIN cents c), "
        "ca AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) "
        "AS rn FROM cd) t WHERE rn = 1), "
        "qd AS (SELECT qq.query_id, c.cell, list_dot_product(qq.qv, c.cv) AS d "
        "FROM q qq CROSS JOIN cents c), "
        "qc AS (SELECT query_id, cell FROM (SELECT query_id, cell, "
        "row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cell ASC) "
        f"AS rn FROM qd) t WHERE rn <= {n_probe}), "
        "cand AS (SELECT qc.query_id, ca.vec_id FROM ca JOIN qc USING (cell)), "
        "scored AS (SELECT c.query_id, c.vec_id, "
        f"{_duck_cos('e.v', 'q.qv')} AS cosine "
        "FROM cand c JOIN emb e ON e.vec_id = c.vec_id "
        "JOIN q ON q.query_id = c.query_id), "
        "ranked AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        'PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS "rank" '
        "FROM scored) "
        'SELECT query_id, vec_id, "rank", '
        "floor(cosine * 1000000.0) / 1000000.0 AS cosine "
        f'FROM ranked WHERE "rank" <= {k}'
    )


def _kmeans_assign_oracle(n_cells: int = 8) -> str:
    """Literal trained centroids (same NumPy trainer as the engine) →
    argmax cell per vector with the (dot desc, cell asc) tie rule."""
    cents = _ivf_centroids(n_cells)
    rows = [
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    ]
    return (
        f"WITH emb AS ({_DUCK_EMB}), "
        f"cents(cell, cv) AS (VALUES {', '.join(rows)}), "
        "cd AS (SELECT e.vec_id, c.cell, list_dot_product(e.v, c.cv) AS d "
        "FROM emb e CROSS JOIN cents c) "
        "SELECT vec_id, CAST(cell AS INT) AS cell FROM (SELECT vec_id, cell, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) "
        "AS rn FROM cd) t WHERE rn = 1"
    )


def _pq_codebooks(
    m: int = 4, codes: int = 8, kmeans_iters: int = 5, train_sample: int = 4096
):
    """The engine's PQ codebooks reproduced outside Spark: same
    deterministic sample (first ``train_sample`` vectors in vec_id
    order), same ``_pq_l2_kmeans`` NumPy trainer per subspace — so the
    literal centroids below are bit-identical to what ``pq_encode`` /
    ``pq_ann_topk`` train at query time."""
    import numpy as np
    import pyarrow.parquet as pq

    from approximate_pagerank_public_spark.operators.similarity import (
        _pq_l2_kmeans,
    )

    key = ("pq", m, codes, kmeans_iters, train_sample)
    if key not in _REPLAY_CACHE:
        d = _oracle_sf_dir()
        t = pq.read_table(
            f"{d}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).to_pandas()
        t = t.sort_values("vec_id").head(train_sample)
        sample = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in t["embedding"]]
        )
        sd = sample.shape[1] // m
        _REPLAY_CACHE[key] = np.stack(
            [
                _pq_l2_kmeans(sample[:, i * sd : (i + 1) * sd], codes, kmeans_iters)
                for i in range(m)
            ]
        )
    return _REPLAY_CACHE[key]


def _pq_cents_cte(m: int, codes: int) -> tuple[str, int]:
    """``cents(m, code, n2, cv)`` VALUES rows (literal codebooks) plus
    the subspace width; shared by the encode and ADC oracles. The
    ``d`` expression mirrors the engine exactly:
    ``n2 - 2.0 * list_dot_product(subvector, centroid)``."""
    import numpy as np

    books = _pq_codebooks(m, codes)
    sd = books.shape[2]
    rows = []
    for i in range(m):
        for j, c in enumerate(books[i]):
            n2 = float(np.dot(c, c))
            rows.append(
                f"({i}, {j}, {n2!r}, "
                f"CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]))"
            )
    return ", ".join(rows), sd


def _pq_codes_ctes(m: int, codes: int) -> tuple[str, int]:
    """The shared encode pipeline CTEs: per-(vector, subspace) argmin
    code with the (d asc, code asc) tie rule, pivoted wide to
    ``cw(vec_id, c0..c{m-1})``."""
    cents, sd = _pq_cents_cte(m, codes)
    pivot = ", ".join(
        f"max(CASE WHEN m = {i} THEN code END) AS c{i}" for i in range(m)
    )
    return (
        f"emb AS ({_DUCK_EMB}), "
        f"cents(m, code, n2, cv) AS (VALUES {cents}), "
        "cd AS (SELECT e.vec_id, c.m, c.code, c.n2 - 2.0 * "
        f"list_dot_product(list_slice(e.v, c.m*{sd}+1, c.m*{sd}+{sd}), c.cv) "
        "AS d FROM emb e CROSS JOIN cents c), "
        "codes AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code, "
        "row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) "
        "AS rn FROM cd) t WHERE rn = 1), "
        f"cw AS (SELECT vec_id, {pivot} FROM codes GROUP BY vec_id)"
    ), sd


def _pq_encode_oracle(m: int = 4, codes: int = 8) -> str:
    ctes, _ = _pq_codes_ctes(m, codes)
    cols = ", ".join(f"CAST(c{i} AS INT) AS code{i}" for i in range(m))
    return f"WITH {ctes} SELECT vec_id, {cols} FROM cw"


def _pq_ann_oracle(m: int = 4, codes: int = 8, k: int = 5) -> str:
    """Full PQ/ADC replay: literal codebooks -> argmin codes -> per-query
    lookup-table terms -> left-assoc fixed-order sum over subspaces ->
    (adist asc, vec_id asc) top-k."""
    ctes, sd = _pq_codes_ctes(m, codes)
    joins = []
    for i in range(m):
        on = f"q{i}.m = {i} AND q{i}.code = cw.c{i}"
        if i:
            on += f" AND q{i}.query_id = q0.query_id"
        joins.append(f"JOIN qd q{i} ON {on}")
    adist = "q0.d"
    for i in range(1, m):
        adist = f"({adist} + q{i}.d)"
    return (
        f"WITH {ctes}, q AS ({_DUCK_EMB_Q}), "
        "qd AS (SELECT qq.query_id, c.m, c.code, c.n2 - 2.0 * "
        f"list_dot_product(list_slice(qq.qv, c.m*{sd}+1, c.m*{sd}+{sd}), c.cv) "
        "AS d FROM q qq CROSS JOIN cents c), "
        f"scored AS (SELECT q0.query_id, cw.vec_id, {adist} AS adist "
        f"FROM cw {' '.join(joins)}), "
        "ranked AS (SELECT query_id, vec_id, adist, row_number() OVER ("
        'PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS "rank" '
        "FROM scored) "
        'SELECT query_id, vec_id, "rank", '
        "floor(adist * 1000000.0) / 1000000.0 AS adist "
        f'FROM ranked WHERE "rank" <= {k}'
    )


def _ivfpq_ann_oracle(
    n_cells: int = 8, n_probe: int = 3, m: int = 4, codes: int = 8, k: int = 5
) -> str:
    """IVF-PQ replay: BOTH trainings as literals (IVF spherical k-means
    cells under ``icents`` names to avoid colliding with the PQ
    ``cents`` CTEs) → argmax cell per vector, n_probe cells per query →
    candidate pairs via the cell equi-join → fixed-order ADC sum over
    the PQ codes → (adist asc, vec_id asc) top-k."""
    ctes, sd = _pq_codes_ctes(m, codes)
    cents = _ivf_centroids(n_cells)
    irows = [
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    ]
    joins = []
    for i in range(m):
        joins.append(
            f"JOIN qd q{i} ON q{i}.query_id = cand.query_id "
            f"AND q{i}.m = {i} AND q{i}.code = cw.c{i}"
        )
    adist = "q0.d"
    for i in range(1, m):
        adist = f"({adist} + q{i}.d)"
    return (
        f"WITH {ctes}, "
        f"icents(cell, cv) AS (VALUES {', '.join(irows)}), "
        "icd AS (SELECT e.vec_id, c.cell, list_dot_product(e.v, c.cv) AS d "
        "FROM emb e CROSS JOIN icents c), "
        "ica AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) "
        "AS rn FROM icd) t WHERE rn = 1), "
        f"q AS ({_DUCK_EMB_Q}), "
        "iqd AS (SELECT qq.query_id, c.cell, list_dot_product(qq.qv, c.cv) "
        "AS d FROM q qq CROSS JOIN icents c), "
        "iqc AS (SELECT query_id, cell FROM (SELECT query_id, cell, "
        "row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cell ASC) "
        f"AS rn FROM iqd) t WHERE rn <= {n_probe}), "
        "cand AS (SELECT iqc.query_id, ica.vec_id FROM ica "
        "JOIN iqc USING (cell)), "
        "qd AS (SELECT qq.query_id, c.m, c.code, c.n2 - 2.0 * "
        f"list_dot_product(list_slice(qq.qv, c.m*{sd}+1, c.m*{sd}+{sd}), c.cv) "
        "AS d FROM q qq CROSS JOIN cents c), "
        f"scored AS (SELECT cand.query_id, cand.vec_id, {adist} AS adist "
        f"FROM cand JOIN cw ON cw.vec_id = cand.vec_id {' '.join(joins)}), "
        "ranked AS (SELECT query_id, vec_id, adist, row_number() OVER ("
        'PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS "rank" '
        "FROM scored) "
        'SELECT query_id, vec_id, "rank", '
        "floor(adist * 1000000.0) / 1000000.0 AS adist "
        f'FROM ranked WHERE "rank" <= {k}'
    )


def _semantic_dedup_oracle(n_cells: int = 8, threshold: float = 0.45) -> str:
    """SemDeDup replay: literal centroids (same NumPy trainer as the
    engine — see ``_ivf_centroids``) → argmax cell assignment → within-
    cell a<b pairing → exact cosine filter."""
    cents = _ivf_centroids(n_cells)
    rows = [
        f"({i}, CAST([{', '.join(repr(float(x)) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    ]
    return (
        f"WITH emb AS ({_DUCK_EMB}), "
        f"cents(cell, cv) AS (VALUES {', '.join(rows)}), "
        "cd AS (SELECT e.vec_id, c.cell, list_dot_product(e.v, c.cv) AS d "
        "FROM emb e CROSS JOIN cents c), "
        "ca AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) "
        "AS rn FROM cd) t WHERE rn = 1), "
        "p AS (SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id, "
        f"{_duck_cos('ea.v', 'eb.v')} AS cosine "
        "FROM ca a JOIN ca b ON a.cell = b.cell AND a.vec_id < b.vec_id "
        "JOIN emb ea ON ea.vec_id = a.vec_id "
        "JOIN emb eb ON eb.vec_id = b.vec_id) "
        "SELECT CAST(cell AS INTEGER) AS cell, a_id, b_id, "
        "floor(cosine * 1000000.0) / 1000000.0 AS cosine "
        f"FROM p WHERE cosine >= {threshold!r}"
    )


def _lpa_cte_chain(rounds: int = 5) -> str:
    """The unrolled-LPA CTE chain (no ``WITH`` prefix, trailing comma
    stripped) — shared by the label_propagation and modularity oracles;
    the final labels live in ``l{rounds}``, the symmetrized simple edge
    set in ``symd``."""
    e_sql = _duck_edges_sql()
    parts = [
        f"e AS MATERIALIZED ({e_sql}), ",
        "symd AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e) "
        "WHERE src <> dst), ",
        "und AS MATERIALIZED (SELECT src, dst, "
        "1.0 / count(*) OVER (PARTITION BY src) AS weight FROM symd), ",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM symd), ",
    ]
    for k in range(rounds):
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT u.dst, l.label, sum(u.weight) AS w "
            f"FROM und u JOIN l{k} l ON l.id = u.src GROUP BY u.dst, l.label), "
        )
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT dst, label FROM "
            f"(SELECT dst, label, row_number() OVER "
            f"(PARTITION BY dst ORDER BY w DESC, label ASC) AS rn FROM v{k}) "
            "WHERE rn = 1), "
        )
        parts.append(
            f"l{k+1} AS MATERIALIZED (SELECT l.id, "
            f"coalesce(b.label, l.label) AS label "
            f"FROM l{k} l LEFT JOIN b{k} b ON b.dst = l.id), "
        )
    return "".join(parts).rstrip(", ")


def _seeded_lpa_oracle(rounds: int = 4, n_seeds: int = 5) -> str:
    """Unrolled semi-supervised LPA: the labeled state is exactly
    ``seeds ∪ per-dst argmax over labeled-neighbor votes`` each round
    (same vote/tie arithmetic as the LPA chain)."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "symd AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e) "
        "WHERE src <> dst), ",
        "und AS MATERIALIZED (SELECT src, dst, "
        "1.0 / count(*) OVER (PARTITION BY src) AS weight FROM symd), ",
        f"seeds AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label "
        f"FROM symd WHERE src < {n_seeds}), ",
        "l0 AS (SELECT * FROM seeds), ",
    ]
    for k in range(rounds):
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT u.dst, l.label, sum(u.weight) AS w "
            f"FROM und u JOIN l{k} l ON l.id = u.src GROUP BY u.dst, l.label), "
            f"b{k} AS MATERIALIZED (SELECT dst, label FROM "
            f"(SELECT dst, label, row_number() OVER "
            f"(PARTITION BY dst ORDER BY w DESC, label ASC) AS rn FROM v{k}) "
            "WHERE rn = 1), "
            f"l{k + 1} AS MATERIALIZED (SELECT id, label FROM seeds "
            f"UNION ALL SELECT b.dst AS id, b.label FROM b{k} b "
            "WHERE b.dst NOT IN (SELECT id FROM seeds)), "
        )
    body = "".join(parts).rstrip(", ")
    return f"{body} SELECT id, label FROM l{rounds}"


def _lpa_oracle(rounds: int = 5) -> str:
    """Deterministic synchronous label propagation unrolled as chained
    CTEs: per round, each vertex adopts the incoming label with the
    greatest summed (symmetrized, 1/outdeg) weight, ties broken by the
    smallest label — exactly `operators/labelprop.py`. The 1/k weights
    are exact rationals so per-(dst,label) sums agree across engines."""
    return (
        f"WITH {_lpa_cte_chain(rounds)} SELECT id, label FROM l{rounds}"
    )


def _louvain_base_ctes() -> list[str]:
    """Shared base relations for the Louvain oracles: the symmetrized
    simple row set, its degrees, m2 (= 2m, invariant under
    contraction), and the singleton start partition."""
    e_sql = _duck_edges_sql()
    return [
        f"e AS MATERIALIZED ({e_sql}), ",
        "symd AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e) "
        "WHERE src <> dst), ",
        "deg AS MATERIALIZED (SELECT src AS id, "
        "CAST(count(*) AS BIGINT) AS k FROM symd GROUP BY src), ",
        "mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m2 FROM symd), ",
        "c0 AS MATERIALIZED (SELECT id, id AS label FROM deg), ",
    ]


def _louvain_round_ctes(
    pfx: str, lbl: str, r: int, edges: str, kin_sel: str, deg_rel: str
) -> list[str]:
    """One unrolled local-move round: Σtot per community, per-(id,
    label) kin with the mandatory kin=0 stay rows, integer-gain argmax
    (gain desc, stay-first, smaller label), label update. ``kin_sel``
    supplies the weighted/unweighted kin contribution off ``edges``
    (which must exclude self-loop rows, matching
    `operators/labelprop.py::_local_move_rounds`)."""
    return [
        f"{pfx}sig{r} AS MATERIALIZED (SELECT c.label, "
        f"CAST(sum(d.k) AS BIGINT) AS sigtot "
        f"FROM {lbl}{r} c JOIN {deg_rel} d ON d.id = c.id GROUP BY c.label), ",
        f"{pfx}kin{r} AS MATERIALIZED (SELECT id, label, "
        f"CAST(sum(kin) AS BIGINT) AS kin FROM ("
        f"SELECT s.src AS id, c.label, {kin_sel} AS kin "
        f"FROM {edges} s JOIN {lbl}{r} c ON c.id = s.dst "
        f"UNION ALL SELECT id, label, 0 AS kin FROM {lbl}{r}"
        f") GROUP BY id, label), ",
        f"{pfx}b{r} AS MATERIALIZED (SELECT id, label AS new_label FROM ("
        f"SELECT kin.id, kin.label, row_number() OVER ("
        f"PARTITION BY kin.id ORDER BY "
        f"(mm.m2 * kin.kin - d.k * (CASE WHEN kin.label = cur.label "
        f"THEN sg.sigtot - d.k ELSE sg.sigtot END)) DESC, "
        f"(kin.label <> cur.label) ASC, kin.label ASC) AS rn "
        f"FROM {pfx}kin{r} kin "
        f"JOIN {pfx}sig{r} sg ON sg.label = kin.label "
        f"JOIN {lbl}{r} cur ON cur.id = kin.id "
        f"JOIN {deg_rel} d ON d.id = kin.id CROSS JOIN mm"
        f") WHERE rn = 1), ",
        f"{lbl}{r+1} AS MATERIALIZED (SELECT c.id, "
        f"coalesce(b.new_label, c.label) AS label "
        f"FROM {lbl}{r} c LEFT JOIN {pfx}b{r} b ON b.id = c.id), ",
    ]


def _louvain_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous Louvain local-move rounds
    (`operators/labelprop.py::louvain_rounds`). The modularity gain is
    compared after clearing the positive 2m² denominator:
    ``gain = 2m·k_in(i,C) − k_i·Σtot'(C)`` with ``Σtot' = Σtot − k_i``
    for the stay option — all BIGINT, so the per-vertex argmax
    (gain desc, stay-first, smaller label) is bit-exact across engines."""
    parts = _louvain_base_ctes()
    for r in range(rounds):
        parts += _louvain_round_ctes("", "c", r, "symd", "1", "deg")
    chain = "".join(parts).rstrip(", ")
    return f"WITH {chain} SELECT id, label FROM c{rounds}"


def _louvain_multilevel_oracle(fine_rounds: int = 2, coarse_rounds: int = 2) -> str:
    """Unrolled full Louvain level step
    (`operators/labelprop.py::louvain_multilevel`): fine local moves,
    integer contraction into a weighted community multigraph (diagonal
    rows carry the internal edge mass; m2 is invariant), coarse local
    moves over it (kin excludes the diagonal — a community's self-loop
    moves with it), projection back to vertices. Every quantity BIGINT
    ⇒ hash-exact."""
    parts = _louvain_base_ctes()
    for r in range(fine_rounds):
        parts += _louvain_round_ctes("", "c", r, "symd", "1", "deg")
    fr = fine_rounds
    parts += [
        f"w0 AS MATERIALIZED (SELECT cs.label AS src, cd.label AS dst, "
        f"CAST(count(*) AS BIGINT) AS w FROM symd s "
        f"JOIN c{fr} cs ON cs.id = s.src "
        f"JOIN c{fr} cd ON cd.id = s.dst "
        f"GROUP BY cs.label, cd.label), ",
        "wo AS MATERIALIZED (SELECT src, dst, w FROM w0 WHERE src <> dst), ",
        "deg2 AS MATERIALIZED (SELECT src AS id, "
        "CAST(sum(w) AS BIGINT) AS k FROM w0 GROUP BY src), ",
        "d0 AS MATERIALIZED (SELECT id, id AS label FROM deg2), ",
    ]
    for r in range(coarse_rounds):
        parts += _louvain_round_ctes("t", "d", r, "wo", "s.w", "deg2")
    chain = "".join(parts).rstrip(", ")
    return (
        f"WITH {chain} SELECT c.id, d.label FROM c{fr} c "
        f"JOIN d{coarse_rounds} d ON d.id = c.label"
    )


def _modularity_oracle(rounds: int = 5) -> str:
    """Newman Q of the LPA-5 partition in the single-division integer
    form (M2·ΣW_c − ΣD_c²) / M2² — exact integer sums, one IEEE
    division, same as `operators/graphstats.py::modularity`."""
    return (
        f"WITH {_lpa_cte_chain(rounds)}, "
        f"jm AS (SELECT ls.label AS sl, ld.label AS dl FROM symd "
        f"JOIN l{rounds} ls ON ls.id = symd.src "
        f"JOIN l{rounds} ld ON ld.id = symd.dst), "
        "per AS (SELECT sl, CAST(count(*) AS BIGINT) AS d_c, "
        "CAST(sum(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT) AS w_c "
        "FROM jm GROUP BY sl), "
        "st AS (SELECT CAST(count(*) AS BIGINT) AS nc, "
        "CAST(sum(d_c) AS BIGINT) AS m2, CAST(sum(w_c) AS BIGINT) AS sw, "
        "CAST(sum(d_c * d_c) AS BIGINT) AS sd2 FROM per) "
        "SELECT nc AS n_communities, "
        "floor((CAST(m2 * sw - sd2 AS DOUBLE) / CAST(m2 * m2 AS DOUBLE)) "
        "* 1000000.0) / 1000000.0 AS modularity FROM st"
    )


def _conductance_oracle(rounds: int = 5) -> str:
    """Per-community conductance of the LPA partition: integer vol/cut
    off the symmetrized row set, φ = cut / least(vol, m2 − vol) as one
    IEEE division, floor-truncated to 6 dp on both sides — same shape
    as `operators/graphstats.py::community_conductance`."""
    return (
        f"WITH {_lpa_cte_chain(rounds)}, "
        f"jm AS (SELECT ls.label AS sl, ld.label AS dl FROM symd "
        f"JOIN l{rounds} ls ON ls.id = symd.src "
        f"JOIN l{rounds} ld ON ld.id = symd.dst), "
        "per AS (SELECT sl AS label, CAST(count(*) AS BIGINT) AS vol, "
        "CAST(sum(CASE WHEN sl <> dl THEN 1 ELSE 0 END) AS BIGINT) AS cut "
        "FROM jm GROUP BY sl), "
        "st AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM symd) "
        "SELECT label, vol, cut, "
        "floor((CAST(cut AS DOUBLE) / "
        "CAST(least(vol, m2 - vol) AS DOUBLE)) * 1000000.0) / 1000000.0 "
        "AS conductance "
        "FROM per CROSS JOIN st WHERE vol > 0 AND vol < m2"
    )


def _assortativity_oracle() -> str:
    """Pearson out-in degree correlation over directed edges — exact
    BIGINT sums, then sqrt/mul/div as single IEEE ops (bit-identical),
    same as `operators/graphstats.py::degree_assortativity`."""
    e_sql = _duck_edges_sql()
    return (
        f"WITH e AS ({e_sql}), "
        "od AS (SELECT src, CAST(count(*) AS BIGINT) AS xd FROM e GROUP BY src), "
        "ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS yd FROM e GROUP BY dst), "
        "j AS (SELECT xd, yd FROM e JOIN od USING (src) JOIN ind USING (dst)), "
        "s AS (SELECT CAST(count(*) AS BIGINT) AS m, "
        "CAST(sum(xd) AS BIGINT) AS sx, CAST(sum(yd) AS BIGINT) AS sy, "
        "CAST(sum(xd * yd) AS BIGINT) AS sxy, "
        "CAST(sum(xd * xd) AS BIGINT) AS sxx, "
        "CAST(sum(yd * yd) AS BIGINT) AS syy FROM j) "
        "SELECT m, CASE WHEN (m * sxx - sx * sx) = 0 OR (m * syy - sy * sy) = 0 "
        "THEN 0.0 ELSE floor((CAST(m * sxy - sx * sy AS DOUBLE) / "
        "(sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) * "
        "sqrt(CAST(m * syy - sy * sy AS DOUBLE)))) * 1000000.0) / 1000000.0 "
        "END AS assortativity FROM s"
    )


def _type_mixing_oracle() -> str:
    """Entity-type mixing matrix + Newman attribute assortativity —
    exact BIGINT counts, one IEEE division, stable6-truncated; same as
    `operators/graphstats.py::type_mixing`."""
    e_sql = _duck_edges_sql()
    v_sql = _duck_vertices_sql()
    return (
        f"WITH e AS MATERIALIZED ({e_sql}), "
        f"vt AS MATERIALIZED (SELECT id, split_part(entity, ':', 1) AS ty "
        f"FROM ({v_sql})), "
        "typed AS (SELECT sv.ty AS src_type, dv.ty AS dst_type FROM e "
        "JOIN vt sv ON sv.id = e.src JOIN vt dv ON dv.id = e.dst), "
        "c AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS edges "
        "FROM typed GROUP BY src_type, dst_type), "
        "rs AS (SELECT src_type AS t, sum(edges) AS rsum FROM c GROUP BY 1), "
        "cs AS (SELECT dst_type AS t, sum(edges) AS csum FROM c GROUP BY 1), "
        "ab AS (SELECT CAST(coalesce(sum(coalesce(rsum, 0) * "
        "coalesce(csum, 0)), 0) AS BIGINT) AS sum_ab "
        "FROM rs FULL JOIN cs USING (t)), "
        "tt AS (SELECT CAST(sum(edges) AS BIGINT) AS m, "
        "CAST(sum(CASE WHEN src_type = dst_type THEN edges ELSE 0 END) "
        "AS BIGINT) AS diag FROM c) "
        "SELECT src_type, dst_type, edges, "
        "CASE WHEN (m * m - sum_ab) = 0 THEN 0.0 "
        "ELSE floor((CAST(m * diag - sum_ab AS DOUBLE) / "
        "CAST(m * m - sum_ab AS DOUBLE)) * 1000000.0) / 1000000.0 END AS r "
        "FROM c CROSS JOIN tt CROSS JOIN ab"
    )


def _avg_nbr_degree_oracle() -> str:
    """Directed knn replay: the edge set is distinct, so the left join
    against the out-degree table matches ≤1 row per edge; sums are
    exact BIGINTs and the mean is one IEEE division (stable6-truncated
    on both sides)."""
    e_sql = _duck_edges_sql()
    return (
        f"WITH e AS ({e_sql}), "
        "od AS (SELECT src, CAST(count(*) AS BIGINT) AS ndeg FROM e GROUP BY src), "
        "j AS (SELECT e.src, COALESCE(od.ndeg, 0) AS ndeg "
        "FROM e LEFT JOIN od ON e.dst = od.src) "
        "SELECT src AS id, CAST(count(*) AS BIGINT) AS deg, "
        "CAST(sum(ndeg) AS BIGINT) AS nbr_deg_sum, "
        "floor((CAST(sum(ndeg) AS DOUBLE) / CAST(count(*) AS DOUBLE)) "
        "* 1000000.0) / 1000000.0 AS avg_nbr_deg "
        "FROM j GROUP BY src"
    )


def _reciprocity_oracle() -> str:
    """Reciprocity replay: the edge set is distinct, so the inner join
    with its own transpose matches each reciprocated edge exactly
    once."""
    e_sql = _duck_edges_sql()
    return (
        f"WITH e AS ({e_sql}), "
        "rec AS (SELECT CAST(count(*) AS BIGINT) AS reciprocal "
        "FROM e JOIN e r ON e.src = r.dst AND e.dst = r.src), "
        "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e) "
        "SELECT m, reciprocal, "
        "CASE WHEN m = 0 THEN 0.0 ELSE "
        "floor((CAST(reciprocal AS DOUBLE) / CAST(m AS DOUBLE)) "
        "* 1000000.0) / 1000000.0 END AS reciprocity "
        "FROM mm CROSS JOIN rec"
    )


def _wl_oracle(rounds: int = 3) -> str:
    """Unrolls the WL hashed-multiset refinement round by round — the
    identical 28-bit-sum / 60-bit-recolor md5 chain as
    operators/wlhash.py, all-integer throughout."""
    e_sql = _duck_edges_sql()
    v_sql = _duck_vertices_sql()

    def h28(lab: str) -> str:
        return (
            f"CAST('0x' || substr(md5('wl:' || CAST({lab} AS VARCHAR)), 1, 7) "
            "AS BIGINT)"
        )

    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        _DUCK_SYM_CTES,
        f"verts AS MATERIALIZED (SELECT id FROM ({v_sql})), ",
        "deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d "
        "FROM sym GROUP BY src), ",
        "l0 AS MATERIALIZED (SELECT v.id, CAST(COALESCE(deg.d, 0) AS BIGINT) "
        "AS lab FROM verts v LEFT JOIN deg USING (id)), ",
    ]
    for r in range(rounds):
        parts.append(
            f"s{r + 1} AS (SELECT s.dst AS id, "
            f"CAST(sum({h28('l.lab')}) AS BIGINT) AS ns "
            f"FROM sym s JOIN l{r} l ON l.id = s.src GROUP BY s.dst), "
        )
        parts.append(
            f"l{r + 1} AS MATERIALIZED (SELECT l.id, "
            "CAST('0x' || substr(md5(CAST(l.lab AS VARCHAR) || ':' || "
            "CAST(COALESCE(s.ns, 0) AS VARCHAR)), 1, 15) AS BIGINT) AS lab "
            f"FROM l{r} l LEFT JOIN s{r + 1} s USING (id)), "
        )
    body = "".join(parts).rstrip(", ")
    return f"{body} SELECT id, lab AS wl FROM l{rounds}"


def _triad_census_oracle() -> str:
    """Brute force: every v1<v2<v3 triple, six edge left-joins build the
    labeled 6-bit code, the same 64-entry lookup classifies — an
    independent O(n³) formulation, feasible at the oracle's sf0.01."""
    from approximate_pagerank_public_spark.operators.triads import (
        LOOKUP,
        TRIAD_LABELS,
    )

    e_sql = _duck_edges_sql()
    code_rows = ", ".join(f"({c}, '{lab}')" for c, lab in LOOKUP.items())
    label_rows = ", ".join(f"('{lab}')" for lab in TRIAD_LABELS)
    bit = (
        "(CASE WHEN j{i}.src IS NOT NULL THEN {w} ELSE 0 END)"
    )
    joins = []
    bits = []
    for i, (x, y) in enumerate(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"), ("c", "b")]
    ):
        joins.append(
            f"LEFT JOIN d j{i} ON j{i}.src = t.{x} AND j{i}.dst = t.{y} "
        )
        bits.append(bit.format(i=i, w=1 << i))
    return (
        f"WITH e AS MATERIALIZED ({e_sql}), "
        "d AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst), "
        "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM "
        "(SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), "
        f"codes(code, triad) AS (VALUES {code_rows}), "
        f"labels(triad) AS (VALUES {label_rows}), "
        "t AS (SELECT a.id AS a, b.id AS b, c.id AS c FROM verts a "
        "JOIN verts b ON a.id < b.id JOIN verts c ON b.id < c.id), "
        f"coded AS (SELECT {' + '.join(bits)} AS code FROM t {''.join(joins)}), "
        "g AS (SELECT triad, CAST(count(*) AS BIGINT) AS cnt "
        "FROM coded JOIN codes USING (code) GROUP BY triad) "
        "SELECT l.triad, CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n "
        "FROM labels l LEFT JOIN g USING (triad)"
    )


def _transitivity_oracle() -> str:
    """Same association as the Spark side: exact-BIGINT triangle and
    wedge counts, transitivity = 3T/W in one IEEE division."""
    e_sql = _duck_edges_sql()
    return (
        f"WITH e AS MATERIALIZED ({e_sql}), "
        + _DUCK_SYM_CTES
        + "deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src), "
        "ab AS (SELECT u AS a, v AS b FROM canon), "
        "bc AS (SELECT u AS b, v AS c FROM canon), "
        "ac AS (SELECT u AS a, v AS c FROM canon), "
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles "
        "      FROM ab JOIN bc USING (b) JOIN ac USING (a, c)), "
        "w AS (SELECT CAST(sum(d * (d - 1)) AS BIGINT) AS w2 FROM deg) "
        "SELECT n_triangles, CAST(w2 // 2 AS BIGINT) AS wedges, "
        "CASE WHEN COALESCE(w2, 0) = 0 THEN 0.0 ELSE "
        "CAST(3 * n_triangles AS DOUBLE) / CAST(w2 // 2 AS DOUBLE) END "
        "AS transitivity FROM t CROSS JOIN w"
    )


def _rich_club_oracle() -> str:
    """Descending cumulative sums over the merged degree histograms —
    strictly-greater semantics via ROWS ... 1 PRECEDING, exact BIGINTs,
    phi one IEEE division."""
    e_sql = _duck_edges_sql()
    return (
        f"WITH e AS MATERIALIZED ({e_sql}), "
        + _DUCK_SYM_CTES
        + "deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d "
        "         FROM sym GROUP BY src), "
        "emin AS (SELECT least(du.d, dv.d) AS d FROM canon "
        "         JOIN deg du ON du.id = canon.u "
        "         JOIN deg dv ON dv.id = canon.v), "
        "nh AS (SELECT d, CAST(count(*) AS BIGINT) AS nd FROM deg GROUP BY d), "
        "eh AS (SELECT d, CAST(count(*) AS BIGINT) AS ne FROM emin GROUP BY d), "
        "m AS (SELECT COALESCE(nh.d, eh.d) AS k, COALESCE(nd, 0) AS nd, "
        "      COALESCE(ne, 0) AS ne FROM nh FULL OUTER JOIN eh ON nh.d = eh.d), "
        "c AS (SELECT k, "
        "CAST(COALESCE(sum(nd) OVER (ORDER BY k DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_k, "
        "CAST(COALESCE(sum(ne) OVER (ORDER BY k DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS e_k "
        "FROM m) "
        "SELECT k, n_k, e_k, "
        "CAST(2 * e_k AS DOUBLE) / CAST(n_k * (n_k - 1) AS DOUBLE) AS phi "
        "FROM c WHERE n_k >= 2"
    )


def _tool_latency_oracle() -> str:
    """Identical window program over the transcripts CTE — epoch_us
    DIFFERENCES only, exact BIGINT aggregates, avg stable6-truncated."""
    return (
        f"WITH tr AS ({_duck_transcripts_cte()}), "
        "g AS (SELECT tool, role, "
        "epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY conv_id ORDER BY turn_idx) AS gap FROM tr) "
        "SELECT tool, CAST(count(*) AS BIGINT) AS n_calls, "
        "CAST(sum(gap) AS BIGINT) AS total_gap_us, "
        "CAST(max(gap) AS BIGINT) AS max_gap_us, "
        "floor((CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE)) "
        "* 1000000.0) / 1000000.0 AS avg_gap_us "
        "FROM g WHERE role = 'tool' AND tool IS NOT NULL "
        "AND gap IS NOT NULL GROUP BY tool"
    )


def _tool_latency_quantiles_oracle(percents=(50, 95)) -> str:
    """Per-tool exact latency percentiles: same gap window, then the
    histogram-cumsum rank selection (all BIGINTs, 'lower' rank —
    identical to functions/quantiles.py::exact_int_quantiles_by)."""
    plist = ", ".join(f"({int(p)})" for p in percents)
    return (
        f"WITH tr AS ({_duck_transcripts_cte()}), "
        "g AS (SELECT tool, role, "
        "epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY conv_id ORDER BY turn_idx) AS gap FROM tr), "
        "gg AS (SELECT tool, CAST(gap AS BIGINT) AS v FROM g "
        "WHERE role = 'tool' AND tool IS NOT NULL AND gap IS NOT NULL), "
        "hist AS (SELECT tool, v, CAST(count(*) AS BIGINT) AS c FROM gg "
        "GROUP BY tool, v), "
        "cum AS (SELECT tool, v, c, CAST(sum(c) OVER (PARTITION BY tool "
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS BIGINT) AS hi FROM hist), "
        "tot AS (SELECT tool, CAST(sum(c) AS BIGINT) AS n FROM hist "
        "GROUP BY tool), "
        f"ps(p) AS (VALUES {plist}) "
        "SELECT cum.tool, CAST(p AS BIGINT) AS p, n, "
        "CAST(((n - 1) * p) // 100 AS BIGINT) AS rank, v AS value "
        "FROM cum JOIN tot ON tot.tool = cum.tool CROSS JOIN ps "
        "WHERE ((n - 1) * p) // 100 >= hi - c AND ((n - 1) * p) // 100 < hi"
    )


def _turn_latency_oracle() -> str:
    """Inter-turn gap replay over the transcripts CTE — epoch_us
    DIFFERENCES only (tz cancels), exact BIGINT aggregates."""
    return (
        f"WITH tr AS ({_duck_transcripts_cte()}), "
        "g AS (SELECT conv_id, "
        "epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY conv_id ORDER BY turn_idx) AS gap FROM tr) "
        "SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns, "
        "CAST(COALESCE(sum(gap), 0) AS BIGINT) AS total_gap_us, "
        "CAST(COALESCE(max(gap), 0) AS BIGINT) AS max_gap_us, "
        "CASE WHEN count(*) <= 1 THEN 0.0 ELSE "
        "floor((CAST(COALESCE(sum(gap), 0) AS DOUBLE) / "
        "CAST(count(*) - 1 AS DOUBLE)) * 1000000.0) / 1000000.0 "
        "END AS avg_gap_us "
        "FROM g GROUP BY conv_id"
    )


_SLIDING_ROLLUP_ORACLE = (
    "WITH t0 AS (SELECT min(ts) AS t0 FROM events), "
    "b AS (SELECT epoch_us(ts) - epoch_us(t0) AS diff, event_type "
    "FROM events CROSS JOIN t0), "
    "w AS (SELECT unnest(generate_series("
    "greatest(CAST(0 AS BIGINT), diff // 900000000 - 3), "
    "diff // 900000000)) AS window_idx, event_type FROM b) "
    "SELECT CAST(window_idx AS BIGINT) AS window_idx, event_type, "
    "CAST(count(*) AS BIGINT) AS n_events FROM w GROUP BY 1, 2"
)


_HOURLY_ROLLUP_ORACLE = (
    "WITH t0 AS (SELECT min(ts) AS t0 FROM events), "
    "b AS (SELECT epoch_us(ts) - epoch_us(t0) AS diff, event_type, "
    "CAST(round(value * 100) AS BIGINT) AS cents "
    "FROM events CROSS JOIN t0) "
    "SELECT CAST(diff // 3600000000 AS BIGINT) AS window_idx, event_type, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(cents) AS BIGINT) AS value_cents "
    "FROM b GROUP BY 1, 2"
)


def _hll_distinct_oracle() -> str:
    from approximate_pagerank_public_spark.functions.sketch import hll_oracle_sql

    t_cte = _duck_transcripts_cte()
    hll = hll_oracle_sql(f"({t_cte})", ["role"], "text")
    return (
        f"WITH hl AS ({hll}), "
        f"ex AS (SELECT role, count(DISTINCT text) AS exact_distinct "
        f"FROM ({t_cte}) GROUP BY role) "
        "SELECT hl.role, "
        "floor(approx_distinct * 1000000.0) / 1000000.0 AS approx_distinct, "
        "CAST(exact_distinct AS BIGINT) AS exact_distinct "
        "FROM hl JOIN ex ON hl.role = ex.role"
    )


def _anf_hyperball_oracle(rounds: int) -> str:
    from approximate_pagerank_public_spark.operators.anf import anf_oracle_sql

    return anf_oracle_sql(_duck_edges_sql(), _duck_vertices_sql(), rounds)


def _hll_set_ops_oracle() -> str:
    """Register-for-register replay of the three sketches + the same
    ``(a + b) - union`` inclusion-exclusion association."""
    from approximate_pagerank_public_spark.functions.sketch import ALPHA_M2, M

    def est(where: str) -> str:
        return (
            f"SELECT {ALPHA_M2} / (s_present + CAST({M} - n_present AS DOUBLE)) "
            "AS d FROM (SELECT "
            "sum(1.0 / CAST((CAST(1 AS BIGINT) << mr) AS DOUBLE)) AS s_present, "
            "count(*) AS n_present FROM (SELECT register, max(rho) AS mr FROM "
            f"(SELECT v % {M} AS register, "
            "CASE WHEN ((v >> 8) & 4294967295) = 0 THEN 33 "
            "ELSE 33 - length(bin((v >> 8) & 4294967295)) END AS rho FROM "
            "(SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) "
            f"AS BIGINT) AS v FROM events WHERE {where})) GROUP BY register))"
        )

    f6 = "floor(({}) * 1000000.0) / 1000000.0"
    return (
        f"WITH ea AS ({est(chr(39) + 'click' + chr(39) + ' = event_type')}), "
        f"eb AS ({est(chr(39) + 'purchase' + chr(39) + ' = event_type')}), "
        f"eu AS ({est('event_type IN (' + chr(39) + 'click' + chr(39) + ', ' + chr(39) + 'purchase' + chr(39) + ')')}) "
        "SELECT "
        + f6.format("ea.d")
        + " AS d_a, "
        + f6.format("eb.d")
        + " AS d_b, "
        + f6.format("eu.d")
        + " AS d_union, "
        + f6.format("(ea.d + eb.d) - eu.d")
        + " AS d_intersect FROM ea CROSS JOIN eb CROSS JOIN eu"
    )


def _effective_diameter_oracle(rounds: int) -> str:
    from approximate_pagerank_public_spark.operators.anf import (
        effective_diameter_oracle_sql,
    )

    return effective_diameter_oracle_sql(
        _duck_edges_sql(), _duck_vertices_sql(), rounds, q=0.9
    )


def _mean_distance_oracle(rounds: int) -> str:
    from approximate_pagerank_public_spark.operators.anf import (
        mean_distance_oracle_sql,
    )

    return mean_distance_oracle_sql(
        _duck_edges_sql(), _duck_vertices_sql(), rounds
    )


def _hyperball_harmonic_oracle(rounds: int) -> str:
    from approximate_pagerank_public_spark.operators.anf import (
        hyperball_harmonic_oracle_sql,
    )

    return hyperball_harmonic_oracle_sql(
        _duck_edges_sql(), _duck_vertices_sql(), rounds, topk=20
    )


def _sampled_triangles_oracle(q: int) -> str:
    e_sql = _duck_edges_sql()
    key = (
        "CAST('0x' || substr(md5('tri:' || CAST(u AS VARCHAR) || ':' || "
        f"CAST(v AS VARCHAR)), 1, 15) AS BIGINT) % {q}"
    )
    return (
        f"WITH e AS ({e_sql}), "
        "canon AS (SELECT DISTINCT least(src,dst) AS u, greatest(src,dst) AS v "
        "          FROM e WHERE src <> dst), "
        f"samp AS MATERIALIZED (SELECT u, v FROM canon WHERE {key} = 0), "
        "tri AS (SELECT count(*) AS t FROM "
        "  (SELECT u AS a, v AS b FROM samp) ab "
        "  JOIN (SELECT u AS b, v AS c FROM samp) bc USING (b) "
        "  JOIN (SELECT u AS a, v AS c FROM samp) ac USING (a, c)) "
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM samp) AS sampled_edges, "
        "CAST(t AS BIGINT) AS tri_sampled, "
        f"CAST(t * {q**3} AS BIGINT) AS est_triangles FROM tri"
    )


def _msf_oracle(rounds: int) -> str:
    from approximate_pagerank_public_spark.operators.msf import msf_oracle_sql

    return msf_oracle_sql(_duck_edges_sql(), _duck_vertices_sql(), rounds)


def _sweep_cut_oracle(
    source: int, alpha: float, eps: float, k_max: int
) -> str:
    """Sweep over the push oracle's (already stable6-truncated) p —
    identical ordering, exact integer cut/vol, same phi division."""
    push = _ppr_push_oracle(source, alpha, eps)
    big = k_max + 1
    return (
        f"WITH ps AS (SELECT * FROM ({push}) t), "
        f"e2 AS MATERIALIZED ({_duck_edges_sql()}), "
        "canon AS (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM e2 WHERE src <> dst), "
        "deg AS (SELECT id, count(*) AS deg FROM "
        "(SELECT u AS id FROM canon UNION ALL SELECT v FROM canon) "
        "GROUP BY id), "
        "cand AS (SELECT ps.id, deg.deg, ps.p_hat / deg.deg AS ratio "
        "FROM ps JOIN deg ON deg.id = ps.id WHERE ps.p_hat > 0), "
        "ranked AS (SELECT id, deg, row_number() OVER "
        "(ORDER BY ratio DESC, id ASC) AS rnk FROM cand "
        f"QUALIFY rnk <= {k_max}), "
        "twom AS (SELECT 2 * count(*) AS m2 FROM canon), "
        "spans AS (SELECT "
        f"least(coalesce(ru.rnk, {big}), coalesce(rv.rnk, {big})) AS lo, "
        f"greatest(coalesce(ru.rnk, {big}), coalesce(rv.rnk, {big})) AS hi "
        "FROM canon c "
        "LEFT JOIN ranked ru ON ru.id = c.u "
        "LEFT JOIN ranked rv ON rv.id = c.v "
        f"WHERE least(coalesce(ru.rnk, {big}), coalesce(rv.rnk, {big})) "
        f"<= {k_max}), "
        f"ks AS (SELECT unnest(generate_series(1, {k_max})) AS k), "
        "cuts AS (SELECT ks.k, count(s.lo) AS cut_edges FROM ks "
        "LEFT JOIN spans s ON s.lo <= ks.k AND ks.k < s.hi GROUP BY ks.k), "
        "vols AS (SELECT rnk AS k, sum(deg) OVER (ORDER BY rnk) AS vol "
        "FROM ranked) "
        "SELECT v.k, CAST(c.cut_edges AS BIGINT) AS cut_edges, "
        "CAST(v.vol AS BIGINT) AS vol, "
        "floor(CAST(c.cut_edges AS DOUBLE) / "
        "CAST(least(v.vol, t.m2 - v.vol) AS DOUBLE) * 1000000.0) "
        "/ 1000000.0 AS phi_micro "
        "FROM vols v JOIN cuts c ON c.k = v.k CROSS JOIN twom t "
        "WHERE v.vol < t.m2"
    )


def _join_size_oracle() -> str:
    from approximate_pagerank_public_spark.functions.sketch import (
        cms_join_size_oracle_sql,
    )

    return cms_join_size_oracle_sql(
        "(SELECT * FROM events WHERE event_type = 'click')",
        "(SELECT * FROM events WHERE event_type = 'purchase')",
        "CAST(user_id AS VARCHAR)",
        width=1024,
        depth=4,
    )


def _matching_oracle(rounds: int) -> str:
    from approximate_pagerank_public_spark.operators.matching import (
        matching_oracle_sql,
    )

    return matching_oracle_sql(_duck_edges_sql(), rounds)


def _affinity_oracle(rounds: int) -> str:
    from approximate_pagerank_public_spark.operators.msf import (
        affinity_oracle_sql,
    )

    return affinity_oracle_sql(_duck_edges_sql(), _duck_vertices_sql(), rounds)


def _hrw_shards_oracle(num_shards: int) -> str:
    from approximate_pagerank_public_spark.functions.sharding import (
        hrw_oracle_sql,
    )

    shard = hrw_oracle_sql("CAST(doc_id AS VARCHAR)", num_shards)
    return (
        f"WITH a AS (SELECT doc_id, {shard} AS shard FROM documents) "
        "SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, "
        "min(doc_id) AS min_doc FROM a GROUP BY shard"
    )


def _hourly_distinct_users_oracle() -> str:
    from approximate_pagerank_public_spark.functions.sketch import hll_oracle_sql

    base = (
        "SELECT CAST((epoch_us(ts) - epoch_us(t0)) // 3600000000 AS BIGINT) "
        "AS window_idx, CAST(user_id AS VARCHAR) AS uid "
        "FROM events CROSS JOIN (SELECT min(ts) AS t0 FROM events)"
    )
    hll = hll_oracle_sql(f"({base})", ["window_idx"], "uid")
    return (
        f"WITH hl AS ({hll}), "
        f"ex AS (SELECT window_idx, count(DISTINCT uid) AS exact_users "
        f"FROM ({base}) GROUP BY window_idx) "
        "SELECT hl.window_idx, "
        "floor(approx_distinct * 1000000.0) / 1000000.0 AS approx_users, "
        "CAST(exact_users AS BIGINT) AS exact_users "
        "FROM hl JOIN ex ON hl.window_idx = ex.window_idx"
    )


def _bloom_membership_oracle() -> str:
    from approximate_pagerank_public_spark.functions.bloom import (
        bloom_oracle_sql,
    )

    split = "substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) < '8'"
    bp = bloom_oracle_sql("tr", "text", "ev", "text", m=2048, k=3)
    return (
        f"WITH tr AS (SELECT text FROM documents WHERE {split}), "
        f"ev AS (SELECT doc_id, text FROM documents WHERE NOT ({split})), "
        f"bp AS ({bp}), "
        "ex AS (SELECT DISTINCT text FROM tr) "
        "SELECT e.doc_id, bp.bloom_hit, ex.text IS NOT NULL AS exact_hit "
        "FROM ev e JOIN bp ON bp.value = e.text "
        "LEFT JOIN ex ON ex.text = e.text"
    )


def _landmark_dist_oracle() -> str:
    from approximate_pagerank_public_spark.operators.landmarks import (
        landmark_oracle_sql,
    )

    return landmark_oracle_sql(_duck_edges_sql(), 4, list(range(8)))


def _stress_oracle(sources: list[int]) -> str:
    """Stress centrality replayed as unrolled level-synchronous sweeps
    per source: ``g{l}`` = vertices first reached at level l with their
    shortest-path counts σ (sum over level-(l−1) DAG parents), then
    backward continuation counts ``c{l}(v) = Σ out-DAG (c{l+1}+1)``.
    Everything is integer ⇒ hash-exact. Unroll depth per source =
    replayed BFS eccentricity."""
    e_sql = _duck_edges_sql()
    parts = [f"WITH e AS MATERIALIZED ({e_sql}), "]
    terms = []
    for si, s in enumerate(sources):
        lvls = _replay_bfs_levels(s)
        parts.append(
            f"s{si}g0 AS (SELECT CAST({s} AS BIGINT) AS id, "
            "CAST(1 AS BIGINT) AS sigma), "
            f"s{si}v0 AS (SELECT id FROM s{si}g0), "
        )
        for l in range(1, lvls + 1):
            parts.append(
                f"s{si}g{l} AS MATERIALIZED (SELECT e.dst AS id, "
                f"CAST(sum(g.sigma) AS BIGINT) AS sigma "
                f"FROM s{si}g{l - 1} g JOIN e ON g.id = e.src "
                f"WHERE e.dst NOT IN (SELECT id FROM s{si}v{l - 1}) "
                "GROUP BY e.dst), "
                f"s{si}v{l} AS (SELECT id FROM s{si}v{l - 1} "
                f"UNION ALL SELECT id FROM s{si}g{l}), "
            )
        parts.append(
            f"s{si}c{lvls} AS (SELECT id, CAST(0 AS BIGINT) AS cont "
            f"FROM s{si}g{lvls}), "
        )
        for l in range(lvls - 1, -1, -1):
            parts.append(
                f"s{si}c{l} AS MATERIALIZED (SELECT g.id, "
                "CAST(coalesce(sum(c.cont + 1), 0) AS BIGINT) AS cont "
                f"FROM s{si}g{l} g LEFT JOIN e ON e.src = g.id "
                f"LEFT JOIN s{si}c{l + 1} c ON c.id = e.dst GROUP BY g.id), "
            )
        terms.extend(
            f"SELECT g.id, g.sigma * c.cont AS st "
            f"FROM s{si}g{l} g JOIN s{si}c{l} c USING (id)"
            for l in range(1, lvls + 1)
        )
    parts.append(
        "verts AS (SELECT DISTINCT src AS id FROM "
        "(SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), "
        "allt AS (" + " UNION ALL ".join(terms) + "), "
        "tot AS (SELECT id, CAST(sum(st) AS BIGINT) AS stress "
        "FROM allt GROUP BY id) "
    )
    return "".join(parts) + (
        "SELECT v.id, coalesce(t.stress, 0) AS stress "
        "FROM verts v LEFT JOIN tot t ON t.id = v.id"
    )


def _random_walks_oracle(length: int = 4, seed: str = "rw") -> str:
    """Hop-for-hop replay of ``random_walk_corpus`` (K=1 ⇒ walk = start
    id): ranked dst-sorted adjacency, 60-bit md5 draw per (walk, step),
    dangling pads in place. All integers ⇒ hash-exact."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk, "
        "count(*) OVER (PARTITION BY src) AS deg FROM e), ",
        "verts AS (SELECT DISTINCT src AS id FROM "
        "(SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), ",
        "w0 AS (SELECT id AS walk, id AS cur FROM verts), ",
    ]
    for t in range(length):
        parts.append(
            f"w{t + 1} AS MATERIALIZED (SELECT w.walk, "
            "coalesce(a.dst, w.cur) AS cur "
            f"FROM w{t} w LEFT JOIN adj a ON a.src = w.cur AND "
            f"(CAST('0x' || substr(md5('{seed}:' || CAST(w.walk AS VARCHAR) "
            f"|| ':{t}'), 1, 15) AS BIGINT) % a.deg) = a.rnk), "
        )
    selects = [
        f"SELECT walk, CAST({t} AS BIGINT) AS step, cur AS vertex FROM w{t}"
        for t in range(length + 1)
    ]
    return "".join(parts).rstrip(", ") + " " + " UNION ALL ".join(selects)


def _node2vec_oracle(
    length: int = 4,
    w_return: int = 1,
    w_in: int = 4,
    w_out: int = 2,
    seed: str = "n2v",
) -> str:
    """Hop-for-hop replay of ``node2vec_corpus``: per step the candidate
    set expands from the ranked adjacency, integer class weights
    (return / distance-1 / out) cumsum in rank order, and the 60-bit md5
    draw picks its cumulative bracket. All integers ⇒ hash-exact."""
    e_sql = _duck_edges_sql()
    draw = (
        f"(CAST('0x' || substr(md5('{seed}:' || CAST(m.walk AS VARCHAR) "
        "|| ':{t}'), 1, 15) AS BIGINT) % m.tot)"
    )
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        "adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk FROM e), ",
        "verts AS (SELECT DISTINCT src AS id FROM "
        "(SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), ",
        "w0 AS (SELECT id AS walk, id AS prev, id AS cur FROM verts), ",
    ]
    for t in range(length):
        d = draw.replace("{t}", str(t))
        parts.append(
            f"c{t} AS (SELECT w.walk, a.dst, a.rnk, CAST(CASE "
            f"WHEN a.dst = w.prev THEN {int(w_return)} "
            "WHEN EXISTS (SELECT 1 FROM e x WHERE x.src = w.prev "
            f"AND x.dst = a.dst) THEN {int(w_in)} "
            f"ELSE {int(w_out)} END AS BIGINT) AS wt "
            f"FROM w{t} w JOIN adj a ON a.src = w.cur), "
            f"m{t} AS (SELECT walk, dst, wt, "
            "sum(wt) OVER (PARTITION BY walk ORDER BY rnk) AS cw, "
            f"sum(wt) OVER (PARTITION BY walk) AS tot FROM c{t}), "
            f"p{t} AS (SELECT m.walk, m.dst FROM m{t} m "
            f"WHERE {d} >= m.cw - m.wt AND {d} < m.cw), "
            f"w{t + 1} AS MATERIALIZED (SELECT w.walk, w.cur AS prev, "
            f"coalesce(p.dst, w.cur) AS cur "
            f"FROM w{t} w LEFT JOIN p{t} p ON p.walk = w.walk), "
        )
    selects = [
        f"SELECT walk, CAST({t} AS BIGINT) AS step, cur AS vertex FROM w{t}"
        for t in range(length + 1)
    ]
    return "".join(parts).rstrip(", ") + " " + " UNION ALL ".join(selects)


def _skipgram_oracle(length: int = 4, window: int = 2, seed: str = "rw") -> str:
    """Skip-gram pairs over the DeepWalk corpus oracle (shared walk
    definition) — ordered within-window pairs, counted."""
    corpus = _random_walks_oracle(length, seed)
    return (
        f"WITH corpus AS MATERIALIZED (SELECT * FROM ({corpus}) t) "
        "SELECT a.vertex AS center, b.vertex AS context, count(*) AS n "
        "FROM corpus a JOIN corpus b ON a.walk = b.walk "
        f"AND abs(b.step - a.step) <= {int(window)} AND a.step <> b.step "
        "GROUP BY a.vertex, b.vertex"
    )


def _sssp_oracle(source: int = 0) -> str:
    """Unrolled min-plus Bellman-Ford: round k is one CTE computing
    ``min(d_k(v), min over in-edges d_k(u) + w)`` over the reached-only
    distance table. ``min`` has no fp rounding and each candidate is a
    single IEEE add, so the fixpoint is bit-identical to the engine."""
    k = _replay_sssp_rounds(source)
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql}), ",
        f"d0 AS MATERIALIZED (SELECT CAST({source} AS BIGINT) AS id, "
        "0.0 AS dist), ",
    ]
    for i in range(k):
        parts.append(
            f"d{i + 1} AS MATERIALIZED (SELECT id, min(dist) AS dist FROM ("
            f"SELECT id, dist FROM d{i} UNION ALL "
            f"SELECT e.dst AS id, d.dist + e.weight AS dist "
            f"FROM d{i} d JOIN e ON d.id = e.src) GROUP BY id), "
        )
    return "".join(parts).rstrip(", ") + (
        f" SELECT id, floor(dist * 1000000.0) / 1000000.0 AS dist FROM d{k}"
    )


def _lang_id_oracle() -> str:
    """Generated so trigram op order matches the Spark expression exactly."""
    from approximate_pagerank_public_spark.operators.textstats import _LANG_TRIGRAMS

    langs = sorted(_LANG_TRIGRAMS.items())
    score_exprs = []
    for lang, tris in langs:
        terms = [
            f"(length(t) - length(replace(t, '{tri}', ''))) / {len(tri)}" for tri in tris
        ]
        score_exprs.append(f"({' + '.join(terms)}) AS s_{lang}")
    names = [f"s_{lang}" for lang, _ in langs]
    # argmax with ties → earliest in sorted-lang order (matches stable
    # array_sort over the lang-sorted pairs array in Spark)
    case = "CASE "
    for i, (lang, _) in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= {n}" for n in names[i + 1:])
        case += f"WHEN {conds} THEN '{lang}' "
    case += f"ELSE '{langs[-1][0]}' END AS lang_pred"
    return (
        "WITH s AS (SELECT doc_id, lower(text) AS t FROM documents), "
        f"c AS (SELECT doc_id, {', '.join(score_exprs)} FROM s) "
        f"SELECT doc_id, {case} FROM c"
    )


def _tool_cooccurrence_oracle(cap: int, min_count: int) -> str:
    from approximate_pagerank_public_spark.operators.bipartite import (
        TOOL_COOCCURRENCE_SQL_TEMPLATE,
    )

    return TOOL_COOCCURRENCE_SQL_TEMPLATE.format(
        SRC=f"({_duck_transcripts_cte()})", CAP=int(cap), MIN=int(min_count)
    )


def _neighbor_agg_oracle() -> str:
    from approximate_pagerank_public_spark.operators.features import (
        NEIGHBOR_MEAN_SQL_TEMPLATE,
    )

    sf = _oracle_sf_dir()
    inner = NEIGHBOR_MEAN_SQL_TEMPLATE.format(
        EDGES=_duck_edges_sql(),
        EMB=f"{sf}/embeddings.parquet",
        DIM=_emb_dim(sf),
    )
    return (
        f"SELECT id, dim, floor(nbr_mean * 1000000.0) / 1000000.0 AS nbr_mean, "
        f"deg FROM ({inner}) t"
    )


def _skipgram_pmi_oracle(length: int, window: int, seed: str) -> str:
    """PMI ratios over the skip-gram oracle: exact BIGINT marginal sums
    cast to DOUBLE, numerator/denominator each ONE double multiply, one
    divide — the identical op sequence as ``randomwalk.pmi_scores``."""
    pairs = _skipgram_oracle(length, window, seed)
    return (
        f"WITH pairs AS MATERIALIZED ({pairs}), "
        "tot AS (SELECT CAST(sum(n) AS DOUBLE) AS N FROM pairs), "
        "cu AS (SELECT center, CAST(sum(n) AS DOUBLE) AS c FROM pairs "
        "GROUP BY center), "
        "cv AS (SELECT context, CAST(sum(n) AS DOUBLE) AS c FROM pairs "
        "GROUP BY context) "
        "SELECT p.center, p.context, p.n, "
        "floor(((CAST(p.n AS DOUBLE) * (SELECT N FROM tot)) / (cu.c * cv.c)) "
        "* 1000000.0) / 1000000.0 AS pmi_ratio "
        "FROM pairs p JOIN cu ON p.center = cu.center "
        "JOIN cv ON p.context = cv.context"
    )


def _salsa_oracle(iters: int = 8) -> str:
    """SALSA unrolled as chained CTEs. Association matches
    ``operators/hits.py::salsa``: the degree division happens per vertex
    (a deterministic scalar, identical on every edge row), then raw
    per-group sums; hubs = outdeg>0, authorities = indeg>0, everyone
    else 0."""
    e_sql = _duck_edges_sql()
    parts = [
        f"WITH e AS MATERIALIZED (SELECT src, dst FROM ({e_sql})), ",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), ",
        "od AS MATERIALIZED (SELECT src AS id, count(*) AS d "
        "FROM e GROUP BY src), ",
        "idg AS MATERIALIZED (SELECT dst AS id, count(*) AS d "
        "FROM e GROUP BY dst), ",
        "h0 AS MATERIALIZED (SELECT id, 1.0 AS s FROM od), ",
    ]
    for k in range(iters):
        parts.append(
            f"a{k + 1} AS MATERIALIZED (SELECT e.dst AS id, "
            f"sum(h{k}.s / CAST(od.d AS DOUBLE)) AS s "
            f"FROM e JOIN h{k} ON h{k}.id = e.src "
            "JOIN od ON od.id = e.src GROUP BY e.dst), "
        )
        parts.append(
            f"h{k + 1} AS MATERIALIZED (SELECT e.src AS id, "
            f"sum(a{k + 1}.s / CAST(idg.d AS DOUBLE)) AS s "
            f"FROM e JOIN a{k + 1} ON a{k + 1}.id = e.dst "
            "JOIN idg ON idg.id = e.dst GROUP BY e.src), "
        )
    sql = "".join(parts).rstrip(", ")
    return (
        sql + f" SELECT v.id, "
        f"floor(coalesce(h.s, 0.0) * 1000000.0) / 1000000.0 AS hub, "
        f"floor(coalesce(a.s, 0.0) * 1000000.0) / 1000000.0 AS authority "
        f"FROM verts v LEFT JOIN h{iters} h ON h.id = v.id "
        f"LEFT JOIN a{iters} a ON a.id = v.id"
    )


def _gnn_khop_oracle(n_roots: int, fanouts: list[int], seed: str) -> str:
    """Unrolled k-hop sampled-block replay: per hop, candidates =
    frontier⋈edges on dst, rank by the 60-bit md5 edge draw inside
    (root, dst), keep the fanout smallest; next frontier = new (root,
    src) pairs. Identical draw text to gnnsample._edge_draw."""
    drw = (
        f"CAST(CAST(('0x' || substring(md5('{seed}:' || "
        "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 15)) "
        "AS UBIGINT) AS BIGINT)"
    )
    parts = [
        f"WITH e AS MATERIALIZED ({_duck_edges_sql()}), ",
        f"ed AS MATERIALIZED (SELECT src, dst, {drw} AS drw FROM e), ",
        f"roots AS (SELECT unnest(range({int(n_roots)})) AS root), ",
        "f1 AS (SELECT root, CAST(root AS BIGINT) AS id FROM roots), ",
        "seen1 AS (SELECT root, id FROM f1), ",
    ]
    blocks = []
    for hop, k in enumerate(fanouts, start=1):
        parts.append(
            f"c{hop} AS (SELECT f.root, ed.src, ed.dst, ed.drw "
            f"FROM f{hop} f JOIN ed ON ed.dst = f.id), "
            f"b{hop} AS MATERIALIZED (SELECT root, {hop} AS hop, src, dst "
            f"FROM (SELECT *, row_number() OVER (PARTITION BY root, dst "
            f"ORDER BY drw, src) AS rk FROM c{hop}) WHERE rk <= {int(k)}), "
        )
        blocks.append(f"SELECT root, hop, src, dst FROM b{hop}")
        if hop < len(fanouts):
            parts.append(
                f"f{hop + 1} AS (SELECT DISTINCT root, src AS id FROM b{hop} "
                f"WHERE NOT EXISTS (SELECT 1 FROM seen{hop} s "
                f"WHERE s.root = b{hop}.root AND s.id = b{hop}.src)), "
                f"seen{hop + 1} AS (SELECT root, id FROM seen{hop} "
                f"UNION ALL SELECT root, id FROM f{hop + 1}), "
            )
    sql = "".join(parts)
    # drop the trailing ", " of the last CTE
    sql = sql.rstrip().rstrip(",")
    return sql + " " + " UNION ALL ".join(blocks)


def _negative_sampling_oracle(n_neg: int, seed: str) -> str:
    """Positives (label 1) + md5-uniform negatives (label 0) over the
    skip-gram pair oracle; N = vertex count of the same edge relation."""
    pairs = _skipgram_oracle(4, 2, "rw")
    nverts = (
        f"SELECT count(*) AS n FROM (SELECT DISTINCT src AS id FROM e "
        "UNION SELECT DISTINCT dst FROM e) v"
    )
    drw = (
        f"CAST(CAST(('0x' || substring(md5('{seed}:' || "
        "CAST(center AS VARCHAR) || ':' || CAST(context AS VARCHAR) "
        "|| ':' || CAST(j AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
    )
    return (
        f"WITH pairs AS MATERIALIZED ({pairs}), "
        f"e AS MATERIALIZED ({_duck_edges_sql()}), "
        f"nv AS ({nverts}) "
        "SELECT center, context, 1 AS label FROM pairs "
        "UNION ALL "
        f"SELECT center, CAST(({drw}) % (SELECT n FROM nv) AS INTEGER) "
        "AS context, 0 AS label "
        "FROM pairs, (SELECT unnest(range(" + str(int(n_neg)) + ")) AS j) js"
    )


def _weighted_negative_sampling_oracle(n_neg: int, seed: str) -> str:
    """Same skip-gram pair oracle; negatives via the identical
    degree^0.75 slot table (exclusive cumsum in id order, md5 % W slot
    equi-join). All integers; sqrt chains are IEEE-exact-rounded."""
    pairs = _skipgram_oracle(4, 2, "rw")
    drw = (
        f"CAST(CAST(('0x' || substring(md5('{seed}:' || "
        "CAST(center AS VARCHAR) || ':' || CAST(context AS VARCHAR) "
        "|| ':' || CAST(j AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
    )
    return (
        f"WITH pairs AS MATERIALIZED ({pairs}), "
        f"e AS MATERIALIZED ({_duck_edges_sql()}), "
        "deg AS (SELECT id, count(*) AS degree FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e) GROUP BY id), "
        "wt AS (SELECT id, CAST(floor(sqrt(CAST(floor(sqrt(d * d * d)) "
        "AS DOUBLE))) AS BIGINT) AS w FROM "
        "(SELECT id, CAST(least(degree, 200000) AS DOUBLE) AS d FROM deg "
        "WHERE degree > 0)), "
        "st AS (SELECT id, w, CAST(sum(w) OVER (ORDER BY id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w AS BIGINT) "
        "AS lo FROM wt WHERE w > 0), "
        "tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt WHERE w > 0), "
        "slots AS (SELECT unnest(range(lo, lo + w)) AS slot, id AS neg_id "
        "FROM st) "
        "SELECT center, context, 1 AS label FROM pairs "
        "UNION ALL "
        f"SELECT p.center, CAST(s.neg_id AS INTEGER) AS context, 0 AS label "
        f"FROM (SELECT center, context, ({drw}) % (SELECT tw FROM tot) "
        "AS slot FROM pairs, (SELECT unnest(range("
        + str(int(n_neg))
        + ")) AS j) js) p JOIN slots s USING (slot)"
    )


def oracle_sql() -> dict[str, str]:
    t_cte = _duck_transcripts_cte()
    e_sql = _duck_edges_sql()
    stop = (
        "['the','a','an','and','or','of','to','in','is','it','that','for','on',"
        "'with','as','was','at','by','be','this','are','from','have','has','not',"
        "'but','they','you','we','he','she','his','her','its']"
    )
    return {
        "transcript_etl": f"SELECT conv_id, turn_idx, role, text, tool FROM ({t_cte})",
        "edge_derivation": (
            f"SELECT src, dst, floor(weight * 1000000.0) / 1000000.0 AS weight FROM ({e_sql})"
        ),
        "out_degree": (
            f"SELECT src AS id, count(*) AS outdeg FROM ({e_sql}) GROUP BY src"
        ),
        "dangling_vertices": (
            f"WITH e AS ({e_sql}) "
            "SELECT DISTINCT dst AS id FROM e "
            "WHERE dst NOT IN (SELECT src FROM e)"
        ),
        "degree_distribution": (
            f"WITH deg AS (SELECT src, count(*) AS outdeg FROM ({e_sql}) GROUP BY src) "
            "SELECT outdeg, count(*) AS n_vertices FROM deg GROUP BY outdeg"
        ),
        "clique_communities": (
            # CPM oracle: same md5 triangle keys + the same per-edge
            # min-star reduction (component-preserving), closure via
            # recursive min-label CTE
            f"WITH RECURSIVE e AS MATERIALIZED ({e_sql}), "
            "canon AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS u, "
            "greatest(src,dst) AS v FROM e WHERE src <> dst), "
            "tri AS MATERIALIZED (SELECT ab.u AS a, ab.v AS b, bc.v AS c "
            "FROM canon ab JOIN canon bc ON bc.u = ab.v "
            "JOIN canon ac ON ac.u = ab.u AND ac.v = bc.v), "
            "trik AS MATERIALIZED (SELECT a, b, c, "
            "CAST('0x' || substr(md5(CAST(a AS VARCHAR) || ':' || "
            "CAST(b AS VARCHAR) || ':' || CAST(c AS VARCHAR)), 1, 15) "
            "AS BIGINT) AS tid FROM tri), "
            "posting AS (SELECT CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR) "
            "AS ek, tid FROM trik "
            "UNION ALL SELECT CAST(a AS VARCHAR) || ':' || CAST(c AS VARCHAR), "
            "tid FROM trik "
            "UNION ALL SELECT CAST(b AS VARCHAR) || ':' || CAST(c AS VARCHAR), "
            "tid FROM trik), "
            "mins AS (SELECT ek, min(tid) AS m FROM posting GROUP BY ek), "
            "stars AS (SELECT DISTINCT p.tid AS a, m.m AS b FROM posting p "
            "JOIN mins m USING (ek) WHERE p.tid <> m.m), "
            "sym AS (SELECT a, b FROM stars UNION "
            "SELECT b AS a, a AS b FROM stars), "
            "reach(id, lbl) AS (SELECT tid, tid FROM trik "
            "UNION SELECT s.a AS id, r.lbl FROM sym s JOIN reach r "
            "ON r.id = s.b) "
            "SELECT t.a, t.b, t.c, c.community FROM trik t JOIN "
            "(SELECT id, min(lbl) AS community FROM reach GROUP BY id) c "
            "ON c.id = t.tid"
        ),
        "triangle_count": (
            f"WITH e AS ({e_sql}), "
            "canon AS (SELECT DISTINCT least(src,dst) AS u, greatest(src,dst) AS v "
            "          FROM e WHERE src <> dst), "
            "ab AS (SELECT u AS a, v AS b FROM canon), "
            "bc AS (SELECT u AS b, v AS c FROM canon), "
            "ac AS (SELECT u AS a, v AS c FROM canon) "
            "SELECT count(*) AS n_triangles FROM ab "
            "JOIN bc USING (b) JOIN ac USING (a, c)"
        ),
        "four_cliques": (
            f"WITH e AS MATERIALIZED ({e_sql}), "
            "canon AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS u, "
            "greatest(src,dst) AS v FROM e WHERE src <> dst), "
            "tri AS MATERIALIZED (SELECT ab.u AS a, ab.v AS b, bc.v AS c "
            "FROM canon ab JOIN canon bc ON bc.u = ab.v "
            "JOIN canon ac ON ac.u = ab.u AND ac.v = bc.v) "
            "SELECT CAST(count(*) AS BIGINT) AS four_cliques FROM tri t "
            "JOIN canon e1 ON e1.u = t.a "
            "JOIN canon e2 ON e2.u = t.b AND e2.v = e1.v "
            "JOIN canon e3 ON e3.u = t.c AND e3.v = e1.v"
        ),
        "four_cycles": (
            f"WITH e AS MATERIALIZED ({e_sql}), "
            "canon AS (SELECT DISTINCT least(src,dst) AS u, greatest(src,dst) AS v "
            "          FROM e WHERE src <> dst), "
            "sym AS (SELECT u AS src, v AS dst FROM canon "
            "        UNION ALL SELECT v AS src, u AS dst FROM canon), "
            "pairs AS (SELECT l.dst AS a, r.dst AS c, count(*) AS w "
            "          FROM sym l JOIN sym r ON l.src = r.src AND l.dst < r.dst "
            "          GROUP BY l.dst, r.dst) "
            "SELECT CAST(coalesce(sum(w * (w - 1)), 0) // 4 AS BIGINT) "
            "AS four_cycles FROM pairs"
        ),
        "top_tools": (
            f"SELECT tool, count(*) AS n_calls FROM ({t_cte}) "
            "WHERE role = 'tool' GROUP BY tool "
            "ORDER BY n_calls DESC, tool LIMIT 10"
        ),
        "conversation_stats": (
            # CAST: DuckDB sum() yields HUGEINT, which pandas widens to
            # float64 and the driver's value-hash then sees 123.0 vs 123
            f"SELECT conv_id, count(*) AS n_turns, "
            "CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_tool_turns, "
            f"CAST(sum(length(text)) AS BIGINT) AS sum_text_len "
            f"FROM ({t_cte}) GROUP BY conv_id"
        ),
        "connected_components": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
            "verts AS (SELECT DISTINCT src AS id FROM und), "
            "r(id, lbl) AS ("
            "  SELECT id, id FROM verts "
            "  UNION "
            "  SELECT und.dst, r.lbl FROM r JOIN und ON r.id = und.src) "
            "SELECT id, min(lbl) AS component FROM r GROUP BY id"
        ),
        "cc_star": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
            "verts AS (SELECT DISTINCT src AS id FROM und), "
            "r(id, lbl) AS ("
            "  SELECT id, id FROM verts "
            "  UNION "
            "  SELECT und.dst, r.lbl FROM r JOIN und ON r.id = und.src) "
            "SELECT id, min(lbl) AS component FROM r GROUP BY id"
        ),
        "component_sizes": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
            "verts AS (SELECT DISTINCT src AS id FROM und), "
            "r(id, lbl) AS ("
            "  SELECT id, id FROM verts "
            "  UNION "
            "  SELECT und.dst, r.lbl FROM r JOIN und ON r.id = und.src), "
            "comp AS (SELECT id, min(lbl) AS component FROM r GROUP BY id) "
            "SELECT component, count(*) AS size FROM comp GROUP BY component "
            "ORDER BY component"
        ),
        "bridges": (
            "WITH RECURSIVE "
            + _duck_bridges_ctes(
                f"SELECT * FROM ({e_sql}) WHERE {_BRIDGE_EDGE_COND}"
            )
            + " SELECT a, b FROM br ORDER BY a, b"
        ),
        "two_edge_components": (
            "WITH RECURSIVE "
            + _duck_bridges_ctes(
                f"SELECT * FROM ({e_sql}) WHERE {_BRIDGE_EDGE_COND}"
            )
            + ", "
            "nb AS (SELECT p.a, p.b FROM pairs p WHERE NOT EXISTS "
            "  (SELECT 1 FROM br WHERE br.a = p.a AND br.b = p.b)), "
            "undnb AS (SELECT a AS src, b AS dst FROM nb "
            "  UNION SELECT b, a FROM nb), "
            "r2(id, lbl) AS (SELECT id, id FROM verts "
            "  UNION SELECT u.dst, r2.lbl FROM r2 JOIN undnb u "
            "  ON r2.id = u.src) "
            "SELECT id, min(lbl) AS component FROM r2 GROUP BY id"
        ),
        "bfs_dist": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "r(id, dist) AS ("
            "  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            "  UNION "
            "  SELECT e.dst, r.dist + 1 FROM r JOIN e ON r.id = e.src "
            "  WHERE r.dist < 100) "
            "SELECT id, min(dist) AS dist FROM r GROUP BY id"
        ),
        "fbfs": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "r(id, dist) AS ("
            "  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            "  UNION "
            "  SELECT e.dst, r.dist + 1 FROM r JOIN e ON r.id = e.src "
            "  WHERE r.dist < 100), "
            "d AS (SELECT id, min(dist) AS dist FROM r GROUP BY id), "
            "c AS (SELECT id, dist, "
            "  row_number() OVER (ORDER BY dist, id) - 1 AS cnt FROM d), "
            "verts AS (SELECT DISTINCT id FROM "
            "  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)) "
            "SELECT v.id, "
            "CAST(CASE WHEN c.cnt >= 9 THEN c.dist "
            "     WHEN v.id = 0 THEN 0 END AS BIGINT) AS dist, "
            "CAST(CASE WHEN c.cnt >= 9 THEN 2 * c.cnt + 1 ELSE 0 END AS BIGINT) "
            "AS prop "
            "FROM verts v LEFT JOIN c ON c.id = v.id"
        ),
        "random_walks": _random_walks_oracle(4, "rw"),
        "approx_diameter": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "r1(id, dist) AS ("
            "  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            "  UNION "
            "  SELECT e.dst, r1.dist + 1 FROM r1 JOIN e ON r1.id = e.src "
            "  WHERE r1.dist < 100), "
            "d1 AS (SELECT id, min(dist) AS dist FROM r1 GROUP BY id), "
            "pk AS (SELECT id FROM d1 ORDER BY dist DESC, id ASC LIMIT 1), "
            "r2(id, dist) AS ("
            "  SELECT id, CAST(0 AS BIGINT) FROM pk "
            "  UNION "
            "  SELECT e.dst, r2.dist + 1 FROM r2 JOIN e ON r2.id = e.src "
            "  WHERE r2.dist < 100), "
            "d2 AS (SELECT id, min(dist) AS dist FROM r2 GROUP BY id) "
            "SELECT CAST(0 AS BIGINT) AS start, (SELECT id FROM pk) AS peak, "
            "(SELECT max(dist) FROM d2) AS diameter_lb"
        ),
        "widest_path": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "r(id, cap) AS ("
            "  SELECT CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE) "
            "  UNION "
            "  SELECT e.dst, least(r.cap, e.weight) FROM r "
            "  JOIN e ON r.id = e.src), "
            "b AS (SELECT id, max(cap) AS cap FROM r GROUP BY id) "
            "SELECT id, floor(cap * 1000000.0) / 1000000.0 AS cap FROM b"
        ),
        "exact_diameter": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "und AS (SELECT src, dst FROM e WHERE src <> dst "
            "UNION SELECT dst, src FROM e WHERE src <> dst), "
            "deg AS (SELECT src AS id, count(*) AS dg FROM und GROUP BY src), "
            "st AS (SELECT id FROM deg ORDER BY dg DESC, id ASC LIMIT 1), "
            "comp(id) AS ("
            "  SELECT id FROM st "
            "  UNION "
            "  SELECT und.dst FROM comp JOIN und ON comp.id = und.src), "
            "allp(s, id, dist) AS ("
            "  SELECT id, id, CAST(0 AS BIGINT) FROM comp "
            "  UNION "
            "  SELECT allp.s, und.dst, allp.dist + 1 FROM allp "
            "  JOIN und ON allp.id = und.src WHERE allp.dist < 50), "
            "d AS (SELECT s, id, min(dist) AS dist FROM allp GROUP BY s, id) "
            "SELECT (SELECT id FROM st) AS start, max(dist) AS diameter FROM d"
        ),
        "hll_distinct": _hll_distinct_oracle(),
        "hll_set_ops": _hll_set_ops_oracle(),
        "anf_hyperball": _anf_hyperball_oracle(4),
        "effective_diameter": _effective_diameter_oracle(4),
        "mean_distance": _mean_distance_oracle(4),
        "hyperball_harmonic": _hyperball_harmonic_oracle(4),
        "landmark_dist": _landmark_dist_oracle(),
        "bloom_membership": _bloom_membership_oracle(),
        "hrw_shards": _hrw_shards_oracle(8),
        "hourly_distinct_users": _hourly_distinct_users_oracle(),
        "msf": _msf_oracle(8),
        "affinity_clusters": _affinity_oracle(2),
        "maximal_matching": _matching_oracle(6),
        "join_size_estimate": _join_size_oracle(),
        "degree_outliers": (
            f"WITH e AS MATERIALIZED ({_duck_edges_sql()}), "
            "verts AS (SELECT DISTINCT id FROM "
            "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), "
            "dg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM "
            "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e) "
            "GROUP BY id), "
            "full_ AS (SELECT v.id, coalesce(dg.degree, 0) AS degree "
            "FROM verts v LEFT JOIN dg USING (id)), "
            "h1 AS (SELECT degree AS v, count(*) AS c FROM full_ GROUP BY 1), "
            "c1 AS (SELECT v, c, sum(c) OVER (ORDER BY v "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi FROM h1), "
            "t1 AS (SELECT sum(c) AS n FROM h1), "
            "med AS (SELECT v AS med FROM c1 CROSS JOIN t1 "
            "WHERE (n - 1) // 2 >= hi - c AND (n - 1) // 2 < hi), "
            "dev AS (SELECT f.id, f.degree, m.med, "
            "abs(f.degree - m.med) AS d FROM full_ f CROSS JOIN med m), "
            "h2 AS (SELECT d AS v, count(*) AS c FROM dev GROUP BY 1), "
            "c2 AS (SELECT v, c, sum(c) OVER (ORDER BY v "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi FROM h2), "
            "t2 AS (SELECT sum(c) AS n FROM h2), "
            "mad AS (SELECT v AS mad FROM c2 CROSS JOIN t2 "
            "WHERE (n - 1) // 2 >= hi - c AND (n - 1) // 2 < hi) "
            "SELECT dev.id, dev.degree, CAST(dev.med AS BIGINT) AS med, "
            "CAST(mad.mad AS BIGINT) AS mad "
            "FROM dev CROSS JOIN mad "
            "WHERE dev.d > greatest(3 * mad.mad, 1)"
        ),
        "snm_blocking": (
            "WITH r AS (SELECT doc_id, "
            "substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 12) AS k "
            "FROM documents), "
            "rb AS (SELECT doc_id, k, substr(k, 1, 2) AS blk FROM r), "
            "led AS (SELECT doc_id AS a, "
            "lead(doc_id, 1) OVER (PARTITION BY blk ORDER BY k, doc_id) AS b1, "
            "lead(doc_id, 2) OVER (PARTITION BY blk ORDER BY k, doc_id) AS b2 "
            "FROM rb) "
            "SELECT a, b1 AS b, CAST(1 AS BIGINT) AS rank_gap FROM led "
            "WHERE b1 IS NOT NULL "
            "UNION ALL "
            "SELECT a, b2 AS b, CAST(2 AS BIGINT) AS rank_gap FROM led "
            "WHERE b2 IS NOT NULL"
        ),
        "sampled_triangles": _sampled_triangles_oracle(3),
        "edge_support": (
            f"WITH e AS ({_duck_edges_sql()}), "
            "canon AS (SELECT DISTINCT least(src,dst) AS u, greatest(src,dst) AS v "
            "          FROM e WHERE src <> dst), "
            "tri AS (SELECT ab.a, ab.b, bc.c FROM "
            "  (SELECT u AS a, v AS b FROM canon) ab "
            "  JOIN (SELECT u AS b, v AS c FROM canon) bc USING (b) "
            "  JOIN (SELECT u AS a, v AS c FROM canon) ac USING (a, c)), "
            "pe AS (SELECT u, v, count(*) AS s FROM ("
            "  SELECT a AS u, b AS v FROM tri "
            "  UNION ALL SELECT b AS u, c AS v FROM tri "
            "  UNION ALL SELECT a AS u, c AS v FROM tri) GROUP BY u, v) "
            "SELECT c.u, c.v, CAST(coalesce(pe.s, 0) AS BIGINT) AS support "
            "FROM canon c LEFT JOIN pe ON pe.u = c.u AND pe.v = c.v"
        ),
        "scc_condensation": (
            f"WITH RECURSIVE e AS ({_duck_edges_sql()}), "
            "verts AS (SELECT DISTINCT src AS id FROM "
            "  (SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), "
            "r(a, b) AS ("
            "  SELECT id, id FROM verts "
            "  UNION "
            "  SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src), "
            "l AS (SELECT r1.a AS id, min(r1.b) AS scc FROM r r1 "
            "JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a GROUP BY r1.a) "
            "SELECT ls.scc AS scc_src, ld.scc AS scc_dst, "
            "CAST(count(*) AS BIGINT) AS n_edges "
            "FROM e JOIN l ls ON ls.id = e.src JOIN l ld ON ld.id = e.dst "
            "WHERE ls.scc <> ld.scc GROUP BY ls.scc, ld.scc"
        ),
        "click_attribution": (
            "SELECT c.event_id AS left_id, p.event_id AS right_id, "
            "epoch_us(p.ts) - epoch_us(c.ts) AS gap_us "
            "FROM events c JOIN events p ON p.user_id = c.user_id "
            "WHERE c.event_type = 'click' AND p.event_type = 'purchase' "
            "AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 1 AND 3600000000"
        ),
        "modularity": _modularity_oracle(5),
        "community_graph": (
            f"WITH {_lpa_cte_chain(5)} "
            "SELECT ls.label AS src_comm, ld.label AS dst_comm, "
            "CAST(count(*) AS BIGINT) AS n_edges "
            "FROM e JOIN l5 ls ON ls.id = e.src JOIN l5 ld ON ld.id = e.dst "
            "GROUP BY ls.label, ld.label"
        ),
        "assortativity": _assortativity_oracle(),
        "type_mixing": _type_mixing_oracle(),
        "degree_gini": (
            f"WITH e AS MATERIALIZED ({e_sql}), "
            "dg AS (SELECT id, CAST(count(*) AS BIGINT) AS v FROM "
            "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e) "
            "GROUP BY id), "
            "hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM dg "
            "GROUP BY v), "
            "cum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c "
            "AS BIGINT) AS lo FROM hist), "
            "agg AS (SELECT CAST(sum(c) AS BIGINT) AS n, "
            "CAST(sum(v * c) AS BIGINT) AS total_degree, "
            "CAST(sum(v * (c * lo + (c * (c + 1)) // 2)) AS BIGINT) AS s1 "
            "FROM cum) "
            "SELECT n, total_degree, "
            "CASE WHEN n * total_degree = 0 THEN 0.0 "
            "ELSE floor((CAST(2 * s1 - (n + 1) * total_degree AS DOUBLE) / "
            "CAST(n * total_degree AS DOUBLE)) * 1000000.0) / 1000000.0 END "
            "AS gini FROM agg"
        ),
        "avg_nbr_degree": _avg_nbr_degree_oracle(),
        "reciprocity": _reciprocity_oracle(),
        "transitivity": _transitivity_oracle(),
        "rich_club": _rich_club_oracle(),
        "wl_colors": _wl_oracle(3),
        "wl_graph_hash": (
            f"WITH base AS ({_wl_oracle(3)}), "
            "hist AS (SELECT wl, count(*) AS c FROM base GROUP BY wl) "
            "SELECT md5(string_agg(CAST(wl AS VARCHAR) || ':' || "
            "CAST(c AS VARCHAR), '|' ORDER BY wl, c)) AS graph_hash, "
            "CAST(count(*) AS BIGINT) AS n_colors, "
            "CAST(sum(c) AS BIGINT) AS n_vertices FROM hist"
        ),
        "triad_census": _triad_census_oracle(),
        "turn_latency": _turn_latency_oracle(),
        "tool_latency": _tool_latency_oracle(),
        "tool_latency_quantiles": _tool_latency_quantiles_oracle((50, 95)),
        "tool_error_adjacency": (
            f"WITH tr AS ({_duck_transcripts_cte()}), "
            "t AS (SELECT tool, lead(tool) OVER "
            "(PARTITION BY conv_id ORDER BY turn_idx) AS nxt FROM "
            "(SELECT conv_id, turn_idx, tool FROM tr "
            "WHERE role = 'tool' AND tool IS NOT NULL)), "
            "agg AS (SELECT tool, CAST(count(*) AS BIGINT) AS n_calls, "
            "CAST(sum(CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_with_next, "
            "CAST(sum(CASE WHEN nxt = 'tool_error' THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_next_error FROM t GROUP BY tool) "
            "SELECT tool, n_calls, n_with_next, n_next_error, "
            "CASE WHEN n_with_next = 0 THEN 0.0 "
            "ELSE floor((CAST(n_next_error AS DOUBLE) / "
            "CAST(n_with_next AS DOUBLE)) * 1000000.0) / 1000000.0 END "
            "AS error_follow_rate FROM agg"
        ),
        "mixture_resample": (
            "WITH tgt(source, bp) AS (VALUES "
            + ", ".join(
                f"('{g}', {bp})" for g, bp in sorted(MIX_TARGETS_BP.items())
            )
            + "), "
            "counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n "
            "FROM documents GROUP BY source), "
            "per AS (SELECT c.source, n, bp, (n * 10000) // bp AS q "
            "FROM counts c JOIN tgt USING (source)), "
            "tt AS (SELECT min(q) AS t FROM per), "
            "thr AS (SELECT source, (bp * t * 1000000) // (10000 * n) AS thr "
            "FROM per CROSS JOIN tt) "
            "SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source) "
            "WHERE CAST('0x' || substr(md5('mix:' || "
            "CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 < thr"
        ),
        "retention_cohorts": (
            "WITH t0 AS (SELECT min(epoch_us(ts)) AS o FROM events), "
            "uh AS (SELECT DISTINCT user_id AS u, "
            "(epoch_us(ts) - (SELECT o FROM t0)) // 3600000000 AS h "
            "FROM events), "
            "co AS (SELECT u, min(h) AS cohort_bucket FROM uh GROUP BY u) "
            "SELECT co.cohort_bucket, "
            "CAST(uh.h - co.cohort_bucket AS BIGINT) AS age_buckets, "
            "CAST(count(*) AS BIGINT) AS users "
            "FROM uh JOIN co ON co.u = uh.u "
            "GROUP BY co.cohort_bucket, uh.h - co.cohort_bucket"
        ),
        "hourly_rollup": _HOURLY_ROLLUP_ORACLE,
        "rate_anomaly": (
            "WITH t0 AS (SELECT min(ts) AS t0 FROM events), "
            "b AS (SELECT (epoch_us(ts) - epoch_us(t0)) // 3600000000 "
            "AS widx, event_type FROM events CROSS JOIN t0), "
            "c AS (SELECT widx, event_type, CAST(count(*) AS BIGINT) "
            "AS cnt FROM b GROUP BY 1, 2), "
            "s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nw, "
            "CAST(sum(cnt) AS BIGINT) AS s1, "
            "CAST(sum(cnt * cnt) AS BIGINT) AS s2 FROM c GROUP BY 1) "
            "SELECT c.event_type, CAST(c.widx AS BIGINT) AS window_idx, "
            "c.cnt AS n_events, floor((CASE WHEN s.nw * s.s2 - s.s1 * s.s1 = 0 "
            "THEN 0.0 ELSE CAST(s.nw * c.cnt - s.s1 AS DOUBLE) / "
            "sqrt(CAST(s.nw * s.s2 - s.s1 * s.s1 AS DOUBLE)) END) "
            "* 1000000.0) / 1000000.0 AS z "
            "FROM c JOIN s USING (event_type)"
        ),
        "sliding_rollup": _SLIDING_ROLLUP_ORACLE,
        "stress": _stress_oracle(STRESS_SOURCES),
        "scc": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "verts AS (SELECT DISTINCT src AS id FROM "
            "  (SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), "
            "r(a, b) AS ("
            "  SELECT id, id FROM verts "
            "  UNION "
            "  SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src) "
            "SELECT r1.a AS id, min(r1.b) AS scc FROM r r1 "
            "JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a GROUP BY r1.a"
        ),
        "bowtie": (
            # transitive closure r(a,b) (the scc oracle's relation) →
            # largest-SCC core → fwd/bwd reach sets → weak-CC min-label
            # → the same CASE precedence as the engine
            f"WITH RECURSIVE e AS MATERIALIZED ({e_sql}), "
            "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM "
            "  (SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), "
            "r(a, b) AS (SELECT id, id FROM verts "
            "  UNION SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src), "
            "scc AS MATERIALIZED (SELECT r1.a AS id, min(r1.b) AS scc "
            "  FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a "
            "  GROUP BY r1.a), "
            "core AS MATERIALIZED (SELECT scc FROM "
            "  (SELECT scc, count(*) AS n FROM scc GROUP BY scc) "
            "  ORDER BY n DESC, scc ASC LIMIT 1), "
            "corev AS MATERIALIZED (SELECT id FROM scc "
            "  WHERE scc = (SELECT scc FROM core)), "
            "fwd AS MATERIALIZED (SELECT DISTINCT r.b AS id FROM r "
            "  WHERE r.a IN (SELECT id FROM corev)), "
            "bwd AS MATERIALIZED (SELECT DISTINCT r.a AS id FROM r "
            "  WHERE r.b IN (SELECT id FROM corev)), "
            "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
            "  (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)), "
            "w(id, lbl) AS (SELECT id, id FROM verts "
            "  UNION SELECT und.dst, w.lbl FROM w JOIN und ON w.id = und.src), "
            "wcc AS MATERIALIZED "
            "  (SELECT id, min(lbl) AS component FROM w GROUP BY id), "
            "corewc AS MATERIALIZED (SELECT component FROM wcc "
            "  WHERE id = (SELECT min(id) FROM corev)) "
            "SELECT s.id, CASE "
            "WHEN s.scc = (SELECT scc FROM core) THEN 'CORE' "
            "WHEN s.id IN (SELECT id FROM fwd) THEN 'OUT' "
            "WHEN s.id IN (SELECT id FROM bwd) THEN 'IN' "
            "WHEN w2.component = (SELECT component FROM corewc) "
            "THEN 'TENDRIL' ELSE 'DISCONNECTED' END AS cls "
            "FROM scc s JOIN wcc w2 ON w2.id = s.id"
        ),
        "critical_path": (
            f"WITH RECURSIVE e AS MATERIALIZED ({e_sql}), "
            "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM "
            "  (SELECT src FROM e UNION ALL SELECT dst AS src FROM e)), "
            "r(a, b) AS (SELECT id, id FROM verts "
            "  UNION SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src), "
            "scc AS MATERIALIZED (SELECT r1.a AS id, min(r1.b) AS scc "
            "  FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a "
            "  GROUP BY r1.a), "
            "ce AS MATERIALIZED (SELECT DISTINCT s1.scc AS src, "
            "  s2.scc AS dst FROM e "
            "  JOIN scc s1 ON s1.id = e.src JOIN scc s2 ON s2.id = e.dst "
            "  WHERE s1.scc <> s2.scc), "
            "nodes AS MATERIALIZED (SELECT DISTINCT scc AS id FROM scc), "
            "lp(id, d) AS (SELECT id, CAST(0 AS BIGINT) FROM nodes "
            "  UNION SELECT ce.dst, lp.d + 1 FROM lp "
            "  JOIN ce ON lp.id = ce.src WHERE lp.d < 300) "
            # loud-fail guard: a path length at the cap means longer
            # paths were silently truncated
            "SELECT id AS scc, CASE WHEN max(d) >= 300 THEN "
            "CAST(error('critical_path oracle: depth cap (300) reached') "
            "AS BIGINT) ELSE max(d) END AS longest FROM lp GROUP BY id "
            "ORDER BY scc"
        ),
        "max_coverage": _max_coverage_oracle(5),
        "attack_tolerance": _attack_tolerance_oracle(),
        "random_failure": _random_failure_oracle(),
        "ann_recall": _ann_recall_oracle(),
        "sssp_dist": _sssp_oracle(0),
        "lang_id": _lang_id_oracle(),
        "eccentricity": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "r(id, dist) AS ("
            "  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            "  UNION "
            "  SELECT e.dst, r.dist + 1 FROM r JOIN e ON r.id = e.src "
            "  WHERE r.dist < 100), "
            "d AS (SELECT id, min(dist) AS dist FROM r GROUP BY id) "
            # same loud-fail guard as the bridges/critical_path caps
            "SELECT CAST(0 AS BIGINT) AS source, "
            "CASE WHEN max(dist) >= 100 THEN "
            "CAST(error('eccentricity oracle: depth cap (100) reached') "
            "AS BIGINT) ELSE max(dist) END AS ecc FROM d"
        ),
        "exact_dedup_events": (
            "WITH h AS (SELECT event_id, "
            "  lower(regexp_replace(props, '\\s+', ' ', 'g')) AS norm FROM events), "
            "g AS (SELECT norm, min(event_id) AS dup_group, count(*) AS n "
            "      FROM h GROUP BY norm) "
            "SELECT g.dup_group, h.event_id FROM h JOIN g USING (norm) WHERE g.n >= 2"
        ),
        "fingerprint": (
            "SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp "
            "FROM documents"
        ),
        "kcore3": _kcore_oracle(3),
        "densest_subgraph": _densest_oracle(),
        "core_numbers": _coreness_oracle(),
        "clustering_coeff": _clustering_coeff_oracle(),
        "link_pred": _link_pred_oracle(3),
        "simrank": _simrank_oracle(),
        "simrank_mc": _simrank_mc_oracle(),
        "spectral_embedding": _spectral_oracle(),
        "resource_alloc": _resource_allocation_oracle(3),
        "peel_layers": _peel_layers_oracle(3),
        "prefix_join": _prefix_join_oracle(9000),
        "per_vertex_triangles": (
            f"WITH e AS ({e_sql}), "
            "canon AS (SELECT DISTINCT least(src,dst) AS u, greatest(src,dst) AS v "
            "          FROM e WHERE src <> dst), "
            "ab AS (SELECT u AS a, v AS b FROM canon), "
            "bc AS (SELECT u AS b, v AS c FROM canon), "
            "ac AS (SELECT u AS a, v AS c FROM canon), "
            "tri AS (SELECT a, b, c FROM ab JOIN bc USING (b) "
            "        WHERE EXISTS (SELECT 1 FROM ac WHERE ac.a = ab.a AND ac.c = bc.c)), "
            "verts AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri "
            "          UNION ALL SELECT c FROM tri) "
            "SELECT id, count(*) AS triangles FROM verts GROUP BY id"
        ),
        "topk_indegree": (
            f"SELECT dst AS id, count(*) AS indeg FROM ({e_sql}) "
            "GROUP BY dst ORDER BY indeg DESC, id DESC LIMIT 20"
        ),
        "closeness": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "r(id, dist) AS ("
            "  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            "  UNION "
            "  SELECT e.dst, r.dist + 1 FROM r JOIN e ON r.id = e.src "
            "  WHERE r.dist < 100), "
            "d AS (SELECT id, min(dist) AS dist FROM r GROUP BY id) "
            "SELECT CAST(0 AS BIGINT) AS source, "
            "CASE WHEN sum(dist) > 0 THEN floor((1.0 / sum(dist)) * 1000000.0) / 1000000.0 "
            "     ELSE 0.0 END AS closeness FROM d"
        ),
        "exact_dedup": (
            "WITH h AS (SELECT doc_id, "
            "  lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm FROM documents), "
            "g AS (SELECT norm, min(doc_id) AS dup_group, count(*) AS n FROM h GROUP BY norm) "
            "SELECT g.dup_group, h.doc_id FROM h JOIN g USING (norm) WHERE g.n >= 2"
        ),
        "token_count": (
            "SELECT doc_id, "
            "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens, "
            "CAST(length(string_split_regex(trim(text), '\\s+')) "
            "     + ceil(CAST(length(text) AS DOUBLE) / 8) AS BIGINT) AS n_subword_est "
            "FROM documents"
        ),
        "doclen_quantiles": (
            "WITH base AS (SELECT CAST(length(string_split_regex(trim(text), "
            "'\\s+')) AS BIGINT) AS v FROM documents), "
            "hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY v), "
            "cum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi "
            "FROM hist), "
            "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist), "
            "ps AS (SELECT CAST(p AS BIGINT) AS p FROM "
            "(VALUES (50), (90), (95), (99)) AS t(p)) "
            "SELECT p, n, CAST((n - 1) * p // 100 AS BIGINT) AS rank, "
            "v AS value FROM cum CROSS JOIN tot CROSS JOIN ps "
            "WHERE (n - 1) * p // 100 >= hi - c AND (n - 1) * p // 100 < hi"
        ),
        "vocab_topk": (
            "WITH toks AS (SELECT unnest(string_split_regex("
            "lower(trim(text)), '\\s+')) AS token FROM documents), "
            "c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks "
            "WHERE token <> '' GROUP BY token) "
            "SELECT token, n FROM c ORDER BY n DESC, token ASC LIMIT 50"
        ),
        "bpe_merges": _bpe_merges_oracle(),
        "bpe_segment": _bpe_segment_oracle(),
        "oov_rate": (
            "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
            "lower(trim(text)), '\\s+')) AS token FROM documents), "
            "tk AS (SELECT doc_id, token FROM toks WHERE token <> ''), "
            "c AS (SELECT token, count(*) AS n FROM tk GROUP BY token), "
            "v AS (SELECT token FROM c ORDER BY n DESC, token ASC LIMIT 10), "
            "a AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok, "
            "CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_oov FROM tk t LEFT JOIN v ON v.token = t.token "
            "GROUP BY t.doc_id) "
            "SELECT doc_id, n_tok, n_oov, "
            "floor((CAST(n_oov AS DOUBLE) / n_tok) * 1000000.0) / 1000000.0 "
            "AS oov_rate FROM a"
        ),
        "quality_score": (
            "WITH t AS (SELECT doc_id, text, length(text) AS len, "
            "  length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct, "
            "  string_split_regex(lower(text), '\\s+') AS toks FROM documents), "
            "s AS (SELECT doc_id, "
            "  least(len / 500.0, 1.0) AS len_score, "
            "  CAST(n_punct AS DOUBLE) / greatest(len, 1) AS punct_ratio, "
            f"  CAST(len(list_filter(toks, x -> list_contains({stop}, x))) AS DOUBLE) "
            "    / greatest(length(toks), 1) AS stopword_ratio FROM t) "
            "SELECT doc_id, floor(len_score * 1000000.0) / 1000000.0 AS len_score, "
            "floor(punct_ratio * 1000000.0) / 1000000.0 AS punct_ratio, "
            "floor(stopword_ratio * 1000000.0) / 1000000.0 AS stopword_ratio, "
            "floor((0.4 * len_score + 0.3 * least(stopword_ratio * 3, 1.0) "
            "      + 0.3 * (1.0 - least(punct_ratio * 4, 1.0))) * 1000000.0) / 1000000.0 "
            "AS quality FROM s"
        ),
        "pagerank_top20": _pagerank_top20_oracle(),
        "multi_ppr_top10": _multi_ppr_top10_oracle(),
        "simhash": _simhash_oracle(),
        "simhash_near_dup": _simhash_near_dup_oracle(),
        "ivf_ann_topk": _ivf_ann_oracle(),
        "kmeans_assign": _kmeans_assign_oracle(),
        "pq_encode": _pq_encode_oracle(),
        "pq_ann_topk": _pq_ann_oracle(),
        "ivfpq_ann_topk": _ivfpq_ann_oracle(),
        "pagerank_fixed8": _pagerank_fixed_oracle(8, 0.8),
        "pagerank_warm": _pagerank_warm_oracle(8, 4, 0.8),
        "hits": _hits_oracle(8),
        "mc_ppr": _mc_ppr_oracle(0, 256, 12, 0.8, "mc"),
        "ppr_fixed8": _pagerank_fixed_oracle(8, 0.8, source=0),
        "ppr_push": _ppr_push_oracle(0, 0.8, 1e-5),
        "sweep_cut": _sweep_cut_oracle(0, 0.8, 1e-5, 20),
        "ppr_norm_off": _pagerank_fixed_oracle(8, 0.8, source=0, dangling_norm=False),
        "label_propagation": _lpa_oracle(5),
        "seeded_lpa": _seeded_lpa_oracle(4, 5),
        "louvain": _louvain_oracle(4),
        "conductance": _conductance_oracle(5),
        "louvain_multilevel": _louvain_multilevel_oracle(2, 2),
        "minhash_lsh": _minhash_oracle(),
        "cosine_topk": _cosine_topk_oracle(),
        "kcenter_seeds": _kcenter_oracle(8),
        "hitting_prob": _hitting_prob_oracle(8),
        "euler_check": (
            # DISTINCT spelled out — see the _duck_bridges_ctes note on
            # DuckDB's recursive-UNION dedup degradation
            f"WITH RECURSIVE e AS MATERIALIZED ({e_sql}), "
            "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
            "  (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)), "
            "pairs AS MATERIALIZED "
            "  (SELECT src AS a, dst AS b FROM und WHERE src < dst), "
            "deg AS MATERIALIZED (SELECT id, count(*) AS deg FROM "
            "  (SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs) "
            "  GROUP BY id), "
            "verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und), "
            "r(id, lbl) AS (SELECT id, id FROM verts "
            "  UNION SELECT und.dst, r.lbl FROM r JOIN und ON r.id = und.src), "
            "comp AS MATERIALIZED "
            "  (SELECT id, min(lbl) AS component FROM r GROUP BY id), "
            # coalesce mirrors the engine (edgeless graph: sum → NULL)
            "agg AS (SELECT "
            "  coalesce(CAST(sum(deg % 2) AS BIGINT), 0) AS odd_degree, "
            "  coalesce(CAST(count(DISTINCT component) AS BIGINT), 0) AS "
            "  n_used_components FROM deg JOIN comp USING (id)) "
            "SELECT odd_degree, n_used_components, "
            "(odd_degree = 0 AND n_used_components = 1) AS has_circuit, "
            "(odd_degree IN (0, 2) AND n_used_components = 1) AS has_path "
            "FROM agg"
        ),
        "embedding_pca": _pca_oracle(),
        "ann_lsh_topk": _ann_lsh_oracle(),
        "mmr_rerank": _mmr_oracle(10, 5),
        "rrf_fusion": (
            f"WITH ca AS MATERIALIZED ({_cosine_topk_oracle()}), "
            f"lb AS MATERIALIZED ({_ann_lsh_oracle()}), "
            "u AS (SELECT query_id, vec_id, 'a_cos' AS src, rank FROM ca "
            "UNION ALL "
            "SELECT query_id, vec_id, 'b_lsh' AS src, rank FROM lb), "
            "t AS (SELECT query_id, vec_id, "
            "list(1.0 / (60.0 + CAST(rank AS DOUBLE)) ORDER BY src, rank) "
            "AS terms FROM u GROUP BY query_id, vec_id), "
            "s AS (SELECT query_id, vec_id, "
            "floor(list_reduce(terms, (x, y) -> x + y) * 1000000.0) "
            "/ 1000000.0 AS rrf_t FROM t), "
            "r AS (SELECT query_id, vec_id, rrf_t, "
            "CAST(row_number() OVER (PARTITION BY query_id "
            "ORDER BY rrf_t DESC, vec_id ASC) AS INTEGER) AS fused_rank "
            "FROM s) "
            "SELECT query_id, vec_id, fused_rank, rrf_t AS rrf FROM r "
            "WHERE fused_rank <= 5"
        ),
        "embedding_near_dup": _embedding_near_dup_oracle(),
        "ngram_jaccard": _ngram_jaccard_oracle(),
        "session_stats": (
            "WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us, "
            "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL "
            "     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 14400000000 "
            "THEN 1 ELSE 0 END AS is_new FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s2 AS (SELECT user_id, event_id, us, "
            "sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_seq "
            "FROM s) "
            "SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, "
            "count(*) AS n_events, max(us) - min(us) AS duration_us, "
            "min(event_id) AS first_event, max(event_id) AS last_event "
            "FROM s2 GROUP BY user_id, session_seq"
        ),
        "katz": _katz_oracle(0.05, 8),
        "eigenvector": _eigenvector_oracle(8),
        "cms_tokens": _cms_tokens_oracle(),
        "tfidf_topk": (
            "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
            "lower(trim(text)), '\\s+')) AS token FROM documents), "
            "t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''), "
            "tf AS (SELECT doc_id, token, count(*) AS tf FROM t2 "
            "GROUP BY doc_id, token), "
            "dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token), "
            "s AS (SELECT tf.doc_id, tf.token, tf.tf, "
            "CAST(tf.tf * (SELECT count(*) FROM documents) AS DOUBLE) "
            "/ CAST(df AS DOUBLE) AS score FROM tf JOIN dfreq USING (token)), "
            'r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id '
            'ORDER BY score DESC, token ASC) AS INTEGER) AS "rank" FROM s) '
            'SELECT doc_id, token, tf, floor(score * 1000000.0) / 1000000.0 '
            'AS score, "rank" FROM r WHERE "rank" <= 5'
        ),
        "bm25": _bm25_oracle(("join", "spark", "vector"), 10),
        "line_dedup": _line_dedup_oracle(8),
        "node2vec": _node2vec_oracle(4, 1, 4, 2, "n2v"),
        "skipgram": _skipgram_oracle(4, 2, "rw"),
        "ktruss4": _ktruss_oracle(4),
        "trussness": _trussness_oracle(),
        "mis": _mis_oracle(),
        "greedy_coloring": _coloring_oracle(),
        "harmonic": (
            f"WITH RECURSIVE e AS ({e_sql}), "
            "srcs(source) AS (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)), "
            "(CAST(2 AS BIGINT)), (CAST(3 AS BIGINT))), "
            "r(source, id, dist) AS ("
            "  SELECT source, source, CAST(0 AS BIGINT) FROM srcs "
            "  UNION "
            "  SELECT r.source, e.dst, r.dist + 1 FROM r JOIN e ON r.id = e.src "
            "  WHERE r.dist < 100), "
            "d AS (SELECT source, id, min(dist) AS dist FROM r GROUP BY source, id), "
            "h AS (SELECT source, dist, count(*) AS cnt FROM d WHERE dist > 0 "
            "      GROUP BY source, dist), "
            # left fold over ascending-d terms, 0.0-seeded — the engine's
            # exact association
            "agg AS (SELECT source, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list(CAST(cnt AS DOUBLE) / CAST(dist AS DOUBLE) ORDER BY dist ASC)), "
            "(acc, x) -> acc + x) AS harmonic FROM h GROUP BY source) "
            "SELECT s.source, floor(coalesce(a.harmonic, 0.0) * 1000000.0) / 1000000.0 "
            "AS harmonic FROM srcs s LEFT JOIN agg a USING (source)"
        ),
        "dedup_clusters": _dedup_clusters_oracle(),
        "dataset_split": (
            "WITH b AS (SELECT doc_id, "
            "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) "
            "AS BIGINT) % 1000000 AS bk FROM documents) "
            "SELECT doc_id, CASE WHEN bk < 800000 THEN 'train' "
            "WHEN bk < 900000 THEN 'val' ELSE 'test' END AS split FROM b"
        ),
        "quality_resample": (
            "WITH t AS (SELECT doc_id, text, length(text) AS len, "
            "  length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct, "
            "  string_split_regex(lower(text), '\\s+') AS toks FROM documents), "
            "s AS (SELECT doc_id, "
            "  least(len / 500.0, 1.0) AS len_score, "
            "  CAST(n_punct AS DOUBLE) / greatest(len, 1) AS punct_ratio, "
            f"  CAST(len(list_filter(toks, x -> list_contains({stop}, x))) AS DOUBLE) "
            "    / greatest(length(toks), 1) AS stopword_ratio FROM t), "
            "q AS (SELECT doc_id, (0.4 * len_score + 0.3 * least(stopword_ratio * 3, 1.0) "
            "      + 0.3 * (1.0 - least(punct_ratio * 4, 1.0))) AS quality FROM s) "
            "SELECT doc_id, floor(quality * 1000000.0) / 1000000.0 AS quality FROM q "
            "WHERE CAST('0x' || substr(md5('qres:' || CAST(doc_id AS VARCHAR)), 1, 15) "
            "AS BIGINT) % 1000000 < CAST(floor(quality * 1000000.0) AS BIGINT)"
        ),
        "stratified_sample": (
            "WITH b AS (SELECT doc_id, lang, "
            "CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15) "
            "AS BIGINT) AS hv FROM documents), "
            "r AS (SELECT doc_id, lang, CAST(row_number() OVER ("
            "PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS INTEGER) "
            "AS sample_rank FROM b) "
            "SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 10"
        ),
        "split_contamination": _split_contamination_oracle(n=3, max_df=100),
        "repetition_stats": _repetition_stats_oracle(n=2),
        "dup_spans": _dup_spans_oracle(8),
        "textrank": _textrank_oracle(8, 0.85, 20),
        "pack_chunks": (
            "WITH base AS (SELECT doc_id, "
            "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) "
            "AS n_tokens FROM documents), "
            "b2 AS (SELECT * FROM base WHERE n_tokens > 0), "
            "c AS (SELECT doc_id, n_tokens, "
            "CAST(sum(n_tokens) OVER (ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens "
            "AS BIGINT) AS start_tok FROM b2) "
            "SELECT doc_id, n_tokens, start_tok, "
            "CAST(start_tok // 256 AS BIGINT) AS chunk_first, "
            "CAST((start_tok + n_tokens - 1) // 256 AS BIGINT) AS chunk_last "
            "FROM c"
        ),
        "chunk_windows": (
            # same 16/12 window/stride as q_chunk_windows; list_slice is
            # 1-based inclusive-end (clamped via least), matching Spark's
            # slice(toks, start+1, 16) clamp
            "WITH base AS (SELECT doc_id, "
            "string_split_regex(lower(trim(text)), '\\s+') AS toks, "
            "CAST(length(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) "
            "AS n FROM documents), "
            "b2 AS (SELECT * FROM base WHERE n > 0), "
            "s AS (SELECT doc_id, toks, n, "
            "unnest(generate_series(0, n - 1, 12)) AS start_tok FROM b2) "
            "SELECT doc_id, CAST(start_tok // 12 AS BIGINT) AS chunk_idx, "
            "CAST(start_tok AS BIGINT) AS start_tok, "
            "CAST(least(16, n - start_tok) AS BIGINT) AS n_tokens, "
            "md5(array_to_string(list_slice(toks, start_tok + 1, "
            "least(start_tok + 16, n)), ' ')) AS chunk_fp "
            "FROM s"
        ),
        "pii_scan": (
            # identical PII-salted text as _pii_text_col, identical
            # pattern set/order as curation.PII_PATTERNS (RE2 and Java
            # regex agree on these backreference-free patterns)
            "WITH salted AS (SELECT doc_id, "
            "CASE WHEN doc_id % 3 = 0 THEN text ELSE text "
            "|| ' contact user' || CAST(doc_id AS VARCHAR) "
            "|| '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) "
            "|| '.7 card 4111111111111' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') "
            "|| ' tel +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') "
            "END AS text FROM documents) "
            "SELECT doc_id, "
            "CAST(length(regexp_extract_all(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, "
            "CAST(length(regexp_extract_all(text, "
            "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4, "
            "CAST(length(regexp_extract_all(text, "
            "'\\b[0-9]{13,19}\\b')) AS BIGINT) AS n_digit_run, "
            "CAST(length(regexp_extract_all(text, "
            "'\\+[0-9][0-9 ()-]{6,}[0-9]')) AS BIGINT) AS n_phone, "
            "md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'), "
            "'\\b[0-9]{13,19}\\b', '<NUM>', 'g'), "
            "'\\+[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g')) AS redacted_fp "
            "FROM salted"
        ),
        "winnow_fps": (
            "WITH " + _winnow_fps_cte(3, 4) + " "
            "SELECT doc_id, pos, fp FROM sel"
        ),
        "containment": (
            "WITH toksrc AS (SELECT doc_id, "
            "string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' ') "
            "AS toks FROM documents), "
            "sh AS (SELECT doc_id, unnest(list_distinct("
            "[array_to_string(toks[i+1:i+3], ' ') "
            "for i in range(0, greatest(len(toks) - 3, 0) + 1)])) AS shingle "
            "FROM toksrc), "
            "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
            "posting AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, "
            "row_number() OVER (PARTITION BY shingle ORDER BY doc_id) AS rn "
            "FROM sh) WHERE rn <= 64), "
            "cand AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v "
            "FROM posting a JOIN posting b "
            "ON a.shingle = b.shingle AND a.doc_id < b.doc_id), "
            "pairs AS (SELECT u, v FROM cand UNION ALL SELECT v, u FROM cand), "
            "inter AS (SELECT p.u, p.v, count(*) AS i FROM pairs p "
            "JOIN sh sa ON sa.doc_id = p.u "
            "JOIN sh sb ON sb.doc_id = p.v AND sb.shingle = sa.shingle "
            "GROUP BY p.u, p.v) "
            "SELECT i.u AS src_id, i.v AS dst_id, CAST(i.i AS BIGINT) AS inter, "
            "CAST(za.sz AS BIGINT) AS src_sz, CAST(zb.sz AS BIGINT) AS dst_sz, "
            "floor(i.i / za.sz * 1000000.0) / 1000000.0 AS containment "
            "FROM inter i JOIN sizes za ON za.doc_id = i.u "
            "JOIN sizes zb ON zb.doc_id = i.v "
            "WHERE i.i * 10000 >= 8000 * za.sz"
        ),
        "winnow_matches": (
            "WITH " + _winnow_fps_cte(3, 4) + ", "
            "dfp AS (SELECT DISTINCT doc_id, fp FROM sel), "
            "capped AS (SELECT doc_id, fp FROM "
            "(SELECT doc_id, fp, row_number() OVER (PARTITION BY fp "
            "ORDER BY doc_id) AS rn FROM dfp) WHERE rn <= 64), "
            "pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id "
            "FROM capped a JOIN capped b ON a.fp = b.fp "
            "AND a.doc_id < b.doc_id) "
            "SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS shared "
            "FROM pairs GROUP BY a_id, b_id HAVING count(*) >= 3"
        ),
        "pricing_summary": _pricing_summary_oracle(),
        "segment_top_orders": _segment_top_orders_oracle(),
        "regional_revenue": _regional_revenue_oracle(),
        "volume_shipping": _volume_shipping_oracle(),
        "market_share": _market_share_oracle(),
        "top_supplier": _top_supplier_oracle(),
        "bracket_revenue": _bracket_revenue_oracle(),
        "promo_share": _promo_share_oracle(),
        "order_priority": _order_priority_oracle(),
        "returned_revenue": _returned_revenue_oracle(),
        "event_asof": (
            # independent formulation (correlated subqueries), NOT the
            # engine's union+window program — a genuinely adversarial check
            "SELECT l.event_id, l.user_id, "
            "(SELECT r.event_id FROM events r WHERE r.event_type = 'purchase' "
            " AND r.user_id = l.user_id AND r.ts <= l.ts "
            " ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS asof_event_id, "
            "floor((SELECT r.value FROM events r WHERE r.event_type = 'purchase' "
            " AND r.user_id = l.user_id AND r.ts <= l.ts "
            " ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) * 1000000.0) / 1000000.0 "
            "AS asof_value "
            "FROM events l WHERE l.event_type = 'click'"
        ),
        "funnel_steps": (
            # independent chained-conditional-min formulation (the engine
            # folds a sorted array once per key); all outputs are integer
            # microsecond DIFFERENCES, never absolute epochs
            "WITH u AS (SELECT user_id, min(ts) AS first_ts FROM events "
            "GROUP BY user_id), "
            "t1 AS (SELECT user_id, min(ts) AS t1 FROM events "
            "WHERE event_type = 'view' GROUP BY user_id), "
            "t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e "
            "JOIN t1 ON e.user_id = t1.user_id "
            "WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id), "
            "t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e "
            "JOIN t2 ON e.user_id = t2.user_id "
            "WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id) "
            "SELECT u.user_id, "
            "CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3 "
            "WHEN t2.t2 IS NOT NULL THEN 2 "
            "WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) "
            "AS steps_completed, "
            "epoch_us(t1.t1) - epoch_us(u.first_ts) AS t0_offset_us, "
            "epoch_us(t2.t2) - epoch_us(t1.t1) AS d01_us, "
            "epoch_us(t3.t3) - epoch_us(t2.t2) AS d12_us "
            "FROM u LEFT JOIN t1 USING (user_id) "
            "LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)"
        ),
        "event_transitions": (
            "WITH s AS (SELECT event_type AS next_type, "
            "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "AS prev_type FROM events) "
            "SELECT prev_type, next_type, count(*) AS n FROM s "
            "WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type"
        ),
        "props_stats": (
            "WITH x AS (SELECT event_type, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
            "FROM events) "
            "SELECT event_type, count(*) AS n_events, count(k) AS n_with_k, "
            "CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, "
            "max(k) AS max_k FROM x GROUP BY event_type"
        ),
        "semantic_dedup": _semantic_dedup_oracle(),
        "pagerank_decay": _pagerank_fixed_oracle(
            8, 0.8, e_sql=_duck_decayed_edges_sql()
        ),
        "tool_cooccurrence": _tool_cooccurrence_oracle(cap=4, min_count=2),
        "tool_itemsets": (
            # plain 2-/3-way self-joins; by downward closure this equals
            # the engine's A-priori-pruned lattice at the same support
            "WITH inc AS (SELECT DISTINCT conv_id AS part, tool AS item "
            f"FROM ({_duck_transcripts_cte()}) WHERE role = 'tool'), "
            "capped AS (SELECT part, item FROM (SELECT part, item, "
            "row_number() OVER (PARTITION BY part ORDER BY item) AS rk "
            "FROM inc) WHERE rk <= 256), "
            "l1 AS (SELECT item, CAST(count(*) AS BIGINT) AS support "
            "FROM capped GROUP BY item HAVING count(*) >= 20), "
            "inc1 AS (SELECT part, item FROM capped "
            "WHERE item IN (SELECT item FROM l1)), "
            "l2 AS (SELECT a.item AS ia, b.item AS ib, "
            "CAST(count(*) AS BIGINT) AS support FROM inc1 a JOIN inc1 b "
            "ON a.part = b.part AND a.item < b.item "
            "GROUP BY a.item, b.item HAVING count(*) >= 20), "
            "l3 AS (SELECT a.item AS ia, b.item AS ib, c.item AS ic, "
            "CAST(count(*) AS BIGINT) AS support FROM inc1 a "
            "JOIN inc1 b ON a.part = b.part AND a.item < b.item "
            "JOIN inc1 c ON a.part = c.part AND b.item < c.item "
            "GROUP BY a.item, b.item, c.item HAVING count(*) >= 20) "
            "SELECT CAST(1 AS INT) AS k, item AS itemset, support FROM l1 "
            "UNION ALL SELECT CAST(2 AS INT), ia || '|' || ib, support FROM l2 "
            "UNION ALL SELECT CAST(3 AS INT), ia || '|' || ib || '|' || ic, "
            "support FROM l3"
        ),
        "role_trigrams": (
            f"WITH t AS ({_duck_transcripts_cte()}), "
            "tri AS (SELECT "
            "lag(role, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS r1, "
            "lag(role, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS r2, "
            "role AS r3 FROM t) "
            "SELECT r1, r2, r3, CAST(count(*) AS BIGINT) AS n FROM tri "
            "WHERE r1 IS NOT NULL GROUP BY r1, r2, r3"
        ),
        "butterflies": (
            f"WITH inc AS MATERIALIZED (SELECT DISTINCT conv_id, tool "
            f"FROM ({t_cte}) WHERE role = 'tool'), "
            "pairs AS (SELECT l.tool AS a, r.tool AS b, count(*) AS w "
            "FROM inc l JOIN inc r ON l.conv_id = r.conv_id "
            "AND l.tool < r.tool GROUP BY 1, 2) "
            "SELECT CAST(coalesce(sum(w * (w - 1)), 0) // 2 AS BIGINT) "
            "AS butterflies FROM pairs"
        ),
        "neighbor_agg": _neighbor_agg_oracle(),
        "skipgram_pmi": _skipgram_pmi_oracle(4, 2, "rw"),
        "gnn_khop": _gnn_khop_oracle(8, [3, 2], "gnn"),
        "negative_sampling": _negative_sampling_oracle(2, "neg"),
        "weighted_negative_sampling": _weighted_negative_sampling_oracle(
            2, "wneg"
        ),
        "salsa": _salsa_oracle(8),
    }


if __name__ == "__main__":
    from approximate_pagerank_public_spark.session import get_spark

    s = get_spark()
    entry(s).show(20, truncate=False)
