"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk_bruteforce` — exact top-k neighbors per query via a
  cross join + ``F.zip_with``/``F.aggregate`` dot products (JVM-side
  expressions; correct baseline, O(Q×N)).
- :func:`lsh_ann_topk` — the scale path: random-hyperplane LSH
  bucketing; candidates are pairs sharing a bucket in any of ``tables``
  hash tables, then exact cosine re-rank within candidates. Shuffle is
  O(N × tables) bucket rows instead of O(Q×N) pairs.

The hyperplanes are deterministic (seeded NumPy), broadcast as literal
arrays into the plan — no UDFs; the dot products run in codegen.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope
from approximate_pagerank_public_spark.session import upload_frame


def _dot(a: str | F.Column, b: str | F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: str | F.Column) -> F.Column:
    return F.sqrt(_dot(a, a))


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    return df.withColumn(
        out,
        (_dot(a, b) / (_norm(a) * _norm(b))).cast("double"),
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """``(query_id, vec_id, cosine, rank)`` — exact top-k per query.

    The corpus side stays partitioned; the (small) query side is
    broadcast, so the cross join never shuffles the corpus.
    """
    j = embeddings.crossJoin(F.broadcast(queries))
    scored = with_cosine(j, vec_col, query_vec_col)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, bits: int, table: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed + 1000 * table)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_bucket(
    df: DataFrame, vec_col: str, dim: int, bits: int, table: int, seed: int
) -> F.Column:
    """Signed-random-projection bucket id (int) for one hash table."""
    planes = _hyperplanes(dim, bits, table, seed)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec_col, plane) >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within LSH candidates.
    ``max_bucket_size`` truncates degenerate corpus buckets (smallest
    ids kept — ``dedup.cap_bucket_size``) so one hot bucket cannot blow
    up the candidate join. Default 10_000 (scale safety on by default,
    like ``embedding_near_duplicates``); pass ``None`` for the exact
    recall-within-candidates escape hatch."""
    corpus_buckets = embeddings.select(
        id_col,
        vec_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        lsh_bucket(embeddings, vec_col, dim, bits, t, seed).alias("bucket"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tb"),
    ).select(id_col, vec_col, "tb.tbl", "tb.bucket")
    if max_bucket_size is not None:
        from approximate_pagerank_public_spark.operators.dedup import cap_bucket_size

        corpus_buckets = cap_bucket_size(
            corpus_buckets, ["tbl", "bucket"], id_col, max_bucket_size, label="ann-lsh"
        )
    query_buckets = queries.select(
        query_id_col,
        query_vec_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        lsh_bucket(queries, query_vec_col, dim, bits, t, seed).alias("bucket"),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tb"),
    ).select(query_id_col, query_vec_col, "tb.tbl", "tb.bucket")
    cands = (
        corpus_buckets.join(F.broadcast(query_buckets), ["tbl", "bucket"])
        .select(query_id_col, query_vec_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = with_cosine(cands, vec_col, query_vec_col)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "exact",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bits: int = 4,
    tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ``(a_id, b_id, cosine)`` with
    ``a_id < b_id`` and ``cosine >= threshold``.

    ``method='exact'`` is the O(N^2/2) brute-force baseline (canonical
    ``a < b`` self-join; the correctness oracle). ``method='lsh'`` is the
    scale path: random-hyperplane buckets (same family as
    :func:`lsh_ann_topk`) generate candidate pairs that collide in any of
    ``tables`` hash tables — shuffle is O(N x tables) bucket rows instead
    of O(N^2) pairs — then exact cosine verification filters them.

    Vectors are cast to ``array<double>`` so the sequential fold matches a
    float64 left-to-right dot product bit-for-bit (golden-parity style,
    mirroring the reference's float-vs-fixed validation discipline —
    `/root/reference/src/common/utils/utils.hpp:201-213`).
    """
    a = embeddings.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).cast("array<double>").alias("va"),
    )
    b = embeddings.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    if method == "exact":
        pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    elif method == "lsh":
        if dim is None:
            raise ValueError("dim is required for method='lsh'")
        emb_d = embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        buckets = emb_d.select(
            "vid",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            lsh_bucket(emb_d, "v", dim, bits, t, seed).alias("bucket"),
                        )
                        for t in range(tables)
                    ]
                )
            ).alias("tb"),
        ).select("vid", "tb.tbl", "tb.bucket")
        from approximate_pagerank_public_spark.operators.dedup import cap_bucket_size

        buckets = cap_bucket_size(
            buckets, ["tbl", "bucket"], "vid", max_bucket_size, label="near-dup-lsh"
        )
        left = buckets.select(
            F.col("vid").alias("a_id"), "tbl", "bucket"
        )
        right = buckets.select(
            F.col("vid").alias("b_id"), "tbl", "bucket"
        )
        cand = (
            left.join(right, ["tbl", "bucket"])
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
        )
        pairs = cand.join(a, "a_id").join(b, "b_id")
    else:
        raise ValueError(f"unknown method {method!r}")
    scored = with_cosine(pairs, "va", "vb")
    return (
        scored.where(F.col("cosine") >= F.lit(float(threshold)))
        .select("a_id", "b_id", "cosine")
    )


def _kmeans_centroids(
    vectors: np.ndarray, n_cells: int, iters: int
) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample.

    Init = the first ``n_cells`` sample vectors (sample is taken in
    ``id`` order, so this is reproducible). Assignment by max cosine;
    centroids re-normalized each round; empty cells keep their previous
    centroid. Training a coarse quantizer on a bounded sample is the
    standard IVF recipe — the *index build* (assignment) and *search*
    stay fully distributed.
    """
    normed = vectors / np.maximum(np.linalg.norm(vectors, axis=1, keepdims=True), 1e-12)
    cents = normed[:n_cells].copy()
    for _ in range(iters):
        sims = normed @ cents.T  # (S, C)
        assign = np.argmax(sims, axis=1)
        for c in range(n_cells):
            members = normed[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    cents[c] = m / n
    return cents


def _train_sample_centroids(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    kmeans_iters: int,
    train_sample: int,
) -> np.ndarray:
    """Deterministic driver-side centroid training sample: the first
    ``train_sample`` vectors in ``id_col`` order (the bounded IVF
    recipe — the only driver-side step in this module)."""
    sample_rows = (
        embeddings.orderBy(id_col).limit(train_sample).select(vec_col).collect()
    )
    sample = np.asarray([r[0] for r in sample_rows], dtype=np.float64)
    return _kmeans_centroids(sample, n_cells, kmeans_iters)


def _cell_sorted(col: str | F.Column, cents: np.ndarray) -> F.Column:
    """Cells sorted by (dot desc, cell asc) — index 0 is the
    deterministic argmax assignment; a codegen'd projection, no UDF."""
    entries = [
        F.struct(
            (-_dot(col, F.array(*[F.lit(float(x)) for x in c]))).alias("negd"),
            F.lit(i).alias("cell"),
        )
        for i, c in enumerate(cents)
    ]
    return F.array_sort(F.array(*entries))


def kmeans_assign(
    embeddings: DataFrame,
    n_cells: int = 8,
    kmeans_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, cell)`` — the IVF coarse quantizer exposed as a
    standalone clustering op: spherical k-means centroids trained on
    the deterministic bounded driver-side sample
    (:func:`_train_sample_centroids`), then EVERY vector assigned
    distributed-side by a codegen'd argmax over ``n_cells`` literal
    dot products (dot desc, cell asc tie rule — ``_cell_sorted``).

    Scale shape: training is O(sample·cells·iters) on the driver by
    design; assignment is a pure projection — no shuffle, no UDF, no
    join. Useful on its own for corpus bucketing / semantic sharding
    (the SemDeDup and IVF ops build on exactly this assignment).
    """
    cents = _train_sample_centroids(
        embeddings, id_col, vec_col, n_cells, kmeans_iters, train_sample
    )
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _cell_sorted(F.col(vec_col).cast("array<double>"), cents)[0][
            "cell"
        ].alias("cell"),
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: coarse quantizer (k-means centroids trained
    on a bounded driver-side sample), distributed cell assignment, probe
    the ``n_probe`` nearest cells per query, exact cosine re-rank within
    the probed cells.

    With ``n_probe == n_cells`` this degrades gracefully to exact
    brute-force search (every cell probed) — the invariant the test
    suite asserts. Scale: corpus-side work is one codegen'd projection
    (argmax over ``n_cells`` dot products, no UDF, no shuffle) plus an
    equi-join on ``cell`` against ~``n_probe x Q`` broadcast query rows.
    """
    cents = _train_sample_centroids(
        embeddings, id_col, vec_col, n_cells, kmeans_iters, train_sample
    )

    corpus = embeddings.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    corpus = corpus.withColumn("cell", _cell_sorted("cv", cents)[0]["cell"])

    q = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(query_vec_col).cast("array<double>").alias("qv"),
    )
    q = q.withColumn(
        "cells",
        F.slice(_cell_sorted("qv", cents), 1, n_probe).cast(
            "array<struct<negd:double,cell:int>>"
        ),
    ).select("qid", "qv", F.explode("cells.cell").alias("cell"))

    cands = corpus.join(F.broadcast(q), "cell").select("qid", "qv", "cid", "cv")
    scored = with_cosine(cands, "cv", "qv")
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("cid").alias(id_col),
            "cosine",
            "rank",
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 8,
    kmeans_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the deterministic
    sample-trained k-means quantizer, then emit near-duplicate pairs
    ``(cell, a_id, b_id, cosine)`` with ``a_id < b_id`` and cosine ≥
    ``threshold`` — comparing ONLY within a cluster, which is the
    method's entire point: the candidate space drops from O(N²) to
    O(Σ cellᵢ²) with cells balanced by the quantizer.

    The canonical keep rule is "keep the lowest id per duplicate
    group": a downstream ``anti-join on b_id`` (or
    ``dedup.resolve_duplicate_clusters`` over the pair list) applies
    it; this operator returns the evidence pairs so both policies
    stay available.

    Scale shape: centroid training is the bounded driver-side sample
    (:func:`_train_sample_centroids`, same as IVF); assignment is a
    codegen'd argmax projection (no shuffle); the self-join shuffles
    hash(cell) once on each side. ``max_cell_size`` truncates
    degenerate cells to their smallest ids (``dedup.cap_bucket_size``
    semantics — deterministic, logged) so one collapsed cell cannot
    emit cap²+ pairs; dropped members remain covered by exact dedup.
    """
    cents = _train_sample_centroids(
        embeddings, id_col, vec_col, n_cells, kmeans_iters, train_sample
    )
    assigned = embeddings.select(
        F.col(id_col).alias("_sd_id"),
        F.col(vec_col).cast("array<double>").alias("_sd_v"),
    )
    assigned = assigned.withColumn("cell", _cell_sorted("_sd_v", cents)[0]["cell"])
    if max_cell_size is not None:
        from approximate_pagerank_public_spark.operators.dedup import cap_bucket_size

        assigned = cap_bucket_size(
            assigned, ["cell"], "_sd_id", max_cell_size, label="semantic-dedup"
        )
    # Salted pinned-partition self-join: with only n_cells join keys,
    # AQE's size-based coalescing folds the tiny input exchange into a
    # handful of tasks that then explode Σ cellᵢ² pairs inside
    # (measured: 310 s / 21M pairs through ≤8 tasks). Same fix as
    # triangles.salted_wedge_pairs — salt the a-side by hash(id),
    # replicate the b-side across the salt range, pin both sides with
    # repartition(P, cell, g); identical pair set.
    spark = embeddings.sparkSession
    p = max(int(spark.sparkContext.defaultParallelism), 8)
    a = assigned.select(
        "cell", F.col("_sd_id").alias("a_id"), F.col("_sd_v").alias("va")
    ).withColumn("_g", F.pmod(F.xxhash64("a_id"), F.lit(p)).cast("int"))
    salts = spark.range(p).select(F.col("id").cast("int").alias("_g"))
    b = assigned.select(
        "cell", F.col("_sd_id").alias("b_id"), F.col("_sd_v").alias("vb")
    ).crossJoin(F.broadcast(salts))
    pairs = (
        a.repartition(p, "cell", "_g")
        .join(b.repartition(p, "cell", "_g"), ["cell", "_g"])
        .where(F.col("a_id") < F.col("b_id"))
        .drop("_g")
    )
    scored = with_cosine(pairs, "va", "vb")
    return scored.where(F.col("cosine") >= F.lit(float(threshold))).select(
        "cell", "a_id", "b_id", "cosine"
    )


def rrf_fuse(
    rankings: dict[str, DataFrame], k: int = 5, c: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of named ranked
    lists — the standard way to combine retrieval strategies (here:
    exact cosine + LSH ANN) without score calibration:
    ``rrf(q, v) = Σ_sources 1 / (c + rank)``.

    Determinism across engines: per (query, vec) the ≤ |sources| float
    terms are folded in (source-name, rank) order via an explicit
    sorted fold (the engine's pinned-association discipline — same as
    ``harmonic_centrality``), the fused score is stable6-truncated
    BEFORE the top-k cut, and ties break to the smaller vec_id.

    Scale shape: one union + ONE (query_id, vec_id) map-side-combinable
    aggregate over the candidate lists (k·|queries|·|sources| rows,
    never corpus-sized); the per-query top-k window partitions by
    query_id. Input frames must carry (query_id, vec_id, rank)."""
    import functools

    from pyspark.sql.window import Window

    parts = [
        df.select(
            "query_id", "vec_id", F.lit(name).alias("src"), F.col("rank")
        )
        for name, df in sorted(rankings.items())
    ]
    u = functools.reduce(lambda a, b: a.unionAll(b), parts)
    fused = u.groupBy("query_id", "vec_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("src", "rank"))),
            F.lit(0.0),
            lambda acc, x: acc
            + F.lit(1.0) / (F.lit(float(c)) + x["rank"].cast("double")),
        ).alias("rrf")
    )
    trunc = F.floor(F.col("rrf") * F.lit(1000000.0)) / F.lit(1000000.0)
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_t").desc(), F.col("vec_id").asc()
    )
    return (
        fused.select("query_id", "vec_id", trunc.alias("rrf_t"))
        .withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= int(k))
        .select(
            "query_id",
            "vec_id",
            "fused_rank",
            F.col("rrf_t").alias("rrf"),
        )
    )


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k_candidates: int = 10,
    k: int = 5,
) -> DataFrame:
    """``(query_id, vec_id, mmr_rank, mmr_score)`` — maximal marginal
    relevance (Carbonell & Goldstein 1998) greedy diversified re-rank
    of the exact-cosine top-``k_candidates``, at the classic λ = 0.5:
    round 1 picks the top candidate; round r scores every remaining
    candidate ``0.5·cos(q, d) − 0.5·max_{s∈selected} cos(d, s)`` and
    picks the argmax (ties → smaller vec_id).

    Exactness: every cosine is the engine's pinned left-fold dot
    product (bit-identical to DuckDB ``list_dot_product``), and λ = 0.5
    multiplies by an exact power of two — all scores and therefore all
    argmax comparisons are bit-identical cross-engine; only the output
    score is stable6-truncated. The oracle unrolls the greedy rounds.

    Scale shape: per query the state is its ≤ k_candidates candidate
    rows and their ≤ k_candidates² pair similarities — query-count
    parallel, candidate-bounded, never corpus-sized; the greedy rounds
    are k-1 tiny join+window jobs."""
    cands = cosine_topk_bruteforce(embeddings, queries, k=k_candidates)
    emb = embeddings.select("vec_id", "embedding")
    with ckpt_scope(embeddings.sparkSession) as cs:
        ce = cands.join(emb, "vec_id").select(
            "query_id", "vec_id", "cosine", "embedding"
        )
        ce = cs.ckpt(ce)
        a = ce.select(
            "query_id", F.col("vec_id").alias("i"), F.col("embedding").alias("ea")
        )
        b = ce.select(
            "query_id", F.col("vec_id").alias("j"), F.col("embedding").alias("eb")
        )
        pairs = cs.ckpt(
            a.join(b, "query_id")
            .where(F.col("i") != F.col("j"))
            .select(
                "query_id",
                "i",
                "j",
                (_dot("ea", "eb") / (_norm("ea") * _norm("eb")))
                .cast("double")
                .alias("sim"),
            )
        )
        base = ce.select("query_id", "vec_id", "cosine")
        w = Window.partitionBy("query_id")
        first = (
            base.withColumn(
                "_rn",
                F.row_number().over(
                    w.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
                ),
            )
            .where(F.col("_rn") == 1)
            .select(
                "query_id",
                "vec_id",
                F.lit(1).alias("mmr_rank"),
                (F.lit(0.5) * F.col("cosine")).alias("score"),
            )
        )
        selected = cs.ckpt(first)
        for r in range(2, int(k) + 1):
            rem = base.join(
                selected.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
            )
            msim = (
                pairs.join(
                    selected.select(
                        "query_id", F.col("vec_id").alias("j")
                    ),
                    ["query_id", "j"],
                )
                .groupBy("query_id", F.col("i").alias("vec_id"))
                .agg(F.max("sim").alias("msim"))
            )
            scored = rem.join(msim, ["query_id", "vec_id"]).select(
                "query_id",
                "vec_id",
                (
                    F.lit(0.5) * F.col("cosine") - F.lit(0.5) * F.col("msim")
                ).alias("score"),
            )
            pick = (
                scored.withColumn(
                    "_rn",
                    F.row_number().over(
                        w.orderBy(F.col("score").desc(), F.col("vec_id").asc())
                    ),
                )
                .where(F.col("_rn") == 1)
                .select(
                    "query_id", "vec_id", F.lit(r).alias("mmr_rank"), "score"
                )
            )
            nxt = cs.ckpt(selected.unionAll(pick))
            cs.free(selected)
            selected = nxt
        trunc = F.floor(F.col("score") * F.lit(1000000.0)) / F.lit(1000000.0)
        return cs.keep(
            selected.select("query_id", "vec_id", "mmr_rank", trunc.alias("mmr_score"))
        )


def _pq_l2_kmeans(sub: np.ndarray, codes: int, iters: int) -> np.ndarray:
    """Deterministic Euclidean k-means for one PQ subspace.

    Init = the first ``codes`` sample sub-vectors (sample is taken in id
    order upstream, so reproducible); assignment by min squared L2 with
    ties to the lower code; centroid = member mean; an empty code keeps
    its previous centroid. Mirrors :func:`_kmeans_centroids` but in the
    L2 geometry product quantization is defined over (Jegou et al.,
    "Product quantization for nearest neighbor search", TPAMI 2011).
    """
    cents = sub[:codes].copy()
    for _ in range(iters):
        d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)  # ties -> lower code (argmin rule)
        for c in range(codes):
            members = sub[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def pq_train_codebooks(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    codes: int = 8,
    kmeans_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """``(m, codes, dim//m)`` PQ codebooks trained on the deterministic
    bounded driver-side sample (first ``train_sample`` vectors in id
    order — the same recipe as the IVF coarse quantizer). The only
    driver-side step of the PQ family; encode and search are fully
    distributed codegen projections."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sample_rows = (
        embeddings.orderBy(id_col).limit(train_sample).select(vec_col).collect()
    )
    sample = np.asarray([r[0] for r in sample_rows], dtype=np.float64)
    sd = dim // m
    return np.stack(
        [
            _pq_l2_kmeans(sample[:, i * sd : (i + 1) * sd], codes, kmeans_iters)
            for i in range(m)
        ]
    )


def _pq_dist_terms(
    vec: F.Column, m_idx: int, sub_dim: int, book: np.ndarray
) -> list[F.Column]:
    """Per-code ADC distance terms for one subspace: ``||c||^2 - 2 x.c``
    (the rank-equivalent part of ``||x - c||^2``; the ``||x||^2`` term
    is constant per vector and never affects an argmin/top-k). Literal
    centroid arrays + sequential-fold dot products — bit-identical to
    the DuckDB ``list_dot_product`` replay, no UDF anywhere."""
    sub = F.slice(vec, m_idx * sub_dim + 1, sub_dim)
    terms = []
    for c in book:
        n2 = float(np.dot(c, c))
        cl = F.array(*[F.lit(float(x)) for x in c])
        terms.append(F.lit(n2) - F.lit(2.0) * _dot(sub, cl))
    return terms


def _pq_code_expr(
    vec: F.Column, m_idx: int, sub_dim: int, book: np.ndarray
) -> F.Column:
    """Argmin code for one subspace: (distance asc, code asc) tie rule
    via a codegen'd struct sort (the `_cell_sorted` pattern)."""
    entries = [
        F.struct(d.alias("d"), F.lit(i).alias("code"))
        for i, d in enumerate(_pq_dist_terms(vec, m_idx, sub_dim, book))
    ]
    return F.array_sort(F.array(*entries))[0]["code"]


def pq_encode(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    codes: int = 8,
    kmeans_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """``(vec_id, code0..code{m-1})`` — product-quantization codes, one
    uint-valued int column per subspace. Compresses a ``dim``-float
    vector to ``m`` small ints (here 4x3 bits for 64 doubles).

    Scale shape: training is the bounded driver-side sample; encoding is
    a pure whole-stage-codegen projection (argmin over ``codes`` literal
    dot products per subspace) — no shuffle, no UDF, no join, so it
    streams over a 100-TB corpus at scan speed."""
    if codebooks is None:
        codebooks = pq_train_codebooks(
            embeddings, dim, m, codes, kmeans_iters, train_sample, id_col, vec_col
        )
    sd = dim // m
    v = F.col(vec_col).cast("array<double>")
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        *[
            _pq_code_expr(v, i, sd, codebooks[i]).alias(f"code{i}")
            for i in range(m)
        ],
    )


def pq_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 4,
    codes: int = 8,
    kmeans_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """PQ/ADC approximate top-k: encode the corpus to ``m`` integer
    codes, build a per-query (m x codes) distance lookup table, and rank
    by the asymmetric distance ``sum_m lut[m][code_m]`` (Jegou et al.
    2011). Returns ``(query_id, vec_id, adist, rank)``, nearest first.

    Scale shape: the ADC scan is the point of PQ — each corpus row costs
    ``m`` array lookups + ``m-1`` adds against a broadcast query table
    instead of a ``dim``-wide float dot product, and the scan reads the
    m-int codes, not the raw vectors. Top-k is two-level (per-partition
    prune to k with the same (adist, id) tie rule, then the global
    window over ``<= partitions x k`` survivors per query), so the only
    shuffle is the pruned candidate set. Composing the scan inside IVF
    cells (IVF-PQ) = feed :func:`ivf_ann_topk`'s cell candidates
    through this ranking."""
    books = pq_train_codebooks(
        embeddings, dim, m, codes, kmeans_iters, train_sample, id_col, vec_col
    )
    sd = dim // m
    corpus = pq_encode(
        embeddings, dim, m, codes, id_col=id_col, vec_col=vec_col, codebooks=books
    )
    qv = F.col(query_vec_col).cast("array<double>")
    q = queries.select(
        F.col(query_id_col).alias("qid"),
        *[
            F.array(*_pq_dist_terms(qv, i, sd, books[i])).alias(f"lut{i}")
            for i in range(m)
        ],
    )
    paired = corpus.crossJoin(F.broadcast(q))
    adist = F.element_at(F.col("lut0"), F.col("code0") + 1)
    for i in range(1, m):
        adist = adist + F.element_at(F.col(f"lut{i}"), F.col(f"code{i}") + 1)
    scored = paired.select("qid", "vec_id", adist.alias("adist"))
    order = [F.col("adist").asc(), F.col("vec_id").asc()]
    local = Window.partitionBy("qid", F.spark_partition_id()).orderBy(*order)
    pruned = (
        scored.withColumn("_lr", F.row_number().over(local))
        .where(F.col("_lr") <= k)
        .drop("_lr")
    )
    w = Window.partitionBy("qid").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            "vec_id",
            "adist",
            "rank",
        )
    )


def ivfpq_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    codes: int = 8,
    kmeans_iters: int = 5,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ composed ANN (the FAISS ``IVFx,PQy``-style index expressed
    as DataFrame ops): the coarse quantizer restricts each query to its
    ``n_probe`` nearest cells, and candidates inside those cells are
    ranked by the PQ asymmetric distance instead of a full-width dot
    product. With ``n_probe == n_cells`` this degrades exactly to
    :func:`pq_ann_topk` (every cell probed — invariant-tested).

    Scale shape — this is the 100-TB search path: the corpus-side index
    build is ONE whole-stage-codegen projection emitting ``(vec_id,
    cell, code0..code{m-1})`` (argmax over ``n_cells`` literal dots +
    ``m`` argmins over ``codes`` literal ADC terms; no shuffle, no UDF,
    no join, scan-speed), the search joins that tiny-int table against
    a broadcast ``Q x n_probe`` query-cell table (corpus never
    reshuffles), and each surviving candidate costs ``m`` array lookups
    + ``m-1`` adds. Raw vectors are read once at index build and never
    again.
    """
    cents = _train_sample_centroids(
        embeddings, id_col, vec_col, n_cells, kmeans_iters, train_sample
    )
    books = pq_train_codebooks(
        embeddings, dim, m, codes, kmeans_iters, train_sample, id_col, vec_col
    )
    sd = dim // m
    v = F.col(vec_col).cast("array<double>")
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _cell_sorted(v, cents)[0]["cell"].alias("cell"),
        *[_pq_code_expr(v, i, sd, books[i]).alias(f"code{i}") for i in range(m)],
    )
    qv = F.col(query_vec_col).cast("array<double>")
    q = queries.select(
        F.col(query_id_col).alias("qid"),
        F.slice(_cell_sorted(qv, cents), 1, n_probe)
        .cast("array<struct<negd:double,cell:int>>")
        .alias("cells"),
        *[
            F.array(*_pq_dist_terms(qv, i, sd, books[i])).alias(f"lut{i}")
            for i in range(m)
        ],
    ).select(
        "qid",
        F.explode("cells.cell").alias("cell"),
        *[f"lut{i}" for i in range(m)],
    )
    cands = corpus.join(F.broadcast(q), "cell")
    adist = F.element_at(F.col("lut0"), F.col("code0") + 1)
    for i in range(1, m):
        adist = adist + F.element_at(F.col(f"lut{i}"), F.col(f"code{i}") + 1)
    scored = cands.select("qid", "vec_id", adist.alias("adist"))
    w = Window.partitionBy("qid").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            "vec_id",
            "adist",
            "rank",
        )
    )


def kcenter_seeds(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """``(pos, vec_id, radius)`` — greedy k-center / farthest-first
    traversal (Gonzalez 1985, the 2-approximation): start from the
    minimum ``vec_id``; each round pick the vector farthest (squared
    Euclidean) from the selected set (ties → smaller ``vec_id``) and
    fold its distances into the running min.  The classic diverse-seed
    selector for clustering / coreset / eval-set construction over an
    embedding corpus.

    Exactness: every distance is ``(aa − 2·dot(a,b)) + bb`` with each
    dot the engine's pinned left-fold (bit-identical to DuckDB
    ``list_dot_product``) and the exact-power-of-two ``2·`` — so every
    argmax comparison is bit-identical cross-engine; ``radius`` (the
    picked vector's distance² at selection time, the k-center radius
    sequence) is stable6-truncated only at output.

    Scale shape: state is one (vec_id, v, aa, mind2) row per vector,
    partition-parallel; each of the k rounds is ONE codegen'd
    least()/fold update plus a top-1 ``orderBy`` (takeOrdered — no
    full sort materialization) and ships exactly one center row to the
    driver.  No pairwise materialization anywhere: O(k·N) distance
    evaluations total, the textbook farthest-first cost."""
    spark = embeddings.sparkSession
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    base = emb.select("vec_id", "v", _dot("v", "v").alias("aa"))
    first = base.orderBy("vec_id").first()
    if first is None:  # empty corpus — no seeds to pick
        return upload_frame(spark, [], "pos bigint, vec_id bigint, radius double")
    picked = [(1, int(first["vec_id"]), 0.0)]
    center_v, center_aa = list(first["v"]), float(first["aa"])

    with ckpt_scope(spark) as cs:
        state = cs.ckpt(
            base.select("vec_id", "v", "aa", F.lit(None).cast("double").alias("mind2"))
        )
        for pos in range(2, int(k) + 1):
            c = F.array(*[F.lit(float(x)) for x in center_v])
            d2 = (F.col("aa") - 2.0 * _dot("v", c)) + F.lit(center_aa)
            new = cs.ckpt(
                state.select(
                    "vec_id", "v", "aa", F.least("mind2", d2).alias("mind2")
                )
            )
            cs.free(state)
            state = new
            top = state.orderBy(F.col("mind2").desc(), F.col("vec_id").asc()).first()
            if top is None:  # k exceeded the corpus — keep the picks so far
                break
            picked.append(
                (pos, int(top["vec_id"]), float(np.floor(top["mind2"] * 1e6) / 1e6))
            )
            center_v, center_aa = list(top["v"]), float(top["aa"])
    import pandas as pd

    out = pd.DataFrame(picked, columns=["pos", "vec_id", "radius"])
    return upload_frame(spark, out, "pos long, vec_id long, radius double")
