"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's operator set (its dedup is edge-level,
``removeSelfloop``/``undirectFast`` at ``utils.hpp:399-446``), these are
the document-level dedup passes a 100 TB text pipeline needs. All are
expressed in built-in Spark SQL functions (JVM-side, codegen'd); no
Python in any hot path.

- :func:`exact_duplicates` — hash-groupBy on normalized text.
- :func:`minhash_lsh_candidates` — shingle → minhash (k independent
  permutations via ``xxhash64`` with seed salts) → band buckets →
  self-join on bucket. Shuffle cost: O(docs × bands) rows, each tiny.
- :func:`simhash` — 64-bit simhash over token hashes using bit-plane
  aggregation.
- :func:`ngram_jaccard` — exact Jaccard on character n-gram sets for a
  candidate pair set (verification stage after LSH).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from approximate_pagerank_public_spark.operators.components import pair_components
from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

logger = logging.getLogger(__name__)


def cap_bucket_size(
    df: DataFrame,
    bucket_cols: list[str],
    order_col: str,
    cap: int | None,
    log_skew: bool = False,
    label: str = "lsh",
) -> DataFrame:
    """Truncate every LSH bucket to its ``cap`` smallest ``order_col``
    members (deterministic). A degenerate bucket of k near-identical
    docs otherwise emits k² candidate pairs — at 100 TB a boilerplate
    bucket with 10^6 members is a 10^12-pair job killer; with the cap
    the worst bucket emits ≤ cap². Oversized buckets sort inside one
    task (bounded spill); the dropped members are still covered by
    exact dedup and by their other band buckets.

    ``log_skew=True`` eagerly computes and logs the dropped volume as
    one extra job over the same windowed plan (opt-in diagnostics; no
    persist, so nothing is left cached in the session).
    """
    if cap is None:
        return df
    w = Window.partitionBy(*bucket_cols).orderBy(order_col)
    windowed = df.withColumn("_brn", F.row_number().over(w))
    if log_skew:
        stats = (
            windowed.where(F.col("_brn") > cap)
            .agg(
                F.count_distinct(*[F.col(c) for c in bucket_cols]).alias("n_buckets"),
                F.count("*").alias("dropped"),
            )
            .first()
        )
        if stats["n_buckets"]:
            logger.warning(
                "%s: capped %d oversized buckets (cap=%d), dropped %d rows",
                label,
                stats["n_buckets"],
                cap,
                stats["dropped"],
            )
    return windowed.where(F.col("_brn") <= cap).drop("_brn")


def _normalized_text(col: str = "text") -> F.Column:
    return F.lower(F.regexp_replace(F.col(col), r"\s+", " "))


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(dup_group, doc_id)`` for docs whose normalized text collides;
    only groups with ≥2 members. dup_group = min doc_id of the group."""
    h = docs.select(
        F.col(id_col).alias("doc_id"), F.xxhash64(_normalized_text(text_col)).alias("h")
    )
    groups = h.groupBy("h").agg(
        F.min("doc_id").alias("dup_group"), F.count("*").alias("n")
    )
    return (
        h.join(groups.where(F.col("n") >= 2), "h")
        .select("dup_group", "doc_id")
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """``(doc_id, shingle)`` — word n-gram shingles, distinct per doc."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(_normalized_text(text_col), " ").alias("toks"),
    )
    # sliding window of n tokens via transform over index range
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
            )
        ).alias("shingle"),
    )
    return sh.distinct()


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 16, hash_method: str = "xxhash64"
) -> DataFrame:
    """``(doc_id, sig: array)`` — min over hash_i(shingle) per seed i;
    one groupBy, vectorized JVM-side.

    ``xxhash64`` (default): ``min(xxhash64(shingle, i))`` — fastest,
    Spark-only. ``md5``: ``min(md5(i || ':' || shingle))`` as a STRING —
    lexicographic min over fixed-length lowercase hex equals numeric
    min, and DuckDB computes the identical value, so the md5 variant is
    fully oracle-replayable."""
    if hash_method == "xxhash64":
        cols = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    elif hash_method == "md5":
        cols = [
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_method {hash_method!r}")
    mins = sh.groupBy("doc_id").agg(*cols)
    return mins.select(
        "doc_id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 2000,
    log_skew: bool = False,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs ``(a, b)`` with a < b: docs sharing
    at least one LSH band bucket. Buckets larger than
    ``max_bucket_size`` are truncated to their smallest doc_ids (see
    :func:`cap_bucket_size`) so a degenerate bucket cannot emit k²
    pairs; ``None`` disables the cap. ``hash_method='md5'`` builds both
    the minhashes and the band buckets from md5 (string-typed buckets) —
    slower, but DuckDB-replayable end-to-end."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        shingles(docs, id_col, text_col, shingle_n), num_hashes, hash_method
    )
    bucket_of = (
        (lambda c: F.xxhash64(c)) if hash_method == "xxhash64" else (lambda c: F.md5(c))
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bucket_of(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    banded = cap_bucket_size(
        banded, ["band", "bucket"], "doc_id", max_bucket_size, log_skew, "minhash-lsh"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_method: str = "md5",
) -> DataFrame:
    """``(doc_id, simhash: bigint)`` — 64-bit simhash: for each bit plane,
    sign of Σ over tokens of ±1 by that bit of hash(token).

    ``hash_method='md5'`` (default) derives the 64 bit planes from the
    first 16 hex digits of ``md5(token)`` — bit ``i`` is bit ``3 - i%4``
    of hex digit ``i//4`` — which the DuckDB oracle replays verbatim
    (both engines agree on md5; xxhash64 exists only in Spark).
    ``hash_method='xxhash64'`` is the faster non-oracled option."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(_normalized_text(text_col), " ")).alias("tok"),
    )
    if hash_method == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))
        bits = [
            F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1 for i in range(64)
        ]
    elif hash_method == "md5":
        toks = toks.withColumn("fp", F.md5("tok")).select(
            "doc_id",
            *[
                F.conv(F.substring("fp", j, 1), 16, 10).cast("int").alias(f"d{j}")
                for j in range(1, 17)
            ],
        )
        bits = [
            F.shiftright(F.col(f"d{i // 4 + 1}"), 3 - i % 4).bitwiseAND(F.lit(1)) == 1
            for i in range(64)
        ]
    else:
        raise ValueError(f"unknown hash_method {hash_method!r}")
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(bits[i], 1).otherwise(-1)).alias(f"b{i}")
            for i in range(64)
        ]
    )
    # bit planes are disjoint, so addition == bitwise OR; built as a sum
    # of literals (bit 63 contributing -2^63) so the DuckDB oracle can
    # reproduce the signed value without a 1<<63 shift overflow
    expr = F.when(F.col("b63") > 0, F.lit(-(1 << 63))).otherwise(F.lit(0)).cast("long")
    for i in range(63):
        expr = expr + F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bit_sums.select("doc_id", expr.alias("simhash"))


def simhash_near_dup(
    docs: DataFrame,
    max_hamming: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_method: str = "md5",
) -> DataFrame:
    """``(a, b, hamming)`` with ``a < b`` — document pairs whose 64-bit
    simhashes agree on at least one of ``bands`` equal-width bands AND
    differ in ≤ ``max_hamming`` bits (the banded near-dup completion of
    :func:`simhash` — the Manku/Charikar web-dedup recipe: any pair
    within Hamming distance ``64/bands − 1`` per band is guaranteed to
    share a band; wider distances are best-effort recall, exact
    precision via the bit_count verify).

    Scale shape: shuffle = docs × bands bucket rows; the within-bucket
    pair join uses the salted pinned-partition layout
    (`triangles.salted_wedge_pairs`) so a degenerate bucket's quadratic
    output spreads across P tasks instead of exploding inside the 1-2
    AQE-coalesced ones. The Hamming verify is two broadcast-sized
    signature joins + one codegen'd ``bit_count(xor)`` — arithmetic the
    DuckDB oracle replays bit-for-bit (shift/mask/xor/bit_count agree
    on negative int64 on both engines, verified)."""
    if 64 % bands:
        raise ValueError("bands must divide 64")
    from .triangles import salted_wedge_pairs

    sig = simhash(docs, id_col=id_col, text_col=text_col, hash_method=hash_method)
    width = 64 // bands
    mask = (1 << width) - 1
    parts = [
        sig.select(
            (
                F.lit(b * (mask + 1))
                + F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            ).alias("bk"),
            "doc_id",
        )
        for b in range(bands)
    ]
    buckets = parts[0]
    for x in parts[1:]:
        buckets = buckets.unionAll(x)
    pairs = salted_wedge_pairs(buckets, center="bk", endpoint="doc_id").distinct()
    su = sig.select(F.col("doc_id").alias("u"), F.col("simhash").alias("hu"))
    sv = sig.select(F.col("doc_id").alias("v"), F.col("simhash").alias("hv"))
    return (
        pairs.join(su, "u")
        .join(sv, "v")
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.bit_count(F.col("hu").bitwiseXOR(F.col("hv")))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard similarity for candidate pairs ``(a, b)`` —
    the LSH verification stage. Returns ``(a, b, jaccard)``."""
    sh = shingles(docs, id_col, text_col, shingle_n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("doc_id").alias("a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        pairs.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    return (
        pairs.join(inter, ["a", "b"], "left")
        .join(za, "a")
        .join(zb, "b")
        .select(
            "a",
            "b",
            (
                F.coalesce("inter", F.lit(0))
                / (F.col("sza") + F.col("szb") - F.coalesce("inter", F.lit(0)))
            ).alias("jaccard"),
        )
    )


def prefix_filter_pairs(
    docs: DataFrame,
    threshold_bp: int = 9000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set similarity self-join via PREFIX FILTERING
    (Chaudhari et al. / PPJoin family): all pairs with Jaccard ≥
    ``threshold_bp``/10000 over DISTINCT word tokens, found WITHOUT an
    all-pairs comparison.

    The filter: order every doc's tokens by ascending global document
    frequency (ties → token string), keep only the first
    ``sz − ⌈t·sz⌉ + 1`` as the doc's *prefix*; any pair with J ≥ t must
    share ≥1 prefix token, so the candidate join is an equi-join on
    prefix tokens only. Ordering rarest-first makes prefix tokens the
    LEAST shared ones — the hot-key problem solves itself (a token seen
    in millions of docs is in almost nobody's prefix). Exact verify on
    the full token sets; the threshold compare is the integer cross-
    multiplication ``inter·10⁴ ≥ bp·(sza+szb−inter)`` — no float enters
    any decision; the output ``jaccard`` is the single IEEE division.

    Scale shape: shuffles are the token df aggregation (vocab-sized),
    one per-doc window over each doc's own tokens, the prefix equi-join
    (∝ Σ prefix co-occurrences — bounded by rarity ordering), and a
    candidate-scoped intersection count. NOTE the sf0.01 fixture's
    ~31-word vocabulary is adversarial (every doc shares tokens, prefix
    prunes little); on a real corpus vocabulary the prefix join is the
    standard sub-quadratic set-similarity plan.
    """
    if not 0 < threshold_bp <= 10000:
        raise ValueError("threshold_bp must be in (0, 10000]")
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(_normalized_text(text_col), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    pref = (
        toks.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(
            F.col("rn")
            <= F.col("sz")
            - F.expr(f"({threshold_bp} * sz + 9999) div 10000")
            + F.lit(1)
        )
        .select("doc_id", "tok")
    )
    # The prefix self-join's OUTPUT is Σ_t |bucket_t|² while its INPUT
    # is tiny — precisely the blind spot of AQE's size-based
    # coalescing (measured at sf0.1: the 15 MB exchange coalesced to
    # ONE task that exploded ~1M pairs inside it, 90+ s on one
    # thread). Two counter-measures, both result-invariant: salt the
    # `a` side by hash(a) and replicate the `b` side across the salt
    # range (each pair still meets exactly once, at g = hash(a)), and
    # pin BOTH sides with an explicit repartition on the join keys —
    # the join then reuses the user partitioning, which AQE never
    # coalesces. Replication cost = prefix table × salt (prefixes are
    # 1..few tokens per doc; salt ≈ task slots).
    spark = docs.sparkSession
    g_salt = max(int(spark.sparkContext.defaultParallelism), 8)
    pa = pref.select(
        F.col("doc_id").alias("a"),
        "tok",
        F.pmod(F.xxhash64("doc_id"), F.lit(g_salt)).cast("int").alias("g"),
    )
    salts = spark.range(g_salt).select(F.col("id").cast("int").alias("g"))
    pb = pref.select(F.col("doc_id").alias("b"), "tok").crossJoin(
        F.broadcast(salts)
    )
    cand = (
        pa.repartition(g_salt, "tok", "g")
        .join(pb.repartition(g_salt, "tok", "g"), ["tok", "g"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # verify with per-doc token ARRAYS + array_intersect, not a
    # (cand x tokens) fan-out join: the explosion of a high-fanout join
    # is invisible to AQE (it coalesces on shuffle INPUT bytes — seen
    # live at sf0.1: a 15 MB candidate exchange coalesced to ONE task
    # that then expanded 40x inside the join, 90 s in a single thread).
    # Array rows cost O(sza+szb) compute per candidate with no row
    # growth, so size-based coalescing stays honest; array length is
    # bounded by document length (no hub risk).
    tarr = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("tok")).alias("ta"),
        F.count("*").alias("sz"),
    )
    inter = (
        cand.join(
            tarr.select(F.col("doc_id").alias("a"), F.col("ta").alias("_taa"),
                        F.col("sz").alias("sza")),
            "a",
        )
        .join(
            tarr.select(F.col("doc_id").alias("b"), F.col("ta").alias("_tab"),
                        F.col("sz").alias("szb")),
            "b",
        )
        .select(
            "a", "b", "sza", "szb",
            F.size(F.array_intersect("_taa", "_tab")).cast("long").alias("inter"),
        )
    )
    return (
        inter.where(
            F.col("inter") * 10000
            >= F.lit(threshold_bp) * (F.col("sza") + F.col("szb") - F.col("inter"))
        )
        .select(
            "a",
            "b",
            "inter",
            (
                F.col("inter")
                / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS and pick one keeper.

    ``pairs`` is any ``(a, b)`` near-dup pair set (exact, MinHash+LSH,
    SimHash, or embedding near-dup output); transitively connected docs
    form one cluster (A~B, B~C => {A,B,C} even if A and C were never
    compared — the semantics every production dedup pass needs before
    dropping rows). Returns every doc with ``(doc_id, rep_id, keep)``
    where ``rep_id`` is the cluster minimum and ``keep = (doc_id ==
    rep_id)``.

    Two execution paths (``components.py::pair_components``, the
    engine's usual cutover discipline):

    - ``broadcast`` (pair count <=
      ``components.PAIR_CC_BROADCAST_MAX_PAIRS``): collect the pairs —
      they are the OUTPUT of a dedup pass, vastly smaller than the
      corpus — and union-find on the driver; the rep map ships back as
      one broadcast join. Near-dup pair sets are latency territory, and
      the star loop's per-round fixpoint jobs cost more than the whole
      union-find.
    - ``distributed``: large-star/small-star over the pair list only
      (O(log n) rounds, no collect, diameter-safe for chained near-dup
      runs). The cluster state never touches the driver.

    Both paths end in ONE broadcast-size left join onto the corpus; the
    corpus itself is never shuffled. Paths are value-identical
    (parity-tested).
    """
    spark = docs.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    with ckpt_scope(spark) as cs:
        roots = pair_components(cs, pairs, p, mode)
        d = docs.select(F.col(id_col).cast("long").alias("doc_id"))
        out = d.join(roots, d["doc_id"] == roots["a"], "left").select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce("r", F.col("doc_id"))).alias("rep_id"),
        )
        return cs.keep(out.withColumn("keep", F.col("doc_id") == F.col("rep_id")))


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): positioned word ``k``-gram
    hashes, and from every window of ``w`` consecutive gram hashes the
    minimal hash is selected (ties → RIGHTMOST position, the paper's
    robust-winnowing rule), guaranteeing a shared substring of length
    ``w + k - 1`` tokens always yields a shared selected fingerprint.
    Returns distinct ``(doc_id, pos, fp)`` — ``fp`` is the md5 hex of
    the gram, so lexicographic min equals a deterministic hash order
    and a DuckDB window replay is hash-exact.

    The rightmost-min selection is ONE string ``min`` window over
    ``fp || ':' || lpad(10^9 - pos)`` (minimal hash, then largest pos,
    in a single lexicographic key) with a ``w-1 PRECEDING`` row frame;
    docs with fewer than ``w`` grams keep their final (partial) window
    so every non-empty doc emits ≥1 fingerprint. A doc shorter than
    ``k`` tokens emits its whole text as one degenerate gram (the
    ``shingles`` convention).

    Scale shape: one shuffle (window partition = doc_id), per-doc
    linear work, no cross-doc state — the fingerprint table is
    ~|tokens| / ((w+1)/2) rows corpus-wide.
    """
    if int(k) < 1 or int(w) < 1:
        raise ValueError("k and w must be >= 1")
    kk, ww = int(k), int(w)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(_normalized_text(text_col), " ").alias("toks"),
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - kk, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, kk)),
            )
        ).alias("pos", "gram"),
    ).select(
        "doc_id", "pos", F.md5(F.encode(F.col("gram"), "UTF-8")).alias("h")
    )
    key = F.concat(
        F.col("h"),
        F.lit(":"),
        F.lpad((F.lit(1000000000) - F.col("pos")).cast("string"), 10, "0"),
    )
    doc_w = Window.partitionBy("doc_id")
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(ww - 1), Window.currentRow)
    )
    sel = (
        grams.withColumn("_key", key)
        .withColumn("_np", F.max("pos").over(doc_w))
        .withColumn("_wk", F.min("_key").over(frame))
        .where(F.col("pos") >= F.least(F.lit(ww - 1), F.col("_np")))
        .select(
            "doc_id",
            (F.lit(1000000000) - F.substring("_wk", 34, 10).cast("long"))
            .cast("long")
            .alias("pos"),
            F.substring("_wk", 1, 32).alias("fp"),
        )
    )
    return sel.distinct()


def capped_posting_pairs(
    posting: DataFrame,
    key_col: str = "fp",
    member_col: str = "doc_id",
) -> DataFrame:
    """Enumerate ``(u, v)`` member pairs (``u < v``) per posting-list
    key, for posting lists ALREADY bounded by :func:`cap_bucket_size`.

    With the bound in hand, the right layout is NOT a self-join at all:
    collect each key's members into one (≤ cap)-element sorted array —
    ONE map-side-combinable exchange of the input rows, no replication —
    and emit the C(n,2) pairs by an in-row index explode. Fan-out per
    group is ≤ C(cap, 2) (bounded work inside the task that owns the
    group, no AQE-coalescing hazard), versus the salted-self-join
    layout whose input replication costs rows × P — measured 210 s →
    29 s on the 200k-doc winnow-match probe (7M capped posting rows,
    P=32). The salted wedge join remains the correct tool when the
    per-center fan-out is UNBOUNDED (wedge joins on raw degrees); this
    is the capped-bucket twin.
    """
    lists = posting.groupBy(F.col(key_col).alias("_k")).agg(
        F.sort_array(F.collect_list(F.col(member_col))).alias("_ms")
    )
    n = F.size("_ms")
    idx_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1),
                lambda j: F.struct(
                    F.element_at("_ms", i + 1).alias("u"),
                    F.element_at("_ms", j + 1).alias("v"),
                ),
            ),
        )
    )
    return (
        lists.where(n >= 2)
        .select(F.explode(idx_pairs).alias("_p"))
        .select(F.col("_p.u").alias("u"), F.col("_p.v").alias("v"))
    )


def winnow_matches(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    cap: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style cross-document match ranking: pairs of documents by
    the number of DISTINCT winnowing fingerprints they share —
    ``(a_id, b_id, shared)`` with ``a_id < b_id`` and
    ``shared >= min_shared``.

    Scale shape: each fingerprint's posting list is deterministically
    capped at ``cap`` docs (smallest doc_ids kept — boilerplate grams
    shared by millions of docs are exactly the ones that carry no match
    signal; the truncation is replayed by the oracle), and pair
    enumeration then uses :func:`capped_posting_pairs` — in-row C(n,2)
    explode over the collected (≤ cap)-member lists, one exchange, no
    self-join input replication (measured 210 s → salted vs in-row at
    the 200k-doc probe; see the helper). ``cap=None`` falls back to the
    salted pinned-partition wedge layout, the unbounded-fan-out tool.
    """
    from .triangles import salted_wedge_pairs

    fps = winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    ).select("doc_id", "fp").distinct()
    if cap is not None:
        fps = cap_bucket_size(fps, ["fp"], "doc_id", cap, label="winnow")
        pairs = capped_posting_pairs(fps, key_col="fp", member_col="doc_id")
    else:
        # unbounded posting lists: fall back to the salted wedge layout
        # (a collect_list row could not hold a 10^6-doc posting)
        pairs = salted_wedge_pairs(fps, center="fp", endpoint="doc_id")
    return (
        pairs.groupBy(F.col("u").alias("a_id"), F.col("v").alias("b_id"))
        .agg(F.count("*").cast("long").alias("shared"))
        .where(F.col("shared") >= int(min_shared))
    )


def containment_pairs(
    docs: DataFrame,
    threshold_bp: int = 8000,
    shingle_n: int = 3,
    cap: int | None = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment
    ``C(A→B) = |S(A) ∩ S(B)| / |S(A)|`` (Broder 1997's second
    resemblance measure): flags "A is (mostly) contained in B" —
    quotes, subsets and boilerplate-wrapped copies whose Jaccard is
    LOW because the sizes differ, the case symmetric dedup
    (:func:`minhash_lsh_candidates`, :func:`prefix_filter_pairs`)
    structurally misses. Returns every ordered pair with
    ``containment >= threshold_bp / 10000``:
    ``(src_id, dst_id, inter, src_sz, dst_sz, containment)``
    (containment stable6-truncated; ``src != dst``).

    Candidates = pairs sharing ≥1 shingle, found by a posting-list
    join: each shingle's posting list is deterministically capped at
    ``cap`` docs (smallest doc_ids — a boilerplate shingle in 10⁶ docs
    carries no containment signal, same bound as the LSH bucket cap)
    and pair enumeration uses :func:`capped_posting_pairs` (in-row
    C(n,2) explode, no self-join replication; the salted wedge layout
    is the ``cap=None`` fallback). The exact intersection count then
    comes from the
    pair-scoped shingle join (the :func:`ngram_jaccard` verify shape) —
    never an all-pairs scan. All counts are integers; the containment
    ratio is ONE IEEE division, so a DuckDB replay is hash-exact.
    """
    # one gram shuffle total: collect each doc's DISTINCT shingles
    # straight from the raw explode (collect_set ≡ shingles()'s per-doc
    # distinct — shingle rows never carry cross-doc keys, so a separate
    # global distinct pass is a second 14M-gram shuffle for nothing),
    # checkpoint the arrays, and derive the posting list by re-exploding
    # them. The prior shape paid the distinct shuffle once per consumer
    # (posting + verify) plus the collect AND a per-pair×per-shingle
    # fan-out verify join — measured 73-88 s at 200k docs; this one
    # runs 45-55 s, identical pairs. (Two measured dead ends, kept out:
    # a candidate-doc semi-join before the collect serializes subtrees
    # that otherwise overlap, and shuffle_hash hints on the verify join
    # push ~0.5 GB of arrays through two exchanges — 147 s.)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(_normalized_text(text_col), " ").alias("toks"),
    )
    raw = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size("toks") - shingle_n, F.lit(0))
                ),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, shingle_n)),
            )
        ).alias("shingle"),
    )
    # the result reads the checkpoint, so it lives as long as the
    # returned frame and no longer
    with ckpt_scope(docs.sparkSession) as cs:
        sharr = cs.ckpt(
            raw.groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("shingle")).alias("sa"))
            .withColumn("sz", F.size("sa").cast("long"))
        )
        return cs.keep(_containment_verify(sharr, threshold_bp, cap))


def _containment_verify(sharr: DataFrame, threshold_bp: int, cap: int | None) -> DataFrame:
    """:func:`containment_pairs` from the per-doc ``(doc_id, sa, sz)``
    sorted shingle arrays: candidate pairs, exact intersect, cut."""
    from .triangles import salted_wedge_pairs

    sh = sharr.select("doc_id", F.explode("sa").alias("shingle"))
    posting = cap_bucket_size(sh, ["shingle"], "doc_id", cap, label="containment")
    if cap is not None:
        und = capped_posting_pairs(
            posting, key_col="shingle", member_col="doc_id"
        ).distinct()
    else:
        und = (
            salted_wedge_pairs(posting, center="shingle", endpoint="doc_id")
            .distinct()
        )
    # exact verify with per-doc sorted shingle ARRAYS + array_intersect
    # — the prefix_join lesson applied here (was: a (pair × src-shingle)
    # fan-out join re-joined on (dst, shingle); at 200k docs that
    # explosion dominated the whole operator at 73-88 s). Shingles are
    # DISTINCT per doc, so set-semantics array_intersect counts the
    # same integer the join counted. Each UNORDERED pair is verified
    # once and both directions are emitted from that single intersect
    # (inline_outer over the two orientations), so the intersect is
    # never evaluated twice per pair. (A candidate-doc semi-join before
    # the collect was measured SLOWER at 200k docs — it serializes the
    # posting and array subtrees, and the collect is not the
    # bottleneck; the checkpointed sharr serves both consumers.)
    bp = F.lit(int(threshold_bp))
    cand = (
        und.join(
            sharr.select(
                F.col("doc_id").alias("u"),
                F.col("sa").alias("_sau"),
                F.col("sz").alias("_szu"),
            ),
            "u",
        )
        .join(
            sharr.select(
                F.col("doc_id").alias("v"),
                F.col("sa").alias("_sav"),
                F.col("sz").alias("_szv"),
            ),
            "v",
        )
        # size prune, result-invariant: inter <= min(szu, szv), so at
        # least one direction must already be size-feasible
        .where(
            (F.col("_szv") * 10000 >= bp * F.col("_szu"))
            | (F.col("_szu") * 10000 >= bp * F.col("_szv"))
        )
        .select(
            "u",
            "v",
            "_szu",
            "_szv",
            F.size(F.array_intersect("_sau", "_sav")).cast("long").alias("inter"),
        )
    )
    both = cand.select(
        "inter",
        F.inline_outer(
            F.array(
                F.struct(
                    F.col("u").alias("src_id"),
                    F.col("v").alias("dst_id"),
                    F.col("_szu").alias("src_sz"),
                    F.col("_szv").alias("dst_sz"),
                ),
                F.struct(
                    F.col("v").alias("src_id"),
                    F.col("u").alias("dst_id"),
                    F.col("_szv").alias("src_sz"),
                    F.col("_szu").alias("dst_sz"),
                ),
            )
        ),
    )
    # integer-exact threshold cut (inter/src_sz >= bp/10000 without any
    # float in the filter); the reported ratio is ONE IEEE division,
    # stable6-truncated
    return both.where(
        F.col("inter") * 10000 >= bp * F.col("src_sz")
    ).select(
        "src_id",
        "dst_id",
        "inter",
        "src_sz",
        "dst_sz",
        (F.floor(F.col("inter") / F.col("src_sz") * 1000000.0) / 1000000.0).alias(
            "containment"
        ),
    )
