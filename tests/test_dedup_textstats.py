"""Dedup + text-analysis operators over the documents table."""

import pytest
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.operators import dedup, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    # append exact + near duplicates of known docs
    base = docs.limit(3).collect()
    extra = [
        (9001, base[0]["text"], base[0]["lang"], "dup", len(base[0]["text"])),
        (9002, base[1]["text"] + " extra tail words here", base[1]["lang"], "near", 0),
    ]
    extra_df = spark.createDataFrame(extra, docs.schema)
    return docs.unionAll(extra_df).cache()


def test_exact_duplicates(docs_with_dups):
    groups = dedup.exact_duplicates(docs_with_dups).toPandas()
    assert 9001 in set(groups["doc_id"])
    grp = groups[groups["doc_id"] == 9001]["dup_group"].iloc[0]
    assert (groups["dup_group"] == grp).sum() == 2  # original + copy
    assert 9002 not in set(groups["doc_id"])  # near-dup is not exact


def test_minhash_lsh_finds_near_dup(docs_with_dups):
    pairs = dedup.minhash_lsh_candidates(
        docs_with_dups, num_hashes=32, bands=8
    ).toPandas()
    pairset = set(map(tuple, pairs[["a", "b"]].values))
    base0 = docs_with_dups.limit(2).collect()
    assert (base0[0]["doc_id"], 9001) in pairset  # exact dup always collides
    assert (base0[1]["doc_id"], 9002) in pairset  # near dup shares bands


def test_minhash_lsh_bucket_cap_bounds_degenerate_pairs(spark, docs):
    """k identical docs collide in EVERY band bucket → k² pairs without
    a cap; with max_bucket_size=m the output is bounded by bands·C(m,2)
    and the kept members are the deterministic smallest ids."""
    k, cap, bands = 40, 6, 4
    clones = spark.createDataFrame(
        [(10_000 + i, "same boilerplate text repeated many times here", "en", "c", 46)
         for i in range(k)],
        docs.schema,
    )
    uncapped = dedup.minhash_lsh_candidates(
        clones, num_hashes=16, bands=bands, max_bucket_size=None
    ).count()
    assert uncapped == k * (k - 1) // 2  # the degenerate blow-up
    capped = dedup.minhash_lsh_candidates(
        clones, num_hashes=16, bands=bands, max_bucket_size=cap
    ).toPandas()
    assert len(capped) <= bands * cap * (cap - 1) // 2
    # deterministic: smallest ids survive the truncation
    assert set(capped["a"]) | set(capped["b"]) == {10_000 + i for i in range(cap)}


def test_embedding_near_dup_lsh_bucket_cap(spark):
    """Same cap on the hyperplane-LSH pair generator: identical vectors
    land in one bucket per table; candidates stay bounded."""
    import numpy as np

    from approximate_pagerank_public_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    k, cap = 30, 5
    vec = np.random.default_rng(7).standard_normal(16).tolist()
    emb = spark.createDataFrame(
        [(i, vec) for i in range(k)], "vec_id long, embedding array<double>"
    )
    capped = embedding_near_duplicates(
        emb, threshold=0.99, method="lsh", dim=16, max_bucket_size=cap
    ).toPandas()
    assert 0 < len(capped) <= cap * (cap - 1) // 2
    assert set(capped["a_id"]) | set(capped["b_id"]) == set(range(cap))


def test_ngram_jaccard_verification(spark, docs_with_dups):
    base = docs_with_dups.limit(2).collect()
    pairs = spark.createDataFrame(
        [(base[0]["doc_id"], 9001), (base[1]["doc_id"], 9002)], ["a", "b"]
    )
    j = dedup.ngram_jaccard(docs_with_dups, pairs).toPandas().set_index("b")["jaccard"]
    assert j[9001] == 1.0
    assert 0.3 < j[9002] < 1.0


def test_simhash_close_for_near_dups(docs_with_dups):
    sh = dedup.simhash(docs_with_dups).toPandas().set_index("doc_id")["simhash"]
    base = docs_with_dups.limit(2).collect()
    assert sh[9001] == sh[base[0]["doc_id"]]  # identical text → identical simhash
    hamming = bin((int(sh[9002]) ^ int(sh[base[1]["doc_id"]])) & (2**64 - 1)).count("1")
    assert hamming <= 16  # near-dup → close simhash


def test_simhash_near_dup_pairs(docs_with_dups):
    base = docs_with_dups.orderBy("doc_id").limit(3).collect()
    got = dedup.simhash_near_dup(docs_with_dups, max_hamming=16).toPandas()
    pairs = {(r.a, r.b): r.hamming for r in got.itertuples()}
    # exact duplicate (9001 copies base[0]) → hamming 0
    exact_key = (min(base[0]["doc_id"], 9001), max(base[0]["doc_id"], 9001))
    assert pairs.get(exact_key) == 0
    # near duplicate (9002 = base[1] + tail) → small positive hamming
    near_key = (min(base[1]["doc_id"], 9002), max(base[1]["doc_id"], 9002))
    assert near_key in pairs and pairs[near_key] <= 16
    # symmetric/canonical: every pair a < b, no self-pairs
    assert (got["a"] < got["b"]).all()


def test_simhash_near_dup_tight_threshold_keeps_exact_only(docs_with_dups):
    got = dedup.simhash_near_dup(docs_with_dups, max_hamming=0).toPandas()
    assert (got["hamming"] == 0).all()
    assert len(got) >= 1  # the planted exact duplicate survives


def test_token_count(spark):
    d = spark.createDataFrame([(1, "hello world foo")], ["doc_id", "text"])
    row = textstats.token_count(d).first()
    assert row["n_ws_tokens"] == 3
    assert row["n_subword_est"] >= 3


def test_quality_score_ranges(docs):
    q = textstats.quality_score(docs).toPandas()
    assert ((q["quality"] >= 0) & (q["quality"] <= 1)).all()
    assert ((q["punct_ratio"] >= 0) & (q["punct_ratio"] <= 1)).all()


def test_language_id_english_bias(spark):
    d = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog went to the station"),
            (2, "der hund und die katze gingen durch die schöne stadt"),
        ],
        ["doc_id", "text"],
    )
    res = textstats.language_id(d).toPandas().set_index("doc_id")["lang_pred"]
    assert res[1] == "en"
    assert res[2] == "de"


def test_fingerprint_deterministic_and_normalizing(spark):
    d = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    fp = textstats.fingerprint(d).toPandas().set_index("doc_id")["fp"]
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_vocab_topk_counts_and_tiebreak(spark):
    from approximate_pagerank_public_spark.operators.textstats import vocab_topk

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "The dog  sat"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = vocab_topk(docs, k=3).collect()
    # 'the' x3 (case-folded), then count-2 tie 'sat' before... only 'sat' has 2
    assert [(r["token"], r["n"]) for r in rows] == [
        ("the", 3),
        ("sat", 2),
        ("cat", 1),  # count-1 ties resolve lexicographically
    ]


def test_duplicate_clusters_transitive_chain(spark):
    from approximate_pagerank_public_spark.operators.dedup import duplicate_clusters

    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    # chain 1~2~3, pair 7~9, singletons elsewhere; 3~1 adds a cycle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (1, 3)], "a long, b long"
    )
    out = {r["doc_id"]: (r["rep_id"], r["keep"]) for r in duplicate_clusters(docs, pairs).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)
    assert out[7] == (7, True)
    assert out[9] == (7, False)
    assert out[0] == (0, True)
    assert out[5] == (5, True)
    # exactly one keeper per cluster
    kept = [d for d, (rep, k) in out.items() if k]
    assert sorted(kept) == [0, 1, 4, 5, 6, 7, 8]


def test_duplicate_clusters_empty_pairs(spark):
    from approximate_pagerank_public_spark.operators.dedup import duplicate_clusters

    docs = spark.range(5).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([], "a long, b long")
    out = duplicate_clusters(docs, pairs).collect()
    assert all(r["keep"] and r["rep_id"] == r["doc_id"] for r in out)
    assert len(out) == 5


def test_tfidf_topk_linear_golden(spark):
    from approximate_pagerank_public_spark.operators.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["token"], r["tf"], r["score"]) for r in out}
    # N=3; df: apple 1, banana 2, cherry 2, durian 1
    assert got[(0, 1)] == ("apple", 2, 2 * 3 / 1)
    assert got[(0, 2)] == ("banana", 1, 1 * 3 / 2)
    assert got[(2, 1)] == ("cherry", 2, 2 * 3 / 2)
    assert got[(2, 2)] == ("durian", 1, 1 * 3 / 1)
    # doc 1: banana and cherry tie at 1.5 -> lexicographic
    assert got[(1, 1)][0] == "banana" and got[(1, 2)][0] == "cherry"


def test_tfidf_log_monotone_and_validation(spark):
    import math

    import pytest as _pytest

    from approximate_pagerank_public_spark.operators.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "b c")], "doc_id long, text string"
    )
    out = {(r["doc_id"], r["token"]): r["score"] for r in tfidf_topk(docs, k=3, idf="log").collect()}
    assert abs(out[(0, "a")] - 2 * math.log(2 / 1)) < 1e-12
    assert out[(0, "b")] == 0.0  # df == N
    with _pytest.raises(ValueError):
        tfidf_topk(docs, idf="bogus")


def test_duplicate_clusters_broadcast_star_parity(spark):
    from approximate_pagerank_public_spark.operators.dedup import duplicate_clusters

    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 30), (30, 20), (7, 8)], "a long, b long"
    )
    a = sorted(
        (r["doc_id"], r["rep_id"], r["keep"])
        for r in duplicate_clusters(docs, pairs, mode="broadcast").collect()
    )
    b = sorted(
        (r["doc_id"], r["rep_id"], r["keep"])
        for r in duplicate_clusters(docs, pairs, mode="distributed").collect()
    )
    assert a == b
    got = {d: rep for d, rep, _ in a}
    assert got[4] == 1 and got[20] == 10 and got[30] == 10


def test_exact_int_quantiles_matches_numpy_lower(spark):
    import numpy as np

    from approximate_pagerank_public_spark.functions.quantiles import (
        exact_int_quantiles,
    )

    rng = np.random.default_rng(7)
    vals = rng.integers(0, 40, size=500).tolist()
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    got = {
        r["p"]: (r["n"], r["rank"], r["value"])
        for r in exact_int_quantiles(df, "x", (0, 50, 90, 95, 99, 100)).collect()
    }
    arr = np.sort(np.array(vals))
    n = len(arr)
    for p in (0, 50, 90, 95, 99, 100):
        rank = (n - 1) * p // 100
        assert got[p] == (n, rank, int(arr[rank])), p


def test_exact_int_quantiles_ties_and_single_row(spark):
    from approximate_pagerank_public_spark.functions.quantiles import (
        exact_int_quantiles,
    )

    # all-equal column: every percentile is that value
    df = spark.createDataFrame([(5,)] * 9, "x long")
    rows = exact_int_quantiles(df, "x", (50, 99)).collect()
    assert {(r["p"], r["value"]) for r in rows} == {(50, 5), (99, 5)}
    # single row
    one = spark.createDataFrame([(42,)], "x long")
    r = exact_int_quantiles(one, "x", (50,)).first()
    assert (r["n"], r["rank"], r["value"]) == (1, 0, 42)


def test_oov_rate_golden(spark):
    from approximate_pagerank_public_spark.operators.textstats import oov_rate

    docs = spark.createDataFrame(
        [
            (1, "the cat the cat the"),  # all in top-2 vocab {the, cat}
            (2, "the zebra quokka"),     # 2 of 3 OOV
            (3, "   "),                  # no tokens -> no row
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["n_oov"], r["oov_rate"])
        for r in oov_rate(docs, k=2).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (5, 0, 0.0)
    assert got[2][0] == 3 and got[2][1] == 2
    assert abs(got[2][2] - 2 / 3) < 1e-12


def test_prefix_filter_pairs_matches_bruteforce(spark):
    # seeded random docs over a 12-word vocab: prefix filtering must
    # find EXACTLY the brute-force all-pairs result (completeness is
    # the prefix-filter theorem; precision is the exact verify)
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(4, 14))) for _ in range(40)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bp = 6000
    sets = [set(t.split()) for t in texts]
    want = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 10000 >= bp * union:
                want[(a, b)] = inter
    got = dedup.prefix_filter_pairs(docs, threshold_bp=bp).toPandas()
    got_map = {
        (int(r["a"]), int(r["b"])): int(r["inter"]) for _, r in got.iterrows()
    }
    assert got_map == want
    for r in got.itertuples():
        assert r.jaccard == pytest.approx(
            r.inter / (len(sets[int(r.a)] | sets[int(r.b)])), abs=1e-12
        )


def test_prefix_filter_pairs_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z"), (3, "a b c d")],
        "doc_id long, text string",
    )
    got = dedup.prefix_filter_pairs(docs, threshold_bp=10000).toPandas()
    assert len(got) == 1
    assert (int(got.iloc[0]["a"]), int(got.iloc[0]["b"])) == (1, 2)
    assert got.iloc[0]["jaccard"] == 1.0


def test_bm25_topk_matches_python_golden(spark):
    from approximate_pagerank_public_spark.operators import textstats
    import math

    texts = {
        0: "join join spark table row",
        1: "vector vector vector join",
        2: "scan filter merge batch",
        3: "spark spark spark spark join vector",
        4: "join",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    terms = ["join", "spark", "vector"]
    # python golden with the same integer rationalization
    tokd = {i: t.split() for i, t in texts.items()}
    n = len(texts)
    big_l = sum(len(v) for v in tokd.values())
    df = {t: sum(1 for v in tokd.values() if t in v) for t in terms}
    want = {}
    for i, v in tokd.items():
        tot = 0
        for t in terms:
            tf = v.count(t)
            if tf == 0:
                continue
            num = (2 * n - 2 * df[t] + 1) * 22 * tf * big_l
            den = (2 * df[t] + 1) * (10 * big_l * tf + 3 * big_l + 9 * len(v) * n)
            tot += math.floor(num / den * 1_000_000.0)
        if tot:
            want[i] = tot
    got = textstats.bm25_topk(docs, terms, k=10).toPandas()
    got_order = [(int(r.doc_id), int(r.score_micro)) for r in got.itertuples()]
    want_order = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got_order == want_order
    assert list(got["rank"]) == list(range(1, len(want_order) + 1))
    # BM25 sanity: doc 3 (spark-heavy, all three terms) outranks doc 0
    assert got_order[0][0] == 3


def test_bm25_requires_terms(spark):
    from approximate_pagerank_public_spark.operators import textstats

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        textstats.bm25_topk(docs, [])


def _wdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # winnowing guarantee: a shared token run of length >= w + k - 1
    # (here 4 + 3 - 1 = 6) always yields >= 1 shared selected fp
    common = "alpha beta gamma delta epsilon zeta"
    a = _wdocs(spark, [(1, f"xx yy {common} zz"), (2, f"pp {common} qq rr")])
    fps = dedup.winnow_fingerprints(a, k=3, w=4)
    shared = (
        fps.where(F.col("doc_id") == 1)
        .select("fp")
        .intersect(fps.where(F.col("doc_id") == 2).select("fp"))
        .count()
    )
    assert shared >= 1
    m = dedup.winnow_matches(a, k=3, w=4, min_shared=1).collect()
    assert len(m) == 1 and m[0]["a_id"] == 1 and m[0]["b_id"] == 2
    assert m[0]["shared"] == shared


def test_winnow_selection_is_windowed_subset(spark):
    # every selected pos is a valid gram position, selection is sparse
    # (<= one per window end) and deterministic across runs
    text = " ".join(f"w{i % 7}" for i in range(40))
    d = _wdocs(spark, [(5, text)])
    out1 = sorted(
        (r["pos"], r["fp"]) for r in dedup.winnow_fingerprints(d, k=3, w=4).collect()
    )
    out2 = sorted(
        (r["pos"], r["fp"]) for r in dedup.winnow_fingerprints(d, k=3, w=4).collect()
    )
    assert out1 == out2
    n_positions = 40 - 3 + 1
    assert all(0 <= p < n_positions for p, _ in out1)
    assert 1 <= len(out1) <= n_positions - 4 + 1


def test_winnow_short_doc_degenerate_gram(spark):
    # doc shorter than k tokens -> one whole-doc gram, one fingerprint
    d = _wdocs(spark, [(9, "tiny doc")])
    out = dedup.winnow_fingerprints(d, k=3, w=4).collect()
    assert len(out) == 1 and out[0]["pos"] == 0
    with pytest.raises(ValueError):
        dedup.winnow_fingerprints(d, k=0, w=4)


def test_winnow_matches_cap_bounds_posting_list(spark):
    # 6 identical docs, cap=3: every fp's posting list truncates to the
    # 3 smallest doc_ids -> only pairs among {1,2,3} survive
    rows = [(i, "same same same same same same same") for i in range(1, 7)]
    d = _wdocs(spark, rows)
    m = dedup.winnow_matches(d, k=3, w=4, min_shared=1, cap=3)
    got = {(r["a_id"], r["b_id"]) for r in m.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_containment_asymmetric_subset_detected(spark):
    # doc 1 (12 tokens) is fully contained in doc 2 (30 tokens):
    # containment 1->2 is 1.0 while Jaccard is low (~0.36)
    inner = " ".join(f"t{i}" for i in range(12))
    outer = " ".join(f"p{i}" for i in range(9)) + " " + inner + " " + " ".join(
        f"s{i}" for i in range(9)
    )
    d = _wdocs(spark, [(1, inner), (2, outer), (3, "totally different words here")])
    out = {
        (r["src_id"], r["dst_id"]): r
        for r in dedup.containment_pairs(d, threshold_bp=8000, shingle_n=3).collect()
    }
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["containment"] == 1.0 and r["inter"] == r["src_sz"] == 10
    # the reverse direction is NOT >= 0.8 (10/28), and doc 3 shares nothing
    assert (2, 1) not in out
    assert not any(3 in k for k in out)


def test_containment_cap_is_deterministic(spark):
    # identical docs beyond the cap never become candidates
    rows = [(i, "x y z x y z x y z") for i in range(1, 6)]
    d = _wdocs(spark, rows)
    out = {
        (r["src_id"], r["dst_id"])
        for r in dedup.containment_pairs(
            d, threshold_bp=8000, shingle_n=3, cap=2
        ).collect()
    }
    assert out == {(1, 2), (2, 1)}
