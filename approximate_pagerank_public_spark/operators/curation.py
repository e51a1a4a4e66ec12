"""Corpus-curation operators: benchmark decontamination and
Gopher-style repetition quality signals.

A training-data pipeline over a 100-TB corpus needs two checks the
dedup family (``operators/dedup.py``) does not cover:

- **Decontamination** — before training, every evaluation document must
  be checked for word-n-gram overlap against the *train* split (the
  GPT-3 appendix-C / PaLM protocol: a benchmark example is contaminated
  when one of its n-grams also occurs in the training corpus).
  :func:`ngram_contamination` is the two-corpus primitive;
  :func:`split_contamination` composes it with the deterministic
  md5-bucket split (``operators/sampling.py::dataset_split``).
- **Repetition signals** — Gopher's quality rules drop documents whose
  text is dominated by repeated lines / n-grams.
  :func:`repetition_stats` computes the per-document family:
  duplicate-line fraction (by line and by character), the most frequent
  word 2-gram and its character fraction, and the duplicate 5-gram
  position fraction.

Scale shape. ``repetition_stats`` is embarrassingly parallel: every
aggregate is keyed by ``doc_id`` (map-side partial, no cross-document
join) — at 100 TB it is one scan + per-doc hash aggregation.
``ngram_contamination`` joins eval shingles against train shingles on
the shingle hash; the hot-key risk is a boilerplate n-gram shared by
millions of train documents, bounded by ``max_shingle_df`` — shingles
whose train document-frequency exceeds the cap are removed from the
TRAIN side *before* the join (the GPT-3 protocol likewise ignores the
most common n-grams), so capped shingles cannot match anything: eval
rows carrying them still enter the shuffle but join to zero train rows,
and per-shingle fan-out stays ≤ cap. The filter is a deterministic
frequency threshold, not a sampled truncation, so the oracle replays it
exactly. With the cap on,
per-shingle join fan-out ≤ cap and shuffle volume is O(|eval shingles| +
|train shingles|). Counts are exact integers; the contamination ratio
is ONE IEEE division, truncated via the contract's 1e-6 rule on both
engines.

All tokenization matches ``operators/dedup.py::shingles`` (lowercase,
whitespace-collapsed, word n-grams, distinct per doc) so a corpus
deduped with MinHash and decontaminated here sees one consistent
shingle universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import upload_frame
from .dedup import _normalized_text, shingles
from .sampling import dataset_split


def ngram_contamination(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Per eval document: overlap of its word ``n``-grams with the train
    corpus.

    Returns ``(doc_id, total_ngrams, matched_ngrams, matched_train_docs,
    contamination)`` — ``total_ngrams`` counts the doc's DISTINCT
    n-grams, ``matched_ngrams`` how many of those occur in ≥1 train doc
    (after the ``max_shingle_df`` frequency filter), ``matched_train_docs``
    the distinct train documents sharing ≥1 surviving n-gram, and
    ``contamination = matched_ngrams / total_ngrams``. A doc shorter
    than ``n`` tokens still emits ONE degenerate whole-doc shingle
    (``dedup.shingles`` windows over ``max(len-n, 0)+1`` offsets), so a
    short eval doc whose full text appears in a train doc is flagged
    with contamination 1.0 — exercised by
    ``test_ngram_contamination_short_doc_degenerate_shingle``.

    ``max_shingle_df`` drops n-grams whose train document-frequency
    exceeds the cap (boilerplate) from both sides of the join —
    deterministic, so the DuckDB oracle replays it verbatim.
    """
    ev = shingles(eval_docs, id_col, text_col, n)  # distinct per doc
    tr = shingles(train_docs, id_col, text_col, n).withColumnRenamed(
        "doc_id", "train_doc"
    )
    if max_shingle_df is not None:
        freq = tr.groupBy("shingle").agg(F.count("*").alias("tdf"))
        keep = freq.where(F.col("tdf") <= int(max_shingle_df)).select("shingle")
        tr = tr.join(keep, "shingle")
    totals = ev.groupBy("doc_id").agg(F.count("*").alias("total_ngrams"))
    hits = (
        ev.join(tr, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("matched_ngrams"),
            F.countDistinct("train_doc").alias("matched_train_docs"),
        )
    )
    out = (
        totals.join(hits, "doc_id", "left")
        .na.fill(0, ["matched_ngrams", "matched_train_docs"])
        .withColumn(
            "contamination",
            F.col("matched_ngrams").cast("double")
            / F.col("total_ngrams").cast("double"),
        )
    )
    # docs shorter than n tokens emit one degenerate shingle of all their
    # tokens (shingles() slices from a 0-length window floor) — keep the
    # semantics identical on both engines by *not* special-casing here.
    return out.select(
        "doc_id", "total_ngrams", "matched_ngrams", "matched_train_docs",
        "contamination",
    )


def split_contamination(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_shingle_df: int | None = 10_000,
    eval_split: str = "test",
    train_split: str = "train",
    seed: str = "split",
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Decontamination report for the md5-bucket ``dataset_split``:
    contamination of every ``eval_split`` document against the
    ``train_split`` corpus. Pure composition of :func:`dataset_split`
    and :func:`ngram_contamination` (one extra pure-map column, no
    extra shuffle)."""
    tagged = dataset_split(docs, id_col=id_col, fractions=fractions, seed=seed)
    ev = tagged.where(F.col("split") == eval_split)
    tr = tagged.where(F.col("split") == train_split)
    return ngram_contamination(
        ev, tr, id_col=id_col, text_col=text_col, n=n,
        max_shingle_df=max_shingle_df,
    )


def _ngram_positions(toks_col: str, n: int):
    """All n-gram occurrences (NOT distinct) of a token array as
    space-joined strings; empty when the doc has < n tokens."""
    return F.when(
        F.size(toks_col) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks_col) - n),
            lambda i: F.concat_ws(" ", F.slice(toks_col, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Per-document repetition signals (the Gopher rule family):

    - ``n_lines``, ``dup_line_frac`` — ``1 − distinct/total`` over
      ``\\n``-split lines;
    - ``dup_line_char_frac`` — characters inside lines occurring ≥2
      times (all occurrences), over total line characters;
    - ``top_ngram`` / ``top_ngram_frac`` — the most frequent word
      ``top_n``-gram (ties → lexicographically smallest) and the
      fraction of characters its occurrences cover
      (``count·len(gram) / chars``);
    - ``dup_ngram_frac`` — fraction of ``dup_n``-gram positions that
      are repeats of an earlier position
      (``(positions − distinct) / positions``).

    Every metric is integer counts + ONE final division, so the DuckDB
    oracle is hash-exact under the contract's 1e-6 truncation. All
    aggregation is keyed by ``doc_id`` — no cross-document shuffle.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), "\n").alias("lines"),
        F.split(_normalized_text(text_col), " ").alias("toks"),
        F.length(_normalized_text(text_col)).alias("chars"),
    )

    # --- line metrics (per-doc, from the lines array) -------------------
    line_rows = base.select("doc_id", F.explode("lines").alias("line"))
    per_line = line_rows.groupBy("doc_id", "line").agg(F.count("*").alias("c"))
    lines_agg = per_line.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.count("*").alias("n_distinct_lines"),
        F.sum(F.col("c") * F.length("line")).alias("line_chars"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.length("line")).otherwise(0)
        ).alias("dup_line_chars"),
    )

    # --- top n-gram (count desc, gram asc) ------------------------------
    grams = base.select(
        "doc_id", F.explode(_ngram_positions("toks", top_n)).alias("g")
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("g").asc())
    top = (
        per_gram.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("g").alias("top_ngram"),
            (F.col("c") * F.length("g")).alias("top_ngram_chars"),
        )
    )

    # --- duplicate dup_n-gram position fraction -------------------------
    if dup_n == top_n:
        # same n ⇒ same gram relation: reuse per_gram instead of a second
        # explode+aggregate over the corpus (the heaviest stage here)
        dup = per_gram.groupBy("doc_id").agg(
            F.sum("c").alias("ngram_positions"),
            F.count("*").alias("distinct_ngrams"),
        )
    else:
        dgrams = base.select(
            "doc_id", F.explode(_ngram_positions("toks", dup_n)).alias("g")
        )
        dup = dgrams.groupBy("doc_id").agg(
            F.count("*").alias("ngram_positions"),
            F.countDistinct("g").alias("distinct_ngrams"),
        )

    zero = F.lit(0.0)
    out = (
        base.select("doc_id", "chars")
        .join(lines_agg, "doc_id", "left")
        .join(top, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .na.fill(0, ["ngram_positions", "distinct_ngrams", "top_ngram_chars"])
        .select(
            "doc_id",
            "n_lines",
            F.when(
                F.col("n_lines") > 0,
                F.lit(1.0)
                - F.col("n_distinct_lines").cast("double")
                / F.col("n_lines").cast("double"),
            ).otherwise(zero).alias("dup_line_frac"),
            F.when(
                F.col("line_chars") > 0,
                F.col("dup_line_chars").cast("double")
                / F.col("line_chars").cast("double"),
            ).otherwise(zero).alias("dup_line_char_frac"),
            "top_ngram",
            F.when(
                F.col("chars") > 0,
                F.col("top_ngram_chars").cast("double")
                / F.col("chars").cast("double"),
            ).otherwise(zero).alias("top_ngram_frac"),
            F.when(
                F.col("ngram_positions") > 0,
                (F.col("ngram_positions") - F.col("distinct_ngrams")).cast("double")
                / F.col("ngram_positions").cast("double"),
            ).otherwise(zero).alias("dup_ngram_frac"),
        )
    )
    return out


def pack_chunks(
    docs: DataFrame,
    chunk_tokens: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: conceptually
    concatenate the corpus in ``doc_id`` order and cut it into
    fixed-size ``chunk_tokens`` training windows; report every
    document's placement — ``(doc_id, n_tokens, start_tok, chunk_first,
    chunk_last)`` with ``chunk_first = start_tok div C`` and
    ``chunk_last = (start_tok + n_tokens - 1) div C``. Docs straddle
    chunk boundaries, exactly like pretraining packing; a doc with 0
    whitespace tokens occupies no span and emits no row.

    The global exclusive cumsum of token counts is computed WITHOUT a
    single-partition window: range-repartition by ``doc_id``,
    per-partition running sums, driver-computed partition offsets (one
    tiny agg job) — the ``densify_vertices`` pattern, all integers, so
    the DuckDB window-cumsum oracle matches bit-for-bit."""
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    c = int(chunk_tokens)
    toks = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.cast("long").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    p = max(1, spark.sparkContext.defaultParallelism)
    ranged = (
        base.repartitionByRange(p, "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # re-sampled range boundaries must not move spans
    )
    sums = {
        r["_pid"]: r["s"]
        for r in ranged.groupBy("_pid").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += int(sums[pid])
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy("doc_id")
    start = F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("_off")
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .select("doc_id", "n_tokens", start.alias("start_tok"))
        .withColumn("chunk_first", F.expr(f"start_tok div {c}"))
        .withColumn(
            "chunk_last", F.expr(f"(start_tok + n_tokens - 1) div {c}")
        )
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """``(doc_id, pos, window_hash)`` for every ``window``-token sliding
    window whose md5 occurs in ≥ 2 DISTINCT documents — the
    exact-substring duplication signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    expressed at fixed token-window granularity so it is a pure
    relational pipeline (tokenize → slide → hash → cross-doc
    frequency → flag) instead of a suffix array.

    ``pos`` is the 1-based token offset of the window start. Windows
    repeated only WITHIN one document are not flagged (that signal is
    ``repetition_stats``); documents shorter than ``window`` tokens
    emit no windows. Tokenization is the corpus convention
    (``split(lower(trim(text)), '\\s+')``) shared with the token/vocab
    oracles, and the window hash is md5 of the space-joined tokens, so
    a DuckDB replay is hash-exact.

    Scale shape: the slide is ``transform(sequence(...))`` + posexplode
    — ~|tokens| rows, all whole-stage codegen; the cross-doc frequency
    is one map-side-combined groupBy on the window hash; the flag join
    matches each span row to at most ONE dup-hash row (no fan-out). A
    boilerplate window shared by millions of documents costs its row
    count, never a hot single task."""
    w = int(window)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    starts = F.when(
        F.size(toks) >= w, F.sequence(F.lit(1), F.size(toks) - w + 1)
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(
        starts, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, w)))
    )
    spans = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(hashes).alias("pos0", "window_hash"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "window_hash"
    )
    dup = (
        spans.groupBy("window_hash")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("window_hash")
    )
    return spans.join(dup, "window_hash").select("doc_id", "pos", "window_hash")


def window_dedup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Per-document summary of :func:`duplicate_spans`:
    ``(doc_id, total_windows, dup_windows, dup_fraction)`` over every
    document with ≥ 1 window (≥ ``window`` tokens). ``dup_fraction``
    is the single IEEE division dup/total — with the integer counts it
    is hash-exact cross-engine."""
    w = int(window)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    starts = F.when(
        F.size(toks) >= w, F.sequence(F.lit(1), F.size(toks) - w + 1)
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(
        starts, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, w)))
    )
    spans = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(hashes).alias("window_hash")
    )
    dup = (
        spans.groupBy("window_hash")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("window_hash", F.lit(1).alias("_dup"))
    )
    return (
        spans.join(dup, "window_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("total_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("dup_windows"),
        )
        .select(
            "doc_id",
            "total_windows",
            "dup_windows",
            (
                F.col("dup_windows").cast("double")
                / F.col("total_windows").cast("double")
            ).alias("dup_fraction"),
        )
    )


def line_dedup(
    docs: DataFrame,
    chunk_tokens: int | None = None,
    line_sep: str = "\n",
    join_sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style GLOBAL line-level deduplication (Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span occurring
    more than once in the data set", here at line granularity): across
    the whole corpus, each distinct normalized line is kept exactly once
    — at its first occurrence in ``(doc_id, position)`` order — and
    every other occurrence is dropped. Returns
    ``(doc_id, n_lines, n_kept, clean_text)`` where ``clean_text`` is
    the surviving lines re-joined in original order (empty string when
    everything was dropped; a doc with zero non-empty lines emits no
    row).

    Lines are ``split(text, line_sep)`` trimmed, empties dropped. For
    corpora without line structure pass ``chunk_tokens=C`` to segment
    each document's whitespace tokens into fixed ``C``-token spans
    instead (the Lee-et-al.-style window granularity already used by
    :func:`duplicate_spans`).

    Scale shape: one explode (corpus → lines), ONE shuffle on the line
    text for the first-occurrence window (partition = distinct line;
    the window never spans more rows than one line's occurrence count),
    and one per-doc aggregation whose ``collect_list`` is bounded by a
    single document's own line count — no cross-doc state, no driver
    loop. The keep-first rule is a deterministic total order
    (doc_id, pos), so a DuckDB replay is hash-exact.
    """
    if chunk_tokens is not None and int(chunk_tokens) < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if chunk_tokens is None:
        arr = F.transform(
            F.split(F.col(text_col), line_sep), lambda s: F.trim(s)
        )
    else:
        c = int(chunk_tokens)
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        n_chunks = F.ceil(F.size(toks) / F.lit(float(c))).cast("int")
        arr = F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * c + 1, c)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    lines = (
        docs.select(F.col(id_col).alias("doc_id"), F.posexplode(arr))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("line"))
        .where(F.col("line") != "")
    )
    w = Window.partitionBy("line").orderBy("doc_id", "pos")
    flagged = lines.withColumn("_rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("_rn") == 1, F.struct(F.col("pos"), F.col("line"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_sort(
                F.collect_list(kept_struct)
            ).alias("_kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["line"]),
                join_sep,
            ).alias("clean_text"),
        )
    )


def chunk_windows(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document overlapping token windows — the RAG / long-context
    chunker (sliding context windows WITHIN each document, complementing
    :func:`pack_chunks`' cross-document packing placement).

    Tokens are the whitespace tokens of ``lower(trim(text))``. Window
    starts are ``0, stride, 2*stride, ...`` while ``start < n_tokens``;
    each chunk covers ``tokens[start : start+window]`` clamped at the
    document end, so with ``stride < window`` consecutive chunks overlap
    by ``window - stride`` tokens and every token belongs to ≥1 chunk.
    Returns ``(doc_id, chunk_idx, start_tok, n_tokens, chunk_fp)`` with
    ``chunk_idx = start_tok / stride`` and ``chunk_fp = md5`` of the
    space-rejoined chunk text (the compact identity used for downstream
    chunk-level dedup).

    Scale shape: a pure per-row map (sequence + posexplode + slice) —
    no shuffle, no cross-document state; output rows ≈ corpus tokens /
    stride. All values are integers or md5 hex, so a DuckDB
    generate_series + list_slice replay is hash-exact.
    """
    if int(window) < 1 or int(stride) < 1:
        raise ValueError("window and stride must be >= 1")
    w, s = int(window), int(stride)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks"), F.size(toks).alias("_n")
    ).where(F.col("_n") > 0)
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(s))
    exploded = base.select(
        "doc_id", "_toks", "_n", F.explode(starts).alias("start_tok")
    )
    chunk = F.slice(F.col("_toks"), F.col("start_tok") + 1, w)
    return exploded.select(
        "doc_id",
        (F.col("start_tok") / s).cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.least(F.lit(w), F.col("_n") - F.col("start_tok"))
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.encode(F.array_join(chunk, " "), "UTF-8")).alias("chunk_fp"),
    )


#: PII patterns portable across Java regex (Spark) and RE2 (DuckDB):
#: plain character classes and bounded quantifiers only — no
#: backreferences, no lookaround, so both engines produce identical
#: leftmost non-overlapping match sets.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("digit_run", r"\b[0-9]{13,19}\b", "<NUM>"),
    ("phone", r"\+[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
)


def pii_scan(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document PII pattern scan + redaction — the pre-training
    privacy-scrub pass every corpus pipeline runs before release.

    Counts non-overlapping matches of each :data:`PII_PATTERNS` class
    (emails, dotted IPv4s, 13-19 digit runs — card/account-like — and
    ``+``-prefixed phone-like sequences) in the ORIGINAL text, and
    produces a redacted text in which the classes are replaced IN
    DECLARATION ORDER (emails first, so an address is ``<EMAIL>`` before
    the digit-run pass can see its digits). Returns
    ``(doc_id, n_email, n_ipv4, n_digit_run, n_phone, redacted_fp)``
    where ``redacted_fp = md5(redacted text)`` — the fingerprint proves
    the redacted output byte-identical cross-engine without hauling the
    text through the contract hash.

    Scale shape: a pure per-row map — one scan, no shuffle, no UDF
    (``regexp_extract_all`` / ``regexp_replace`` run in whole-stage
    codegen); at 100 TB this is the cheapest class of pass over the
    corpus.
    """
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *counts,
        F.md5(F.encode(red, "UTF-8")).alias("redacted_fp"),
    )


def max_coverage_docs(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """``(pos, doc_id, new_shingles)`` — greedy maximum-coverage
    subset selection over the word-``n``-gram shingle universe (the
    (1−1/e) submodular greedy): round r picks the document covering
    the most NOT-yet-covered shingles (ties → smaller doc_id) and
    retires its shingles.  The classic coverage-driven training-subset
    / eval-set selector.

    Scale shape: the shingle relation is materialized once; each of
    the ``k`` rounds is one map-side-combinable count, a top-1
    orderBy (takeOrdered), and one anti-join that only SHRINKS the
    remaining relation — no pairwise anything, state is the remaining
    (doc, shingle) table rotated through a checkpoint scope.  Stops early
    when coverage is exhausted."""
    from approximate_pagerank_public_spark.operators.dedup import shingles
    from approximate_pagerank_public_spark.plans.checkpoint import ckpt_scope

    spark = docs.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with ckpt_scope(spark) as cs:
        remaining = cs.ckpt(
            shingles(docs, id_col, text_col, n).repartition(p, "shingle")
        )
        picks: list[tuple[int, int, int]] = []
        for pos in range(1, int(k) + 1):
            top = (
                remaining.groupBy("doc_id")
                .agg(F.count("*").alias("gain"))
                .orderBy(F.col("gain").desc(), F.col("doc_id").asc())
                .first()
            )
            if top is None or int(top["gain"]) == 0:
                break
            picks.append((pos, int(top["doc_id"]), int(top["gain"])))
            won = remaining.where(F.col("doc_id") == int(top["doc_id"])).select(
                "shingle"
            )
            new = cs.ckpt(
                remaining.join(won, "shingle", "left_anti").repartition(p, "shingle")
            )
            cs.free(remaining)
            remaining = new
    import pandas as pd

    out = pd.DataFrame(picks, columns=["pos", "doc_id", "new_shingles"])
    return upload_frame(spark, out.astype("int64"), "pos long, doc_id long, new_shingles long")
