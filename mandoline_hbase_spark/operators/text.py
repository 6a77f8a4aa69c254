"""Text-analysis operators for LLM-data pipelines (SURVEY §7 M5).

All hot-path logic is JVM-side column expressions (whole-stage codegen) —
no Python UDFs. Every helper adds columns; the query catalog pairs them
with DuckDB oracles.

Design notes for 100 TB: these are embarrassingly parallel map-only
operators — no shuffle at all; they pipeline into whatever follows
(dedup groupBy, quality filter, etc.).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mandoline_hbase_spark.operators.ranking import topk_with_rank
from mandoline_hbase_spark.plans.audit import checkpoint_audited

# Tiny per-language stopword alternations for the n-gram/stopword heuristic
# language identifier. ASCII word-boundary regexes work identically in Java
# regex (Spark) and RE2 (DuckDB).
LANG_PATTERNS = {
    "en": r"\b(?:the|of|and|to|in|is|it|a)\b",
    "fr": r"\b(?:le|la|les|des|et|un|une|est|dans)\b",
    "es": r"\b(?:el|los|las|de|y|un|una|es|en)\b",
    "de": r"\b(?:der|die|das|und|ein|eine|ist|zu)\b",
}
CJK_PATTERN = r"[一-鿿]"

# A BPE-ish pre-tokenizer: word pieces, single digits, punctuation marks.
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def _spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition to the session default parallelism before heavy per-row
    compute. The local fixture parquet arrives as a single split, which
    would serialize regex/array work onto one core; at real scale the scan
    already has enough partitions and AQE coalesces the exchange away.
    Hash-keyed when a key is available (no local sort needed); keyless
    callers get plain round-robin, whose per-partition sort makes the
    row placement deterministic under stage retry — hashing on
    monotonically_increasing_id would not be (a refetched shuffle block
    can renumber rows)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def n_tokens(text: Column) -> Column:
    """Whitespace token count, regex-free so every engine agrees:
    ``len(text) - len(replace(text,' ','')) + 1`` for non-empty text."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
    )


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    text = F.col(text_col)
    toks = n_tokens(text)
    return (
        df.withColumn("n_tokens", toks.cast("bigint"))
        .withColumn("n_bpe_tokens", F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("bigint"))
        .withColumn("n_chars_obs", F.length(text).cast("bigint"))
        .withColumn(
            "avg_token_len",
            F.round(
                F.length(F.replace(F.trim(text), F.lit(" "), F.lit("")))
                / F.greatest(toks, F.lit(1)),
                4,
            ),
        )
    )


def with_quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: stopword ratio, symbol ratio, length prior.

    The score formula is arbitrary but deterministic — what matters for the
    engine is that it runs as pure column arithmetic at scan speed.
    """
    text = F.col(text_col)
    toks = F.greatest(n_tokens(text), F.lit(1))
    stop_hits = F.regexp_count(text, F.lit(LANG_PATTERNS["en"]))
    symbols = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    chars = F.greatest(F.length(text), F.lit(1))
    stop_ratio = stop_hits / toks
    symbol_ratio = symbols / chars
    length_prior = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    return (
        df.withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn("symbol_ratio", F.round(symbol_ratio, 4))
        .withColumn(
            "quality_score",
            F.round(
                F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.4
                + (1.0 - symbol_ratio) * 0.3
                + length_prior * 0.3,
                4,
            ),
        )
    )


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword-heuristic language ID (no ML model, scan-speed).

    Scores each language by stopword-regex hit count (CJK by codepoint
    class), then argmax with a fixed tie-break order.
    """
    text = F.col(text_col)
    scores = {lang: F.regexp_count(text, F.lit(pat)) for lang, pat in LANG_PATTERNS.items()}
    scores["zh"] = F.regexp_count(text, F.lit(CJK_PATTERN))
    out = df
    for lang, score in scores.items():
        out = out.withColumn(f"score_{lang}", score.cast("bigint"))
    best = F.greatest(*[F.col(f"score_{lang}") for lang in scores])
    pred = F.lit("unknown")
    # reversed so the CASE chain checks en first (ties resolve in this order)
    for lang in reversed(list(scores)):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    for lang in scores:
        pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercase text
    plus a short prefix usable as a shard/bucket key."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    fp = F.md5(norm)
    return df.withColumn("fingerprint", fp).withColumn("fp_bucket", F.substring(fp, 1, 4))


def with_winnowing_fingerprints(
    df: DataFrame, k: int = 8, window: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: the plagiarism-detection /
    near-copy fingerprint set that survives insertions and reorderings.

    Per doc: hash every char k-gram (the rolling hash), slide a window of
    ``window`` hashes, keep each window's minimum, distinct the kept set.
    The winnowing guarantee: any shared substring of length >= k+window-1
    yields at least one shared fingerprint. All JVM-side higher-order
    array expressions — map-only, scan speed, no shuffle.
    """
    # Stage the normalized text and the gram-hash array as real columns:
    # each is referenced more than once downstream, and CollapseProject
    # refuses to inline non-cheap multiply-referenced aliases, so every
    # row computes the regex normalization once and the n gram hashes once
    # (inlining them into the windows lambda recomputes both per window —
    # O(n^2) regex + hash calls per document).
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    staged = _spread(df).withColumn("_wn_norm", norm)
    n_grams = F.greatest(F.length(F.col("_wn_norm")) - (k - 1), F.lit(0))
    staged = staged.withColumn(
        "_wn_grams",
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.xxhash64(F.substring(F.col("_wn_norm"), i, k)),
        ),
    )
    grams = F.col("_wn_grams")
    n_windows = F.greatest(F.size(grams) - (window - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(grams, j, window)),
        )
    )
    return (
        staged.withColumn(
            "winnow_fps",
            F.when(
                F.length(F.col("_wn_norm")) >= k, fps
            ).otherwise(F.array().cast("array<bigint>")),
        )
        .drop("_wn_norm", "_wn_grams")
    )


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, map-only (no shuffle).

    Per document: ``n_words``, ``dup_word_ratio`` (1 - distinct/total),
    ``top_word_ratio`` (most frequent word's share), ``dup_bigram_ratio``
    (1 - distinct bigrams / total bigrams; 0 for single-word docs).
    High values flag boilerplate / degenerate repetition, the standard
    pre-training corpus filter signals.

    The token and bigram arrays are staged as columns so each is computed
    once per row (see with_winnowing_fingerprints for why inlining them
    into the downstream lambdas goes quadratic).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    staged = (
        _spread(df).withColumn("_rep_toks", toks)
        .withColumn("_rep_sorted", F.array_sort(F.col("_rep_toks")))
    )
    t = F.col("_rep_toks")
    n = F.size(t)
    nd = F.size(F.array_distinct(F.col("_rep_sorted")))
    # Top word frequency = longest equal-run in the sorted token array:
    # one O(n) aggregate pass with a flat struct accumulator, instead of
    # filter-per-distinct-word (O(distinct*n) with an array materialized
    # per distinct word — interpreted-eval cost dominates at corpus scale).
    top_freq = F.aggregate(
        F.col("_rep_sorted"),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    staged = staged.withColumn(
        "_rep_bigrams",
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
        ),
    )
    bg = F.col("_rep_bigrams")
    denom = F.greatest(n, F.lit(1))
    return (
        staged.withColumn("n_words", n.cast("bigint"))
        .withColumn(
            "dup_word_ratio",
            F.round(F.lit(1.0) - nd.cast("double") / denom, 4),
        )
        .withColumn(
            "top_word_ratio",
            F.round(top_freq.cast("double") / denom, 4),
        )
        .withColumn(
            "dup_bigram_ratio",
            F.round(
                F.when(
                    n >= 2,
                    F.lit(1.0)
                    - F.size(F.array_distinct(bg)).cast("double") / F.size(bg),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .drop("_rep_toks", "_rep_sorted", "_rep_bigrams")
    )


def winnowing_similarity(
    df: DataFrame, pairs: DataFrame, k: int = 8, window: int = 4,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Fingerprint-overlap similarity for candidate pairs (winnowing's
    containment measure: |A ∩ B| / |A ∪ B| over fingerprint sets)."""
    fps = with_winnowing_fingerprints(df, k, window, text_col).select(
        F.col(id_col), F.col("winnow_fps")
    )
    a = fps.select(F.col(id_col).alias("id_a"), F.col("winnow_fps").alias("fp_a"))
    b = fps.select(F.col(id_col).alias("id_b"), F.col("winnow_fps").alias("fp_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "fp_jaccard",
            F.round(
                F.size(F.array_intersect("fp_a", "fp_b"))
                / F.size(F.array_union("fp_a", "fp_b")),
                4,
            ),
        )
        .select("id_a", "id_b", "fp_jaccard")
    )


def term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, term, tf)`` — per-document lowercase whitespace-token counts.

    The vocabulary-building primitive: explode is map-side, the count is
    one shuffle keyed on (doc, term). At 100 TB the (doc, term) key space
    is huge but uniform — no skew salt needed; hot *global* terms only
    concentrate in the corpus-level rollup, which aggregates partially
    before shuffling pre-combined (term, count) rows.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return (
        # explode_outer: a non-outer generate's inferred size>0 filter is
        # pushed below the _spread exchange, inlining the split onto the
        # single scan task. split() never yields an empty array, and the
        # length filter already drops any null/empty term.
        _spread(df, id_col).select(F.col(id_col), F.explode_outer(toks).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def vocab_top_terms(
    df: DataFrame, k: int = 50, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level top-k terms by total frequency (ties: term asc).

    Two-stage aggregate (per-doc then global) keeps the global shuffle at
    vocabulary grain, then TakeOrderedAndProject collects only k rows.
    """
    totals = (
        term_frequencies(df, id_col, text_col)
        .groupBy("term")
        .agg(
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
        )
    )
    return topk_with_rank(totals, [F.desc("total_tf"), F.asc("term")], k)


def top_ngrams(
    df: DataFrame, n: int = 2, k: int = 25, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level top-k word n-grams (heavy hitters) by total frequency.

    Same two-stage shape as :func:`vocab_top_terms`: the per-doc count
    partial-combines before the gram-grain shuffle, and the top-k is
    TakeOrderedAndProject over pre-aggregated (gram, count) rows — the
    exact heavy-hitter baseline a sketch (count-min / SpaceSaving) would
    approximate when even the gram-grain shuffle is too wide.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: F.length(t) > 0
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = (
        # explode_outer + null filter: non-outer explode would infer a
        # size>0 filter that pushdown inlines below the _spread exchange,
        # re-running the gram construction serially on the scan task.
        # Docs with < n tokens have an EMPTY gram array, which outer
        # surfaces as a null gram row — dropped explicitly (a filter on
        # the generated column cannot be pushed below the Generate).
        _spread(df, id_col).select(F.col(id_col), F.explode_outer(grams).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    totals = per_doc.groupBy("gram").agg(
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
    )
    return topk_with_rank(totals, [F.desc("total_tf"), F.asc("gram")], k)


def tf_idf_topk(
    df: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF (ties: term asc).

    ``idf = ln((N + 1) / (doc_freq + 1)) + 1`` (sklearn's smooth variant —
    never negative, division-safe). The document count N is a scalar
    subquery -> literal broadcast, not a driver collect; doc_freq joins
    back on term. Rounded to 6 so any engine reproduces the double.
    """
    tf = term_frequencies(df, id_col, text_col)
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
    n = df.select(F.countDistinct(id_col).cast("double").alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tf_idf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0)) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf_idf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "tf_idf")
    )


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): no lookaround, no backreferences, greedy quantifiers only.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, IPv4 addresses, and phone-like digit runs from text.

    The standard pre-training privacy pass: map-only column expressions
    (regexp_count + regexp_replace), zero shuffle, pipelines into the
    scan. Replacement order matters — emails first (their local part can
    contain digits), then IPs (dotted quads would otherwise feed the
    phone pattern), then phones. Adds ``n_pii`` (total matches before
    redaction) and ``text_redacted``.
    """
    text = F.col(text_col)
    n_pii = (
        F.regexp_count(text, F.lit(PII_EMAIL))
        + F.regexp_count(text, F.lit(PII_IPV4))
        + F.regexp_count(text, F.lit(PII_PHONE))
    ).cast("bigint")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return df.withColumn("n_pii", n_pii).withColumn("text_redacted", redacted)


def countmin_sketch(
    grams: DataFrame,
    term_col: str = "gram",
    count_col: str = "tf",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch over (term, count) rows: ``(d, bucket, total)``.

    The mergeable-sketch scale path for heavy hitters: when even the
    gram-grain shuffle of :func:`top_ngrams` is too wide (trillions of
    distinct n-grams), the sketch shuffles at most ``depth x width``
    keys regardless of corpus size, and sketches from disjoint corpus
    shards merge by plain addition. Estimates only ever OVER-count
    (bucket collisions add, never subtract), within eps*N where
    eps ~ e/width with probability 1 - (1/2)^depth.
    """
    rows = grams.select(
        F.col(count_col).alias("_c"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(F.xxhash64(F.col(term_col), F.lit(d)), F.lit(width)).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("e"),
    )
    return (
        rows.select(F.col("e.d").alias("d"), F.col("e.bucket").alias("bucket"), "_c")
        .groupBy("d", "bucket")
        .agg(F.sum("_c").cast("bigint").alias("total"))
    )


def countmin_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str = "gram",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Frequency estimates for ``terms`` from a count-min sketch.

    Each probe term derives its ``depth`` buckets (map-only), joins the
    tiny sketch (broadcast — depth x width rows), and takes the min
    across rows. Missing buckets count as 0.
    """
    probes = terms.select(
        F.col(term_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(F.xxhash64(F.col(term_col), F.lit(d)), F.lit(width)).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("e"),
    ).select(F.col(term_col), F.col("e.d").alias("d"), F.col("e.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(term_col)
        .agg(F.min(F.coalesce("total", F.lit(0))).cast("bigint").alias("est_tf"))
    )


def top_terms_per_group(
    df: DataFrame,
    group_col: str = "source",
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Exact top-k terms PER GROUP (ties: term asc) — the grouped twin of
    :func:`vocab_top_terms`.

    One aggregation at (group, term) grain, then a per-group rank window.
    The rank<=k filter rewrites to ``WindowGroupLimit``, so each window
    partition keeps only k rows through the sort — no group's full
    vocabulary is ever materialized post-shuffle. At 100 TB the shuffle
    key is (group, term), the same grain the counts need anyway.
    """
    tf = (
        df.select(
            F.col(group_col),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(group_col, "rank", "term", "tf")
    )


def with_compression_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deflate compression ratio per document — the classic redundancy
    signal (highly repetitive/boilerplate text compresses far below
    natural prose; Gopher-style filters threshold on it).

    zlib is not expressible as column arithmetic, so this is an
    Arrow-batched pandas UDF (vectorized transfer, per-row zlib.compress
    at level 6 — deterministic bytes for a given input on any platform).
    Adds ``compressed_bytes`` and ``compression_ratio`` (compressed /
    raw, raw measured in UTF-8 bytes; empty docs ratio 0.0).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _raw(s):
        import zlib

        return s.map(lambda t: len(zlib.compress(t.encode("utf-8"), 6)) if t else 0)

    # annotations set as REAL objects: the module-wide deferred-annotation
    # mode would leave them as unresolvable strings for the UDF inferencer
    _raw.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _compressed_len = pandas_udf(_raw, "long")

    out = df.withColumn("compressed_bytes", _compressed_len(F.col(text_col)))
    raw = F.octet_length(F.col(text_col))
    return out.withColumn(
        "compression_ratio",
        F.when(raw == 0, F.lit(0.0)).otherwise(
            F.round(F.col("compressed_bytes") / raw, 4)
        ),
    )


def pmi_cooccurrence(
    df: DataFrame,
    min_pair_docs: int = 5,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_terms_per_doc: int | None = None,
) -> DataFrame:
    """Top-``k`` term pairs by pointwise mutual information over
    document co-occurrence: ``PMI(a,b) = ln(n_ab * N / (n_a * n_b))``
    with ``n_x`` = documents containing x, ``N`` = corpus size —
    the classic word-association miner (collocations, multi-word
    entities, topic seeds).

    Every PMI input is an exact integer count, so the single ``ln``
    per surviving pair is bit-reproducible across engines — no float
    summation anywhere. Plan: (doc, term, tf) aggregate (map-side
    partial combine), within-doc pair self-join, vocabulary²-grain
    pair aggregate with map-side partial combine, ``min_pair_docs``
    prefilter BEFORE the broadcast joins against the term-count table,
    top-k via TakeOrderedAndProject.

    ``max_terms_per_doc`` is the SCALE control on the pair join, whose
    work is Σ per-doc distinct-terms² — one 50k-distinct-term document
    would emit ~1.25B pairs into a single join task. When set, each
    document contributes only its top terms by (tf desc, term asc) —
    a per-doc window over the already doc-keyed tf table, so candidate
    volume is bounded by ``docs * cap²/2``; term document-counts
    ``n_x`` stay corpus-exact (computed before the cap) and only pair
    counts through dropped LOW-TF terms are forgone, the standard
    collocation-mining trade. ``None`` (default) is the uncapped exact
    form — the oracle-parity harness, same scale-path-vs-exact pattern
    as ``sampling.sample_domain_quota``.

    Output: ``(rank, term_a, term_b, n_pair, pmi)`` with ``term_a <
    term_b``, pmi rounded to 6, ties broken lexicographically.
    """
    doc_tf = (
        _spread(df, id_col)
        .select(
            F.col(id_col),
            F.explode_outer(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    # eager checkpoint: tcount and BOTH self-join sides read this
    # table — without it the corpus explode executes three times
    doc_tf = checkpoint_audited(doc_tf)
    # n_t MUST count every containing document (corpus-exact PMI
    # denominators even under the cap), so it aggregates BEFORE the cap
    tcount = doc_tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    if max_terms_per_doc is not None:
        wcap = Window.partitionBy(id_col).orderBy(
            F.col("_tf").desc(), F.col("term").asc()
        )
        terms = (
            doc_tf.withColumn("_tr", F.row_number().over(wcap))
            .filter(F.col("_tr") <= int(max_terms_per_doc))
            .select(id_col, "term")
        )
    else:
        terms = doc_tf.select(id_col, "term")
    n_docs = df.select(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    a = terms.select(F.col(id_col), F.col("term").alias("term_a"))
    b = terms.select(F.col(id_col), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, id_col)
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_pair_docs))
    )
    ta = tcount.select(F.col("term").alias("term_a"), F.col("n_t").alias("_na"))
    tb = tcount.select(F.col("term").alias("term_b"), F.col("n_t").alias("_nb"))
    scored = (
        pairs.join(F.broadcast(ta), "term_a")
        .join(F.broadcast(tb), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") * F.col("n_docs").cast("double"))
                    / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
                ),
                6,
            ),
        )
    )
    order = [F.col("pmi").desc(), F.col("term_a").asc(), F.col("term_b").asc()]
    return topk_with_rank(scored, order, k).select(
        "rank", "term_a", "term_b", "n_pair", "pmi"
    )
