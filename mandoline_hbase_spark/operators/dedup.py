"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The content-addressed chunk store of the storage layer (chunk_id =
sha1(bytes), SURVEY §2 #12) is exact dedup at the blob level; these
operators generalize it to document-level exact and *near* duplicate
detection for LLM training data.

Scale design:
- exact: one groupBy on a hash — the minimal shuffle (map-side partial agg
  on the digest).
- MinHash LSH: shingle -> per-seed min-hash signature (single groupBy) ->
  band hashes -> self-join on (band, band_hash) buckets. Candidate
  generation touches only bucket collisions (no quadratic pair join);
  verification computes exact Jaccard per candidate pair only.
- SimHash: token hash sign-aggregation to one 64-bit code per doc; banding
  on 16-bit sub-keys bounds the pair join the same way.

Everything is JVM-side (xxhash64, explode, groupBy) — no Python in the
hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from mandoline_hbase_spark.plans.audit import checkpoint_audited

from mandoline_hbase_spark.operators.skew import spread_to_parallelism


def tokens_col(text_col: str = "text"):
    return F.split(F.trim(F.col(text_col)), r"\s+")


def word_shingles(n: int = 3, text_col: str = "text"):
    """Word n-gram shingles as an array column (JVM-side transform).

    NOTE: the split expression is captured inside the lambda, so it is
    re-evaluated per shingle position — fine for short texts, quadratic
    for long documents. Prefer :func:`with_shingle_set` (staged, linear)
    in any pipeline path.
    """
    toks = tokens_col(text_col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def with_shingle_set(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "sh",
) -> DataFrame:
    """``(id_col, out_col)`` with the distinct word n-gram shingle set.

    Stages the token array as a column so the whitespace split runs once
    per row instead of once per shingle position (lambda-captured
    expressions are re-evaluated per element — the same quadratic trap as
    text.with_winnowing_fingerprints): linear in document length, which
    is what a 100 TB corpus with megabyte documents requires.
    """
    staged = df.withColumn("_sh_toks", tokens_col(text_col))
    t = F.col("_sh_toks")
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return staged.select(F.col(id_col), F.array_distinct(shingles).alias(out_col))


def shingle_hash_col(th, n: int = 3):
    """Per-position shingle HASHES straight from a STAGED token-hash
    array column ``th`` — the numeric twin of :func:`with_shingle_set`
    that never materializes a shingle string.

    Round-10 stage profile (sf10h, 500k docs): the shingle-string pass
    (per-position ``concat_ws`` + ``array_distinct`` over strings) cost
    7.0s of the signature pipeline's 8.5s — tokenizing was 0.56s and
    the 64 MinHash permutations 1.2s. String shingles are only ever
    needed for the EXACT verify of surviving candidates; everything
    upstream (signatures, df-ranks, prefix buckets) just needs a stable
    injective-w.h.p. shingle key. So: hash each token once, then each
    shingle's key is ``xxhash64`` over its n token-hash slice — all
    fixed-width long arithmetic, no string concat, no string distinct.

    Exactness stance for candidate machinery built on these keys:
    hashing can only MERGE set elements, so for any two docs
    ``J_hash(A,B) >= J_string(A,B)`` and ``C_hash >= C_string``
    (every shared shingle still collides to a shared key; the union
    can only shrink) — a prefix/length/positional filter at threshold
    ``t`` over hashed sets therefore admits EVERY pair the string-exact
    predicate accepts, unconditionally, and false candidates die at
    the string-exact verify. Short/empty docs degrade exactly like
    ``with_shingle_set`` (one whole-text position).

    ``th`` MUST be a staged COLUMN holding the token-hash array
    (``transform(tokens, xxhash64)``), never the transform expression
    itself: a lambda-captured expression re-evaluates per element —
    the quadratic trap ``with_shingle_set`` documents — which here
    would re-hash every token once per shingle position (measured r10:
    the inline form was 2-4x SLOWER than the string pipeline it was
    meant to replace)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(th) - (n - 1), F.lit(1))),
        lambda i: F.xxhash64(F.slice(th, i, n)),
    )


def with_shingle_hash_set(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "shh",
) -> DataFrame:
    """``(id_col, out_col)`` with the DISTINCT shingle-hash set
    (``array<bigint>``) — Arrow-vectorized like
    :func:`minhash_signatures` (same r10 profile: the JVM
    higher-order-function pipeline's boxed-array churn was the floor,
    not hashing). Tokens are hashed once per batch with pandas'
    C-speed siphash, each position's key is the rolling mix of its n
    token hashes, and the per-doc distinct runs in numpy. The key
    family is internal to each call's candidate machinery (explode ->
    df-rank -> buckets -> hashed size filters) and never compared
    across producers, so the merge-argument exactness contract
    (J_hash >= J_string, C_hash >= C_string) is all that matters —
    and it holds for ANY hash function. Kernel is self-contained
    (cloudpickled by value; neutral-cwd sweep safe)."""
    nn = int(n)
    idc, txc, outc = id_col, text_col, out_col

    def _shh_kernel(batches):
        import re

        import numpy as np
        import pandas as pd
        import pyarrow as pa

        # tokenization parity with tokens_col — see minhash_signatures'
        # kernel: Java trim + ASCII-only \s, NOT python str.split()
        _ws = re.compile(r"[ \t\n\x0b\f\r]+")
        _trim = "".join(chr(i) for i in range(33))
        C1, C2 = np.uint64(0x9E3779B97F4A7C15), np.uint64(0xC2B2AE3D27D4EB4F)
        for batch in batches:
            ids = batch.column(idc)
            texts = batch.column(txc).to_pylist()
            toks = [
                _ws.split(t.strip(_trim)) if t else [""] for t in texts
            ]
            lens = np.array([len(t) for t in toks], dtype=np.int64)
            flat = np.empty(int(lens.sum()), dtype=object)
            pos = 0
            for t in toks:
                flat[pos : pos + len(t)] = t
                pos += len(t)
            th = pd.util.hash_array(flat).astype(np.uint64)
            npos = np.maximum(lens - (nn - 1), 1)
            starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            keys = np.zeros(int(npos.sum()), dtype=np.uint64)
            for o in range(nn):
                idx = np.concatenate(
                    [
                        starts[i] + np.minimum(np.arange(npos[i]) + o, lens[i] - 1)
                        for i in range(len(toks))
                    ]
                ) if len(toks) else np.empty(0, dtype=np.int64)
                keys = (keys * C1) ^ (th[idx] + C2)
            kstarts = np.concatenate(([0], np.cumsum(npos)))
            sets = [
                np.unique(keys[kstarts[i] : kstarts[i + 1]]).astype(np.int64)
                for i in range(len(toks))
            ]
            offsets = np.concatenate(([0], np.cumsum([len(s) for s in sets])))
            values = (
                np.concatenate(sets) if sets else np.empty(0, dtype=np.int64)
            )
            shh = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(values, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, shh], names=[idc, outc])

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInArrow(
        _shh_kernel, f"{id_col} {id_type}, {outc} array<bigint>"
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: groups of identical texts.

    Returns one row per duplicate group: canonical (min) id, group size.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact_keep_first(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The deduplicated corpus: keep the min-id row per content hash."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def segment_hashes(
    df: DataFrame, seg_len: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Explode documents into fixed-length non-overlapping word segments,
    keyed by md5 — the "line/paragraph" unit for corpus-level exact
    segment dedup (CCNet-style line dedup, with fixed word windows as the
    segment proxy since the fixture text has no line structure).

    The token array is staged as a column so the split runs once per row,
    not once per segment (see text.with_winnowing_fingerprints).
    Map-only until the explode; at 100 TB the downstream groupBy shuffles
    only (seg_md5, doc_id) pairs, never the text.
    """
    # Spread the single-split fixture scan before the per-row segment md5
    # work (no-op at real scale; AQE coalesces the exchange).
    staged = spread_to_parallelism(df, id_col).withColumn(
        "_seg_toks", tokens_col(text_col)
    )
    t = F.col("_seg_toks")
    n_segs = F.ceil(F.size(t) / F.lit(seg_len)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(n_segs - 1, F.lit(0))),
        lambda s: F.md5(F.concat_ws(" ", F.slice(t, s * seg_len + 1, seg_len))),
    )
    # posexplode_outer, NOT posexplode: the non-outer generate makes the
    # optimizer infer a size(_segs)>0 filter that predicate pushdown then
    # inlines BELOW the exchange — re-running the whole md5 segment
    # pipeline per row on the single pre-exchange scan task. The segment
    # array is never empty, so outer is row-identical.
    return staged.withColumn("_segs", segs).select(
        F.col(id_col), F.posexplode_outer(F.col("_segs")).alias("seg_idx", "seg_md5")
    )


def segment_duplicates(
    df: DataFrame, seg_len: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Segments appearing in more than one document: one row per
    cross-document duplicated segment with its spread and frequency."""
    return (
        segment_hashes(df, seg_len, id_col, text_col)
        .groupBy("seg_md5")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


def segment_texts(
    df: DataFrame, seg_len: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Like :func:`segment_hashes` but emits the segment TEXT instead of
    its md5 — the input for fuzzy (edit-distance) segment matching, where
    the verifier needs the characters, not a digest."""
    staged = spread_to_parallelism(df, id_col).withColumn(
        "_seg_toks", tokens_col(text_col)
    )
    t = F.col("_seg_toks")
    n_segs = F.ceil(F.size(t) / F.lit(seg_len)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), F.greatest(n_segs - 1, F.lit(0))),
        lambda s: F.concat_ws(" ", F.slice(t, s * seg_len + 1, seg_len)),
    )
    return staged.withColumn("_segs", segs).select(
        F.col(id_col), F.posexplode_outer(F.col("_segs")).alias("seg_idx", "seg_text")
    )


def fuzzy_segment_pairs(
    df: DataFrame,
    seg_len: int = 3,
    max_edit: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_block_size: int | None = None,
    max_pairs_per_segment: int | None = None,
) -> DataFrame:
    """Fuzzy segment near-duplicates: distinct segment-text pairs within
    ``max_edit`` Levenshtein distance, candidate-blocked on (first token,
    last token) — the classic blocked fuzzy join from entity resolution,
    applied to corpus segments (catches typo/OCR-level mutations that
    every hash-based dedup misses).

    Scale shape: one shuffle for the segment distinct, one for the block
    self-join; Levenshtein runs JVM-side (built-in) on candidates only,
    so verify work is sum over blocks of |block|^2, never corpus^2. The
    block key bounds candidates the way LSH bands do for MinHash;
    ``max_block_size`` routes candidate generation through
    ``banded_candidate_pairs`` so a degenerate block (every segment
    starting and ending with the same token) degrades to star pairing
    around its min segment instead of a quadratic join task — exactly
    the LSH hot-bucket guard, reused. ``None`` keeps the exact all-pairs
    block join (the oracle-checked form).

    ``max_pairs_per_segment`` (VERDICT r8 #3) is the CAPPED mode for
    corpora where the answer itself is super-linear: the full form
    materializes every qualifying pair (30.3 M at the sf10h step; the
    next 10x is ~500 M rows nobody reads), and since verify cost is
    constant per pair, the answer IS the wall time. The cap is the
    SORTED-NEIGHBORHOOD method (Hernandez & Stolfo's classic blocked-ER
    windowing): within each (first,last)-token block, members are
    ranked once by (length asc, seg asc) — a SEGMENT-grain window,
    linear, never a pair-grain shuffle — and each member pairs with
    only its next ``max_pairs_per_segment`` followers in that order.
    A hot block of b members emits K*b candidates instead of b^2/2
    (small blocks are unchanged: rank gaps beyond the block simply
    never join), so both verify work AND output are linear in the
    corpus with a constant K. Length-adjacent ordering is the
    exactness-correlated key (edit <= k forces length gap <= k), and
    every emitted pair carries the identical edit_dist the full form
    reports; what the cap trades is recall for neighbors more than K
    positions away in the block's length order — the standard
    windowing trade, same family as LSH banding. Deterministic rank +
    tie-break = a scalar SQL engine reproduces the capped answer
    value-for-value. A first attempt capped per-seg_a with a window
    OVER THE PAIR SET — that shuffles the quadratic candidate volume
    the full form kills map-side, and measured 2.3x SLOWER than
    uncapped at sf10h; the block-member window is the fix.
    """
    segs = segment_texts(df, seg_len, id_col, text_col).select("seg_text").distinct()
    toks = F.split(F.col("seg_text"), " ")
    blocked = segs.select(
        "seg_text",
        F.element_at(toks, 1).alias("_f"),
        F.element_at(toks, -1).alias("_l"),
    )
    if max_block_size is not None:
        pairs = banded_candidate_pairs(
            blocked, id_col="seg_text", keys=("_f", "_l"), max_bucket_size=max_block_size
        ).select(F.col("id_a").alias("seg_a"), F.col("id_b").alias("seg_b"))
    else:
        a = blocked.select(F.col("seg_text").alias("seg_a"), "_f", "_l")
        b = blocked.select(F.col("seg_text").alias("seg_b"), "_f", "_l")
        pairs = (
            a.join(b, ["_f", "_l"])
            .filter(F.col("seg_a") < F.col("seg_b"))
            .select("seg_a", "seg_b")
        )
    # Exact-preserving verify cheapeners (both sides of the r8 sf10
    # measurement: hot Zipf blocks grow quadratically, so per-pair cost
    # dominates): (1) edit distance <= k forces |len(a)-len(b)| <= k —
    # two ints kill most of a hot block's pairs before any DP runs;
    # (2) the THRESHOLD form of levenshtein runs the banded DP
    # (O(k*L), returns -1 past the bound) instead of the full O(L^2)
    # table. Kept rows carry the identical edit_dist values, so the
    # brute-force oracle is unchanged.
    if max_pairs_per_segment is not None:
        from pyspark.sql import Window

        k = int(max_pairs_per_segment)
        w = Window.partitionBy("_f", "_l").orderBy(
            F.length("seg_text").asc(), F.col("seg_text").asc()
        )
        # r11 (VERDICT r10 #5): the "next K followers in rank order" ARE
        # lead(1..K) over the SAME window — the old form materialized
        # row_number, exploded K probe ranks per member and self-joined
        # back on (_f,_l,_rk), which shuffled the (K+1)n rank rows twice
        # more and sorted them again for the join. lead() emits the
        # identical pairs (seg_text is distinct within a block and the
        # (length, seg) order is total, so rank r+i == lead(i)) in ONE
        # window pass over the one existing exchange; blocks with fewer
        # than i followers yield nulls, compacted away before explode.
        # length-bucketed neighborhood (VERDICT r10 #5): the window is
        # length-ASC, so a follower's length gap only grows with lead
        # offset, and any follower with gap > max_edit is provably dead
        # (edit <= k forces |len gap| <= k — the same band the verify
        # applies). Pruning them INSIDE the array keeps the dead pairs
        # out of the explode and the downstream projection entirely;
        # output is identical because the banded filter would drop
        # exactly these rows.
        pairs = (
            blocked.select(
                F.col("seg_text").alias("_sa"),
                F.filter(
                    F.array_compact(
                        F.array(
                            *[F.lead("seg_text", i).over(w) for i in range(1, k + 1)]
                        )
                    ),
                    lambda x: F.length(x) - F.length("seg_text")
                    <= F.lit(int(max_edit)),
                ).alias("_nbrs"),
            )
            .select("_sa", F.explode("_nbrs").alias("_sb"))
            .select(
                F.least("_sa", "_sb").alias("seg_a"),
                F.greatest("_sa", "_sb").alias("seg_b"),
            )
        )
    banded = pairs.filter(
        (F.length("seg_a") - F.length("seg_b") <= max_edit)
        & (F.length("seg_b") - F.length("seg_a") <= max_edit)
    )
    return (
        banded.select(
            "seg_a",
            "seg_b",
            F.levenshtein("seg_a", "seg_b", int(max_edit))
            .cast("bigint")
            .alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_edit))
    )


def ngram_hashes(
    df: DataFrame, n: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Explode documents into OVERLAPPING word n-gram hashes (stride 1):
    ``(id_col, gram_idx, gram_md5)``, one row per window position.

    Unlike :func:`segment_hashes` (non-overlapping windows), stride-1
    windows detect a duplicated span at ANY token alignment — the unit
    used by exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"). Docs with
    fewer than ``n`` tokens emit zero rows.

    Map-only until the explode; the token array is staged once per row so
    the split is linear in document length, and only 32-char md5 hex
    strings (never the text) reach the downstream shuffle. At 100 TB this
    is scan-speed work; output volume is ~n_tokens rows per doc, the same
    order as the tokenized corpus itself.
    """
    staged = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    ).withColumn("_ng_toks", tokens_col(text_col))
    t = F.col("_ng_toks")
    n_wins = F.greatest(F.size(t) - (n - 1), F.lit(0))
    grams = F.when(n_wins == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_wins, F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, n))),
        )
    )
    # posexplode_outer + null filter: the non-outer generate would let the
    # optimizer infer a size>0 predicate below the exchange (see
    # segment_hashes); the explicit filter stays above the generate.
    return (
        staged.withColumn("_grams", grams)
        .select(F.col(id_col), F.posexplode_outer("_grams").alias("gram_idx", "gram_md5"))
        .filter(F.col("gram_md5").isNotNull())
    )


def duplicated_ngram_spans(
    df: DataFrame,
    n: int = 4,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated n-gram spans: every overlapping n-token
    window that occurs in at least ``min_docs`` distinct documents, with
    its document spread and total occurrence count.

    One shuffle on the gram hash; ``countDistinct`` plans as Spark's
    two-phase expand+partial aggregate, so the map side combines before
    the exchange. The output is the span blocklist an exact-substring
    dedup pass would subtract from the corpus.
    """
    return (
        ngram_hashes(df, n, id_col, text_col)
        .groupBy("gram_md5")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicate_gram_fraction(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document duplicated-n-gram fraction (Gopher-style repetition
    signal, but CROSS-document): the fraction of a doc's n-gram window
    occurrences whose gram also appears in some other document.

    Two shuffles, both keyed on ``gram_md5``: the spread aggregate and the
    join back onto the gram rows (the aggregate's output partitioning is
    reused by the join, so only the gram side re-shuffles). The per-doc
    rollup then shuffles (doc_id, counts) only. Docs with fewer than ``n``
    tokens surface with ``n_grams = 0`` and fraction 0.0 via the left
    join, so the operator is total over the corpus.
    """
    grams = ngram_hashes(df, n, id_col, text_col)
    spread = grams.groupBy("gram_md5").agg(F.countDistinct(id_col).alias("_nd"))
    per_doc = (
        grams.join(spread, "gram_md5")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0)).alias("n_dup_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("bigint").alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("n_dup_grams"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
                4,
            ).alias("dup_gram_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 4,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring span REMOVAL (the rewrite half of Lee et al. 2022):
    delete every token covered by an n-gram window that occurs in
    ``min_docs``+ distinct documents, and reassemble the surviving tokens
    in order as ``cleaned_text``.

    Fully distributed, linear in corpus token count — no per-doc quadratic
    scan: tokens and duplicated window positions are exploded to rows, the
    covered positions are subtracted with a ``left_anti`` join keyed on
    ``(doc, position)``, and the doc is rebuilt with
    ``array_sort(collect_list(struct(pos, tok)))``. All shuffles are keyed
    on the gram hash or the doc id; the text itself crosses the exchange
    once (token rows), which is the floor for any rewrite operator.
    Whitespace-only docs come back with zero tokens; docs that survive
    untouched return their normalized (single-space) token join.
    """
    grams = ngram_hashes(df, n, id_col, text_col)
    dup = (
        grams.groupBy("gram_md5")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram_md5")
    )
    covered = (
        grams.join(dup, "gram_md5")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("gram_idx"), F.col("gram_idx") + (n - 1))
            ).alias("k"),
        )
        .distinct()
    )
    return _subtract_covered_and_rebuild(df, covered, id_col, text_col)


def _subtract_covered_and_rebuild(
    df: DataFrame, covered: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared rewrite tail of the span operators: drop the (doc, position)
    rows in ``covered`` and reassemble each doc's surviving tokens in
    order. Anti-join keyed on (doc, position); the text crosses the
    exchange once as token rows — the floor for any rewrite."""
    toks = (
        spread_to_parallelism(df, id_col)
        .withColumn("_t", tokens_col(text_col))
        .select(F.col(id_col), F.posexplode_outer("_t").alias("k", "tok"))
        .filter(F.col("tok") != "")
    )
    kept = toks.join(covered, [id_col, "k"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("_cleaned"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_n_kept"), F.lit(0)).cast("bigint").alias("n_kept_tokens"),
            F.coalesce(F.col("_cleaned"), F.lit("")).alias("cleaned_text"),
        )
    )


def decontaminate_spans(
    df: DataFrame,
    eval_df: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """SPAN-level benchmark decontamination: remove every token covered
    by an n-gram window that also appears in the evaluation set, keeping
    the rest of the document — where ``decontam_overlap`` only FLAGS
    contaminated documents, this rewrites them (the practice for large
    corpora: dropping whole documents over one quoted benchmark line
    wastes data; leaving the line leaks the benchmark).

    The eval set's distinct gram hashes are the broadcast probe side
    (eval sets are tiny relative to the corpus); corpus grams stream
    past it map-side, so the only corpus-sized shuffles are the
    (doc, position) anti-join and the per-doc rebuild — identical cost
    shape to :func:`remove_duplicated_spans`.
    """
    grams = ngram_hashes(df, n, id_col, text_col)
    eval_grams = (
        ngram_hashes(eval_df, n, eval_id_col, eval_text_col)
        .select("gram_md5")
        .distinct()
    )
    covered = (
        grams.join(F.broadcast(eval_grams), "gram_md5")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("gram_idx"), F.col("gram_idx") + (n - 1))
            ).alias("k"),
        )
        .distinct()
    )
    return _subtract_covered_and_rebuild(df, covered, id_col, text_col)


def doc_shingle_features(
    df: DataFrame,
    num_hashes: int = 64,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc feature table: distinct shingle set + MinHash signature array.

    Computed in ONE map-only pass — the signature is
    ``array_min(transform(shingles, s -> xxhash64(s, seed_i)))`` per hash
    function, so there is NO explode and NO groupBy shuffle. At 100 TB this
    is embarrassingly parallel scan-speed work; the only shuffle in the
    whole dedup pipeline is the downstream bucket join.

    Input is repartitioned to the session default parallelism because the
    small fixture parquet arrives as a single split; at real scale the scan
    already has enough partitions and the repartition coalesces into AQE.
    """
    # Repartition the raw input BEFORE shingling: the shingle/signature
    # work then runs post-exchange on every core, and the exchange moves
    # raw text instead of the much wider shingle array.
    spread = spread_to_parallelism(df, id_col)
    # BOTH the token array and the token-hash array are staged as
    # columns: a lambda-captured expression re-evaluates per element
    # (the quadratic trap documented on with_shingle_set), so slicing
    # an inline transform would re-hash every token per position.
    staged = spread.withColumn("_sh_toks", tokens_col(text_col)).withColumn(
        "_sh_th", F.transform(F.col("_sh_toks"), lambda x: F.xxhash64(x))
    )
    t = F.col("_sh_toks")
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (shingle_n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, shingle_n)),
    )
    # Signature over the TOKEN-HASH shingle keys (round 10, see
    # shingle_hash_col): hash each token once, key each shingle by the
    # long-hash of its token-hash slice, and take per-permutation
    # minima of xxhash64(key, i). min over the position MULTISET equals
    # min over the distinct set, so this is value-identical to the
    # hash-aggregate scale producer ``minhash_signatures`` (tested) —
    # the incremental/streaming admission paths compare signatures
    # across the two producers. The string shingle set is still
    # materialized HERE because this one-pass form exists exactly for
    # consumers that need features + signature together. ``_sh_hs`` is
    # STAGED (lambda capture re-evaluates expressions per element —
    # the documented quadratic trap).
    staged = staged.withColumn("_sh_hs", shingle_hash_col(F.col("_sh_th"), shingle_n))
    g = max(1, int(math.isqrt(num_hashes)))
    while num_hashes % g:
        g -= 1
    q = num_hashes // g
    # same seed-pair XOR family as minhash_signatures (i -> xa[i//g] ^
    # xb[i%g], xb seeds offset by q) — value-identity is tested
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    max_long = (1 << 63) - 1
    sig = F.aggregate(
        F.col("_sh_hs"),
        F.array_repeat(F.lit(max_long).cast("bigint"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            seeds,
            lambda m, i: F.least(
                m,
                F.xxhash64(h, F.floor(i / g).cast("int")).bitwiseXOR(
                    F.xxhash64(h, (F.lit(q) + F.pmod(i, F.lit(g))).cast("int"))
                ),
            ),
        ),
    )
    return staged.select(
        F.col(id_col),
        F.array_distinct(shingles).alias("sh"),
        sig.alias("sig"),
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc MinHash signature as ``sig ARRAY<BIGINT>`` — the SCALE
    producer (round 10, VERDICT r9 #1).

    The r10 stage profiles (sf10h, 500k docs) walked the JVM expression
    pipeline down from 12.2s to its floor and then stepped off it:

    - shingle STRINGS (concat_ws + string array_distinct) were 7.0s of
      the 8.5s feature cost -> replaced by token-hash shingle keys;
    - the 64 per-position permutation hashes were then suspected ->
      a seed-pair XOR family (2*sqrt(n) staged hashes) moved NOTHING,
      proving the floor was the boxed GenericArrayData churn of the
      higher-order-function pipeline itself (~5s for 26M positions),
      not hashing;
    - a one-permutation-hashing variant was 12x WORSE (collect_list's
      ObjectHashAggregate degrades to sort-based aggregation past 128
      groups/partition, and bucket-min signatures band-collide across
      unrelated docs sharing common shingles: candidates 25.6k ->
      271.6k).

    So the scale producer is an ARROW-VECTORIZED kernel (mapInArrow —
    the structure VERDICT r9 #1 suggested): per batch, tokenize in
    Python, hash every token ONCE with pandas' C-speed siphash
    (``pd.util.hash_array``, fixed key — deterministic across workers
    and runs), build each position's shingle key as a rolling mix of
    its n token hashes, and take the 64 permutation minima as
    ``min((a_i*h + b_i) mod 2^64)`` with numpy's wrapping uint64
    arithmetic + ``np.minimum.reduceat`` per doc — zero boxed
    allocation, zero shuffle (signatures are born doc-grain). Measured
    sf10h: 2.4s vs 6.0s for the best JVM form.

    FAMILY DIVERGENCE — READ BEFORE MIXING PRODUCERS: this producer's
    signature VALUES differ from ``doc_shingle_features``'s JVM
    xxhash64 family. Signatures are only ever comparable WITHIN one
    producer. Current consumers are cleanly split (this one feeds
    ``minhash_lsh_candidates`` / ``minhash_near_duplicates``; the JVM
    one-pass form feeds the incremental/streaming admission paths,
    both sides each) — tests pin each path's self-consistency. Never
    probe an index persisted by one family with signatures from the
    other.

    Short docs (< shingle_n tokens) key their single position on the
    clamped token window; empty/null text degrades to the [""] token
    exactly like ``tokens_col``.
    """
    import pandas as _pd  # noqa: F401 — import-probe before shipping the kernel

    num = int(num_hashes)
    n = int(shingle_n)
    idc, txc = id_col, text_col

    def _sig_kernel(batches):
        # self-contained (cloudpickled by value): neutral-cwd drivers
        # cannot import repo modules inside python workers
        import re

        import numpy as np
        import pandas as pd
        import pyarrow as pa

        # tokenization parity with tokens_col = split(trim(text), \s+):
        # Java trim strips chars <= U+0020 and Java \s is ASCII-only —
        # python str.split() splits Unicode whitespace (U+00A0 etc.)
        # and would produce a DIFFERENT token stream than the JVM
        # string-shingle verify, breaking the J_hash >= J_string merge
        # argument on non-ASCII-space documents
        _ws = re.compile(r"[ \t\n\x0b\f\r]+")
        _trim = "".join(chr(i) for i in range(33))
        rng = np.random.default_rng(42)
        A = (rng.integers(0, 2**63, num, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
        B = rng.integers(0, 2**63, num, dtype=np.uint64)
        C1, C2 = np.uint64(0x9E3779B97F4A7C15), np.uint64(0xC2B2AE3D27D4EB4F)
        for batch in batches:
            ids = batch.column(idc)
            texts = batch.column(txc).to_pylist()
            toks = [
                _ws.split(t.strip(_trim)) if t else [""] for t in texts
            ]
            lens = np.array([len(t) for t in toks], dtype=np.int64)
            flat = np.empty(int(lens.sum()), dtype=object)
            pos = 0
            for t in toks:
                flat[pos : pos + len(t)] = t
                pos += len(t)
            th = pd.util.hash_array(flat).astype(np.uint64)
            npos = np.maximum(lens - (n - 1), 1)
            starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            kstarts = np.concatenate(([0], np.cumsum(npos)))[:-1]
            keys = np.zeros(int(npos.sum()), dtype=np.uint64)
            for o in range(n):
                idx = np.concatenate(
                    [
                        starts[i] + np.minimum(np.arange(npos[i]) + o, lens[i] - 1)
                        for i in range(len(toks))
                    ]
                ) if len(toks) else np.empty(0, dtype=np.int64)
                keys = (keys * C1) ^ (th[idx] + C2)
            sigs = np.empty((len(toks), num), dtype=np.uint64)
            for j in range(num):
                sigs[:, j] = np.minimum.reduceat(A[j] * keys + B[j], kstarts)
            sig_col = pa.FixedSizeListArray.from_arrays(
                pa.array(sigs.astype(np.int64).ravel(), type=pa.int64()), num
            ).cast(pa.list_(pa.int64()))
            yield pa.RecordBatch.from_arrays([ids, sig_col], names=[idc, "sig"])

    id_type = df.schema[id_col].dataType.simpleString()
    return spread_to_parallelism(df.select(id_col, text_col), id_col).mapInArrow(
        _sig_kernel, f"{id_col} {id_type}, sig array<bigint>"
    )


def _band_stack(features: DataFrame, num_hashes: int, bands: int, id_col: str) -> DataFrame:
    """Explode each signature into (id, band, band_hash) rows for bucketing."""
    rows_per_band = num_hashes // bands
    return features.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)).alias(
                            "bh"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select(F.col(id_col), F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def banded_candidate_pairs(
    stacked: DataFrame,
    id_col: str = "doc_id",
    keys: tuple[str, ...] = ("band", "bh"),
    max_bucket_size: int = 512,
    hot_broadcast_max: int = 1_000_000,
    stats: dict | None = None,
    payload: tuple[str, ...] = (),
    pair_filter=None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from bucket co-membership,
    with a hot-bucket guard.

    Buckets up to ``max_bucket_size`` members emit all pairs via the
    band self-join — the normal case, output identical to an unguarded
    join. Larger buckets (degenerate band values: boilerplate-heavy
    corpora hash thousands of docs into one ``(band, bh)``) would make a
    single join task quadratic; they degrade to STAR pairing around the
    bucket's min id: candidate volume drops from O(n^2) to O(n) and
    CANDIDATE connectivity is preserved — every member still reaches
    every other through the hub, which is what cluster assignment and
    keep-one dedup consume. The honest cost: pairs between two non-hub
    members of a hot bucket are only ever VERIFIED against the hub, so
    a true near-dup pair whose members both fail the hub check is lost
    — post-verification recall in degenerate buckets is hub-relative,
    a bounded recall trade of the same kind as LSH banding itself.
    Buckets only exceed the cap on pathological corpora (the driver
    fixtures never do, so the oracle-checked queries stay exact); pass
    ``max_bucket_size`` high (or restructure with longer bands) when
    exact within-bucket recall matters more than the quadratic task.

    Adaptive plan selection (the guard must not tax healthy corpora):
    one hash-aggregation on ``keys`` sizes the buckets, and the driver
    sees only the NUMBER of hot buckets (O(1) state).

    - zero hot buckets — the common case — runs the plain band
      self-join, zero guard machinery in the executed plan;
    - few hot buckets (≤ ``hot_broadcast_max``) split the stack with a
      broadcast anti-join (map-side, no extra shuffle): cold buckets
      all-pairs, hot buckets star rows from the broadcast hub;
    - pathologically many hot buckets fall back to the fully
      distributed sizing window, whose exchange the join reuses;
    - ``max_bucket_size >= 2**31 - 1`` declares the guard off: the
      sizing job is skipped and the zero-hot plain self-join runs;
      ``stats["n_hot"]`` is 0 by construction (no bucket can exceed
      the cap), not measured.

    All four emit identical pair sets for the same input and cap. Callers are
    batch-context (the streaming user runs inside foreachBatch), so the
    sizing job at build time is legal.

    ``stats`` (optional out-param): the guard's activation is made
    MACHINE-VISIBLE, not just documented — ``stats["n_hot"]`` is set to
    the number of buckets that degraded to star pairing (0 on healthy
    corpora; when it exceeds ``hot_broadcast_max`` the value is the
    probe cap + 1, a lower bound). Callers advertising exactness
    (``prefix_filter_near_duplicates``) propagate it so an operator can
    detect at runtime that the EXACT contract narrowed to the
    hub-relative bound instead of discovering it in a docstring.

    ``payload`` / ``pair_filter`` (the PPJoin hook): extra per-row
    columns carried through the self-join, and a row-level predicate
    ``pair_filter(A, B)`` over them — ``A("col")``/``B("col")`` resolve
    the two sides — applied to each CO-OCCURRENCE row BEFORE the
    distinct, where pruning is cheapest (it shrinks the dedup shuffle
    itself). A pair survives if ANY of its co-occurrence rows passes,
    so a filter only needs to be valid on at least one row of every
    true pair (positional bounds are valid on the pair's first shared
    key in a global order — see the caller). The filter is applied ONLY
    when ZERO buckets are hot: with hot buckets, a pair's first-shared-
    key row may have been diverted to star pairing, and filtering its
    later rows with the first-row bound would drop true pairs beyond
    the documented hub-relative trade — so a hot corpus degrades to
    unfiltered candidates (guard contract unchanged), observable via
    ``stats["n_hot"]`` as ever.
    """
    from pyspark.sql import Window

    st = stacked.select(id_col, *keys, *payload)

    def _all_pairs(src: DataFrame) -> DataFrame:
        a, b = src.alias("a"), src.alias("b")
        j = a.join(b, list(keys)).filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        if pair_filter is not None:
            j = j.filter(
                pair_filter(
                    lambda c: F.col(f"a.{c}"), lambda c: F.col(f"b.{c}")
                )
            )
        return j.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )

    # r11 (session 2): a caller passing max_bucket_size >= 2^31-1 has
    # declared the guard OFF (the oracle-anchor exactness configs do
    # this) — no bucket can trip a cap that exceeds any count a
    # feasible self-join could survive, so n_hot is 0 by construction
    # and the sizing aggregation would be a pure extra pass over the
    # full candidate pipeline. Skip the job entirely (guide §5 job
    # diet: measured ~7.5 s of dedup_prefix_filter's 25.6 s sf10h wall
    # was this sizing pass re-executing the explode+df+rank chain).
    # Guarded callers (finite caps) keep the sizing job unchanged.
    if max_bucket_size >= 2**31 - 1:
        if stats is not None:
            stats["n_hot"] = 0
        return _all_pairs(st).distinct()
    sizes = st.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_bsz"), F.min(id_col).alias("_hub")
    )
    hot = sizes.filter(F.col("_bsz") > max_bucket_size)
    n_hot = hot.limit(hot_broadcast_max + 1).count()
    if stats is not None:
        stats["n_hot"] = int(n_hot)
    if n_hot and pair_filter is not None:
        # Code-review r8: a positional bound is only valid on the row of
        # a pair's FIRST shared key, and with hot buckets in play that
        # row may have been diverted to star pairing — filtering the
        # pair's later (cold-bucket) rows with the first-row bound would
        # drop true pairs BEYOND the documented hub-relative recall
        # trade. Degrade to unfiltered candidates instead: on a hot
        # corpus the guard's contract stays exactly what it always was.
        pair_filter = None

    if n_hot == 0:
        return _all_pairs(st).distinct()

    if n_hot <= hot_broadcast_max:
        hot_keys = F.broadcast(hot.select(*keys))
        small_pairs = _all_pairs(st.join(hot_keys, list(keys), "left_anti"))
        star_pairs = (
            st.join(F.broadcast(hot), list(keys))
            .filter(F.col(id_col) != F.col("_hub"))
            .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        return small_pairs.union(star_pairs).distinct()

    w = Window.partitionBy(*keys)
    sized = st.withColumn("_bsz", F.count(F.lit(1)).over(w)).withColumn(
        "_hub", F.min(id_col).over(w)
    )
    small = sized.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz", "_hub")
    star_pairs = (
        sized.filter((F.col("_bsz") > max_bucket_size) & (F.col(id_col) != F.col("_hub")))
        .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return _all_pairs(small).union(star_pairs).distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 512,
    stats: dict | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    rows-per-band = num_hashes // bands; two docs collide if any band of
    their signatures matches exactly. Returns distinct (id_a, id_b) with
    id_a < id_b. Oversized buckets degrade to star pairing (see
    ``banded_candidate_pairs``; ``stats["n_hot"]`` reports how many).
    """
    features = minhash_signatures(df, num_hashes, shingle_n, id_col, text_col)
    stacked = _band_stack(features, num_hashes, bands, id_col)
    return banded_candidate_pairs(
        stacked, id_col, max_bucket_size=max_bucket_size, stats=stats
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_features: bool = False,
    threshold: float | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for the given candidate pairs.

    ``broadcast_features=True`` is for the BRUTE-FORCE baselines (pair
    count quadratic, corpus small by definition): without it Spark
    sort-merge-joins the shingle table into the pair stream — at sf0.1
    that shuffles 12.5M pairs each carrying two multi-KB shingle
    arrays, and the theta-join's single-split stream side ran it all in
    ONE task (measured: the bench stalled for tens of minutes). With
    the corpus shingle table broadcast, pairs stream map-side and the
    arrays exist only transiently inside the stage. Never set it on a
    scale path — a 100 TB corpus's features don't broadcast; the scale
    paths pass verified CANDIDATE pairs here, which keep the default
    shuffled join.

    ``threshold`` (r11): when the caller only keeps pairs with
    ``round(jaccard, 4) >= threshold``, pass it here instead of
    filtering afterwards — the quadratic per-pair work then runs on the
    8-byte shingle-HASH sets (``J_hash >= J_string``, so filtering the
    hashed estimate at ``threshold - 1e-4`` admits every pair the
    rounded string predicate accepts — the margin covers the round-up
    of values in [t - 0.00005, t)), and only the surviving candidates
    pay the string-exact verify that produces the returned value.
    Output is identical to ``.filter(round_jaccard >= threshold)`` on
    the default path; per-pair cost drops from two string-array set ops
    to one long-array intersect (union size is derived from the staged
    per-doc set sizes: ``|A| + |B| - |A∩B|``, exact on distinct sets).
    """
    if threshold is not None:
        from mandoline_hbase_spark.plans.audit import checkpoint_audited

        hs = checkpoint_audited(
            with_shingle_hash_set(df, shingle_n, id_col, text_col).select(
                F.col(id_col), F.col("shh"), F.size("shh").alias("_hn")
            )
        )
        ha = hs.select(
            F.col(id_col).alias("id_a"),
            F.col("shh").alias("shh_a"),
            F.col("_hn").alias("_hn_a"),
        )
        hb = hs.select(
            F.col(id_col).alias("id_b"),
            F.col("shh").alias("shh_b"),
            F.col("_hn").alias("_hn_b"),
        )
        if broadcast_features:
            ha, hb = F.broadcast(ha), F.broadcast(hb)
            pairs = spread_to_parallelism(pairs, "id_a")
        ih = F.size(F.array_intersect("shh_a", "shh_b"))
        cand = (
            pairs.join(ha, "id_a")
            .join(hb, "id_b")
            .withColumn("_ih", ih)
            .filter(
                F.col("_ih").cast("double")
                / (F.col("_hn_a") + F.col("_hn_b") - F.col("_ih")).cast("double")
                >= F.lit(float(threshold) - 1e-4)
            )
            .select("id_a", "id_b")
        )
        sh = with_shingle_set(df, shingle_n, id_col, text_col)
        sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        i_s = F.size(F.array_intersect("sh_a", "sh_b"))
        return (
            cand.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .withColumn("_i", i_s)
            .withColumn(
                "jaccard",
                F.round(
                    F.col("_i") / (F.size("sh_a") + F.size("sh_b") - F.col("_i")),
                    4,
                ),
            )
            .filter(F.col("jaccard") >= float(threshold))
            .select("id_a", "id_b", "jaccard")
        )

    sh = with_shingle_set(df, shingle_n, id_col, text_col)
    if broadcast_features:
        sh = F.broadcast(sh)
        pairs = spread_to_parallelism(pairs, "id_a")
    return (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_near_duplicates(
    df: DataFrame,
    threshold: float = 0.7,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 4096,
    stats: dict | None = None,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin-style):
    all pairs with shingle-Jaccard >= ``threshold``, no probabilistic
    recall bound — the deterministic alternative to MinHash-LSH.

    Prefix-filter principle: order each doc's shingles by a GLOBAL rank
    (corpus document-frequency asc, shingle asc — rarest first); if
    ``J(A,B) >= t`` the two docs MUST share a shingle inside their
    first ``|X| - floor(t*|X|) + 1`` shingles (one more than the tight
    ``ceil`` bound, absorbing float rounding of ``t*|X|`` on the safe
    side). Only those prefix shingles generate candidates, and because
    the global order puts RARE shingles first, prefix buckets are small
    by construction — boilerplate shingles ("all rights reserved")
    have huge df, sort last, and never enter a prefix unless a doc is
    nearly all boilerplate.

    Plan at 100 TB: explode is map-side; the df aggregate is
    vocabulary-grain with map-side partial combine; the rank window is
    keyed per doc (bounded by doc length); candidates then pass
    PPJoin's POSITIONAL filter — an integer upper bound from the
    first shared token's positions prunes pairs that can no longer
    reach the overlap requirement before any shingle array is joined
    (provably conservative, so exactness is untouched); the candidate
    self-join is
    bucket-bounded through the same adaptive hot-key guard the LSH path
    uses (``max_bucket_size`` defaults higher here since degradation
    to star pairs would cost exactness — a corpus that trips it gets
    the documented bounded undercount, same contract as
    ``banded_candidate_pairs``); the verify join is id-keyed.

    Pass a ``stats`` dict to OBSERVE the guard: ``stats["n_hot"]`` is
    the number of prefix buckets that exceeded ``max_bucket_size`` and
    degraded to hub-relative recall. ``n_hot == 0`` certifies at
    runtime that this invocation's output is the unconditional exact
    join; callers that require unconditional exactness regardless of
    corpus shape should instead raise ``max_bucket_size`` (the cost is
    a quadratic join task per degenerate bucket, not wrong answers).

    Round 10: the whole candidate pipeline (df-rank, prefixes, bucket
    join, length filter) runs on SHINGLE HASHES (``shingle_hash_col``)
    — 8-byte keys through every shuffle instead of ~25-byte shingle
    strings, and no string-shingle pass over the corpus at all (the r10
    profile put that pass at 7s of the 8.5s feature cost at sf10h).
    Exactness is UNCONDITIONALLY preserved: hashing only merges set
    elements, so J_hash >= J_string — every pair the string predicate
    accepts passes the hashed prefix/positional/length filters — and
    the final verify computes string-exact Jaccard over shingle sets
    built ONLY for docs that appear in surviving candidates (semi-join,
    answer-bounded).
    """
    from pyspark.sql import Window

    spread = spread_to_parallelism(df, id_col)
    hsets = checkpoint_audited(
        with_shingle_hash_set(spread, shingle_n, id_col, text_col)
    )  # feeds prefix build AND the hashed length filter
    exploded = hsets.select(
        F.col(id_col), F.size("shh").alias("_n"), F.explode("shh").alias("shingle")
    )
    dfreq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = exploded.join(dfreq, "shingle")
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("shingle").asc())
    # r11 (session 2): LAZY-checkpoint the prefix table. Measured at
    # sf10h: ReusedExchange does NOT dedup the candidate self-join's
    # two identical subtrees (plan shows 0 ReusedExchange, the window
    # chain twice), so without the barrier the explode -> df join ->
    # doc-grain rank window chain (~6-7 s of the 25 s wall) executes
    # once PER JOIN SIDE. With the unbounded-cap sizing job skipped
    # (see banded_candidate_pairs), the checkpoint is materialized by
    # the one survivors job and both join sides read its blocks —
    # chain once, no extra job (guide §5). Like ``hsets``, this
    # executor-local state grows with the corpus (one row per kept
    # prefix shingle per doc). Once it materializes the lineage is cut:
    # losing an executor that holds its blocks fails the job instead of
    # recomputing them.
    prefix = checkpoint_audited(
        ranked.withColumn("_pos", F.row_number().over(w))
        .filter(
            F.col("_pos")
            <= F.col("_n") - F.floor(F.lit(float(threshold)) * F.col("_n")) + F.lit(1)
        )
        .select(F.col(id_col), "shingle", "_pos", "_n"),
        eager=False,
    )
    # POSITION-AWARE pruning (PPJoin's positional filter, VERDICT r7
    # #4), applied per CO-OCCURRENCE row inside the candidate self-join
    # where it shrinks the distinct shuffle itself: a shared token s at
    # positions (pa, pb) in the (df asc, shingle asc) global order
    # bounds the overlap by
    #   overlap(A,B) <= (shared tokens ranked before s) + 1
    #                   + min(|A| - pa, |B| - pb),
    # and for the pair's FIRST shared token that leading term is 0 —
    # every earlier-ranked shared token would itself be in both
    # prefixes (rank is monotone within each doc's ordering), so some
    # co-occurrence row of every TRUE pair (J >= t needs overlap >=
    # t/(1+t)*(|A|+|B|)) passes the bound and ANY-pass semantics keep
    # exactness — VALID ONLY when no bucket is hot (star-diverted rows
    # could hide the first shared token), which is why
    # banded_candidate_pairs engages the filter solely on all-cold
    # bucket sets: the brute-force-equality oracle stays green unchanged,
    # while false candidates whose shared tokens all sit deep in both
    # prefixes — the adversarial tiny-vocabulary blowup — die on two
    # ints before any shingle array moves. The 1e-9 slack absorbs
    # float rounding on the conservative side.
    t_over = float(threshold) / (1.0 + float(threshold))

    def positional_ok(A, B):
        return (
            1 + F.least(A("_n") - A("_pos"), B("_n") - B("_pos"))
            >= t_over * (A("_n") + B("_n")) - 1e-9
        )

    # INDEX-PREFIX reduction (PPJoin's index/probe-prefix asymmetry,
    # VERDICT r8 #7), conjoined with the positional bound: for a true
    # pair with |x| <= |y| the globally FIRST shared token s1 must sit
    # within x's INDEX prefix of length |x| - ceil(2t/(1+t)*|x|) + 1 —
    # were every shared token deeper, overlap <= ceil(2t/(1+t)|x|) - 1
    # < alpha, and were only later shared tokens that shallow, the
    # leading-0 argument on s1 gives the same contradiction. So s1's
    # co-occurrence row satisfies BOTH predicates (it is first — the
    # positional leading term really is 0 — and it is in the smaller
    # side's index prefix), and ANY-pass semantics keep exactness while
    # every co-occurrence row whose smaller side sits past its index
    # prefix dies on two ints before the distinct shuffle. Ties probe
    # both directions (each side is "smaller-or-equal", so s1 satisfies
    # either disjunct). floor() not ceil(): one extra index slot on the
    # safe side, same slack style as the probe prefix above.
    two_t = 2.0 * float(threshold) / (1.0 + float(threshold))

    def _ilen(n):
        return n - F.floor(F.lit(two_t) * n) + F.lit(1)

    def prefix_ok(A, B):
        idx_ok = (
            (A("_n") <= B("_n")) & (A("_pos") <= _ilen(A("_n")))
        ) | ((B("_n") <= A("_n")) & (B("_pos") <= _ilen(B("_n"))))
        return positional_ok(A, B) & idx_ok

    cands = banded_candidate_pairs(
        prefix,
        id_col,
        keys=("shingle",),
        max_bucket_size=max_bucket_size,
        stats=stats,
        payload=("_pos", "_n"),
        pair_filter=prefix_ok,
    )
    # LENGTH filter on HASHED sizes before the array joins: J_hash >= t
    # forces t*|B|_h <= |A|_h (and symmetrically), and J_string >= t
    # implies J_hash >= t, so the hashed filter never drops a true pair
    # — two ints per candidate, conservative by the merge argument
    sizes = hsets.select(F.col(id_col).alias("_sid"), F.size("shh").alias("_sn"))
    sized = (
        cands.join(sizes.withColumnRenamed("_sid", "id_a").withColumnRenamed("_sn", "_ha"), "id_a")
        .join(sizes.withColumnRenamed("_sid", "id_b").withColumnRenamed("_sn", "_hb"), "id_b")
        .filter(
            (F.col("_ha") >= F.ceil(F.lit(float(threshold)) * F.col("_hb")))
            & (F.col("_hb") >= F.ceil(F.lit(float(threshold)) * F.col("_ha")))
        )
        .select("id_a", "id_b")
    )
    # string-exact verify, features built ONLY for candidate docs
    # (answer-bounded semi-join — the same discipline as
    # minhash_near_duplicates' verify stage)
    survivors = checkpoint_audited(sized)
    cand_ids = (
        survivors.select(F.col("id_a").alias(id_col))
        .union(survivors.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # r11: materialized ONCE — fa and fb both consume cand_sh, and the
    # planner otherwise duplicates the whole scan + semi-join + shingle
    # build per side (measured: ReuseExchange does not dedup the verify
    # sides). Answer-bounded, so the checkpoint is tiny.
    cand_sh = checkpoint_audited(
        with_shingle_set(
            df.join(cand_ids, id_col, "left_semi"), shingle_n, id_col, text_col
        )
    )
    fa = cand_sh.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), F.size("sh").alias("_na")
    )
    fb = cand_sh.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), F.size("sh").alias("_nb")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |A u B| = |A| + |B| - |A n B| — same double as size(array_union)
    # at half the array work
    return (
        survivors.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("jaccard", F.round(inter / (F.col("_na") + F.col("_nb") - inter), 4))
        .filter(F.col("jaccard") >= float(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_features: bool = False,
) -> DataFrame:
    """ASYMMETRIC shingle containment: ordered pairs where
    ``|A ∩ B| / |A| >= threshold`` — doc A is (near-)contained in doc B.

    Catches what symmetric Jaccard structurally cannot: a short document
    quoted or embedded inside a much longer one has low Jaccard (the
    union is dominated by B) but containment ~1. The canonical use is
    subset/quote dedup and train-eval decontamination of embedded
    passages.

    This exact all-pairs form is the small-data oracle baseline (same
    role as :func:`jaccard_pairs`); at scale the SAME verify expression
    runs over LSH band candidates (``banded_candidate_pairs``) instead
    of the cross join — containment ≥ t implies Jaccard ≥ t/(1+t-t) on
    bounded size ratios, so the band recall argument carries over for
    near-equal sizes, and one-sided probes handle the subset case.
    """
    # baseline-plan discipline (round 9): spread the stream side (the
    # fixture parquet is one split — an unspread cross join runs the
    # whole quadratic verify in ONE task). ``broadcast_features=True``
    # additionally broadcasts the build side — set it ONLY under the
    # baseline's small-data contract (as the catalog oracle anchors do);
    # the default keeps the shuffled plan so an over-sized corpus
    # degrades to slow, never to a broadcast/driver OOM (ADVICE r9 #4).
    #
    # r11: the quadratic pass runs on 8-byte shingle-HASH sets —
    # ``C_hash >= C_string`` (hashing merges elements: the intersection
    # can only grow, |A| can only shrink), so filtering the hashed
    # estimate at ``threshold - 1e-4`` admits every ordered pair the
    # rounded string predicate accepts (margin covers the round-up of
    # values in [t - 0.00005, t)); only the answer-bounded survivors
    # pay the string-exact verify that produces the returned value.
    from mandoline_hbase_spark.plans.audit import checkpoint_audited

    hs = checkpoint_audited(
        with_shingle_hash_set(df, shingle_n, id_col, text_col).select(
            F.col(id_col), F.col("shh"), F.size("shh").alias("_hn")
        )
    )
    a = spread_to_parallelism(hs, id_col).select(
        F.col(id_col).alias("id_a"),
        F.col("shh").alias("shh_a"),
        F.col("_hn").alias("_hn_a"),
    )
    b = hs.select(F.col(id_col).alias("id_b"), F.col("shh").alias("shh_b"))
    if broadcast_features:
        b = F.broadcast(b)
    cand = (
        a.crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            F.size(F.array_intersect("shh_a", "shh_b")).cast("double")
            / F.greatest(F.col("_hn_a"), F.lit(1)).cast("double")
            >= F.lit(float(threshold) - 1e-4)
        )
        .select("id_a", "id_b")
    )
    sh = with_shingle_set(df, shingle_n, id_col, text_col)
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size("sh_a"), F.lit(1)),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 512,
) -> DataFrame:
    """Full MinHash-LSH near-dedup: candidates -> estimate -> exact verify.

    Memory-footprint discipline (round 9 — found by MEASURING, not
    guessing): the r8 form persisted the full per-doc feature table
    (shingle set + signature). Shingle arrays are the corpus re-encoded
    ~10x wider — at the sf10h step that cache outgrew storage memory,
    and execution pressure EVICTED blocks mid-query, silently
    recomputing the whole feature lineage inside the verify join
    (measured: the same query swung 25s..138s across back-to-back solo
    passes). A cache whose correctness-of-cost depends on fitting is
    not a 100 TB plan. So:

    - only the SIGNATURE projection persists (64 ints/doc, ~2% of the
      feature table — fits at any scale that fits the corpus);
    - the signature-estimate prefilter (fraction of matching minhashes
      >= threshold - 0.15, >5 sigma below any true pair at 64 hashes)
      runs on those persisted sigs straight after the bucket join;
    - the surviving candidate ID PAIRS — answer-bounded, tiny — are
      localCheckpointed, decoupling the verify from the band pipeline;
    - exact-Jaccard verify recomputes shingle sets ONLY for docs that
      appear in surviving pairs (a semi-join against the corpus, then
      the same map-only shingle expression): candidates are a
      vanishing fraction of the corpus, so this re-scan is cheaper
      than caching shingles for every doc ever was, and its cost can
      never silently multiply.

    Buckets over ``max_bucket_size`` degrade to star candidates
    (``banded_candidate_pairs``) so one degenerate band value cannot
    make a join task quadratic.
    """
    sigs = minhash_signatures(df, num_hashes, shingle_n, id_col, text_col).persist()
    stacked = _band_stack(sigs, num_hashes, bands, id_col)
    cands = checkpoint_audited(
        banded_candidate_pairs(stacked, id_col, max_bucket_size=max_bucket_size)
    )
    # Adaptive join side for the estimate prefilter (round 10): the
    # candidate pair set is now CHECKPOINTED and counted — a
    # driver-known size, the same legal adaptive-plan pattern as the
    # hot-bucket guard — so when it is small (the healthy case: pairs
    # are answer-bounded after the guard) both estimate joins broadcast
    # the PAIRS and the 64-long signature table streams map-side out of
    # its cache with NO exchange. Measured at sf10h: the two sort-merge
    # joins shuffled the ~256 MB sig table twice for 25.6k pairs. A
    # pathological corpus (pair count past the gate) keeps the shuffled
    # join — degrade to slow, never to a broadcast cliff.
    pairs_src = F.broadcast(cands) if cands.count() <= 2_000_000 else cands
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(num_hashes)
    survivors = checkpoint_audited(
        pairs_src.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(est >= threshold - 0.15)
        .select("id_a", "id_b")
    )
    sigs.unpersist()  # nothing downstream reads the band pipeline now
    cand_ids = (
        survivors.select(F.col("id_a").alias(id_col))
        .union(survivors.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # r11: materialized ONCE — fa and fb both consume cand_sh, and the
    # planner otherwise duplicates the whole scan + semi-join + shingle
    # build per side (measured: ReuseExchange does not dedup the verify
    # sides). Answer-bounded, so the checkpoint is tiny.
    cand_sh = checkpoint_audited(
        with_shingle_set(
            df.join(cand_ids, id_col, "left_semi"), shingle_n, id_col, text_col
        )
    )
    fa = cand_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    fb = cand_sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        survivors.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document (shuffle-free).

    Token-frequency-weighted sign aggregation of per-bit token-hash
    indicators, computed as higher-order array expressions: hash the token
    array once, then bit b of the code is set iff more than half the token
    hashes have bit b set (equivalent to sum(+1/-1) > 0). Map-only — no
    explode, no groupBy; at scale this runs at scan speed.
    """
    # Repartition BEFORE staging the token-hash array: the heavy per-row
    # work then runs post-exchange on every core, and the exchange moves
    # raw text instead of the wider hash array.
    hs = F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))
    spread = spread_to_parallelism(df, id_col)
    out = spread.withColumn("_hs", hs).withColumn("_n", F.size(F.col("_hs")))
    # one aggregate pass accumulates every bit's set-count (vs bits-1
    # separate filter() traversals of the token-hash array)
    n_bits = bits - 1  # top bit left clear to stay in signed-64 range
    pows = F.array(*[F.lit(1 << b).cast("bigint") for b in range(n_bits)])
    # bit test via mask ((h & 2^b) != 0 == (h >> b) & 1): shiftright demands
    # a literal count, the mask accepts a column from the pows array
    counts = F.aggregate(
        F.col("_hs"),
        F.array_repeat(F.lit(0).cast("bigint"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda c, p: c + F.when(h.bitwiseAND(p) != 0, 1).otherwise(0),
        ),
    )
    code = F.aggregate(
        F.zip_with(counts, pows, lambda c, p: F.when(c * 2 > F.col("_n"), p).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return out.select(F.col(id_col), code.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 512,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit code into 4x16-bit keys
    (pigeonhole: hamming<=3 implies >=1 identical band), join per band,
    verify exact Hamming distance.

    The code table is persisted: it is tiny (id + one long per doc); the
    candidate self-join and both verify joins consume it. Oversized key
    buckets degrade to star candidates (``banded_candidate_pairs``),
    which bounds the join at the cost of the pigeonhole guarantee INSIDE
    those buckets (hamming<=3 pairs between two non-hub members of a
    >max_bucket_size bucket can be missed — see the recall note on the
    guard)."""
    codes = simhash(df, id_col, text_col).persist()
    bands = codes.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                )
                for b in range(4)
            ])
        ).alias("e"),
    ).select(F.col(id_col), F.col("e.band").alias("band"), F.col("e.key").alias("key"))
    pairs = banded_candidate_pairs(
        bands, id_col, keys=("band", "key"), max_bucket_size=max_bucket_size
    )
    pairs = pairs.join(
        codes.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a")), "id_a"
    ).join(codes.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b")), "id_b")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming.cast("int")).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Distributed connected components by alternating large-star /
    small-star edge rewriting (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014 — the Two-Phase algorithm).

    ``nodes`` is one row per vertex (``id_col``); ``edges`` is an
    undirected pair list (each pair once, either direction). Returns
    ``(id_col, cluster_id)`` where ``cluster_id`` is the minimum vertex
    id in the component — singletons map to themselves.

    Why star-contraction and not hash-min label propagation (the r8
    form): hash-min needs rounds = graph DIAMETER — fine on star-like
    near-dup clusters, but chain-shaped components make the round count
    grow with the data (measured: cluster_aware_split 5.46x /
    split_leakage_report 5.66x at the sf1h->sf10h step, the worst
    honest-chain scalers in BENCH_SF10.json). The star operations
    contract components to stars in O(log n) alternations REGARDLESS of
    diameter, and each operation is one shuffle-grain groupBy+join on
    the edge list:

    - LARGE-STAR: per node u over the symmetric closure, connect every
      strictly-larger neighbor to min(N(u) ∪ {u}). Keeps connectivity,
      strictly reduces large-node degrees.
    - SMALL-STAR: orient every edge to its larger endpoint; per node u,
      connect u and all its (smaller) parents to their collective min.

    The fixed point is exactly one star per component centered at the
    component minimum (the paper's Theorem 1 — same partition, same
    canonical label as hash-min, so every caller's oracle is
    unchanged). Both rewrites stack lazily between eager
    ``localCheckpoint`` barriers; convergence is an edge-set equality
    check (two anti-join probes + a count on the checkpointed frames),
    never a driver collect of data rows.
    """
    cur = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col(src_col) != F.col(dst_col))
        .distinct()
    )
    cur = checkpoint_audited(cur)
    n_cur = cur.count()

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        parents = (
            o.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        centers = mins.select(F.col("u"), F.col("m").alias("v"))
        return parents.union(centers).distinct()

    rounds = 0
    while n_cur > 0 and rounds < max_iters:
        nxt = checkpoint_audited(_small_star(_large_star(cur)))
        rounds += 1
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            same = (
                nxt.join(cur, ["u", "v"], "left_anti").limit(1).count() == 0
            )
            if same:
                cur, n_cur = nxt, n_nxt
                break
        cur, n_cur = nxt, n_nxt

    # At the fixed point every non-center node carries exactly one edge
    # to its component min; centers and singletons label themselves.
    sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nmin = sym.groupBy("u").agg(F.min("v").alias("nmin"))
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(nmin, F.col("node") == F.col("u"), "left")
        .select(
            F.col("node").alias(id_col),
            F.least(
                F.col("node"), F.coalesce(F.col("nmin"), F.col("node"))
            ).alias("cluster_id"),
        )
    )


def near_duplicate_clusters(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Canonical-document assignment: MinHash-LSH near-dup pairs (the
    100 TB candidate path, exact-Jaccard verified) -> connected
    components -> every doc labeled with its cluster's min doc id and an
    ``is_canonical`` flag (keep-one-per-cluster dedup policy)."""
    pairs = minhash_near_duplicates(df, threshold=threshold, id_col=id_col, text_col=text_col)
    cc = connected_components(df.select(id_col), pairs, id_col=id_col)
    return cc.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def decontamination_overlap(
    corpus: DataFrame,
    eval_set: DataFrame,
    min_shared: int = 5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing >= ``min_shared``
    distinct word shingles with any eval/benchmark document.

    Scale design: an inverted-index join, not a pair join — corpus
    shingles explode to (doc, gram) rows and probe the *broadcast*
    exploded eval set (eval corpora are tiny next to training corpora),
    so the plan is scan -> broadcast hash join -> partial-agg count, no
    shuffle of the corpus beyond the final groupBy on (doc, eval) pairs
    that actually collide. Returns (doc_id, eval_id, n_shared) pairs.
    """
    # Spread the corpus scan before shingling (single-split fixture; no-op
    # at real scale) — the probe side is the big side of this join.
    # explode_outer, NOT explode: see segment_hashes — the inferred
    # size>0 filter of a non-outer generate gets pushed below the
    # exchange and re-runs the shingle pipeline serially on the scan
    # task. Shingle sets are never empty, so outer is row-identical.
    c = with_shingle_set(
        spread_to_parallelism(corpus, id_col),
        shingle_n,
        id_col,
        text_col,
    ).select(F.col(id_col), F.explode_outer("sh").alias("gram"))
    e = with_shingle_set(eval_set, shingle_n, id_col, text_col).select(
        F.col(id_col).alias("eval_id"), F.explode_outer("sh").alias("gram")
    )
    return (
        c.join(F.broadcast(e), "gram")
        .filter(F.col(id_col) != F.col("eval_id"))
        .groupBy(id_col, "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def lsh_verified_match_ids(
    cands: DataFrame,
    feats_a: DataFrame,
    feats_b: DataFrame,
    threshold: float,
    num_hashes: int = 64,
    a_key: str = "inc_id",
    b_key: str = "ref_id",
    a_id_col: str = "doc_id",
    b_id_col: str = "doc_id",
    slack: float = 0.15,
) -> DataFrame:
    """a-side ids of ``cands`` with a VERIFIED match on the b side.

    The shared verify chain of every LSH probe (batch incremental
    admission, streaming corpus ingest): join candidate pairs to both
    feature tables, kill accidental band collisions with the signature-
    estimate prefilter (``threshold - slack``), then exact-Jaccard
    verify. Returns one distinct column named ``a_key``.
    """
    fa = feats_a.select(
        F.col(a_id_col).alias(a_key), F.col("sh").alias("sh_i"), F.col("sig").alias("sig_i")
    )
    fb = feats_b.select(
        F.col(b_id_col).alias(b_key), F.col("sh").alias("sh_c"), F.col("sig").alias("sig_c")
    )
    est = F.size(
        F.filter(F.zip_with("sig_i", "sig_c", lambda x, y: x == y), lambda m: m)
    ) / F.lit(num_hashes)
    return (
        cands.join(fa, a_key)
        .join(fb, b_key)
        .filter(est >= threshold - slack)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_i", "sh_c")) / F.size(F.array_union("sh_i", "sh_c")),
        )
        .filter(F.col("jaccard") >= float(threshold))
        .select(a_key)
        .distinct()
    )


def incremental_exact_new(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Admission filter for incremental corpus builds: exact-dup gate.

    Returns incoming docs whose content hash is unseen in the existing
    corpus AND first-of-kind within the batch (min id wins, so re-runs
    admit the same rows). The corpus side reduces to distinct content
    hashes before the anti-join — at 100 TB that is a pre-built
    fingerprint index table, so admitting a batch never rescans corpus
    text; the anti-join shuffles only (hash) keys.
    """
    from pyspark.sql import Window

    inc = incoming.withColumn("content_hash", F.md5(F.col(text_col)))
    seen = corpus.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col))
    return (
        inc.join(seen, "content_hash", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_minhash_new(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup admission: incoming docs with no corpus near-duplicate.

    The probe is one-directional LSH: incoming band rows join corpus
    band rows (never corpus x corpus), candidates pass the signature-
    estimate prefilter, survivors are exact-Jaccard verified, and any
    incoming doc with a verified corpus match >= threshold is rejected.
    At scale the corpus band/signature tables are materialized once and
    reused across batches, so admission cost is proportional to the
    BATCH, not the corpus — the property that makes continuous corpus
    ingestion tractable.
    """
    f_inc = doc_shingle_features(incoming, num_hashes, shingle_n, id_col, text_col).persist()
    f_cor = doc_shingle_features(corpus, num_hashes, shingle_n, id_col, text_col).persist()
    s_inc = _band_stack(f_inc, num_hashes, bands, id_col)
    s_cor = _band_stack(f_cor, num_hashes, bands, id_col)
    cands = (
        s_inc.alias("i")
        .join(
            s_cor.alias("c"),
            (F.col("i.band") == F.col("c.band")) & (F.col("i.bh") == F.col("c.bh")),
        )
        .select(F.col(f"i.{id_col}").alias("inc_id"), F.col(f"c.{id_col}").alias("cor_id"))
        .distinct()
    )
    rejected = lsh_verified_match_ids(
        cands,
        f_inc,
        f_cor,
        threshold,
        num_hashes,
        a_key="inc_id",
        b_key="cor_id",
        a_id_col=id_col,
        b_id_col=id_col,
    ).withColumnRenamed("inc_id", id_col)
    return incoming.join(rejected, id_col, "left_anti")


def containment_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings_per_shingle: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """The SCALE path for asymmetric containment (closes the documented
    small-data caveat on :func:`containment_pairs`): identical output,
    no cross join.

    The asymmetric prefix principle — if ``|A ∩ B| >= t*|A|`` then A
    misses at most ``(1-t)*|A|`` of its own shingles from B, so ANY
    ``floor((1-t)*|A|) + 1`` of A's shingles must intersect B
    (pigeonhole). Candidates therefore come from joining each doc's
    ``floor((1-t)*|A|)+1`` globally-RAREST shingles (the A side, same
    df-ranked prefix machinery as ``prefix_filter_near_duplicates``)
    against the full shingle postings (the B side — the asymmetric
    price: the contained side prunes, the containing side cannot,
    because a huge B legitimately contains a tiny A). 100% recall by
    construction — a provable-coverage argument, not an LSH probability
    — and the exact verify keeps precision, so output equals the
    brute-force form unconditionally. An integer size filter
    (``|B| >= ceil(t*|A|)`` since ``|A ∩ B| <= |B|``) prunes candidate
    rows before any shingle array moves.

    ``max_postings_per_shingle`` is the hot-shingle guard: a shingle
    present in more docs than the cap keeps only its lowest-id postings
    (bounded recall trade of the LSH hot-bucket kind, observable via
    ``stats["n_hot"]`` = number of capped shingles). Rarest-first
    prefixes make a ubiquitous shingle reach the A side only when ALL
    of A's shingles are ubiquitous, so healthy corpora never engage the
    guard; the oracle config runs unguarded (``None``).
    """
    from pyspark.sql import Window

    from mandoline_hbase_spark.operators.skew import spread_to_parallelism
    from mandoline_hbase_spark.plans.audit import checkpoint_audited

    # Round 10: candidate machinery on SHINGLE HASHES (8-byte keys, no
    # corpus string-shingle pass — see prefix_filter_near_duplicates).
    # Conservative by the merge argument: C_hash(A,B) >= C_string(A,B)
    # (shared shingles still share a key; |h(A)| <= |A|), so the hashed
    # prefix/size filters admit every true pair and the string-exact
    # verify — built only for candidate docs — keeps precision.
    hsets = checkpoint_audited(
        with_shingle_hash_set(
            spread_to_parallelism(df, id_col), shingle_n, id_col, text_col
        )
    )
    exploded = hsets.select(
        F.col(id_col), F.size("shh").alias("_n"), F.explode("shh").alias("shingle")
    )
    # r11 (VERDICT r10 #9, guide §2.4): document frequency as a COUNT
    # OVER the shingle partitioning instead of groupBy + join-back. The
    # join form re-partitioned exploded for the join AND ran a separate
    # vocabulary-grain aggregate; the window form establishes
    # hashpartitioning(shingle) ONCE, and the postings side of the
    # candidate join below inherits that same partitioning (same
    # Exchange, reused), so the join re-shuffles only the tiny prefix
    # side. Identical _df values — count(*) per shingle either way.
    wsh = Window.partitionBy("shingle")
    ranked = exploded.withColumn("_df", F.count(F.lit(1)).over(wsh))
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("shingle").asc())
    prefix = (
        ranked.withColumn("_pos", F.row_number().over(w))
        .filter(
            F.col("_pos")
            <= F.floor((F.lit(1.0) - F.lit(float(threshold))) * F.col("_n"))
            + F.lit(1)
        )
        .select(F.col(id_col).alias("id_a"), "shingle", F.col("_n").alias("_na"))
    )
    postings = ranked.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("_n").alias("_nb")
    )
    if max_postings_per_shingle is not None:
        wb = Window.partitionBy("shingle").orderBy(F.asc("id_b"))
        rb = postings.withColumn("_r", F.row_number().over(wb))
        if stats is not None:
            stats["n_hot"] = rb.filter(
                F.col("_r") == int(max_postings_per_shingle) + 1
            ).count()
        postings = rb.filter(F.col("_r") <= int(max_postings_per_shingle)).drop("_r")
    elif stats is not None:
        stats["n_hot"] = 0
    cands = (
        prefix.join(postings, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(F.col("_nb") >= F.ceil(F.lit(float(threshold)) * F.col("_na")))
        .select("id_a", "id_b")
        .distinct()
    )
    survivors = checkpoint_audited(cands)
    cand_ids = (
        survivors.select(F.col("id_a").alias(id_col))
        .union(survivors.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # r11: materialized ONCE — fa and fb both consume cand_sh, and the
    # planner otherwise duplicates the whole scan + semi-join + shingle
    # build per side (measured: ReuseExchange does not dedup the verify
    # sides). Answer-bounded, so the checkpoint is tiny.
    cand_sh = checkpoint_audited(
        with_shingle_set(
            df.join(cand_ids, id_col, "left_semi"), shingle_n, id_col, text_col
        )
    )
    fa = cand_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    fb = cand_sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        survivors.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size("sh_a"), F.lit(1)),
                4,
            ),
        )
        .filter(F.col("containment") >= float(threshold))
        .select("id_a", "id_b", "containment")
    )
