"""Full-text search: inverted-index postings, BM25 and query-likelihood
ranking.

The reference engine's only query surface is coordinate lookup
(hbase.clj:184-198 ``find-index``); a training-data store additionally
needs content retrieval — "find the documents about X" — for curation
audits, eval-set mining, and contamination forensics. This module
provides the standard IR primitives as DataFrame plans:

- :func:`postings` — the inverted index ``(term, doc_id, tf)`` plus a
  doc-length table, the same two aggregates every search engine builds;
- :func:`bm25_topk` / :func:`ql_dirichlet_topk` — Okapi BM25 (Lucene's
  positive-idf variant) and Dirichlet-smoothed query likelihood for a
  bounded set of query terms, straight from document text;
  :func:`bm25_topk_from_postings` serves BM25 from materialized
  ``postings`` tables. Every form is one pipeline: a source yields
  per-doc query-term counts plus one row of corpus scalars, one
  expression per model scores them, and ``ranking.topk_with_rank``
  ranks.

Scale design (100 TB corpus, 1000 executors):

- The exploded token stream is aggregated TWICE, both map-side partial:
  ``(doc, term)`` for tf and ``(doc)`` for length. The query-term
  filter is applied *before* the tf shuffle, so the per-query work
  after the one corpus-wide length pass is proportional to the
  postings of the queried terms, not the corpus.
- Corpus scalars (N, total length) and per-term document and
  collection frequencies are ONE single-row conditional aggregate —
  never a term-grain groupBy — broadcast back; nothing larger than a
  row ever concentrates.
- The final score is a per-doc fold over a FIXED, ordered list of
  query terms (one integer column per term, contributions added
  left-to-right), so the floating-point summation order is
  deterministic and engine-independent — the property the DuckDB
  oracle hash-compare requires. Ranking ties break on doc_id.
- In a served deployment the ``postings`` output is the thing you
  materialize and :func:`bm25_topk_from_postings` pivots the queried
  terms' postings per doc; the scores are bit-identical to the
  from-text form.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from mandoline_hbase_spark.operators.ranking import topk_with_rank
from mandoline_hbase_spark.operators.text import _spread, term_frequencies
from mandoline_hbase_spark.plans.audit import checkpoint_audited


def postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Inverted-index building blocks: ``(doc, term, tf)`` and
    ``(doc, dl)`` where ``dl`` is the document's token count.

    Both aggregates partial-combine before their shuffle; ``dl`` comes
    from the raw token stream (not a sum over tf) so it is ONE
    aggregate keyed on the doc id. ``dl`` carries one row for EVERY
    document — empty docs get ``dl = 0`` — so the pair of tables is a
    complete, self-sufficient index: corpus scalars (N, Σdl) derive
    from ``dl`` alone, which is what lets a continuously-maintained
    index (streaming/search.py) serve BM25 without ever rescanning
    document text.
    """
    tf = term_frequencies(df, id_col, text_col)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    dl = (
        _spread(df, id_col)
        .select(F.col(id_col), F.explode_outer(toks).alias("term"))
        .groupBy(id_col)
        .agg(
            F.count(F.when(F.length("term") > 0, True)).cast("bigint").alias("dl")
        )
    )
    return tf, dl


def bm25_rerank_cosine(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: Sequence[str],
    query_vec: DataFrame,
    k_retrieve: int = 25,
    k_final: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Retrieve-then-rerank: BM25 shortlist of ``k_retrieve`` docs,
    re-ranked by cosine similarity of their embeddings to ``query_vec``
    (a 1-row DataFrame with ``vec_col``); top ``k_final`` returned as
    ``(rank, doc_id, bm25_score, cosine)``.

    The modern two-stage search shape: the cheap lexical stage bounds
    the candidate set, so the embedding join touches ``k_retrieve``
    rows — never the corpus — and the query vector broadcasts. Cosine
    uses the left-fold sum (``similarity.cosine_sim``) whose DuckDB
    ``list_cosine_similarity`` parity the sim_* oracles establish.
    """
    from mandoline_hbase_spark.operators.similarity import cosine_sim

    shortlist = bm25_topk(
        docs, query_terms, k=k_retrieve, k1=k1, b=b, id_col=id_col, text_col=text_col
    ).select(F.col(id_col), F.col("score").alias("bm25_score"))
    qv = query_vec.select(
        F.col(vec_col).cast("array<double>").alias("_qv")
    ).limit(1)
    cand = (
        shortlist.join(
            emb.select(
                F.col(vec_id_col).alias(id_col),
                F.col(vec_col).cast("array<double>").alias("_cv"),
            ),
            id_col,
        )
        .crossJoin(F.broadcast(qv))
        .withColumn("cosine", F.round(cosine_sim(F.col("_cv"), F.col("_qv")), 6))
        .select(id_col, "bm25_score", "cosine")
    )
    return topk_with_rank(cand, [F.col("cosine").desc(), F.col(id_col).asc()], k_final)


def positional_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted index: one ``(doc, term, pos)`` row per token
    occurrence (1-based positions) — the structure phrase queries need.
    posexplode is map-side; no shuffle until a consumer keys on
    something.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return (
        _spread(df, id_col)
        .select(F.col(id_col), F.posexplode_outer(toks).alias("_p0", "term"))
        .filter(F.length("term") > 0)
        .select(F.col(id_col), "term", (F.col("_p0") + 1).cast("bigint").alias("pos"))
    )


def phrase_occurrences(
    df: DataFrame,
    phrase_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs containing the exact consecutive phrase, with occurrence
    counts: ``(doc_id, n_occurrences)``.

    The standard positional-postings phrase join: postings are filtered
    to the phrase's terms BEFORE any shuffle (work ∝ those terms'
    postings, not the corpus), then term i joins term 0 on
    ``(doc, anchor_pos + i)``. Every join is keyed on (doc, pos) —
    co-partitioned after the first, and AQE broadcasts the rare-term
    sides. Anchor = the first term's positions, so each surviving
    anchor row is exactly one phrase occurrence.
    """
    terms = list(phrase_terms)
    if len(terms) < 2:
        raise ValueError("phrase_terms needs at least two terms")
    tp = positional_postings(df, id_col, text_col)
    anchors = tp.filter(F.col("term") == terms[0]).select(id_col, "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = tp.filter(F.col("term") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("pos")
        )
        anchors = anchors.join(nxt, [id_col, "pos"], "left_semi")
    return (
        anchors.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )


def proximity_search(
    df: DataFrame,
    terms: Sequence[str],
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Proximity retrieval: docs where ALL ``terms`` co-occur inside a
    span of at most ``window`` tokens (any order), with the tightest
    such span per doc: ``(doc_id, min_span)``. The unordered sibling of
    :func:`phrase_occurrences` — "dup NEAR/8 hash" in classic IR syntax.

    Same scale discipline as the phrase join: positional postings are
    filtered to the query terms BEFORE any shuffle (work ∝ those terms'
    postings, not the corpus). Term 0's positions anchor; each further
    term joins on the doc key under the band predicate
    ``|pos_i − pos_0| < window`` (a necessary condition — any
    qualifying tuple lies within ``window`` of its own term-0 member),
    so candidate tuples per doc are bounded by the in-band occurrence
    counts, never the cross product of full position lists. The exact
    span test ``max−min < window`` then filters the band candidates.
    Joins are all keyed on (doc) — co-partitioned after the first, and
    AQE broadcasts rare-term sides.
    """
    terms = list(dict.fromkeys(terms))
    if len(terms) < 2:
        raise ValueError("proximity_search needs at least two distinct terms")
    if window < len(terms):
        raise ValueError(
            f"window={window} cannot hold {len(terms)} distinct tokens"
        )
    tp = positional_postings(df, id_col, text_col).filter(F.col("term").isin(terms))
    cur = tp.filter(F.col("term") == terms[0]).select(
        F.col(id_col),
        F.col("pos").alias("_p0"),
        F.col("pos").alias("_lo"),
        F.col("pos").alias("_hi"),
    )
    for t in terms[1:]:
        nxt = tp.filter(F.col("term") == t).select(
            F.col(id_col), F.col("pos").alias("_pi")
        )
        cur = (
            cur.join(nxt, id_col)
            .filter(F.abs(F.col("_pi") - F.col("_p0")) < window)
            .select(
                F.col(id_col),
                "_p0",
                F.least("_lo", "_pi").alias("_lo"),
                F.greatest("_hi", "_pi").alias("_hi"),
            )
        )
    return (
        cur.filter(F.col("_hi") - F.col("_lo") < window)
        .groupBy(id_col)
        .agg(
            F.min(F.col("_hi") - F.col("_lo") + F.lit(1))
            .cast("bigint")
            .alias("min_span")
        )
    )


def boolean_search(
    df: DataFrame,
    must: Sequence[str] = (),
    must_not: Sequence[str] = (),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boolean retrieval: ids of docs containing EVERY ``must`` term and
    NONE of the ``must_not`` terms.

    One distinct (doc, term) pass over the filtered postings, then a
    single doc-grain aggregate counts matched must-terms and flags any
    banned term — one shuffle total, no per-term join chain.
    """
    # dedup (preserving order): a repeated must term would make the
    # _hits == len(must) check unsatisfiable over distinct (doc, term)
    must = list(dict.fromkeys(must))
    must_not = list(dict.fromkeys(must_not))
    if not must and not must_not:
        raise ValueError("boolean_search needs at least one term")
    base = df.select(F.col(id_col)).distinct() if not must else None
    tf = term_frequencies(df, id_col, text_col)
    relevant = tf.filter(F.col("term").isin(must + must_not)).select(id_col, "term")
    flags = relevant.groupBy(id_col).agg(
        F.count(F.when(F.col("term").isin(must), True)).alias("_hits"),
        F.count(F.when(F.col("term").isin(must_not), True)).alias("_bans"),
    )
    if must:
        return flags.filter(
            (F.col("_hits") == len(must)) & (F.col("_bans") == 0)
        ).select(id_col)
    # must_not only: anti-join the banned docs off the corpus
    banned = flags.filter(F.col("_bans") > 0).select(id_col)
    return base.join(banned, id_col, "left_anti")


def snippets(
    df: DataFrame,
    query_terms: Sequence[str],
    window: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context result snippets: for each doc containing any
    query term, the token window around the FIRST occurrence (smallest
    position of any query term) — ``(doc_id, anchor_pos, snippet)``.

    The anchor comes from the positional postings of the query terms
    only (doc-grain min over a term-filtered explode); the snippet
    slice re-reads just the matching docs' token arrays via a doc-keyed
    join. Deterministic by construction, so it oracle-hashes.
    """
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    tp = positional_postings(df, id_col, text_col)
    anchors = (
        tp.filter(F.col("term").isin(terms))
        .groupBy(id_col)
        .agg(F.min("pos").cast("bigint").alias("anchor_pos"))
    )
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    staged = df.select(F.col(id_col), toks.alias("_t"))
    start = F.greatest(F.lit(1), F.col("anchor_pos") - window)
    end = F.least(F.size("_t"), F.col("anchor_pos") + window)
    return (
        staged.join(anchors, id_col)
        .select(
            F.col(id_col),
            "anchor_pos",
            F.concat_ws(" ", F.slice("_t", start, end - start + F.lit(1))).alias("snippet"),
        )
    )


def search_facets(
    df: DataFrame,
    must: Sequence[str],
    facet_cols: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Faceted result counts: how the docs matching every ``must`` term
    distribute over the facet columns (source, lang, …) — the
    counts a search UI renders next to the result list.

    One semi-join of the facet projection against the boolean match
    set (doc-grain, bounded by the match count), then a facet-grain
    aggregate. Output: facet columns + ``n_docs``.
    """
    if not facet_cols:
        raise ValueError("facet_cols must be non-empty")
    hits = boolean_search(df, must=must, id_col=id_col, text_col=text_col)
    return (
        df.select(F.col(id_col), *[F.col(c) for c in facet_cols])
        .join(hits, id_col, "left_semi")
        .groupBy(*facet_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def spell_suggest(
    df: DataFrame,
    probe_terms: Sequence[str],
    max_distance: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Did-you-mean suggestions: for each probe term, the ``k`` corpus
    vocabulary terms within ``max_distance`` edits, ranked by (edit
    distance asc, document frequency desc, term asc).

    The vocabulary (term, df) table is vocabulary-grain — tiny next to
    the corpus — and the probe list broadcasts, so the verify runs
    probe x vocab, never touching documents. A LENGTH-BAND block runs
    before the Levenshtein computation: edit distance is lower-bounded
    by the length difference, so ``|len(term) - len(probe)| >
    max_distance`` rows are pruned on two ints — exact-preserving
    (unlike first-letter blocking, which would lose first-letter
    typos), and the same banding idiom as ``dedup.fuzzy_segment_pairs``.
    Output: ``(probe, rank, suggestion, distance, df_t)``.
    """
    probes = list(dict.fromkeys(probe_terms))
    if not probes:
        raise ValueError("probe_terms must be non-empty")
    tf = term_frequencies(df, id_col, text_col)
    vocab = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df_t"))
    probe_df = df.sparkSession.createDataFrame([(p,) for p in probes], "probe string")
    cand = (
        vocab.crossJoin(F.broadcast(probe_df))
        # band filter FIRST: int comparison prunes before any edit-
        # distance DP runs (levenshtein is O(len^2) per pair)
        .filter(
            F.abs(F.length("term") - F.length("probe")) <= F.lit(int(max_distance))
        )
        .withColumn("distance", F.levenshtein("probe", "term").cast("bigint"))
        .filter(F.col("distance") <= int(max_distance))
    )
    w = Window.partitionBy("probe").orderBy(
        F.col("distance").asc(), F.col("df_t").desc(), F.col("term").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("probe", "rank", F.col("term").alias("suggestion"), "distance", "df_t")
    )


# --- Lexical scoring: one pipeline, two sources -----------------------------
#
# Both sources reduce a query to the same pair of frames over a fixed,
# ordered, de-duplicated list of query terms:
#
# - per-doc candidates with ``id``, ``dl`` and ``_tf0 … _tf{n-1}``: the
#   docs holding at least one query term, integer counts, absent terms 0;
# - ONE single-row scalars frame ``(n_docs, sum_dl, _df0…, _cf0…)``: N,
#   Σdl and each term's document and collection frequency, all exact
#   integer aggregates (never a term-grain groupBy, so no term shuffle).
#
# Each model is then one column expression over those columns, folded
# over the terms in query order (engine-deterministic float summation),
# and every ranking ends in ``ranking.topk_with_rank``. Same integers and
# same expression, so the two sources score bit-identically by
# construction. Scalars a model never reads are pruned from the
# aggregate by the optimizer.


def _query_terms(query_terms: Sequence[str]) -> list[str]:
    terms = list(dict.fromkeys(query_terms))  # dedup, preserve order
    if not terms:
        raise ValueError("query_terms must be non-empty")
    return terms


def _term_counts_from_text(
    df: DataFrame, terms: Sequence[str], id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The frame pair computed map-side off the token array — the exact
    integers ``postings`` produces for these terms (same tokenizer:
    split/trim/lower, empty tokens dropped, NULL and empty text ->
    ``dl = 0``), without the explode or a token-grain shuffle. The text
    is spread once for tokenize parallelism (the small-file fixture
    coalesces to a handful of scan partitions otherwise) and the
    resulting NARROW int table is locally checkpointed: both consumers
    (the scalar aggregate and the candidate filter) reuse one tokenize
    pass instead of re-running it per subtree."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    # stage the token array once so the per-term filters share it
    staged = _spread(df, id_col).select(F.col(id_col), toks.alias("_toks"))
    counts = checkpoint_audited(
        staged.select(
            F.col(id_col),
            F.coalesce(F.size(F.col("_toks")), F.lit(0)).alias("dl"),
            *[
                F.coalesce(
                    F.size(F.filter(F.col("_toks"), lambda w: w == F.lit(t))), F.lit(0)
                )
                .cast("bigint")
                .alias(f"_tf{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    tfs = [F.col(f"_tf{i}") for i in range(len(terms))]
    scalars = counts.agg(*_corpus_aggs(), *_term_aggs(tfs))
    return counts.filter(reduce(lambda a, c: a | c, [c > 0 for c in tfs])), scalars


def _term_counts_from_postings(
    tf: DataFrame, dl: DataFrame, terms: Sequence[str], id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The frame pair read from materialized ``(tf, dl)`` index tables:
    the term-filtered postings pivoted on ``id_col``, joined to ``dl``.
    N and Σdl derive from ``dl`` alone (it carries every document);
    df(t) and cf(t) are a single-row conditional aggregate over the
    FILTERED POSTINGS — taking them from the pivot instead would add a
    second hash Exchange."""
    qtf = tf.filter(F.col("term").isin(terms))
    tfs = [F.when(F.col("term") == t, F.col("tf")).otherwise(0) for t in terms]
    per_doc = qtf.groupBy(id_col).agg(
        *[F.sum(c).cast("bigint").alias(f"_tf{i}") for i, c in enumerate(tfs)]
    ).join(dl, id_col)
    scalars = dl.agg(*_corpus_aggs()).crossJoin(F.broadcast(qtf.agg(*_term_aggs(tfs))))
    return per_doc, scalars


def _corpus_aggs() -> list[Column]:
    """N and Σdl over a frame holding one ``dl`` row per document."""
    return [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    ]


def _term_aggs(tfs: Sequence[Column]) -> list[Column]:
    """df(t) and cf(t) of each query term from a per-row count of it."""
    return [
        F.sum(F.when(c > 0, 1).otherwise(0)).cast("bigint").alias(f"_df{i}")
        for i, c in enumerate(tfs)
    ] + [F.sum(c).cast("bigint").alias(f"_cf{i}") for i, c in enumerate(tfs)]


def _bm25(n_terms: int, k1: float, b: float) -> Column:
    """Okapi BM25 with Lucene's always-positive idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` and the standard saturation
    ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``. ``avgdl`` is an
    exact integer sum divided once (not a float ``avg``), so the scalar
    is bit-identical across engines. A term the doc lacks contributes
    exactly +0.0."""
    n_docs = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_docs
    norm = F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    contribs = []
    for i in range(n_terms):
        df_t = F.col(f"_df{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n_docs - df_t + F.lit(0.5)) / (df_t + F.lit(0.5)))
        tf_d = F.col(f"_tf{i}").cast("double")
        sat = (tf_d * F.lit(k1 + 1.0)) / (tf_d + F.lit(k1) * norm)
        contribs.append(F.when(F.col(f"_tf{i}") > 0, idf * sat).otherwise(F.lit(0.0)))
    return reduce(lambda a, c: a + c, contribs)


def _ql_dirichlet(n_terms: int, mu: float) -> Column:
    """Query likelihood with Dirichlet-prior smoothing (Ponte & Croft
    '98; Zhai & Lafferty '01): ``sum_t ln((tf + mu*cf_t/|C|) / (dl +
    mu))`` with ``cf_t`` the collection frequency and ``|C| = Σdl`` the
    total token count, each smoothed probability one division of exact
    integers in a fixed expression shape."""
    denom = F.col("dl").cast("double") + F.lit(float(mu))
    contribs = [
        F.log(
            (
                F.col(f"_tf{i}").cast("double")
                + F.lit(float(mu)) * F.col(f"_cf{i}").cast("double")
                / F.col("sum_dl").cast("double")
            )
            / denom
        )
        for i in range(n_terms)
    ]
    return reduce(lambda a, c: a + c, contribs)


def _score_topk(
    frames: tuple[DataFrame, DataFrame], score: Column, k: int, id_col: str
) -> DataFrame:
    """Score the candidates against the broadcast scalars row and rank:
    ``(rank, id, score)``, score rounded to 6 decimals, rank dense in
    (score desc, id asc)."""
    per_doc, scalars = frames
    ranked = per_doc.crossJoin(F.broadcast(scalars)).select(
        F.col(id_col), F.round(score, 6).alias("score")
    )
    return topk_with_rank(ranked, [F.col("score").desc(), F.col(id_col).asc()], k)


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents for ``query_terms`` under Okapi BM25
    (Lucene's positive-idf variant; see ``_bm25``). Output: ``(rank,
    doc_id, score)``, score rounded to 6 decimals, rank dense in
    (rounded score desc, doc_id asc).

    The from-text form never builds the full inverted index: a query
    carries a handful of terms, so per-doc ``tf`` of each query term
    and ``dl`` come straight off the token array (``size(filter(…))``)
    in ONE map-only pass — no explode, no (doc, term) or doc-grain
    shuffle at all. The integers are the exact ones ``postings`` would
    produce and the scoring expression is the served form's, so scores
    are bit-identical to :func:`bm25_topk_from_postings`.
    """
    terms = _query_terms(query_terms)
    return _score_topk(
        _term_counts_from_text(df, terms, id_col, text_col),
        _bm25(len(terms), k1, b),
        k,
        id_col,
    )


def bm25_topk_from_postings(
    tf: DataFrame,
    dl: DataFrame,
    query_terms: Sequence[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k served from PRE-MATERIALIZED index tables — the form a
    deployed search stack runs, where ``(tf, dl)`` live as (bucketed or
    streaming-maintained) tables and queries never touch document text.
    ``dl`` must carry one row per document (``postings`` guarantees
    this, empty docs included), so N and Σdl both derive from it in a
    single tiny aggregate. Output as :func:`bm25_topk`.

    Zero-Exchange serving: when ``tf`` and ``dl`` are co-bucketed on
    ``id_col`` (``operators.bucketed.materialize_bucketed`` with the
    same bucket count), the whole query plans with NO hash/range
    Exchange — the per-doc pivot and the doc-keyed join both reuse the
    bucket layout; df(t) is a SINGLE-ROW conditional aggregate over the
    queried terms (never a term-grain groupBy, so no term shuffle) that
    broadcasts back, and corpus scalars likewise. The only movement is
    two scalar collect-to-one-partition steps and the broadcasts —
    asserted by ``tests/test_bucketed.py`` via ``exchange_count == 0``.
    """
    terms = _query_terms(query_terms)
    return _score_topk(
        _term_counts_from_postings(tf, dl, terms, id_col),
        _bm25(len(terms), k1, b),
        k,
        id_col,
    )


def ql_dirichlet_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    mu: float = 2000.0,
    k: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Query-likelihood (Dirichlet) top-k over raw documents — the
    second classic principled scorer (see ``_ql_dirichlet``), through
    the same map-side per-doc term counts as :func:`bm25_topk` (no
    explode, no shuffle). Candidates are docs matching >= 1 query term
    (the standard inverted-index restriction; the smoothing-only score
    of a no-match doc is rank-irrelevant below them for any query that
    matches at all); terms fold in the fixed order of ``query_terms``.
    Output as :func:`bm25_topk`."""
    terms = _query_terms(query_terms)
    return _score_topk(
        _term_counts_from_text(df, terms, id_col, text_col),
        _ql_dirichlet(len(terms), mu),
        k,
        id_col,
    )


def rrf_fuse(
    ranked_lists,
    k0: int = 60,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.): combine k-bounded
    ranked lists from heterogeneous retrievers without score
    calibration — ``rrf(d) = Σ_lists 1/(k0 + rank_list(d))``, absent
    treated as zero contribution.

    ``ranked_lists``: ordered ``[(name, df), ...]`` where each df holds
    ``(id_col, rank)``; the order FIXES the float fold order of the
    contributions, keeping summation engine-deterministic (the repo's
    multi-term score discipline). The fused relation is bounded by the
    sum of the input list sizes (every input is a top-k), so the joins
    broadcast and the final rank is a TakeOrdered-then-stamp over ≤k
    rows — nothing here scales with the corpus; corpus-scale work lives
    in the retrievers. Output: ``(rank, id_col, rrf_score,
    <name>_rank …)`` with null ranks where a list did not contain the
    document."""
    sides = [
        df.select(F.col(id_col), F.col("rank").cast("bigint").alias(f"{name}_rank"))
        for name, df in ranked_lists
    ]
    joined = reduce(lambda a, b: a.join(b, id_col, "full_outer"), sides)
    score = None
    for name, _ in ranked_lists:  # fixed fold order for float parity
        term = F.coalesce(
            F.lit(1.0) / (F.lit(int(k0)) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        score = term if score is None else score + term
    fused = joined.withColumn("rrf_score", score)
    return topk_with_rank(
        fused, [F.col("rrf_score").desc(), F.col(id_col).asc()], k
    ).select(
        "rank",
        id_col,
        F.round("rrf_score", 6).alias("rrf_score"),
        *[f"{name}_rank" for name, _ in ranked_lists],
    )
