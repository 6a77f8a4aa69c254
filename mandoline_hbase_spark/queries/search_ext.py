"""Content-retrieval queries: inverted-index / BM25 search over documents.

The reference's query surface stops at coordinate lookup
(hbase.clj:184-198); these queries add the IR retrieval layer a
training-data store needs for curation audits and eval-set mining.
Parity discipline matches llmops.py: identical tokenization on both
engines, exact-integer corpus scalars, per-term score contributions
added in a FIXED order (pivoted columns, not an unordered SUM), doubles
rounded identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mandoline_hbase_spark.operators import search
from mandoline_hbase_spark.queries.catalog import register
from mandoline_hbase_spark.sources.tables import load_table, read_parquet

# Query terms: one rare ('dup', df≈5% of docs) + two common — exercises
# the idf spread. Fixed order defines the score summation order.
_BM25_TERMS = ("dup", "hash", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75

# CTE chain shared by the pure-BM25 query and the rerank hybrid (the
# final SELECT differs); 'agg' holds (doc_id, score rounded to 6).
_DUCK_BM25_CTES = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE length(term) > 0 GROUP BY doc_id, term
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM toks WHERE length(term) > 0 GROUP BY doc_id
    ),
    corpus AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS sum_dl
    ),
    dft AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df_t
        FROM tf WHERE term IN ('dup', 'hash', 'vector') GROUP BY term
    ),
    contrib AS (
        SELECT tf.doc_id, tf.term,
               ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5)
                        / (CAST(df_t AS DOUBLE) + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
                   AS c
        FROM tf
        JOIN dl USING (doc_id)
        JOIN dft USING (term)
        CROSS JOIN corpus
    ),
    agg AS (
        SELECT doc_id,
               round(  coalesce(sum(CASE WHEN term = 'dup'    THEN c END), 0.0)
                     + coalesce(sum(CASE WHEN term = 'hash'   THEN c END), 0.0)
                     + coalesce(sum(CASE WHEN term = 'vector' THEN c END), 0.0),
                     6) AS score
        FROM contrib GROUP BY doc_id
    )
"""

_DUCK_BM25 = _DUCK_BM25_CTES + r"""
    SELECT rank, doc_id, score FROM (
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
                   AS rank,
               doc_id, score
        FROM agg
    ) WHERE rank <= 25
"""


@register(
    "bm25_search_topk",
    oracle=_DUCK_BM25,
    description=(
        "Okapi BM25 top-25 retrieval (Lucene positive-idf variant) for a "
        "3-term query, scored map-side: per-doc tf of each query term and "
        "dl come straight off the token array (no explode, no token-grain "
        "shuffle), corpus scalars and df(t) are one single-row integer "
        "aggregate broadcast back, per-term contributions folded in a "
        "fixed order so float summation is engine-deterministic, top-k "
        "via TakeOrderedAndProject (no global sort, no global window)."
    ),
    tags=("search", "text", "bm25", "topk"),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.bm25_topk(docs, _BM25_TERMS, k=25, k1=_BM25_K1, b=_BM25_B)



@register(
    "search_ql_dirichlet_topk",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE length(term) > 0 GROUP BY doc_id, term
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM toks WHERE length(term) > 0 GROUP BY doc_id
    ),
    scal AS (
        SELECT (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS c_tokens,
               (SELECT CAST(coalesce(sum(CASE WHEN term = 'dup'    THEN tf END), 0) AS BIGINT) FROM tf) AS cf0,
               (SELECT CAST(coalesce(sum(CASE WHEN term = 'hash'   THEN tf END), 0) AS BIGINT) FROM tf) AS cf1,
               (SELECT CAST(coalesce(sum(CASE WHEN term = 'vector' THEN tf END), 0) AS BIGINT) FROM tf) AS cf2
    ),
    piv AS (
        SELECT doc_id,
               max(CASE WHEN term = 'dup'    THEN tf END) AS tf0,
               max(CASE WHEN term = 'hash'   THEN tf END) AS tf1,
               max(CASE WHEN term = 'vector' THEN tf END) AS tf2
        FROM tf WHERE term IN ('dup', 'hash', 'vector') GROUP BY doc_id
    ),
    scored AS (
        SELECT p.doc_id,
               round(
                 ln((CAST(coalesce(tf0, 0) AS DOUBLE)
                     + 2000.0 * CAST(cf0 AS DOUBLE) / CAST(c_tokens AS DOUBLE))
                    / (CAST(dl AS DOUBLE) + 2000.0))
               + ln((CAST(coalesce(tf1, 0) AS DOUBLE)
                     + 2000.0 * CAST(cf1 AS DOUBLE) / CAST(c_tokens AS DOUBLE))
                    / (CAST(dl AS DOUBLE) + 2000.0))
               + ln((CAST(coalesce(tf2, 0) AS DOUBLE)
                     + 2000.0 * CAST(cf2 AS DOUBLE) / CAST(c_tokens AS DOUBLE))
                    / (CAST(dl AS DOUBLE) + 2000.0)),
               6) AS score
        FROM piv p JOIN dl USING (doc_id) CROSS JOIN scal
    )
    SELECT rank, doc_id, score FROM (
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
                   AS rank,
               doc_id, score
        FROM scored
    ) WHERE rank <= 25
    """,
    description=(
        "Query-likelihood retrieval with Dirichlet-prior smoothing "
        "(Ponte & Croft / Zhai & Lafferty, mu=2000) - the second "
        "classic principled scorer, scored map-side like bm25_search_"
        "topk (per-doc query-term tf and dl off the token array, no "
        "explode): candidates are docs matching >= 1 query term, cf_t "
        "and |C| are exact single-row integer aggregates (no term-grain "
        "shuffle), smoothed log-probabilities fold in fixed query "
        "order, top-25 via TakeOrderedAndProject. "
        "operators/search.py::ql_dirichlet_topk"
    ),
    tags=("search", "text", "lm", "dirichlet", "topk"),
)
def search_ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.ql_dirichlet_topk(docs, _BM25_TERMS, mu=2000.0, k=25)


@register(
    "bm25_served_topk",
    oracle=_DUCK_BM25,
    description=(
        "BM25 served from MATERIALIZED postings tables (train-once/"
        "serve-many, the deployed shape): the inverted index (tf, dl) "
        "is built once per corpus and persisted; queries read the "
        "postings alone — document text is never touched at serve "
        "time. Postings derivation is deterministic, so the served "
        "scores equal the corpus-side bm25_search_topk bit-for-bit and "
        "the same value-level oracle adjudicates the deployment shape "
        "itself — the text sibling of sim_ivf_served_topk."
    ),
    tags=("search", "text", "bm25", "topk", "served"),
)
def bm25_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from mandoline_hbase_spark.operators.served import memoized_artifact

    def _build(work: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        tf, dl = search.postings(docs)
        tf.write.mode("overwrite").parquet(os.path.join(work, "tf"))
        dl.write.mode("overwrite").parquet(os.path.join(work, "dl"))

    # content-fingerprinted cache slot + atomic rename claim — the
    # same stale-proof / race-safe protocol as sim_ivf_served_topk,
    # shared via operators/served.py
    index_dir = memoized_artifact(
        "mandoline-postings",
        os.path.join(sf_dir, "documents.parquet"),
        {"layout": "postings-v1"},
        _build,
    )
    tf = read_parquet(spark, f"{index_dir}/tf")
    dl = read_parquet(spark, f"{index_dir}/dl")
    return search.bm25_topk_from_postings(
        tf, dl, _BM25_TERMS, k=25, k1=_BM25_K1, b=_BM25_B
    )


@register(
    "bm25_stream_served_topk",
    oracle=_DUCK_BM25,
    description=(
        "BM25 served from a STREAM-MAINTAINED postings index (stretch, "
        "VERDICT r7 #10): the artifact is built by a real Structured "
        "Streaming run — the corpus staged into multiple files, "
        "readStream with maxFilesPerTrigger=1, foreachBatch postings "
        "appends (streaming/search.start_index_maintenance), "
        "availableNow termination, then one compact_index fold — and "
        "queries serve from the maintained index alone. Postings rows "
        "are per-(doc, term) and batch-split-independent, so the "
        "stream-built index scores equal the corpus-side "
        "bm25_search_topk bit-for-bit: the streaming upkeep path "
        "itself sits under the driver's value-level oracle instead of "
        "only under pytest."
    ),
    tags=("search", "text", "bm25", "topk", "served", "streaming"),
)
def bm25_stream_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from mandoline_hbase_spark.operators.served import memoized_artifact
    from mandoline_hbase_spark.streaming import search as ssearch

    def _build(work: str) -> None:
        # stage the corpus as several files so the maintenance run
        # is genuinely incremental (one micro-batch per file), then
        # drive the real foreachBatch loop to completion
        staging = os.path.join(work, "staging")
        docs = load_table(spark, sf_dir, "documents")
        docs.repartition(4).write.mode("overwrite").parquet(staging)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staging)
        )
        q = ssearch.start_index_maintenance(
            stream, os.path.join(work, "index"), os.path.join(work, "ckpt")
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("postings maintenance stream did not finish")
        ssearch.compact_index(spark, os.path.join(work, "index"))
        # only the index is served: keep the staged corpus copy and
        # the stream checkpoint out of the committed artifact (at
        # sf10 the staging alone is a second full documents table)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)

    artifact = memoized_artifact(
        "mandoline-postings-stream",
        os.path.join(sf_dir, "documents.parquet"),
        {"layout": "stream-postings-v2", "files": 4},
        _build,
    )
    return ssearch.bm25_search(
        spark,
        os.path.join(artifact, "index"),
        list(_BM25_TERMS),
        k=25,
        k1=_BM25_K1,
        b=_BM25_B,
    )


@register(
    "search_phrase_occurrences",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    tp AS (
        SELECT doc_id, unnest(t) AS term,
               unnest(generate_series(1, len(t))) AS pos
        FROM toks
    ),
    a AS (SELECT doc_id, pos FROM tp WHERE term = 'hash'),
    b AS (SELECT doc_id, pos FROM tp WHERE term = 'join')
    SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id ORDER BY a.doc_id
    """,
    description=(
        "Exact-phrase retrieval ('hash join') over the positional "
        "inverted index: postings filtered to the phrase terms before "
        "any shuffle, successive (doc, anchor_pos+i) semi-joins — work "
        "is proportional to the phrase terms' postings, never the "
        "corpus; every join is (doc, pos)-keyed and co-partitioned."
    ),
    tags=("search", "text", "phrase"),
)
def search_phrase_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.phrase_occurrences(docs, ["hash", "join"]).orderBy("doc_id")


@register(
    "search_proximity_window",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    tp AS (
        SELECT doc_id, unnest(t) AS term,
               unnest(generate_series(1, len(t))) AS pos
        FROM toks
    ),
    a AS (SELECT doc_id, pos FROM tp WHERE term = 'dup'),
    b AS (SELECT doc_id, pos FROM tp WHERE term = 'hash'),
    spans AS (
        SELECT a.doc_id,
               greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1 AS span
        FROM a JOIN b USING (doc_id)
    )
    SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span
    FROM spans GROUP BY doc_id
    HAVING min(span) <= 8
    ORDER BY doc_id
    """,
    description=(
        "Proximity retrieval ('dup' NEAR/8 'hash', any order) over the "
        "positional inverted index, with the tightest span per doc: "
        "postings filtered to the query terms before any shuffle, "
        "anchor-banded position joins (candidates bounded by in-band "
        "occurrences, never full position cross products) — the "
        "unordered sibling of exact-phrase search."
    ),
    tags=("search", "text", "proximity"),
)
def search_proximity_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.proximity_search(docs, ["dup", "hash"], window=8).orderBy("doc_id")


@register(
    "search_boolean_filter",
    oracle=r"""
    WITH tp AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    )
    SELECT doc_id FROM tp
    WHERE term IN ('dup', 'hash', 'vector')
    GROUP BY doc_id
    HAVING count(DISTINCT CASE WHEN term IN ('dup', 'hash') THEN term END) = 2
       AND count(CASE WHEN term = 'vector' THEN 1 END) = 0
    ORDER BY doc_id
    """,
    description=(
        "Boolean retrieval (MUST dup AND hash, MUST NOT vector): one "
        "distinct (doc, term) pass over postings filtered to the query "
        "terms, then a single doc-grain aggregate — one shuffle total, "
        "no per-term join chain."
    ),
    tags=("search", "text", "boolean"),
)
def search_boolean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.boolean_search(docs, must=["dup", "hash"], must_not=["vector"]).orderBy(
        "doc_id"
    )


@register(
    "search_bm25_rerank_cosine",
    oracle=_DUCK_BM25_CTES
    + r""",
    bm AS (
        SELECT doc_id, score FROM (
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS BIGINT) AS r
            FROM agg
        ) WHERE r <= 25
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
    cand AS (
        SELECT bm.doc_id, bm.score AS bm25_score,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                   AS cosine
        FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id CROSS JOIN q
    )
    SELECT rank, doc_id, bm25_score, cosine FROM (
        SELECT CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT)
                   AS rank,
               doc_id, bm25_score, cosine
        FROM cand
    ) WHERE rank <= 10
    """,
    description=(
        "Retrieve-then-rerank hybrid search: BM25 top-25 lexical "
        "shortlist, re-ranked by embedding cosine against a broadcast "
        "query vector — the embedding join touches 25 rows, never the "
        "corpus; the two-stage shape every modern search stack uses."
    ),
    tags=("search", "ann", "bm25", "rerank", "hybrid"),
)
def search_bm25_rerank_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 7)
    return search.bm25_rerank_cosine(
        docs, emb, _BM25_TERMS, qv, k_retrieve=25, k_final=10
    )


@register(
    "search_rrf_fusion",
    oracle=_DUCK_BM25_CTES
    + r""",
    bm AS (
        SELECT doc_id, bm25_rank FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS BIGINT) AS bm25_rank
            FROM agg
        ) WHERE bm25_rank <= 25
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
    cos AS (
        SELECT doc_id, cos_rank FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC)
                        AS BIGINT) AS cos_rank
            FROM (
                SELECT e.vec_id AS doc_id,
                       list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> 7
            )
        ) WHERE cos_rank <= 25
    ),
    fused AS (
        SELECT coalesce(bm.doc_id, cos.doc_id) AS doc_id,
               bm.bm25_rank, cos.cos_rank,
               coalesce(1.0 / (60 + bm.bm25_rank), 0.0)
             + coalesce(1.0 / (60 + cos.cos_rank), 0.0) AS rrf
        FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
    )
    SELECT rank, doc_id, round(rrf, 6) AS rrf_score, bm25_rank, cos_rank
    FROM (
        SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT)
                   AS rank,
               doc_id, rrf, bm25_rank, cos_rank
        FROM fused
    ) WHERE rank <= 10
    """,
    description=(
        "Reciprocal-rank fusion of heterogeneous retrievers: the BM25 "
        "lexical top-25 and the embedding-cosine top-25 fuse by "
        "rrf = 1/(60+rank_bm25) + 1/(60+rank_cos) — no score "
        "calibration across retrievers, the standard hybrid-retrieval "
        "combiner. Both inputs are k-bounded, so the fusion joins "
        "broadcast and the final rank is TakeOrdered-then-stamp; "
        "corpus-scale work lives entirely in the retrievers. "
        "Contributions fold in a FIXED order (bm25 then cosine) for "
        "engine-deterministic float summation."
    ),
    tags=("search", "ann", "bm25", "rrf", "hybrid"),
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mandoline_hbase_spark.operators import similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = search.bm25_topk(docs, _BM25_TERMS, k=25, k1=_BM25_K1, b=_BM25_B)
    cos = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 7), k=25)
    return search.rrf_fuse(
        [
            ("bm25", bm.select("doc_id", "rank")),
            ("cos", cos.select(F.col("neighbor_id").alias("doc_id"), "rank")),
        ],
        k0=60,
        k=10,
    )


@register(
    "search_facets_by_source",
    oracle=r"""
    WITH tp AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    hits AS (
        SELECT doc_id FROM tp WHERE term IN ('dup', 'hash')
        GROUP BY doc_id HAVING count(DISTINCT term) = 2
    )
    SELECT d.source, d.lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN hits USING (doc_id)
    GROUP BY d.source, d.lang ORDER BY d.source, d.lang
    """,
    description=(
        "Faceted search counts: distribution of the docs matching ALL "
        "query terms over (source, lang) — one doc-grain semi-join "
        "against the boolean match set, then a facet-grain aggregate."
    ),
    tags=("search", "facets", "boolean"),
)
def search_facets_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.search_facets(docs, must=["dup", "hash"], facet_cols=["source", "lang"]).orderBy(
        "source", "lang"
    )


@register(
    "search_spell_suggest",
    oracle=r"""
    WITH tf AS (
        SELECT doc_id, term FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
            FROM documents
        ) WHERE length(term) > 0
        GROUP BY doc_id, term
    ),
    vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
    probes AS (SELECT unnest(['hsah', 'vectro', 'quer']) AS probe),
    cand AS (
        SELECT probe, term, CAST(levenshtein(probe, term) AS BIGINT) AS distance, df_t
        FROM vocab CROSS JOIN probes
        WHERE levenshtein(probe, term) <= 2
    )
    SELECT probe, rank, suggestion, distance, df_t FROM (
        SELECT probe,
               CAST(row_number() OVER (PARTITION BY probe
                    ORDER BY distance ASC, df_t DESC, term ASC) AS BIGINT) AS rank,
               term AS suggestion, distance, df_t
        FROM cand
    ) WHERE rank <= 3
    ORDER BY probe, rank
    """,
    description=(
        "Did-you-mean suggestions: misspelled probes matched against "
        "the corpus vocabulary by Levenshtein distance (<=2), ranked "
        "by (distance, document frequency, term). The vocabulary table "
        "is vocabulary-grain and the probe list broadcasts — documents "
        "are never touched; at real vocab sizes block by length/first "
        "letter like the fuzzy segment join."
    ),
    tags=("search", "spelling", "fuzzy"),
)
def search_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.spell_suggest(docs, ["hsah", "vectro", "quer"], max_distance=2, k=3).orderBy(
        "probe", "rank"
    )


@register(
    "search_snippets",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    tp AS (
        SELECT doc_id, unnest(t) AS term,
               unnest(generate_series(1, len(t))) AS pos
        FROM toks
    ),
    anchors AS (
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS anchor_pos
        FROM tp WHERE term IN ('dup') GROUP BY doc_id
    )
    SELECT a.doc_id, a.anchor_pos,
           array_to_string(
               t[greatest(1, anchor_pos - 3):least(len(t), anchor_pos + 3)],
               ' ') AS snippet
    FROM anchors a JOIN toks USING (doc_id)
    ORDER BY a.doc_id
    """,
    description=(
        "Keyword-in-context snippets around the first query-term "
        "occurrence: anchor from the positional postings of the query "
        "terms only (doc-grain min), snippet slice via one doc-keyed "
        "join back to the matching docs' token arrays."
    ),
    tags=("search", "snippets", "highlight"),
)
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return search.snippets(docs, ["dup"], window=3).orderBy("doc_id")
