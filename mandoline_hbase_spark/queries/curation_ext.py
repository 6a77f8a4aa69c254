"""Curation extensions: semantic dedup, n-gram heavy hitters, data mixing.

North-star LLM-pipeline additions (the reference has no analytics
surface at all — SURVEY.md §2.2): SemDeDup-style cluster-bounded
embedding dedup, corpus n-gram mining, and deterministic token-budget
source mixing. Every query is oracle-checked; parity notes follow the
discipline documented in llmops.py (identical IEEE operation sequences,
identical rounding, BIGINT casts on integer outputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mandoline_hbase_spark.operators import dedup, sampling, semdedup, text
from mandoline_hbase_spark.operators import packing as packing_ops
from mandoline_hbase_spark.operators.ranking import topk_with_rank
from mandoline_hbase_spark.operators.skew import spread_to_parallelism
from mandoline_hbase_spark.queries.catalog import register
from mandoline_hbase_spark.queries.llmops import _DUCK_SHINGLES
from mandoline_hbase_spark.sources.tables import load_table

# Shared DuckDB fragment: nearest-centroid assignment over the 8
# lowest-id vectors, ties to the smallest centroid id — mirrors
# operators.semdedup.assign_clusters (sequential-sum cosine; the
# existing sim_* oracles establish that list_cosine_similarity and the
# left-fold Spark formulation agree at double precision).
_DUCK_ASSIGN = """
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < 8
    ),
    sims AS (
        SELECT e.vec_id, c.centroid_id,
               list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS sim
        FROM embeddings e, cents c
    ),
    assign AS (
        SELECT vec_id, centroid_id AS cluster_id, sim FROM (
            SELECT vec_id, centroid_id, sim,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id ASC) AS rn
            FROM sims
        ) WHERE rn = 1
    )
"""


@register(
    "dedup_semantic_assign",
    oracle=_DUCK_ASSIGN
    + """
    SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           round(sim, 6) AS centroid_sim
    FROM assign
    """,
    description=(
        "SemDeDup stage 1 — nearest-centroid cluster assignment as a "
        "map-only pass: centroids inlined as broadcast literals, argmax "
        "via array_max over (sim, -id) structs. ZERO shuffles, pure "
        "whole-stage codegen."
    ),
    tags=("llm", "dedup", "semantic", "embeddings"),
)
def dedup_semantic_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = semdedup.deterministic_centroids(emb, k=8)
    return semdedup.assign_clusters(emb, cents).select(
        "vec_id", "cluster_id", F.round("centroid_sim", 6).alias("centroid_sim")
    )


@register(
    "dedup_semantic_prune",
    oracle=_DUCK_ASSIGN
    + """,
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assign a
        JOIN assign b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                                     eb.embedding::DOUBLE[]) >= 0.4
    )
    SELECT v.vec_id, CAST(v.cluster_id AS BIGINT) AS cluster_id,
           v.vec_id NOT IN (SELECT id_b FROM pairs) AS is_kept
    FROM assign v
    """,
    description=(
        "SemDeDup stage 2 — within-cluster cosine>=0.4 pairs, drop the "
        "larger id of each pair. The pair stage is keyed on cluster_id "
        "(the ONLY shuffle), so pair work is bounded by the largest "
        "cluster, never the corpus: raise k until clusters fit an "
        "executor. Pairs come from the per-cluster BLAS gram matrix "
        "(the web-scale path; pair-set-identical to the JVM fold per "
        "the equivalence test, so the SQL oracle still applies — the "
        "kept/dropped verdict only reads sim >= threshold)."
    ),
    tags=("llm", "dedup", "semantic", "embeddings"),
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup.semantic_dedup(emb, k=8, threshold=0.4, pair_strategy="matmul")


@register(
    "dedup_semantic_pairs_blas",
    oracle=_DUCK_ASSIGN
    + """,
    q AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS qv
        FROM embeddings
    ),
    qn AS (
        SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS HUGEINT) AS nq
        FROM q
    ),
    pr AS (
        SELECT a.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(list_dot_product(qa.qv, qb.qv) AS HUGEINT) AS d,
               qa.nq AS na, qb.nq AS nb
        FROM assign a
        JOIN assign b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        JOIN qn qa ON qa.vec_id = a.vec_id
        JOIN qn qb ON qb.vec_id = b.vec_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id, id_a, id_b,
           CAST(d AS BIGINT) AS dot_micro
    FROM pr
    WHERE d >= 0 AND 25 * d * d >= 4 * na * nb
    """,
    description=(
        "SemDeDup pair stage, matmul scale path, made HASH-EXACT "
        "(VERDICT r7 #2): embeddings quantized to integer micro-units "
        "(floor(x*1e6)) so the per-cluster BLAS gram matrix is "
        "order-independent (every partial sum of an integer-valued dot "
        "< 2^53 is exact in float64), and the cos>=2/5 test becomes the "
        "pure-integer predicate 25*dot^2 >= 4*|a|^2*|b|^2 over "
        "arbitrary-precision ints — DuckDB reproduces it verbatim over "
        "HUGEINTs, closing the catalog's last no-oracle rationale. The "
        "float-sim BLAS form stays available as "
        "semdedup.semantic_near_dup_pairs_matmul (fold-equivalence "
        "pinned by test_matmul_pairs_match_fold_pairs)."
    ),
    tags=("llm", "dedup", "semantic", "embeddings", "scale-path"),
)
def dedup_semantic_pairs_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup.semantic_near_dup_pairs_matmul_micro(
        emb, k=8, threshold_num=2, threshold_den=5
    )


@register(
    "text_top_bigrams",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           t -> length(t) > 0) AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)),
                                     i -> array_to_string(t[i:i+1], ' '))
                 ELSE [] END) AS gram
        FROM toks
    ),
    per_doc AS (
        SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
        FROM g GROUP BY doc_id, gram
    ),
    totals AS (
        SELECT gram, CAST(sum(tf) AS BIGINT) AS total_tf,
               CAST(count(*) AS BIGINT) AS doc_freq
        FROM per_doc GROUP BY gram
    )
    SELECT * FROM (
        SELECT CAST(row_number() OVER (ORDER BY total_tf DESC, gram ASC) AS BIGINT) AS rank,
               gram, total_tf, doc_freq
        FROM totals
    ) WHERE rank <= 25
    """,
    description=(
        "Heavy hitters: corpus top-25 word bigrams. Two-stage aggregate "
        "(per-doc partial combine before the gram-grain shuffle) + "
        "TakeOrderedAndProject top-k — the exact baseline a count-min / "
        "SpaceSaving sketch approximates at wider key spaces."
    ),
    tags=("llm", "text", "ngrams", "heavy-hitters"),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.top_ngrams(docs, n=2, k=25)


@register(
    "mix_sources_token_budget",
    oracle=r"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
               END AS BIGINT) AS n_tok,
               CAST(doc_id % 4 AS BIGINT) AS bucket,
               substr(md5(doc_id::VARCHAR || ':mix42'), 1, 8) AS h
        FROM documents
    ),
    runs AS (
        SELECT doc_id, source, bucket, n_tok,
               CAST(sum(n_tok) OVER (
                   PARTITION BY source, bucket ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tok
        FROM scored
    )
    SELECT doc_id, source, bucket, n_tok, cum_tok
    FROM runs WHERE cum_tok <= 200
    """,
    description=(
        "Deterministic data mixing: fill an 800-token budget per source "
        "in salted-hash order, split over 4 id-sliced buckets (200 "
        "each) so the running sum parallelizes source x bucket instead "
        "of serializing each source through one task."
    ),
    tags=("llm", "mixing", "sampling", "window"),
)
def mix_sources_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.mix_to_token_budget(docs, tokens_per_source=800, n_buckets=4)


# Batch split for the incremental-admission queries: every third doc is
# the "incoming" batch, the rest is the existing corpus.
_INC = "doc_id % 3 = 0"
_COR = "doc_id % 3 <> 0"


@register(
    "dedup_incremental_exact",
    oracle=f"""
    WITH inc AS (
        SELECT doc_id, md5(text) AS content_hash
        FROM documents WHERE {_INC}
    ),
    seen AS (SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE {_COR})
    SELECT doc_id, content_hash
    FROM inc
    WHERE content_hash NOT IN (SELECT content_hash FROM seen)
    QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1
    """,
    description=(
        "Incremental exact-dup admission: incoming batch (doc_id%3=0) "
        "anti-joined on content hash against the existing corpus's "
        "distinct-hash index, then min-id within batch. Admission "
        "shuffles hash keys only — never corpus text."
    ),
    tags=("llm", "dedup", "incremental"),
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    admitted = dedup.incremental_exact_new(
        docs.filter(F.col("doc_id") % 3 == 0), docs.filter(F.col("doc_id") % 3 != 0)
    )
    return admitted.select("doc_id", "content_hash")


@register(
    "dedup_incremental_minhash",
    oracle=_DUCK_SHINGLES.replace("FROM documents", f"FROM documents WHERE {_INC}")
    + f""",
    shc AS (
        SELECT doc_id, list_distinct(
                   list_transform(
                       range(1, greatest(len(t) - 2, 1) + 1),
                       i -> array_to_string(t[i:i+2], ' ')
                   )
               ) AS sh
        FROM (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents WHERE {_COR}
        )
    )
    SELECT i.doc_id
    FROM sh i
    WHERE NOT EXISTS (
        SELECT 1 FROM shc c
        WHERE len(list_intersect(i.sh, c.sh))::DOUBLE
              / len(list_distinct(list_concat(i.sh, c.sh))) >= 0.7
    )
    """,
    description=(
        "Incremental near-dup admission: incoming LSH bands probe the "
        "corpus band table one-directionally (cost proportional to the "
        "batch, not the corpus), estimate-prefiltered and exact-Jaccard "
        "verified; oracle = exact NOT EXISTS thresholding (LSH recall "
        "~1 at the fixture's jaccard floor, as for dedup_minhash_lsh)."
    ),
    tags=("llm", "dedup", "incremental", "minhash"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    admitted = dedup.incremental_minhash_new(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        threshold=0.7,
    )
    return admitted.select("doc_id")


@register(
    "dedup_semantic_kmeans",
    oracle=_DUCK_ASSIGN
    + """
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           true AS lloyd_improves
    FROM assign GROUP BY cluster_id
    """,
    description=(
        "k-means fit harness with a value-level oracle via the "
        "degenerate-config idiom (VERDICT r6 #6): a 0-iteration fit "
        "from the deterministic seed IS the closed-form "
        "nearest-centroid assignment DuckDB reproduces (cluster sizes "
        "value-checked), while the ITERATIVE Lloyd path — the part no "
        "single ANSI-SQL statement can express — is exercised by a "
        "2-iteration fit whose objective must not regress vs the seed; "
        "that contract rides in-plan as the lloyd_improves claim "
        "column (the sketch-query claim idiom: a broken Lloyd update "
        "flips it false and the driver hash-mismatches). Update-step "
        "numerics stay pinned by tests/test_curation_ext.py against a "
        "numpy reference."
    ),
    tags=("llm", "dedup", "semantic", "kmeans"),
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    seed = semdedup.kmeans_fit(emb, k=8, iters=0)  # == deterministic seed
    # r10 job-count diet (identical values end to end): the 2-iteration
    # fit starts from the ALREADY-computed seed (skipping its dim-probe
    # and k-lowest-id init jobs), and the seed assignment — needed by
    # both the inertia comparison and the output grouping — runs once,
    # materialized via localCheckpoint instead of two full scans.
    fitted = semdedup.kmeans_fit(emb, k=8, iters=2, init=seed)
    from mandoline_hbase_spark.plans.audit import checkpoint_audited

    # checkpoint_audited, not bare localCheckpoint: the severed scan +
    # assignment must stay visible to the plan audit (scanless-entry
    # guard in tests/test_plan_audit.py)
    seed_assigned = checkpoint_audited(
        semdedup.assign_clusters(emb, seed)
        .select("cluster_id", "centroid_sim")  # all either consumer reads
    )
    seed_inertia = float(
        seed_assigned.agg(F.avg(1.0 - F.col("centroid_sim"))).first()[0]
    )
    improves = semdedup.kmeans_inertia(emb, fitted) <= seed_inertia + 1e-9
    return (
        seed_assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .withColumn("lloyd_improves", F.lit(bool(improves)))
    )


@register(
    "text_bigram_cms_estimate",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           t -> length(t) > 0) AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id, unnest(
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)),
                                     i -> array_to_string(t[i:i+1], ' '))
                 ELSE [] END) AS gram
        FROM toks
    ),
    per_doc AS (
        SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
        FROM g GROUP BY doc_id, gram
    ),
    totals AS (
        SELECT gram, CAST(sum(tf) AS BIGINT) AS total_tf,
               CAST(count(*) AS BIGINT) AS doc_freq
        FROM per_doc GROUP BY gram
    )
    SELECT rank, gram, total_tf, true AS cms_ok FROM (
        SELECT CAST(row_number() OVER (ORDER BY total_tf DESC, gram ASC) AS BIGINT) AS rank,
               gram, total_tf
        FROM totals
    ) WHERE rank <= 25
    """,
    description=(
        "Count-min sketch heavy hitters: sketch all bigram occurrences "
        "into a 4x1024 counter table (the ONLY shuffle is 4096 keys, "
        "corpus-size-independent, shards merge by addition), then "
        "estimate the exact top-25 grams. est_tf >= total_tf always; "
        "accuracy bound asserted in tests/test_curation_ext.py."
    ),
    tags=("llm", "text", "sketch", "heavy-hitters"),
)
def text_bigram_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: F.length(t) > 0)
    grams_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode_outer + null filter (see text.top_ngrams): keeps the gram
    # construction out of the scan-side inferred filter.
    occurrences = docs.select(F.explode_outer(grams_arr).alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    # ONE tokenize+explode pass (r10): the sketch, the exact top-25, and
    # the in-plan N all derive from the gram-grain totals, materialized
    # once. Sketching pre-aggregated (gram, total_tf) rows is IDENTICAL
    # to sketching raw occurrences with tf=1 — CMS counters are sums,
    # and addition is associative/commutative per bucket — while the
    # pre-r10 form tokenized the corpus three times (sketch input,
    # top_ngrams, and the N aggregate). total_tf == top_ngrams's sum of
    # per-doc tf; rank uses the same (total_tf desc, gram asc) order.
    from mandoline_hbase_spark.plans.audit import checkpoint_audited

    # checkpoint_audited keeps the severed tokenize+aggregate subplan
    # visible to the plan audit (scanless-entry guard)
    totals = checkpoint_audited(
        occurrences.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("total_tf"))
    )
    top = topk_with_rank(totals, [F.desc("total_tf"), F.asc("gram")], 25)
    sketch = text.countmin_sketch(totals, "gram", "total_tf", depth=4, width=1024)
    est = text.countmin_estimate(sketch, top.select("gram"), "gram", depth=4, width=1024)
    # The sketch buckets are xxhash64-placed (engine-specific), but the
    # CMS CONTRACT is hashable: est >= exact always (counters only ever
    # overestimate) and the overshoot stays within the expectation-level
    # bound 2N/width (N = total gram occurrences = sum of the totals,
    # computed in-plan; measured worst overshoot on the fixtures is ~31
    # vs a ~53 bound).
    n_total = totals.agg(F.sum("total_tf").alias("_n"))
    return (
        top.join(est, "gram")
        .crossJoin(F.broadcast(n_total))
        .select(
            "rank",
            "gram",
            "total_tf",
            (
                (F.col("est_tf") >= F.col("total_tf"))
                & (F.col("est_tf") <= F.col("total_tf") + 2.0 * F.col("_n") / 1024)
            ).alias("cms_ok"),
        )
        .orderBy("rank")
    )


@register(
    "chunk_documents_windows",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
        WHERE length(trim(text)) > 0
    ),
    sized AS (
        SELECT doc_id, toks, len(toks) AS n,
               CASE WHEN len(toks) <= 32 THEN 1
                    ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_win
        FROM t
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(toks[(i*24 + 1):(i*24 + 32)], ' ') AS chunk_text,
           CAST(least(n - i*24, 32) AS BIGINT) AS n_tok
    FROM sized, unnest(range(0, n_win)) AS u(i)
    """,
    description=(
        "Context-window document chunking: 32-token windows, stride 24 "
        "(overlapping training chunks) — map-only window construction, "
        "explode, no shuffle; chunk rows pipeline into packing/tokenization"
    ),
    tags=("llm", "chunking", "packing"),
)
def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return packing_ops.chunk_documents(docs, chunk_tokens=32, stride=24)


@register(
    "contrastive_triplets",
    oracle="""
    WITH pos AS (
        SELECT a.vec_id AS anchor_id, b.vec_id AS positive_id
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.4
    ),
    pos_sym AS (
        SELECT anchor_id AS x, positive_id AS y FROM pos
        UNION ALL
        SELECT positive_id AS x, anchor_id AS y FROM pos
    ),
    cands AS (
        SELECT vec_id AS cand_id,
               ('0x' || substr(md5(vec_id::VARCHAR || ':neg42'), 1, 8))::BIGINT % 4
                   AS bucket
        FROM embeddings
    ),
    joined AS (
        SELECT p.anchor_id, p.positive_id, c.cand_id
        FROM pos p
        JOIN cands c
          ON c.bucket = ('0x' || substr(md5(p.anchor_id::VARCHAR || ':neg42'), 1, 8))::BIGINT % 4
        WHERE c.cand_id <> p.anchor_id AND c.cand_id <> p.positive_id
          AND NOT EXISTS (SELECT 1 FROM pos_sym s
                          WHERE s.x = p.anchor_id AND s.y = c.cand_id)
    )
    SELECT anchor_id, positive_id, cand_id AS negative_id FROM (
        SELECT anchor_id, positive_id, cand_id,
               row_number() OVER (
                   PARTITION BY anchor_id, positive_id
                   ORDER BY md5(anchor_id::VARCHAR || ':' || cand_id::VARCHAR || ':neg42') ASC,
                            cand_id ASC
               ) AS rn
        FROM joined
    ) WHERE rn = 1
    """,
    description=(
        "Contrastive triplets: near-dup positives (cosine>=0.4) + a "
        "deterministic bucket-bounded hash-drawn negative per pair - the "
        "embedding-training pair prep; one bucket-key shuffle, no RNG"
    ),
    tags=("llm", "similarity", "contrastive", "training-pairs"),
)
def contrastive_triplets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mandoline_hbase_spark.operators import contrastive

    emb = load_table(spark, sf_dir, "embeddings")
    return contrastive.contrastive_triplets(emb, threshold=0.4, n_buckets=4)


@register(
    "text_top_terms_sketch",
    oracle=r"""
        WITH tf AS (
            SELECT w AS term, count(*)::BIGINT AS cnt FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
                FROM documents
            ) WHERE length(w) > 0 GROUP BY w
        )
        SELECT term, cnt AS count_lo, true AS bound_tight
        FROM tf ORDER BY cnt DESC, term ASC LIMIT 25
    """,
    description=(
        "Mergeable top-25 term heavy hitters (SpaceSaving-style truncated "
        "partial summaries, <= partial_k rows shuffled per partition) - "
        "the candidate-FINDING twin of the count-min estimator"
    ),
    tags=("llm", "text", "heavy-hitters", "sketch", "mergeable", "scale-path"),
)
def text_top_terms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The truncated-summary merge is EXACT whenever no partition
    # truncated (vocabulary <= partial_k per partition — true at every
    # test scale; epsilon totals 0, so count_hi == count_lo): the output
    # hashes against the exact SQL top-25 with the tightness claim
    # riding along. Under real truncation the lo/hi bracket guarantee is
    # pinned by tests/test_kmv.py.
    from mandoline_hbase_spark.operators.kmv import topk_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    terms = (
        spread_to_parallelism(docs, "doc_id")
        .select(F.explode_outer(toks).alias("term"))
        .filter(F.length("term") > 0)
    )
    hh = topk_heavy_hitters(terms, "term", k=25, partial_k=2000)
    return hh.select(
        "term", "count_lo", (F.col("count_hi") == F.col("count_lo")).alias("bound_tight")
    )


@register(
    "corpus_stats_report",
    oracle="""
    SELECT coalesce(source, '__all__') AS source,
           coalesce(lang, '__all__') AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
           END) AS BIGINT) AS n_tokens,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), ())
    """,
    description=(
        "Corpus composition report: docs / tokens / avg length by "
        "(source, lang), per-source subtotals, and the grand total in ONE "
        "grouping-sets pass - the standard pipeline dashboard feed"
    ),
    tags=("llm", "reporting", "grouping-sets"),
)
def corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = text.n_tokens(F.col("text")).cast("bigint")
    return (
        docs.groupingSets(
            [["source", "lang"], ["source"], []], "source", "lang"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(n_tok).cast("bigint").alias("n_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("__all__")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("__all__")).alias("lang"),
            "n_docs",
            "n_tokens",
            "avg_chars",
        )
    )


@register(
    "epoch_shuffle_shards",
    oracle=r"""
    WITH k AS (
        SELECT doc_id,
               substr(md5(doc_id::VARCHAR || ':shuffle:e1'), 1, 8) AS key
        FROM documents
    ),
    s AS (
        SELECT doc_id, key,
               least(floor(('0x' || key)::BIGINT::DOUBLE / 4294967296.0 * 8), 7)::BIGINT
                   AS shard
        FROM k
    )
    SELECT doc_id, 1::BIGINT AS epoch, shard,
           (row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1)::BIGINT
               AS shuffle_pos
    FROM s ORDER BY doc_id
    """,
    description=(
        "Deterministic epoch-wise global shuffle into data-loader shards: "
        "salted (id, epoch) hash as the permutation key — reproducible, "
        "resumable, RNG-free; one range shuffle, per-shard windows only"
    ),
    tags=("llm", "training", "shuffle", "sharding"),
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.epoch_shuffle(docs, epoch=1, n_shards=8).select(
        "doc_id", "epoch", "shard", "shuffle_pos"
    ).orderBy("doc_id")


@register(
    "dataset_split_assign",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'cccccccc'
                    THEN 'train'
                WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'e6666666'
                    THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
    description=(
        "Deterministic train/val/test assignment by salted id hash "
        "(stable across runs and row order — eval sets stay "
        "uncontaminated as the corpus regenerates); map-only"
    ),
    tags=("llm", "training", "split"),
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.split_train_val_test(docs, (0.8, 0.1, 0.1)).select(
        "doc_id", "split"
    ).orderBy("doc_id")


@register(
    "split_leakage_report",
    oracle=_DUCK_SHINGLES
    + r""",
    assigned AS (
        SELECT doc_id,
               CASE WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'cccccccc'
                        THEN 'train'
                    WHEN substr(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'e6666666'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    leaks AS (
        SELECT a.doc_id AS train_id, b.doc_id AS holdout_id,
               b.split AS holdout_split,
               round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                     / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
        FROM assigned a
        JOIN assigned b ON a.split = 'train' AND b.split <> 'train'
        JOIN sh sa ON sa.doc_id = a.doc_id
        JOIN sh sb ON sb.doc_id = b.doc_id
        WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.7
    )
    SELECT train_id, holdout_id, holdout_split, jaccard
    FROM leaks ORDER BY train_id, holdout_id
    """,
    description=(
        "Cross-split leakage audit: near-duplicate pairs (MinHash-LSH "
        "candidates, exact-Jaccard >= 0.7 verified) that STRADDLE the "
        "train/holdout hash split — the eval-contamination report a "
        "training pipeline must publish before anyone trusts its "
        "held-out numbers. Candidate generation is the same banded, "
        "skew-guarded LSH the dedup path uses; only pairs crossing the "
        "split survive the final filter."
    ),
    tags=("llm", "training", "split", "dedup", "governance"),
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assigned = sampling.split_train_val_test(docs, (0.8, 0.1, 0.1)).select(
        "doc_id", "split"
    )
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.7)
    a = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("_sa"))
    b = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("_sb"))
    crossing = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            ((F.col("_sa") == "train") & (F.col("_sb") != "train"))
            | ((F.col("_sb") == "train") & (F.col("_sa") != "train"))
        )
    )
    train_id = F.when(F.col("_sa") == "train", F.col("id_a")).otherwise(F.col("id_b"))
    holdout_id = F.when(F.col("_sa") == "train", F.col("id_b")).otherwise(F.col("id_a"))
    holdout_split = F.when(F.col("_sa") == "train", F.col("_sb")).otherwise(F.col("_sa"))
    return crossing.select(
        train_id.alias("train_id"),
        holdout_id.alias("holdout_id"),
        holdout_split.alias("holdout_split"),
        F.col("jaccard"),
    ).orderBy("train_id", "holdout_id")


@register(
    "domain_quota_sample",
    oracle=r"""
    SELECT source, quota_rank, doc_id FROM (
        SELECT source, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(doc_id::VARCHAR || ':quota'), 1, 8),
                            doc_id) AS BIGINT) AS quota_rank
        FROM documents
    ) WHERE quota_rank <= 4
    ORDER BY source, quota_rank
    """,
    description=(
        "Per-domain quota curation (RefinedWeb-style cap): keep at most 4 "
        "docs per source, deterministically by salted id hash. Scale path "
        "is primary: a group-grain size aggregate broadcasts back, a "
        "map-only hash-threshold prefilter bounds every domain to "
        "~oversample*quota survivors, the exact window runs on survivors "
        "only, and a group-grain deficiency audit falls back to the full "
        "window for any group the prefilter under-kept (exactness "
        "guaranteed; the naive global window never runs on the corpus)."
    ),
    tags=("llm", "curation", "sampling", "quota"),
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.sample_domain_quota(docs, quota=4, group_col="source").select(
        "source", "quota_rank", "doc_id"
    ).orderBy("source", "quota_rank")


@register(
    "dedup_prefix_filter",
    oracle=_DUCK_SHINGLES
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
    """,
    description=(
        "EXACT set-similarity self-join via PPJoin-style prefix filtering "
        "— the deterministic alternative to MinHash-LSH: shingles ranked "
        "rarest-first by a vocabulary-grain df aggregate, only each doc's "
        "|X|-floor(t|X|)+1 prefix shingles generate candidates (guaranteed "
        "to cover every pair with J>=t), bucket join guarded, exact "
        "verify. Oracle = brute-force all-pairs thresholding; this "
        "wrapper passes an unbounded bucket cap, so unlike the LSH row "
        "the equality is unconditional, not a recall argument (the "
        "operator's default cap trades exactness for a bounded "
        "undercount only on degenerate corpora, and surfaces the "
        "narrowing via stats['n_hot'])."
    ),
    tags=("llm", "dedup", "prefix-filter", "ppjoin"),
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # unbounded cap: the oracle claims brute-force equality with no
    # hot-bucket caveat, so the guard must never degrade here
    return dedup.prefix_filter_near_duplicates(
        docs, threshold=0.7, max_bucket_size=2**31 - 1
    )


@register(
    "cluster_aware_split",
    oracle=_DUCK_SHINGLES.replace("WITH", "WITH RECURSIVE", 1)
    + r""",
    pairs AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id
          AND len(list_intersect(a.sh, b.sh))::DOUBLE
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7
    ),
    edges AS (
        SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    assign AS (
        SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           CASE WHEN substr(md5(cluster_id::VARCHAR || ':split'), 1, 8) < 'cccccccc'
                    THEN 'train'
                WHEN substr(md5(cluster_id::VARCHAR || ':split'), 1, 8) < 'e6666666'
                    THEN 'val'
                ELSE 'test' END AS split
    FROM assign ORDER BY doc_id
    """,
    description=(
        "Leakage-free train/val/test split: assignment hashes the "
        "near-dup CLUSTER id (LSH pairs -> connected components), so "
        "every member of a duplicate cluster lands in the same split by "
        "construction — the contamination channel split_leakage_report "
        "measures after the fact is closed up front. Same hash-space "
        "thresholds as the per-doc split; map-only given the cluster "
        "column."
    ),
    tags=("llm", "training", "split", "dedup", "governance"),
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.near_duplicate_clusters(docs, threshold=0.7).select(
        "doc_id", "cluster_id"
    )
    return sampling.split_by_group(clusters, "cluster_id", (0.8, 0.1, 0.1)).select(
        "doc_id", "cluster_id", "split"
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# dedup_stream_admitted — the STREAMING exact-dedup admission path under
# the driver's value-level oracle.
# --------------------------------------------------------------------------
_STREAM_ADMITTED: dict[str, str] = {}


@register(
    "dedup_stream_admitted",
    oracle="""
        WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents)
        SELECT min(doc_id) AS doc_id, content_hash,
               count(*)::BIGINT AS n_copies
        FROM h GROUP BY content_hash
        ORDER BY doc_id
    """,
    description=(
        "Streaming exact-dedup admission under the driver's oracle (the "
        "bm25_stream_served idiom applied to curation): the corpus is "
        "staged as ascending-id-range files, a REAL Structured Streaming "
        "run admits them one micro-batch at a time through "
        "streaming/curation.start_corpus_ingest with the near-dup gate "
        "disabled (threshold 1.5 can never verify), and the query reports "
        "the admitted docs joined with source copy counts. Ascending "
        "batches + min-id-within-batch + earlier-batch-wins make the "
        "admitted set provably keep-first-by-id per content hash, which "
        "is exactly the SQL the oracle runs — a lost hash class, a "
        "double admission, or a wrong survivor all hash-mismatch."
    ),
    tags=("llm", "dedup", "streaming", "incremental", "served"),
)
def dedup_stream_admitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from mandoline_hbase_spark.operators.served import (
        content_fingerprint,
        served_artifact,
    )
    from mandoline_hbase_spark.streaming import curation as scuration

    docs = load_table(spark, sf_dir, "documents")
    artifact = _STREAM_ADMITTED.get(sf_dir)
    if artifact is None:

        def _build(work: str) -> None:
            staging = os.path.join(work, "staging")
            scuration.stage_ordered_batches(docs, staging, n_batches=4)
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(staging)
            )
            q = scuration.start_corpus_ingest(
                stream,
                os.path.join(work, "corpus"),
                os.path.join(work, "ckpt"),
                threshold=1.5,  # exact gate only: jaccard >= 1.5 never holds
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("admission stream did not finish")
            # serve only the admitted docs; drop the staged corpus copy,
            # the checkpoint, and the near-dup index roles (unused here)
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
            for role in ("bands", "feats"):
                shutil.rmtree(
                    os.path.join(work, "corpus", role), ignore_errors=True
                )

        artifact = served_artifact(
            "mandoline-stream-admitted",
            content_fingerprint(
                os.path.join(sf_dir, "documents.parquet"),
                {"layout": "stream-admit-exact-v1", "files": 4},
            ),
            _build,
        )
        _STREAM_ADMITTED[sf_dir] = artifact

    admitted = scuration.read_corpus(
        spark, os.path.join(artifact, "corpus"), docs.schema
    )
    counts = (
        docs.select(F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_copies"))
    )
    return (
        admitted.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.md5("text").alias("content_hash"),
        )
        .join(counts, "content_hash")
        .select("doc_id", "content_hash", "n_copies")
        .orderBy("doc_id")
    )
