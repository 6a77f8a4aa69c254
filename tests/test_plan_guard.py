"""Plan guard: structural assertions over every headline query's physical
plan at the smoke scale factor.

These enforce the PERFORMANCE.md claims as tests: no quadratic join
strategies anywhere in the headline set, and scan-adjacent filters
actually pushed to the parquet reader where we promise them.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

# BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side is
# intentionally tiny: tfidf joins a 1-row doc-count scalar; cosine top-k
# is by design broadcast(query set) x corpus (the exact-scoring pass —
# work is |corpus| x |queries|, linear in the corpus); q11's 0.1%%
# threshold, q22's positive-balance average, and the funnel's two
# conversion totals are each a broadcast 1-row aggregate (TPC-H's own
# scalar-subquery semantics).
BNLJ_ALLOWED = {
    "tfidf_top_terms",
    "sim_cosine_topk",
    # PQ ADC scan is deliberately broadcast(queries) x corpus-CODES —
    # per-pair work is m int lookups, the whole point of the compression
    "sim_pq_ann_topk",
    # the served form scans the materialized codes with the same
    # deliberate broadcast(queries) shape (n_probe=None = plain PQ)
    "sim_pq_served_topk",
    # the filtered form is the same broadcast(queries) x predicate-
    # pruned codes scan (n_probe=None in the catalog config)
    "sim_pq_filtered_topk",
    "q11_important_parts",
    "q22_idle_customers",
    "funnel_signup_to_purchase",
    # the KMV overlap pair join runs in SKETCH space: one <=k-hash row per
    # group on both sides (group count, never corpus size)
    "kmv_user_overlap_by_type",
    # heavy hitters joins the 1-row epsilon-total aggregate to every
    # surviving candidate (a broadcast scalar, like tfidf's doc count)
    "text_top_terms_sketch",
    # broadcast 1-row totals (corpus token count / sqrt-share denominator)
    "text_unigram_rarity",
    "mix_source_temperature",
    # broadcast 1-row gram totals joined to the <=65536-row ratio table
    "dsir_importance_weights",
    # broadcast 1-row (token total, vocab size) scalar for the backoff term
    "lm_perplexity_scores",
    # round-3 oracle conversions: each crossJoins a broadcast 1-row
    # aggregate (global exact count / in-plan recall tally) into the
    # hashable claim row — broadcast scalars, not data-sized joins
    "hll_union_distinct_users",
    "sim_lsh_ann_topk",
    "sim_ivf_ann_topk",
    # BM25 crossJoins two broadcast 1-row aggregates (corpus N, total
    # doc length) into the postings of the query terms — broadcast
    # scalars, same shape as tfidf's doc count
    "bm25_search_topk",
    # query-likelihood crossJoins two broadcast 1-row scalar aggregates
    # (per-term collection frequencies, total token count) into the
    # candidate docs — the same designed shape as bm25's corpus scalars
    "search_ql_dirichlet_topk",
    # the served form scores through the shared lexical scorer
    # (operators/search.py::_score_topk) — the BNLJ pair is the designed
    # broadcast 1-row scalars frame (corpus N, total doc length x the
    # per-term df/cf row) crossJoined into the per-doc candidates
    "bm25_served_topk",
    # the stream-served form serves through the same shared scorer
    # (_score_topk over the postings source) — the identical designed
    # broadcast 1-row scalars crossJoin
    "bm25_stream_served_topk",
    # the rerank stage additionally crossJoins the broadcast 1-row
    # query vector into the k-row shortlist
    "search_bm25_rerank_cosine",
    # PMI crossJoins the broadcast 1-row corpus doc count into the
    # min-count-filtered pair table (capped form: identical shape)
    "text_pmi_pairs",
    "text_pmi_pairs_capped",
    # spell suggest crossJoins the broadcast probe list (a few rows)
    # against the vocabulary-grain term table — never document data
    "search_spell_suggest",
    # MaxSim is the same designed broadcast(query set) x corpus exact
    # pass as sim_cosine_topk — n_tokens^2 sliced cosines per pair,
    # still one row per (query, doc), no explode
    "sim_maxsim_topk",
    # the two-stage form's shortlist sweep is the same designed shape;
    # MaxSim scoring touches k_shortlist rows per query
    "sim_maxsim_reranked_topk",
    # MMR's shortlist sweep is sim_cosine_topk's designed
    # broadcast(query set) x corpus pass; everything after it is
    # k_candidates-bounded per query
    "sim_mmr_diverse_topk",
    # SQ8 shortlist is the same designed broadcast(query set) x corpus
    # sweep over int8 CODES (one integer multiply-add per dim); the
    # exact-cosine rerank join is shortlist-bounded per query
    "sim_sq_ann_topk",
    # the served form scans the materialized sq/ int8 codes with the
    # same deliberate broadcast(queries) shape
    "sim_sq_served_topk",
    # the filtered form scans the label-pruned sq/ directories with the
    # same deliberate broadcast(queries) shape
    "sim_sq_filtered_topk",
    # the eval query replays the SQ run + the exact-cosine truth, both
    # the designed broadcast(queries) x corpus sweeps; the metric join
    # itself is k-bounded per query
    "search_eval_sq_ndcg",
    # Matryoshka shortlist is the same designed broadcast(query set) x
    # corpus exact pass as sim_cosine_topk — on the PREFIX dims only;
    # the full-dim rerank touches k_shortlist rows per query
    "sim_matryoshka_topk",
    # the served form scans the materialized (id, prefix) columns with
    # the same deliberate broadcast(query set) shape; the full-vector
    # rerank join is k-bounded
    "sim_matryoshka_served_topk",
    # RRF fuses two k-bounded retriever outputs: its BNLJs are the
    # retrievers' own allowlisted shapes (bm25's two broadcast 1-row
    # scalars + cosine's broadcast query vector); the fusion join is
    # over <=50 rows
    "search_rrf_fusion",
    # association rules crossJoin the broadcast 1-row basket total into
    # the (already min-support-filtered) rule table — the tfidf
    # doc-count shape
    "basket_association_rules",
    # chi2 crossJoins the broadcast 1-row corpus doc count into the
    # vocabulary-grain (term, label) table
    "text_chi2_terms",
    # KN crossJoins the broadcast 1-row bigram-type total into the
    # bigram-type-grain table
    "text_kneser_ney_bigrams",
    # ER crossJoins the broadcast 1-row id offset into (a) the base
    # rows to mint twin ids and (b) the verified match pairs
    "er_blocked_matches",
    # the recall sweep joins the broadcast 8-row centroid set to the
    # corpus (the assign_clusters shape) and, at the full-probe anchor
    # level, deliberately degrades to the brute-force eval sweep over
    # the 10-query sample — the sim_cosine_topk designed shape
    "search_eval_ivf_recall",
    # the skew report crossJoins each key's broadcast 1-row top-key
    # aggregate into its 1-row scalar summary (both sides 1 row)
    "profile_join_skew",
    # FK audit: one broadcast 1-row orphan count per edge crossJoined
    # into that edge's 1-row child total
    "dq_referential_integrity",
    # entity clustering reuses blocked_er_matches' broadcast 1-row id
    # offset (twin minting) before the CC rounds
    "er_entity_clusters",
    # hard-negative mining is the designed broadcast(query sample) x
    # corpus exact pass (sim_cosine_topk's shape) with the label
    # predicate fused into the same join
    "sim_hard_negatives_topk",
    # merge/CDF readout crossJoins the broadcast 1-row CDF count
    # aggregate into the 1-row final-state aggregate
    "lake_merge_cdf",
    # round 9: bench.HEADLINE now spans the FULL catalog, so the
    # documented exact quadratic baselines (small-data oracle fixtures
    # whose theta/cross joins ARE the semantics — spread stream side,
    # broadcast bounded side, PERFORMANCE.md "Known costs") fall under
    # this guard too
    "dedup_ngram_jaccard",
    "sim_embedding_near_dups",
    "dedup_containment",
    # bounded-broadcast scalar/probe sides by design (PLAN_AUDIT.json
    # counts them as provably bounded builds)
    "text_bigram_cms_estimate",
    "contrastive_triplets",
}


# The quadratic exact baselines are correctness fixtures, not headline
# paths (PERFORMANCE.md "Known costs"); everything else must stay clean.
def _headline():
    import bench

    return bench.HEADLINE


@pytest.fixture(scope="module")
def plans(spark):
    from mandoline_hbase_spark.queries.catalog import QUERIES

    out = {}
    for name in _headline():
        df = QUERIES[name].fn(spark, SF_SMOKE)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
        spark.catalog.clearCache()
    return out


def test_no_cartesian_product_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, f"cartesian products found: {offenders}"


def test_nested_loop_joins_only_where_designed(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED
    ]
    assert not offenders, f"unplanned nested-loop joins: {offenders}"


def test_q6_filter_pushed_to_scan(spark):
    from mandoline_hbase_spark.queries.catalog import QUERIES

    plan = (
        QUERIES["q6_forecast_revenue"]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    # the pushdown must not be empty brackets
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "q6 scan carries no pushed filters"


def test_text_ops_are_exchange_free(spark):
    # map-only text analysis must not shuffle at all
    from mandoline_hbase_spark.queries.catalog import QUERIES

    for name in (
        "text_token_stats",
        "text_quality_scores",
        "text_pii_redaction",
        "quality_model_score",
    ):
        plan = (
            QUERIES[name]
            .fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, f"{name} shuffles unexpectedly"


def test_chunk_map_resolution_broadcasts_version_visibility(spark, tmp_path):
    """chunk_map_df's committed-version visibility gate must be a BROADCAST
    left-semi join (the versions table is tiny); a shuffled semi or a
    cartesian here would dominate index resolution at billions of rows."""
    import numpy as np

    from mandoline_hbase_spark.engine import mk_schema

    schema = mk_schema({"root": "plan.mandoline.io", "base_path": str(tmp_path)})
    schema.create_dataset("ds")
    conn = schema.connect("ds")
    conn.write_variable("v", np.ones((8, 8), dtype=np.float64), chunk_shape=(4, 4))
    plan = conn.chunk_map_df("v", conn.latest_version_id(), spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_window_topk_plans_group_limit(spark):
    # rank()<=k window filters must plan WindowGroupLimit (per-partition
    # top-k maintained during the sort — state k rows, not group size);
    # without it every group's full row set sorts before the filter.
    from mandoline_hbase_spark.queries.catalog import QUERIES

    for name in ("window_top3_suppliers_per_nation", "sim_cosine_topk"):
        plan = (
            QUERIES[name]
            .fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan, f"{name} lost the group-limit rewrite"


def test_span_dedup_plan_shapes(spark):
    """The new span family must stay in the narrow-plan envelope:
    the JL projection is map-only after its spread (exactly the one
    repartition exchange, zero Python), and overlapping-gram span
    detection is spread + ONE aggregation shuffle (countDistinct partials
    combine map-side)."""
    from mandoline_hbase_spark.queries.catalog import QUERIES

    def plan_of(name):
        return (
            QUERIES[name]
            .fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    rp = plan_of("emb_random_projection")
    assert rp.count("Exchange") == 1, "projection must only have its spread exchange"
    assert "EvalPython" not in rp, "projection must stay JVM-side"

    spans = plan_of("dedup_span_ngrams")
    assert spans.count("Exchange") <= 2, "span detection is spread + one agg shuffle"
    assert "CartesianProduct" not in plan_of("dedup_span_removal")
