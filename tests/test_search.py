"""BM25 retrieval: hand-computed scores, contract edges, plan shape."""

from __future__ import annotations

import math

import pytest

from mandoline_hbase_spark.operators import search


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "apple banana apple cherry"),
        (2, "banana banana banana"),
        (3, "cherry durian cherry apple"),
        (4, "durian durian"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _bm25_expected(docs, terms, k1=1.2, b=0.75):
    """Plain-Python BM25 over token lists, same fold order as the operator."""
    toks = {d: t.lower().split() for d, t in docs if t.strip()}
    n = len(docs)  # N counts ALL docs, including empty ones
    dl = {d: len(ts) for d, ts in toks.items()}
    avgdl = sum(dl.values()) / n
    out = {}
    for d, ts in toks.items():
        score = 0.0
        for term in terms:
            tf = ts.count(term)
            if tf == 0:
                continue
            df_t = sum(1 for o in toks.values() if term in o)
            idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
            score += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * dl[d] / avgdl))
        if score:
            out[d] = round(score, 6)
    return out


def test_bm25_matches_hand_computation(spark, corpus):
    rows = [(1, "apple banana apple cherry"), (2, "banana banana banana"),
            (3, "cherry durian cherry apple"), (4, "durian durian"), (5, "")]
    expected = _bm25_expected(rows, ["apple", "durian"])
    got = {r["doc_id"]: r["score"] for r in
           search.bm25_topk(corpus, ["apple", "durian"], k=10).collect()}
    assert got == pytest.approx(expected, abs=1e-9)


def test_bm25_rank_orders_by_score_then_id(spark, corpus):
    out = search.bm25_topk(corpus, ["banana"], k=10).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    keys = [(-r["score"], r["doc_id"]) for r in out]
    assert keys == sorted(keys)
    # doc 2 is pure banana spam but longer; doc 1 has one banana in 4 tokens
    assert out[0]["doc_id"] == 2


def test_bm25_k_bounds_and_missing_terms(spark, corpus):
    assert search.bm25_topk(corpus, ["apple", "zzz"], k=1).count() == 1
    # a term absent from the corpus contributes nothing, never errors
    assert search.bm25_topk(corpus, ["zzz"], k=5).count() == 0
    with pytest.raises(ValueError):
        search.bm25_topk(corpus, [])


def test_bm25_duplicate_query_terms_counted_once(spark, corpus):
    once = {r["doc_id"]: r["score"] for r in search.bm25_topk(corpus, ["apple"], k=10).collect()}
    twice = {r["doc_id"]: r["score"] for r in
             search.bm25_topk(corpus, ["apple", "apple"], k=10).collect()}
    assert once == twice


@pytest.mark.parametrize(
    "scorer", [search.bm25_topk, search.ql_dirichlet_topk], ids=lambda f: f.__name__
)
def test_bm25_plan_is_topk_not_global_sort(spark, corpus, monkeypatch, scorer):
    # the tokenize pass is checkpointed, so the final plan alone cannot
    # show an explode: record every plan handed to the checkpoint too
    severed = []
    real = search.checkpoint_audited

    def spy(df, *args, **kwargs):
        severed.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(search, "checkpoint_audited", spy)
    plan = scorer(corpus, ["apple"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the only window runs over the k pre-limited rows
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")
    # per-doc term counts come off the token array: no explode anywhere
    assert severed
    for p in severed + [plan]:
        assert "Generate" not in p


def test_bm25_text_and_postings_sources_bit_identical(spark, corpus):
    tf, dl = search.postings(corpus)
    for q in (["apple", "durian"], ["apple", "apple"], ["zzz", "banana"], ["banana"]):
        direct = search.bm25_topk(corpus, q).collect()
        served = search.bm25_topk_from_postings(tf, dl, q).collect()
        assert direct, q
        assert direct == served, q


def test_postings_shapes(spark, corpus):
    tf, dl = search.postings(corpus)
    assert {tuple(r) for r in tf.filter("term = 'apple'").collect()} == {
        (1, "apple", 2), (3, "apple", 1)}
    # one dl row per document — the empty doc is present with dl = 0,
    # which is what lets corpus scalars (N, sum_dl) derive from dl alone
    assert {tuple(r) for r in dl.collect()} == {(1, 4), (2, 3), (3, 4), (4, 2), (5, 0)}


def test_positional_postings(spark, corpus):
    tp = search.positional_postings(corpus)
    rows = {tuple(r) for r in tp.filter("doc_id = 1").collect()}
    assert rows == {(1, "apple", 1), (1, "banana", 2), (1, "apple", 3), (1, "cherry", 4)}


def test_phrase_occurrences(spark, corpus):
    # "banana apple" occurs once (doc 1: positions 2,3); "apple banana" once (1,2)
    got = {tuple(r) for r in search.phrase_occurrences(corpus, ["banana", "apple"]).collect()}
    assert got == {(1, 1)}
    # tripled banana: "banana banana" occurs twice in doc 2 (overlapping)
    got2 = {tuple(r) for r in search.phrase_occurrences(corpus, ["banana", "banana"]).collect()}
    assert got2 == {(2, 2)}
    # three-term phrase across doc 3: "cherry durian cherry"
    got3 = {tuple(r) for r in
            search.phrase_occurrences(corpus, ["cherry", "durian", "cherry"]).collect()}
    assert got3 == {(3, 1)}
    # absent phrase -> empty
    assert search.phrase_occurrences(corpus, ["durian", "apple"]).count() == 0
    with pytest.raises(ValueError):
        search.phrase_occurrences(corpus, ["solo"])


def _proximity_expected(docs, terms, window):
    """Brute-force min span over all position tuples (one per term)."""
    import itertools

    out = {}
    for d, t in docs:
        toks = t.lower().split()
        pos = {q: [i + 1 for i, w in enumerate(toks) if w == q] for q in terms}
        if any(not p for p in pos.values()):
            continue
        best = min(
            max(tup) - min(tup) + 1
            for tup in itertools.product(*(pos[q] for q in terms))
        )
        if best <= window:
            out[d] = best
    return out


def test_proximity_search_matches_brute_force(spark, corpus):
    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    for terms, window in (
        (["apple", "cherry"], 4),
        (["apple", "cherry"], 2),
        (["apple", "banana"], 2),
        (["cherry", "durian", "apple"], 4),
        (["cherry", "durian", "apple"], 3),
    ):
        got = {
            (r.doc_id, r.min_span)
            for r in search.proximity_search(corpus, terms, window).collect()
        }
        want = set(_proximity_expected(rows, terms, window).items())
        assert got == want, (terms, window, got, want)


def test_proximity_search_property_random_corpora(spark):
    import random

    rng = random.Random(13)
    vocab = ["a", "b", "c", "d", "e"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for terms, window in ((["a", "b"], 3), (["a", "b", "c"], 5), (["d", "e"], 2)):
        got = {
            (r.doc_id, r.min_span)
            for r in search.proximity_search(df, terms, window).collect()
        }
        want = set(_proximity_expected(rows, terms, window).items())
        assert got == want, (terms, window)


def test_proximity_search_validation(spark, corpus):
    with pytest.raises(ValueError, match="two distinct terms"):
        search.proximity_search(corpus, ["apple"], 4)
    with pytest.raises(ValueError, match="two distinct terms"):
        search.proximity_search(corpus, ["apple", "apple"], 4)
    with pytest.raises(ValueError, match="cannot hold"):
        search.proximity_search(corpus, ["apple", "cherry", "durian"], 2)


def test_boolean_search(spark, corpus):
    ids = lambda df: {r["doc_id"] for r in df.collect()}
    assert ids(search.boolean_search(corpus, must=["apple", "cherry"])) == {1, 3}
    assert ids(search.boolean_search(corpus, must=["apple"], must_not=["durian"])) == {1}
    assert ids(search.boolean_search(corpus, must_not=["banana"])) == {3, 4, 5}
    assert ids(search.boolean_search(corpus, must=["zzz"])) == set()
    with pytest.raises(ValueError):
        search.boolean_search(corpus)


def test_bm25_rerank_cosine_shapes(spark, corpus):
    """Rerank returns <= k_final rows ordered by cosine, carrying the
    lexical score through; docs without embeddings drop out."""
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    qv = emb.filter("vec_id = 3")
    out = search.bm25_rerank_cosine(
        corpus, emb, ["apple", "banana", "durian"], qv, k_retrieve=10, k_final=2
    ).collect()
    assert [r["rank"] for r in out] == [1, 2]
    keys = [(-r["cosine"], r["doc_id"]) for r in out]
    assert keys == sorted(keys)
    # doc 3's embedding equals the query -> cosine 1.0 leads
    assert out[0]["doc_id"] == 3 and out[0]["cosine"] == 1.0
    assert all(r["bm25_score"] > 0 for r in out)
    # doc 4 matched 'durian' lexically but has no embedding: excluded
    assert 4 not in {r["doc_id"] for r in out}


def test_bm25_property_random_corpora(spark):
    """Property: on random small corpora the operator equals a plain-
    Python BM25 computed with the same fold order — scores, membership,
    and ordering."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vocab = ["aa", "bb", "cc", "dd", "ee"]
    doc = st.lists(st.sampled_from(vocab), min_size=0, max_size=12).map(" ".join)
    corpora = st.lists(doc, min_size=1, max_size=8)
    terms = st.lists(st.sampled_from(vocab + ["zz"]), min_size=1, max_size=3, unique=True)

    @settings(max_examples=12, deadline=None)
    @given(texts=corpora, qterms=terms)
    def check(texts, qterms):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {r["doc_id"]: r["score"] for r in
               search.bm25_topk(df, qterms, k=50).collect()}
        expected = _bm25_expected(rows, qterms)
        assert got == pytest.approx(expected, abs=1e-9)

    check()


def test_pmi_hand_computed(spark):
    """PMI over a corpus where one pair always co-occurs and another
    never does."""
    import math

    from mandoline_hbase_spark.operators import text as otext

    rows = [(i, "aa bb") for i in range(4)] + [(4, "aa cc"), (5, "cc dd")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["term_a"], r["term_b"]): (r["n_pair"], r["pmi"], r["rank"]) for r in
           otext.pmi_cooccurrence(df, min_pair_docs=1, k=10).collect()}
    n = 6
    # aa-bb: n_pair=4, n_aa=5, n_bb=4
    assert out[("aa", "bb")][0] == 4
    assert out[("aa", "bb")][1] == round(math.log(4 * n / (5 * 4)), 6)
    # cc-dd co-occur once; aa-dd never (absent)
    assert out[("cc", "dd")][0] == 1
    assert ("aa", "dd") not in out
    # ranks are 1..len and ordered by (pmi desc, lexicographic)
    ranks = sorted(v[2] for v in out.values())
    assert ranks == list(range(1, len(out) + 1))
    # min_pair_docs prunes singleton pairs
    pruned = {(r["term_a"], r["term_b"]) for r in
              otext.pmi_cooccurrence(df, min_pair_docs=2, k=10).collect()}
    assert pruned == {("aa", "bb")}


def test_search_facets_and_spell(spark, corpus):
    from pyspark.sql import functions as F

    faceted = corpus.withColumn("src", F.when(F.col("doc_id") <= 2, "a").otherwise("b"))
    out = {(r["src"], r["n_docs"]) for r in
           search.search_facets(faceted, must=["apple"], facet_cols=["src"]).collect()}
    assert out == {("a", 1), ("b", 1)}  # docs 1 and 3 contain 'apple'
    with pytest.raises(ValueError):
        search.search_facets(faceted, must=["apple"], facet_cols=[])

    sug = search.spell_suggest(corpus, ["aple", "zzz"], max_distance=2, k=2).collect()
    by_probe = {}
    for r in sug:
        by_probe.setdefault(r["probe"], []).append((r["rank"], r["suggestion"], r["distance"]))
    assert by_probe["aple"][0][1] == "apple" and by_probe["aple"][0][2] == 1
    assert "zzz" not in by_probe  # nothing within 2 edits
    with pytest.raises(ValueError):
        search.spell_suggest(corpus, [])


def test_snippets_window_and_clamping(spark, corpus):
    out = {r["doc_id"]: (r["anchor_pos"], r["snippet"]) for r in
           search.snippets(corpus, ["cherry"], window=1).collect()}
    # doc 1: cherry at pos 4 (end-clamped window)
    assert out[1] == (4, "apple cherry")
    # doc 3: first cherry at pos 1 (start-clamped)
    assert out[3] == (1, "cherry durian")
    # docs without the term are absent
    assert set(out) == {1, 3}
    with pytest.raises(ValueError):
        search.snippets(corpus, [])


def test_boolean_search_duplicate_must_terms(spark, corpus):
    """A repeated must term must not make the match unsatisfiable."""
    once = {r["doc_id"] for r in search.boolean_search(corpus, must=["apple"]).collect()}
    twice = {r["doc_id"] for r in
             search.boolean_search(corpus, must=["apple", "apple"]).collect()}
    assert twice == once == {1, 3}


def test_pmi_cap_nonbinding_equals_uncapped(spark):
    """A cap larger than any doc's vocabulary is a no-op: capped and
    uncapped outputs are identical (the exact form stays the oracle)."""
    from mandoline_hbase_spark.operators import text as otext

    rows = [(i, "aa bb") for i in range(4)] + [(4, "aa cc"), (5, "cc dd")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    base = {tuple(r) for r in otext.pmi_cooccurrence(df, min_pair_docs=1, k=10).collect()}
    capped = {tuple(r) for r in
              otext.pmi_cooccurrence(df, min_pair_docs=1, k=10, max_terms_per_doc=100).collect()}
    assert capped == base and base


def test_pmi_skewed_doc_completes_with_bounded_candidates(spark):
    """The scale control: one 50k-distinct-term document would emit
    ~1.25B within-doc pairs uncapped; with max_terms_per_doc=64 it
    contributes at most 64*63/2 pairs and the job completes quickly.
    Pair/term document-counts stay corpus-exact for surviving pairs."""
    import math

    from mandoline_hbase_spark.operators import text as otext

    mega = " ".join(f"t{i:05d}" for i in range(50_000))
    rows = [(0, mega)] + [(i, "alpha beta common") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["term_a"], r["term_b"]): (r["n_pair"], r["pmi"]) for r in
           otext.pmi_cooccurrence(df, min_pair_docs=2, k=10, max_terms_per_doc=64).collect()}
    # the high-tf pair from the normal docs survives with exact counts
    # (n_alpha = n_beta = 5: the mega-doc does not contain them)
    assert out[("alpha", "beta")] == (5, round(math.log(5 * 6 / (5 * 5)), 6))
    # every surviving pair needed >= 2 docs, so no mega-doc-only pair appears
    assert all(n >= 2 for n, _ in out.values())


def test_spell_suggest_length_band_blocks_before_levenshtein(spark, corpus):
    """The band filter must sit BEFORE the edit-distance computation in
    the executed condition (conjunct order short-circuits the O(len^2)
    Levenshtein DP for out-of-band rows), and must not change results
    (edit distance >= length difference, so banding is exact)."""
    out = search.spell_suggest(corpus, ["aple"], max_distance=2, k=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln and "levenshtein" in ln]
    assert join_lines, plan
    cond = join_lines[0]
    band_at = cond.find("abs((length(")
    lev_at = cond.find("levenshtein(")
    assert band_at != -1 and band_at < lev_at, cond
    # correctness on a vocabulary with terms far outside the band
    rows = [(1, "apple banana extraordinarily xy")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["probe"], r["suggestion"], r["distance"]) for r in
           search.spell_suggest(df, ["aple"], max_distance=2, k=5).collect()}
    assert got == {("aple", "apple", 1)}


def test_rrf_fuse_semantics(spark):
    """RRF over hand-built lists: shared docs sum both contributions in
    the fixed fold order, single-list docs contribute one term with the
    other rank null, ties break on doc_id."""
    from mandoline_hbase_spark.operators.search import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id bigint, rank bigint")
    b = spark.createDataFrame([(20, 1), (40, 2)], "doc_id bigint, rank bigint")
    out = {r["doc_id"]: r for r in rrf_fuse([("a", a), ("b", b)], k0=60, k=10).collect()}
    assert set(out) == {10, 20, 30, 40}
    assert out[20]["rrf_score"] == round(1 / 62 + 1 / 61, 6)  # both lists
    assert out[10]["rrf_score"] == round(1 / 61, 6)
    assert out[10]["b_rank"] is None and out[40]["a_rank"] is None
    # fused order: 20 (two terms) first, then 40 (b rank 2? 1/62) vs 10 (1/61)
    ranks = {r["doc_id"]: r["rank"] for r in out.values()}
    assert ranks[20] == 1 and ranks[10] == 2 and ranks[40] == 3 and ranks[30] == 4


def test_matryoshka_matches_exact_when_shortlist_covers_corpus(spark):
    """With k_shortlist >= corpus size the prefix stage prunes nothing,
    so the rerank must equal brute-force full-dimension cosine top-k —
    the degenerate-config equivalence that pins the two-stage plumbing."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    from mandoline_hbase_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(120)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = similarity.cosine_topk(emb, queries, k=5)
    mrl = similarity.matryoshka_topk(
        emb, queries, prefix_dims=16, k_shortlist=1_000_000, k=5
    )
    want = sorted(tuple(r) for r in exact.collect())
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"]) for r in mrl.collect()
    )
    assert got == want and got


def test_ql_dirichlet_hand_computed(spark):
    """2-doc corpus, 1-term query: score = ln((tf + mu*cf/C) / (dl + mu))
    checked against the python float computation exactly (same op
    order), and the doc actually containing the term ranks first."""
    import math

    from mandoline_hbase_spark.operators.search import ql_dirichlet_topk

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird fish")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: (r.rank, r.score) for r in
           ql_dirichlet_topk(docs, ["cat"], mu=10.0, k=5).collect()}
    # corpus: C = 6 tokens, cf(cat) = 2
    smooth = 10.0 * 2.0 / 6.0
    want1 = round(math.log((2.0 + smooth) / (3.0 + 10.0)), 6)
    assert out[1] == (1, want1)
    assert 2 not in out  # doc 2 has no 'cat'
    # doc 2 contains no query term -> not a candidate
    assert list(out) == [1]


def test_ql_dirichlet_multi_term_candidates_and_order(spark):
    """Multi-term query: candidates = docs matching ANY term; a doc
    containing both terms outranks single-term docs; absent terms
    contribute their smoothing mass (score stays finite)."""
    from mandoline_hbase_spark.operators.search import ql_dirichlet_topk

    docs = spark.createDataFrame(
        [
            (1, "dup hash dup"),
            (2, "dup filler filler filler"),
            (3, "hash filler"),
            (4, "filler filler"),
        ],
        "doc_id bigint, text string",
    )
    rows = ql_dirichlet_topk(docs, ["dup", "hash"], mu=100.0, k=10).collect()
    ranked = [r.doc_id for r in sorted(rows, key=lambda r: r.rank)]
    assert set(ranked) == {1, 2, 3}  # 4 matches nothing
    assert ranked[0] == 1  # both terms, shortest doc
    assert all(r.score == round(r.score, 6) for r in rows)
