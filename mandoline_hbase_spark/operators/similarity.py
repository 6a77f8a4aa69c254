"""Similarity search over embedding columns (``ARRAY<FLOAT>``).

Two paths, mirroring what a 100 TB pipeline needs:

- **Brute-force cosine top-k** (the correctness baseline): JVM-side
  ``zip_with`` dot products over a broadcast query set — exact, oracle-
  checkable, and the right answer whenever one side is small enough to
  broadcast (the common "query set x corpus" shape).
- **LSH-bucketed ANN** (the scale path): random-hyperplane signs give each
  vector a compact bit signature; candidates come from multi-probe bucket
  joins and only candidates get exact re-ranking. Corpus-size-independent
  memory per task; the bucket join is the only shuffle.

Cosine math is done in DOUBLE (cast from float32) so results are
reproducible across engines — DuckDB's list_cosine_similarity over
DOUBLE[] agrees with this to ~4e-16.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _as_double(col):
    return F.col(col).cast("array<double>")


def _spread(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition the corpus side to session parallelism before per-row
    fold math (signatures, cell scores, rerank) — only when the incoming
    plan has fewer partitions than cores (see skew.spread_to_parallelism:
    at real scale the scan has enough splits and no shuffle is added)."""
    from mandoline_hbase_spark.operators.skew import spread_to_parallelism

    return spread_to_parallelism(df, key_col)


def cosine_sim(a, b):
    """JVM-side cosine similarity between two array<double> columns.

    Left-fold sums (F.aggregate) match sequential summation order, keeping
    parity with scalar SQL engines.
    """
    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v)

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _per_query_topk(df: DataFrame, score_col: str, k: int) -> DataFrame:
    """The per-query rank window every retrieval tail shares: rank by
    (score desc, neighbor_id asc) within query_id, keep rank <= k. The
    rank filter rewrites to WindowGroupLimit (map-side partial top-k
    per query, never a full per-query sort)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc("neighbor_id")
    )
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= int(k))


def cosine_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector over the corpus.

    Plan shape: broadcast(queries) x corpus -> cosine -> per-query window
    top-k. The corpus is never collected; the only full pass is the scan.
    """
    q = queries_df.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    c = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine_sim(F.col("qvec"), F.col("cvec")))
        .select("query_id", "neighbor_id", "sim")
    )
    return _per_query_topk(sims, "sim", k).select(
        "query_id", "rank", "neighbor_id", F.round("sim", 6).alias("sim")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed: reproducible plans)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signatures(
    emb_df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane sign signature as one integer bucket key per vector.

    The hyperplane matrix is a broadcast literal (tiny); projection is a
    JVM-side aggregate over zip_with — no Python in the path.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    sig = F.lit(0).cast("bigint")
    v = _as_double(vec_col)
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        proj = F.aggregate(
            F.zip_with(v, plane, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        sig = sig + F.when(proj > 0, F.lit(2**p).cast("bigint")).otherwise(0)
    return emb_df.select(F.col(id_col), F.col(vec_col), sig.alias("lsh_bucket"))


def lsh_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    seed: int = 42,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates share one of the query's probed LSH buckets,
    exact cosine re-rank within candidates only.

    Multi-probe: besides its own bucket, each query probes every bucket
    within Hamming distance ``probe_hamming`` of its signature (bit
    flips) — the standard recall lift that costs extra probe keys on the
    tiny query side instead of longer signatures on the corpus side.
    Recall < 1 by construction; the scale win is that the join key is
    the bucket, so each task touches buckets' worth of vectors instead
    of the corpus.
    """
    from pyspark.sql import Window

    corpus_sig = lsh_signatures(
        _spread(emb_df, id_col), dim, n_planes, seed, id_col, vec_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("lsh_bucket").alias("cbucket"),
    )
    probes = [F.col("lsh_bucket")]
    if probe_hamming >= 1:
        probes += [
            F.col("lsh_bucket").bitwiseXOR(F.lit(2**b)) for b in range(n_planes)
        ]
    if probe_hamming >= 2:
        probes += [
            F.col("lsh_bucket").bitwiseXOR(F.lit(2**b1 + 2**b2))
            for b1 in range(n_planes)
            for b2 in range(b1 + 1, n_planes)
        ]
    query_sig = (
        lsh_signatures(queries_df, dim, n_planes, seed, id_col, vec_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(F.array(*probes)).alias("qbucket"),
        )
    )
    cands = (
        corpus_sig.join(
            F.broadcast(query_sig),
            (F.col("cbucket") == F.col("qbucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .drop("qbucket")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("sim", cosine_sim(_as_double("qvec"), _as_double("cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("sim", 6).alias("sim"))
    )


def _centroids(dim: int, n_centroids: int, seed: int = 7) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids.

    A trained k-means codebook drops in here unchanged; random unit
    vectors already give the partition property IVF needs (every vector
    lands in exactly one cell, cells are roughly balanced for isotropic
    data)."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _cell_scores(vec_col, cents: np.ndarray):
    """Array of dot products against every centroid (JVM-side)."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(float(x)) for x in cents[i]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for i in range(len(cents))
        ]
    )


def ivf_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into centroid cells, probe
    the query's top-``n_probe`` cells, exact-rerank candidates.

    Corpus side: one argmax assignment per vector (map-only) — at scale
    this is the partitioning/bucketing key, so cell scans are pruned
    reads. Query side: explode ``n_probe`` cells per query, bucket-join,
    rerank. Recall rises with n_probe; n_probe = n_centroids degrades
    gracefully to exact brute force.
    """
    cents = _centroids(dim, n_centroids, seed)
    corpus = (
        _spread(emb_df, id_col)
        .select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec"))
        .withColumn("cells", _cell_scores(F.col("cvec"), cents))
        .withColumn("cell", (F.array_position("cells", F.array_max("cells")) - 1).cast("int"))
        .drop("cells")
    )
    probes = (
        queries_df.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec"))
        .withColumn("cells", _cell_scores(F.col("qvec"), cents))
        .withColumn(
            "probe_cells",
            F.slice(
                F.expr(
                    "transform(array_sort(zip_with(cells, sequence(0, size(cells)-1),"
                    " (s, i) -> struct(-s AS negs, i AS idx))), p -> p.idx)"
                ),
                1,
                n_probe,
            ),
        )
        .select("query_id", "qvec", F.explode("probe_cells").alias("cell"))
    )
    cands = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return cosine_rank_topk(cands, k)


def cosine_rank_topk(cands: DataFrame, k: int) -> DataFrame:
    """The exact-rerank tail of every ANN form — exact cosine over
    candidate pairs, then the per-query rank window with the (sim desc,
    neighbor asc) tie-break and round-6 score. ONE definition shared by
    the fit-inline (``ivf_topk``, ``sq_topk``), served
    (``ann_index.{ivf,sq}_topk_from_index``, filtered or not, and
    ``ivf_exact_topk_from_index``), stream-maintained
    (``streaming/ann.ivf_search``) and PQ-rerank
    (``adc_shortlist_rerank``) forms, so a tie-break or rounding fix
    applies to all of them by construction.
    ``cands``: ``(query_id, qvec, neighbor_id, cvec)`` rows. The
    ``rank <= k`` filter rewrites to WindowGroupLimit (map-side partial
    top-k per query, never a full per-query sort)."""
    sims = cands.withColumn("sim", cosine_sim(F.col("qvec"), F.col("cvec")))
    return _per_query_topk(sims, "sim", k).select(
        "query_id", "rank", "neighbor_id", F.round("sim", 6).alias("sim")
    )


def matryoshka_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    prefix_dims: int = 16,
    k_shortlist: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL) two-stage retrieval: shortlist on the PREFIX
    dimensions, exact-rerank the shortlist on the full vector.

    Matryoshka-trained embeddings concentrate information in their
    leading dimensions, so the first ``prefix_dims`` components support
    a cheap first pass: the broadcast(queries) x corpus sweep scores
    only a ``prefix_dims``-element slice (at 16 of 64 dims, 4x less
    arithmetic and — with a materialized prefix column — 4x less IO per
    candidate at 100 TB), and the full-dimension exact cosine touches
    only ``k_shortlist`` rows per query. Same plan family as
    ``ivf_topk`` (prune, then exact on survivors), with the prune
    coming from the embedding geometry instead of a trained index.

    Output: ``(query_id, rank, neighbor_id, sim, prefix_sim)`` — the
    rerank's full-vector cosine plus the shortlist score that admitted
    the candidate (their disagreement is the observable MRL-quality
    signal)."""
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qvec"),
        # slice the query prefix ONCE here, not per joined candidate row
        F.slice(_as_double(vec_col), 1, int(prefix_dims)).alias("qpre"),
    )
    c = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    cands = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "prefix_sim",
        cosine_sim(F.col("qpre"), F.slice(F.col("cvec"), 1, int(prefix_dims))),
    )
    shortlist = _per_query_topk(cands, "prefix_sim", k_shortlist).drop("rank")
    sims = shortlist.withColumn("sim", cosine_sim(F.col("qvec"), F.col("cvec")))
    return _per_query_topk(sims, "sim", k).select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("sim", 6).alias("sim"),
        F.round("prefix_sim", 6).alias("prefix_sim"),
    )


def maxsim_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    n_tokens: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT-style MaxSim):
    each document and query carries ``n_tokens`` sub-vectors (contiguous
    ``dim/n_tokens``-dim slices of the stored embedding — the fixture's
    deterministic stand-in for per-token encoder outputs); the score is

        MaxSim(q, d) = sum_i  max_j  cos(q_i, d_j)

    — every query token matches its best document token, summed over
    query tokens (Khattab & Zaharia, SIGIR'20).

    Plan shape: NO explode and NO per-pair aggregation — the corpus
    stays one row per document and the whole score compiles to a single
    JVM column expression per (query, doc) pair: ``greatest`` of
    ``n_tokens`` sliced cosines per query token (max of doubles is
    summation-order-free), token terms added in FIXED left-to-right
    order (engine-deterministic float parity, the RRF/BM25 idiom). The
    sweep is the same designed broadcast(queries) x corpus pass as
    ``cosine_topk`` with ``n_tokens^2`` sliced cosines per pair; the
    tail is the shared WindowGroupLimit top-k. At scale the sweep
    composes with the IVF index exactly like ``cosine_topk`` does
    (shortlist on the pooled full vector, MaxSim-rerank the shortlist).

    Output: ``(query_id, rank, neighbor_id, maxsim)``.
    """
    if dim % n_tokens:
        raise ValueError(f"dim {dim} not divisible by n_tokens {n_tokens}")
    td = dim // n_tokens
    q = queries_df.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    c = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    sims = pairs.withColumn("maxsim", _maxsim_score(n_tokens, td)).select(
        "query_id", "neighbor_id", "maxsim"
    )
    return _per_query_topk(sims, "maxsim", k).select(
        "query_id", "rank", "neighbor_id", F.round("maxsim", 6).alias("maxsim")
    )


def _maxsim_score(n_tokens: int, td: int, qcol: str = "qvec", ccol: str = "cvec"):
    """THE MaxSim score expression — variadic ``greatest`` of sliced
    cosines per query token (max of doubles: summation-order-free),
    token terms added in fixed left-to-right order. One definition
    shared by ``maxsim_topk`` and ``maxsim_rerank_topk`` so the flat
    and two-stage forms cannot drift; the oracle generator mirrors the
    same arithmetic."""
    score = None
    for i in range(n_tokens):
        qt = F.slice(F.col(qcol), i * td + 1, td)
        coss = [
            cosine_sim(qt, F.slice(F.col(ccol), j * td + 1, td))
            for j in range(n_tokens)
        ]
        m = coss[0] if len(coss) == 1 else F.greatest(*coss)
        score = m if score is None else score + m
    return score


def maxsim_rerank_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    n_tokens: int = 4,
    k_shortlist: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Two-stage MaxSim — the scale shape ``maxsim_topk``'s docstring
    promises, implemented: shortlist ``k_shortlist`` per query on the
    POOLED full-vector cosine (one cosine per pair — the cheap sweep,
    and exactly what an IVF/SQ index accelerates further), then score
    only the survivors with the ``n_tokens^2``-cosine MaxSim expression.
    Same plan family as ``matryoshka_topk`` (cheap pass prunes, rich
    pass reranks k-bounded survivors); the rerank reuses the single
    fixed-order score expression of ``maxsim_topk``, so the two forms
    cannot drift.

    Output: ``(query_id, rank, neighbor_id, maxsim, pooled_sim)`` — the
    rerank score plus the shortlist score that admitted the candidate
    (their rank disagreement is the observable late-interaction lift).
    """
    if dim % n_tokens:
        raise ValueError(f"dim {dim} not divisible by n_tokens {n_tokens}")
    td = dim // n_tokens
    q = queries_df.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    c = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    cands = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "pooled_sim", cosine_sim(F.col("qvec"), F.col("cvec"))
    )
    shortlist = _per_query_topk(cands, "pooled_sim", k_shortlist).drop("rank")
    sims = shortlist.withColumn("maxsim", _maxsim_score(n_tokens, td))
    return _per_query_topk(sims, "maxsim", k).select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("maxsim", 6).alias("maxsim"),
        F.round("pooled_sim", 6).alias("pooled_sim"),
    )


def int_dot(a, b):
    """Integer dot product of two ``array<int>`` columns as a BIGINT —
    left-fold over ``zip_with`` products. Every term and every partial
    sum is an exact integer, so the result is bit-identical on any
    engine regardless of summation order (int8 codes over <=2^15 dims
    cannot overflow 2^63)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sq_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantization (SQ8) ANN top-k: shortlist by the INTEGER
    dot product of per-vector int8 codes (``quantize_int8`` on both the
    corpus and the query side), then exact cosine rerank of the
    shortlist only.

    The third standard compression next to IVF (prune) and PQ (ADC):
    4x smaller than float32 with the cheapest possible decode — the
    approximate score is one integer multiply-add per dimension, no
    codebook, no training. Same two-stage plan family as
    ``matryoshka_topk`` (cheap broadcast(queries) x corpus sweep, exact
    cosine on ``shortlist`` survivors per query via WindowGroupLimit).

    Unlike the PQ path — whose float ADC sums force the value-level
    oracle into the full-shortlist degenerate config — the SQ shortlist
    key is an exact BIGINT (``int_dot``), so the *pruned* path is
    bit-reproducible on any engine: ordering and shortlist membership
    cannot drift by a ulp. The PRUNED config therefore carries a full
    value-level oracle (``sim_sq_ann_topk``).

    Note the int8 ordering ignores the per-vector scale (absmax/127):
    ranking quality depends on roughly comparable vector norms, which
    L2-normalized embedding corpora satisfy by construction; recall on
    the raw synthetic fixture is pinned by ``tests/test_similarity_sq.py``.
    """
    codes = quantize_int8(emb_df, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("q_vec").alias("ccode")
    )
    qcodes = quantize_int8(queries_df, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q_vec").alias("qcode")
    )
    qvecs = queries_df.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    q = qcodes.join(qvecs, "query_id")
    cands = (
        codes.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("idot", int_dot(F.col("qcode"), F.col("ccode")))
        .select("query_id", "qvec", "neighbor_id", "idot")
    )
    short = _per_query_topk(cands, "idot", shortlist).drop("rank", "idot")
    vectors = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    return cosine_rank_topk(short.join(vectors, "neighbor_id"), k)


def mmr_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k_candidates: int = 20,
    k: int = 5,
    lam_num: int = 1,
    lam_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR (maximal marginal relevance, Carbonell & Goldstein '98)
    diversity re-ranking: per query, greedily pick ``k`` results from
    the ``k_candidates``-deep cosine shortlist, each step maximizing

        lam * rel(d)  -  (1 - lam) * max_{s in picked} sim(d, s)

    with ``lam = lam_num / lam_den`` held as a RATIONAL so the selection
    key stays integer: every cosine is floored to 1e-6 micro-units
    (``floor(sim * 1e6)`` BIGINT) and the per-step key is
    ``lam_num*rel_u - (lam_den - lam_num)*pair_u`` — the greedy argmax
    (ties to the smaller id) is therefore bit-identical on any engine,
    which is what lets the sequential selection carry a full value-level
    recursive-CTE oracle (``search_mmr_rerank``).

    Scale shape: everything sequential happens on k-bounded data. The
    corpus is touched once by the shortlist sweep (``cosine_topk``'s
    broadcast(queries) x corpus pass); candidate relevance and the
    candidate-pair matrix are ``k_candidates``/``k_candidates^2`` rows
    per query; the greedy runs in ``applyInPandas`` per query group
    (the skyline precedent for genuinely sequential logic) over
    integers only — no float ever crosses the Python boundary. Step 1
    is pure relevance (the standard MMR base case).

    Output: ``(query_id, pos, neighbor_id, mmr_units)`` — ``pos`` is the
    1-based selection order, ``mmr_units`` the integer selection key
    (``lam_num * rel_u`` at pos 1).
    """
    q = queries_df.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    c = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    sims = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine_sim(F.col("qvec"), F.col("cvec")))
        .select("query_id", "neighbor_id", "sim", "cvec")
    )
    cand = (
        _per_query_topk(sims, "sim", k_candidates)
        .withColumn("rel_u", F.floor(F.col("sim") * F.lit(1_000_000.0)).cast("long"))
        .select("query_id", "neighbor_id", "rel_u", "cvec")
    )
    a = cand.select(
        "query_id",
        F.col("neighbor_id").alias("a"),
        "rel_u",
        F.col("cvec").alias("avec"),
    )
    b = cand.select(
        "query_id", F.col("neighbor_id").alias("b"), F.col("cvec").alias("bvec")
    )
    pairs = (
        a.join(b, ["query_id"])
        .filter(F.col("a") != F.col("b"))
        .withColumn(
            "pair_u",
            F.floor(
                cosine_sim(F.col("avec"), F.col("bvec")) * F.lit(1_000_000.0)
            ).cast("long"),
        )
        .select("query_id", "a", "b", "rel_u", "pair_u")
    )
    id_type = emb_df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"query_id {id_type}, pos int, neighbor_id {id_type}, mmr_units long"
    )
    n_pick, ln, ld = int(k), int(lam_num), int(lam_den)

    def greedy(pdf):
        # self-contained (cloudpickle by value): integer-only greedy
        import pandas as pd

        qid = pdf["query_id"].iloc[0]
        rel = {}
        pair = {}
        for row in pdf.itertuples(index=False):
            rel[row.a] = int(row.rel_u)
            pair[(row.a, row.b)] = int(row.pair_u)
        remaining = sorted(rel)
        picked, out = [], []
        for pos in range(1, min(n_pick, len(remaining)) + 1):
            best_key, best_id = None, None
            for d in remaining:
                if picked:
                    mp = max(pair[(d, s)] for s in picked)
                    key = ln * rel[d] - (ld - ln) * mp
                else:
                    key = ln * rel[d]
                if best_key is None or key > best_key or (
                    key == best_key and d < best_id
                ):
                    best_key, best_id = key, d
            picked.append(best_id)
            remaining.remove(best_id)
            out.append((qid, pos, best_id, best_key))
        return pd.DataFrame(
            out, columns=["query_id", "pos", "neighbor_id", "mmr_units"]
        )

    single = cand.groupBy("query_id").count().filter(F.col("count") == 1)
    # a 1-candidate query has no pairs; route it around the pair join
    solo = (
        cand.join(single.select("query_id"), "query_id")
        .select(
            "query_id",
            F.lit(1).alias("pos"),
            F.col("neighbor_id"),
            (F.lit(ln) * F.col("rel_u")).alias("mmr_units"),
        )
    )
    multi = pairs.groupBy("query_id").applyInPandas(greedy, out_schema)
    return multi.unionByName(solo)


def near_duplicate_pairs(
    emb_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_corpus: bool = False,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dedup).

    Brute-force pair join here; at scale the LSH bucket join above bounds
    the candidate set first (see lsh_topk). Baseline-plan discipline
    (round 9): spread the stream side (a single-split fixture would run
    the quadratic scoring in one task). ``broadcast_corpus=True``
    additionally broadcasts the build side — set it ONLY under the
    baseline's small-data contract (as the catalog oracle anchors do);
    the default keeps the shuffled plan so an over-sized corpus degrades
    to slow, never to a broadcast/driver OOM (ADVICE r9 #4).
    """
    # Norms are staged per ROW before the theta join (n sqrt-folds, not
    # n^2 per pair — the _pairs_from_assigned idiom): the per-pair work
    # is then ONE zip_with fold instead of three. Bit-identical to
    # cosine_sim: same left-fold dots, same sqrt(a)*sqrt(b) product
    # order, so the rounded sims and the threshold predicate (including
    # its zero-norm NaN behavior) cannot diverge from the pre-staged
    # form or the SQL oracles.
    def _dot_fold(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
        )

    a = (
        _spread(emb_df, id_col)
        .select(F.col(id_col).alias("id_a"), _as_double(vec_col).alias("va"))
        .withColumn("_na", F.sqrt(_dot_fold(F.col("va"), F.col("va"))))
    )
    b = (
        emb_df.select(F.col(id_col).alias("id_b"), _as_double(vec_col).alias("vb"))
        .withColumn("_nb", F.sqrt(_dot_fold(F.col("vb"), F.col("vb"))))
    )
    if broadcast_corpus:
        b = F.broadcast(b)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            _dot_fold(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = floor(v/scale + 0.5)``
    with ``scale = max(|v|) / 127``.

    The ANN storage path at 100 TB: 4x smaller than float32 before
    dot-products, and entirely JVM-side column arithmetic (higher-order
    array functions — no UDF, no shuffle, pipelines into the scan).
    ``floor(x + 0.5)`` instead of ``round`` because half-even vs
    half-away rounding differs across engines; floor is exact everywhere.
    Zero vectors quantize to zeros with scale 0.
    """
    v = _as_double(vec_col)
    absmax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = absmax / F.lit(127.0)
    q = F.when(absmax == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )
    df = _spread(df, id_col)
    return df.select(
        F.col(id_col),
        F.round(scale, 9).alias("q_scale"),
        q.cast("array<int>").alias("q_vec"),
    )


def l2_normalize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Unit-normalize embeddings: ``u = v / ||v||``, zero vectors pass
    through as zeros with norm 0.

    The mandatory step before cosine reduces to a dot product (what every
    ANN index wants stored). Pure higher-order array functions — map-only,
    no UDF, no shuffle. Left-fold (sequential) norm accumulation keeps
    parity with scalar SQL engines.
    """
    v = _as_double(vec_col)
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    unit = F.when(norm == 0.0, v).otherwise(F.transform(v, lambda x: x / norm))
    df = _spread(df, id_col)
    return df.select(
        F.col(id_col),
        norm.alias("l2_norm"),
        unit.alias("unit_vec"),
    )


def rp_sign_matrix(out_dim: int, dim: int, seed: int = 101) -> "np.ndarray":
    """Deterministic Rademacher (+-1) projection matrix, shape
    ``(out_dim, dim)`` — the Achlioptas form of a Johnson-Lindenstrauss
    random projection. Seeded RandomState so the Spark operator and any
    oracle re-derive the identical matrix."""
    rng = np.random.RandomState(seed)
    return np.where(rng.rand(out_dim, dim) < 0.5, -1.0, 1.0)


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 101,
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: ``p_j = sum_i v_i * s_ji``
    with Rademacher signs — the dimensionality-reduction step before a
    cheap ANN index or clustering pass (distances preserved within
    ``1 +- eps`` for ``out_dim = O(log n / eps^2)``).

    The projection matrix is baked into the plan as ONE nested-array
    literal (``out_dim x dim`` doubles — trivially broadcast-sized), so
    the whole operator is map-only whole-stage-codegen arithmetic: no
    UDF, no shuffle, pipelines into the scan at 100 TB. Each output is a
    sequential left fold ``0.0 + v_0*s_0 + v_1*s_1 + ...``
    (zip_with + aggregate), so a scalar SQL engine evaluating the same
    left-associative chain produces bit-identical doubles (the oracle
    compare relies on this; the leading ``0.0 +`` is an IEEE no-op for
    any nonzero first term). A naive expansion into ``out_dim`` explicit
    64-term add-chain expressions optimizes ~100x slower on the driver —
    Catalyst rule application over ~1500 deeply nested nodes costs
    seconds per query. Output columns ``p00..p{out_dim-1:02d}``, rounded
    to 6 places.
    """
    signs = rp_sign_matrix(out_dim, dim, seed)
    df = _spread(df, id_col)
    v = _as_double(vec_col)
    signs_lit = F.lit(signs.tolist())
    outs = [
        F.round(
            F.aggregate(
                F.zip_with(v, F.element_at(signs_lit, j + 1), lambda a, s: a * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias(f"p{j:02d}")
        for j in range(out_dim)
    ]
    return df.select(F.col(id_col), *outs)


# --------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-corpus ANN path
# --------------------------------------------------------------------------


def pq_fit(
    emb_df: DataFrame,
    m: int = 8,
    k: int = 16,
    sample_n: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Train a product-quantization codebook: split vectors into ``m``
    subspaces and run L2 Lloyd's k-means per subspace on a bounded,
    DETERMINISTIC sample (the ``sample_n`` lowest-id vectors).

    Sample-based codebook training is the standard scale path (FAISS
    does the same): the driver holds ``sample_n x dim`` floats once at
    fit time, never the corpus; encode/search are then fully
    distributed. Deterministic init (first ``k`` distinct subvectors of
    the sorted sample) makes fits reproducible across runs and
    partitionings. Returns ``(m, k, dim//m)``.
    """
    import numpy as np

    rows = (
        emb_df.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    )
    if not rows:
        raise ValueError("pq_fit: no vectors to fit a codebook on")
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    codebook = np.zeros((m, k, d))
    for j in range(m):
        sub = X[:, j * d : (j + 1) * d]
        # deterministic init: first k distinct subvectors
        seen, init = set(), []
        for row in sub:
            key = row.tobytes()
            if key not in seen:
                seen.add(key)
                init.append(row)
            if len(init) == k:
                break
        while len(init) < k:
            init.append(init[len(init) % max(len(init), 1)] + 1e-6)
        C = np.array(init)
        for _ in range(iters):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    C[c] = sub[mask].mean(axis=0)
        codebook[j] = C
    return codebook


def pq_encode(
    emb_df: DataFrame,
    codebook: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` small centroid ids (the 4x-64x
    compressed ANN corpus): per subspace, argmin L2 against the
    codebook, entirely JVM-side (nested-array literal + zip_with fold,
    the flat-literal discipline from the JL projection). First-argmin
    tie-break is deterministic. Output: ``(id, code ARRAY<INT>)``.
    """
    m, k, d = codebook.shape
    v = _as_double(vec_col)
    out = _spread(emb_df, id_col)
    codes = []
    for j in range(m):
        cb_j = F.lit([list(map(float, c)) for c in codebook[j]])
        sub = F.slice(v, j * d + 1, d)
        dists = F.transform(
            cb_j,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return out.select(F.col(id_col), F.array(*codes).alias("code"))


def pq_topk(
    emb_df: DataFrame,
    queries_df: DataFrame,
    codebook: "np.ndarray",
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ANN top-k: asymmetric-distance (ADC) scan of the CODES (never
    the vectors), shortlist, then exact cosine rerank of the shortlist
    only.

    Scale shape: the corpus is touched as ``m`` ints per row for the
    scan; the broadcast side is the (tiny) query set; the full-precision
    vectors are read only for ``shortlist`` candidates per query via a
    semi-join. ADC uses the classic per-query LOOKUP TABLES: the driver
    precomputes an m x k subspace-distance table per query vector
    (state bounded by the query count — the side that is broadcast
    anyway) so the scan evaluates ``m`` array lookups + adds per
    (query, code) pair instead of re-deriving subspace L2 against the
    codebook literal (3x on the sf0.1 fixture).
    """
    queries = pq_query_tables(queries_df, codebook, id_col, vec_col)
    codes = pq_encode(emb_df, codebook, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "code"
    )
    cands = codes.crossJoin(F.broadcast(queries)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    vectors = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cvec")
    )
    return adc_shortlist_rerank(cands, vectors, codebook.shape[0], k, shortlist)


def pq_query_tables(
    queries_df: DataFrame,
    codebook: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The per-query ADC LOOKUP TABLES as a broadcastable frame
    ``(query_id, qvec, dtab)``: the driver precomputes an m x k
    subspace-distance table per query vector (state bounded by the
    query count — the side that is broadcast anyway). Shared by the
    fit-inline and served PQ paths so the ADC math has exactly one
    definition. The query-id type follows ``queries_df``'s schema (no
    integer-id assumption)."""
    import numpy as np

    m, kc, d = codebook.shape
    id_type = queries_df.schema[id_col].dataType.simpleString()
    qrows = queries_df.select(id_col, vec_col).collect()  # k-bounded: query set
    table_rows = []
    for r in qrows:
        qv = np.asarray(list(r[vec_col]), dtype=np.float64)
        dtab = [
            [float(((qv[j * d : (j + 1) * d] - codebook[j][c]) ** 2).sum()) for c in range(kc)]
            for j in range(m)
        ]
        table_rows.append((r[id_col], [float(x) for x in qv], dtab))
    return queries_df.sparkSession.createDataFrame(
        table_rows, f"query_id {id_type}, qvec array<double>, dtab array<array<double>>"
    )


def adc_shortlist_rerank(
    cands: DataFrame, vectors: DataFrame, m: int, k: int, shortlist: int
) -> DataFrame:
    """ADC-shortlist-then-exact-rerank over prepared candidates: one
    definition of the asymmetric-distance expression and the shortlist
    tie-break, then the exact-cosine rerank of ``cosine_rank_topk``,
    used by both the fit-inline
    (``pq_topk``) and served (``ann_index.pq_topk_from_index``) forms —
    a parity fix to either applies to both by construction.

    ``cands``: ``(query_id, qvec, dtab, neighbor_id, code)`` rows;
    ``vectors``: ``(neighbor_id, cvec)`` full-precision rerank source —
    read for ``shortlist`` candidates per query only (id-keyed join).
    The ``_rk <= shortlist`` filter rewrites to WindowGroupLimit, so
    the per-query ADC ordering is a map-side partial top-k, never a
    full per-query sort."""
    from pyspark.sql import Window

    adc_terms = [
        F.element_at(F.element_at("dtab", j + 1), F.element_at("code", j + 1) + 1)
        for j in range(m)
    ]
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    short = (
        cands.withColumn("adc", adc)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= shortlist)
        .select("query_id", "qvec", "neighbor_id")
    )
    return cosine_rank_topk(short.join(vectors, "neighbor_id"), k)


def ivf_probe_recall_report(
    emb_df: DataFrame,
    *,
    n_centroids: int = 8,
    n_queries: int = 10,
    k: int = 5,
    probe_levels: tuple[int, ...] = (1, 2, 4, 8),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured IVF recall@k per probe budget, fully value-reproducible.

    The eval harness every ANN deployment needs: how much recall does
    each extra probe buy? Centroids are the ``n_centroids`` LOWEST-ID
    vectors (the semdedup seed idiom, queries/curation_ext._DUCK_ASSIGN)
    rather than the hash-seeded ``_centroids``, so cell assignment,
    probe ranking, and therefore the measured recall are deterministic
    closed forms a scalar SQL engine reproduces value-for-value — the
    recall column is a NUMBER under the oracle, not a bound claim.

    The max probe level should equal ``n_centroids``: probing every
    cell degrades to exact brute force, so that row's recall pins 1.0
    as an in-report sanity anchor and supplies the truth set for the
    cheaper levels within the same plan.

    100 TB shape: this is an EVAL harness over a bounded query sample —
    the pair stage is the IVF bucket join (cells x probed queries), and
    at the full-probe level it deliberately degenerates to the
    brute-force sweep of ``cosine_topk`` (broadcast query sample x
    corpus, linear in the corpus). Ranks/recalls are k- and
    sample-bounded.
    """
    from pyspark.sql import Window

    cents = emb_df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cvec")
    )
    corpus = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("vvec")
    )
    # corpus cell = argmax-cosine centroid, ties to the smallest cid
    vc = corpus.join(F.broadcast(cents))
    w_v = Window.partitionBy("neighbor_id").orderBy(
        F.desc(cosine_sim(F.col("vvec"), F.col("cvec"))), F.asc("cid")
    )
    cells = (
        vc.withColumn("rn", F.row_number().over(w_v))
        .filter(F.col("rn") == 1)
        .select("neighbor_id", "vvec", F.col("cid").alias("cell"))
    )
    # query probe ranking over ALL centroids (same tie-break)
    queries = emb_df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qvec")
    )
    qc = queries.join(F.broadcast(cents))
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc(cosine_sim(F.col("qvec"), F.col("cvec"))), F.asc("cid")
    )
    probes = qc.withColumn("pr", F.row_number().over(w_q)).select(
        "query_id", "qvec", F.col("cid").alias("cell"), "pr"
    )

    # the IVF bucket join, annotated with the probe rank of each
    # candidate's cell; one table serves every probe level
    pairs = (
        cells.join(probes, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine_sim(F.col("qvec"), F.col("vvec")))
        .select("query_id", "neighbor_id", "sim", "pr")
    )
    levels = F.explode(
        F.array(*[F.lit(int(l)) for l in probe_levels])
    ).alias("n_probe")
    leveled = pairs.select("*", levels).filter(F.col("pr") <= F.col("n_probe"))
    w_rank = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    topk = (
        leveled.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= int(k))
        .select("n_probe", "query_id", "neighbor_id")
    )
    truth = topk.filter(F.col("n_probe") == max(probe_levels)).select(
        "query_id", "neighbor_id"
    )
    hits = (
        topk.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("n_probe", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # Denominator = the FULL query sample at every probe level, not just
    # queries that scored >=1 hit: a zero-hit query (low probe budget,
    # every candidate outside the truth set) must drag recall down, not
    # silently vanish from both numerator and n_queries. Build the
    # (query x level) grid and left-join the hit counts, coalescing 0.
    grid = queries.select("query_id").select("query_id", levels)
    full = grid.join(hits, ["n_probe", "query_id"], "left").select(
        "n_probe",
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
    )
    # integer hit totals, ONE division: no float-summation-order exposure
    return (
        full.groupBy("n_probe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("n_hits").cast("bigint").alias("_total_hits"),
        )
        .select(
            F.col("n_probe").cast("int").alias("n_probe"),
            "n_queries",
            F.round(
                F.col("_total_hits")
                / (F.lit(float(k)) * F.col("n_queries")),
                4,
            ).alias(f"recall_at_{k}"),
        )
        .orderBy("n_probe")
    )


def hard_negatives(
    emb_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Top-k most-similar DIFFERENT-label neighbors per query: the hard
    negatives contrastive/retrieval training mines.

    Same plan as :func:`cosine_topk` — broadcast(query sample) x corpus,
    exact cosine, per-query window top-k — with the label-mismatch
    predicate fused into the join so mined negatives can never be
    positives. At scale the served path is the filtered ANN family
    (`ann_index.ivf_topk_from_index(filters={label: complement})`):
    labels are bounded, so "label != q" is partition pruning, not a
    scan predicate.
    """
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
    )
    c = _spread(emb_df, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("cvec"),
        F.col(label_col).alias("neg_label"),
    )
    sims = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("qlabel") != F.col("neg_label")),
    ).withColumn("sim", cosine_sim(F.col("qvec"), F.col("cvec")))
    return _per_query_topk(sims, "sim", k).select(
        "query_id",
        "rank",
        "neighbor_id",
        "neg_label",
        F.round("sim", 6).alias("sim"),
    )
