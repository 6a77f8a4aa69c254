"""Served ANN: train once, materialize the index, answer many queries.

``similarity.ivf_topk`` / ``pq_topk`` are the self-contained forms —
they fit/assign/encode the corpus inside the query, which is right for
one-shot curation jobs and for the oracle harness. A deployed
similarity-search stack does what a deployed text-search stack does
(see the postings source of ``operators/search.py``, served by
``bm25_topk_from_postings``): it pays the training/encode cost ONCE,
persists the index as tables, and serves every query from those
tables alone.

Index layout under ``index_dir`` (all parquet, executor-written):

- ``cells/``    — ``(id, embedding)`` PARTITIONED BY ``cell`` (the IVF
  coarse-quantizer assignment). Partitioning by cell is the scale
  decision: an ``n_probe``-cell query compiles to a partition-pruned
  scan (``PartitionFilters: cell IN (...)`` — asserted by test), so a
  1000-cell corpus answers a 4-probe query by reading ~0.4% of the
  data. This is the lakehouse form of FAISS's inverted lists.
- ``codes/``    — ``(id, code ARRAY<INT>)`` partitioned by ``cell``:
  the PQ-compressed corpus (m small ints per vector) for ADC scans.
- ``codebook.json`` — the trained artifacts (IVF centroids + PQ
  codebook), kilobytes; loaded driver-side at serve time and shipped
  as literals/broadcasts exactly like the fit-inline forms.

Each codec has ONE candidate stage in ``similarity``, and the served
and fit-inline forms differ only in where its inputs come from: IVF
assigns with ``assign_cells``, probes with ``_probe_cells`` and scans
with ``_probe_scan``; SQ runs ``sq_shortlist_rerank``; PQ runs
``pq_query_tables`` + ``adc_shortlist_rerank``; all rank with
``cosine_rank_topk``. So ``ivf_topk_from_index``, ``sq_topk_from_index``
and ``pq_topk_from_index`` equal ``similarity.ivf_topk``, ``sq_topk``
and ``pq_topk`` bit-for-bit for the same seed/params/codebook by
construction (asserted by default-tier tests), not because two
implementations happen to agree.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mandoline_hbase_spark.operators import similarity
from mandoline_hbase_spark.operators.similarity import (
    _as_double,
    _centroids,
    _probe_cells,
    _probe_scan,
    _spread,
    assign_cells,
)


def materialize_ann_index(
    emb_df: DataFrame,
    index_dir: str,
    dim: int,
    n_centroids: int = 16,
    seed: int = 7,
    pq_m: int = 8,
    pq_k: int = 16,
    pq_sample_n: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_pq: bool = True,
    include_sq: bool = False,
    meta_cols: tuple[str, ...] = (),
    train_centroids: bool = False,
    train_iters: int = 3,
) -> dict:
    """Build the index: one corpus pass for the cell assignment + full
    vectors, one for the PQ codes; centroids/codebook persist as JSON.
    Returns summary counts. Rebuild = overwrite (the index is derived
    state; the corpus of record stays wherever it lives). The overwrite
    is NOT transactional across the three artifacts — readers racing a
    rebuild can see mixed generations. Deployment discipline: rebuild
    into a FRESH directory and swap the serving pointer (a conditional
    put on the pointer object — the CAS seam again), or quiesce reads,
    exactly as streaming/search.compact_index documents for postings.

    ``meta_cols`` (VERDICT r7 #5, filtered vector search): low-
    cardinality metadata columns carried into the cells table AND
    appended to its partitioning — the table becomes PARTITIONED BY
    (cell, *meta_cols), so a filtered query's predicate prunes
    DIRECTORIES alongside the probe cells (PartitionFilters:
    cell IN (...) AND label IN (...)): the scan is ∝ probed-cell ∩
    predicate, the shape production filtered-ANN serving needs.
    Partition-count discipline is the caller's: cells × Π|meta|
    directories must stay sane (e.g. 1000 cells × 10 labels = fine;
    a high-cardinality column belongs in the row data where parquet
    min/max pushdown handles it, not in the partitioning)."""
    cents = _centroids(dim, n_centroids, seed)
    if train_centroids:
        # OPT-IN sample-k-means refinement (round 9, exact-pruned IVF):
        # random unit centroids give huge Voronoi radii, so the
        # triangle-inequality cell bounds ivf_exact_topk_from_index
        # prunes with are near-vacuous; a few spherical Lloyd rounds
        # over a bounded DETERMINISTIC sample (unit_sample — the one
        # streaming/ann's retrain also fits on; numpy, driver-side)
        # tighten cells to the corpus's actual direction clusters.
        # Default OFF: the untrained form keeps the documented
        # bit-for-bit parity with similarity.ivf_topk for the same
        # seed/params.
        cents = _sample_kmeans(
            emb_df, cents, iters=train_iters, id_col=id_col, vec_col=vec_col
        )
    codebook = None
    if include_pq:
        codebook = similarity.pq_fit(
            emb_df, m=pq_m, k=pq_k, sample_n=pq_sample_n, id_col=id_col, vec_col=vec_col
        )

    assigned = assign_cells(
        _spread(emb_df, id_col).select(
            F.col(id_col),
            _as_double(vec_col).alias("embedding"),
            *[F.col(c) for c in meta_cols],
        ),
        cents,
    )
    (
        # repartition on the partition columns first: ONE file per
        # (cell, *meta) directory instead of (tasks x dirs) small files
        # — same discipline as bucketed.materialize_bucketed
        assigned.repartition(n_centroids, F.col("cell"), *[F.col(c) for c in meta_cols])
        .write.mode("overwrite")
        .partitionBy("cell", *meta_cols)
        .parquet(os.path.join(index_dir, "cells"))
    )
    if include_pq:
        # the cell column joins back from the just-WRITTEN table: the
        # assignment plan (n_centroids aggregate folds per row) must not
        # recompute for the codes pass — same no-recompute discipline as
        # the merge manifests
        written_cells = emb_df.sparkSession.read.parquet(
            os.path.join(index_dir, "cells")
        ).select(id_col, "cell", *meta_cols)
        codes = similarity.pq_encode(emb_df, codebook, id_col, vec_col).join(
            written_cells, id_col
        )
        (
            # codes mirror the cells partitioning (cell, *meta_cols) so
            # a filtered ADC scan prunes the same directories
            codes.repartition(
                n_centroids, F.col("cell"), *[F.col(c) for c in meta_cols]
            )
            .write.mode("overwrite")
            .partitionBy("cell", *meta_cols)
            .parquet(os.path.join(index_dir, "codes"))
        )
    if include_sq:
        # int8 scalar-quantized codes, mirroring the cells partitioning
        # — the trainless compressed probe style (similarity.sq_topk);
        # q_scale rides along for scale-aware variants
        written_cells = emb_df.sparkSession.read.parquet(
            os.path.join(index_dir, "cells")
        ).select(id_col, "cell", *meta_cols)
        sq_codes = similarity.quantize_int8(emb_df, id_col, vec_col).join(
            written_cells, id_col
        )
        (
            sq_codes.repartition(
                n_centroids, F.col("cell"), *[F.col(c) for c in meta_cols]
            )
            .write.mode("overwrite")
            .partitionBy("cell", *meta_cols)
            .parquet(os.path.join(index_dir, "sq"))
        )
    meta = {
        "dim": int(dim),
        "n_centroids": int(n_centroids),
        "seed": int(seed),
        "id_col": id_col,
        "meta_cols": list(meta_cols),
        "sq": bool(include_sq),
        "centroids": [[float(x) for x in row] for row in cents],
        "pq_codebook": None
        if codebook is None
        else [[[float(x) for x in c] for c in sub] for sub in codebook],
    }
    tmp = os.path.join(index_dir, ".codebook.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(index_dir, "codebook.json"))
    # count the WRITTEN table, not the build plan: a zero-column scan
    # of the (just-written, cell-count files) parquet dir is cheap and
    # never recomputes the assignment expressions
    n = spark_read_count(emb_df.sparkSession, os.path.join(index_dir, "cells"))
    return {"n_vectors": int(n), "n_centroids": int(n_centroids), "pq_m": int(pq_m)}


def spark_read_count(spark: SparkSession, path: str) -> int:
    """Row count of a written parquet dir — a plain zero-column count
    scan over the files (NOT a footer-metadata-only read; Spark needs
    ``spark.sql.parquet.aggregatePushdown`` for that). The point is
    only that the BUILD plan never re-executes."""
    return spark.read.parquet(path).count()


def load_ann_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "codebook.json")) as f:
        return json.load(f)


def _where_in(df: DataFrame, filters: dict | None) -> DataFrame:
    """Apply ``filters`` (metadata column -> value or list of values) as
    LITERAL ``isin`` predicates: over partition columns they prune
    directories at planning time, over row columns they push down to
    parquet row groups. ``None``/``{}`` leaves ``df`` unfiltered."""
    for col, vals in (filters or {}).items():
        vals = list(vals) if isinstance(vals, (list, tuple, set)) else [vals]
        df = df.filter(F.col(col).isin(vals))
    return df


def ivf_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filters: dict | None = None,
) -> DataFrame:
    """IVF ANN served from the materialized index: probe cells are
    computed driver-side from the persisted centroids, and the corpus
    scan carries a LITERAL ``cell IN (...)`` predicate — Spark prunes
    the non-probed partitions at planning time (PartitionFilters), so
    the read is ∝ probed cells, not corpus size. Scoring matches
    ``similarity.ivf_topk`` exactly.

    ``filters`` (VERDICT r7 #5, filtered vector search) maps metadata
    column -> value or list of values (equality/IN — the
    partition-prunable class) and composes the predicate INSIDE the
    candidate scan: post-filtering a plain top-k would under-fill k
    whenever the filter is selective. When the index was materialized
    with the filter columns in ``meta_cols``, the scan prunes to the
    cell ∩ predicate directories (``PartitionFilters: cell IN (...)
    AND label IN (...)`` — asserted by test); other columns push down
    to parquet row groups. Probing every cell degrades exactly to
    FILTERED BRUTE FORCE, which gives the served query its full
    value-level oracle (the degenerate-config idiom)."""
    meta = load_ann_meta(index_dir)
    rows, _, id_type = _probe_cells(
        queries_df, meta["centroids"], n_probe, id_col, vec_col
    )
    cells = _where_in(spark.read.parquet(os.path.join(index_dir, "cells")), filters)
    return similarity.cosine_rank_topk(_probe_scan(cells, rows, id_type, meta["id_col"]), k)


def pq_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filters: dict | None = None,
) -> DataFrame:
    """PQ ANN served from the materialized codes: ADC lookup-table scan
    over ``codes/`` (m ints per row), shortlist, exact rerank against
    ``cells/`` full vectors via an id semi-join.

    ``n_probe`` composes the two index structures (IVF-PQ): when set,
    each query's ADC scan is bounded to ITS OWN probed cells (the
    probes join the codes ON cell, so per-query candidate volume is
    ∝ n_probe cells regardless of batch size), and the codes scan is
    partition-pruned to the union of probed cells — FAISS's IVFPQ as a
    lakehouse layout. ``None`` scans all codes (plain PQ), matching
    ``similarity.pq_topk`` exactly. The ADC expression, shortlist
    tie-break and exact rerank are the SHARED
    ``similarity.adc_shortlist_rerank`` definition.

    ``filters`` (as in :func:`ivf_topk_from_index`) applies to the codes
    scan: the codes table mirrors the (cell, *meta) partitioning, so the
    predicate prunes code directories before any lookup-table
    arithmetic runs, and the shortlist is taken over predicate-passing
    candidates only. A corpus-wide ``shortlist`` degrades the ADC stage
    to filtered brute force, the oracle idiom."""
    import numpy as np

    meta = load_ann_meta(index_dir)
    if meta.get("pq_codebook") is None:
        raise ValueError(
            f"index at {index_dir} was built without PQ codes "
            "(materialize_ann_index(include_pq=False)); rebuild with "
            "include_pq=True to serve PQ queries"
        )
    codebook = np.asarray(meta["pq_codebook"], dtype=np.float64)
    queries = similarity.pq_query_tables(queries_df, codebook, id_col, vec_col)

    codes = _where_in(spark.read.parquet(os.path.join(index_dir, "codes")), filters)
    if n_probe is not None:
        rows, probed, id_type = _probe_cells(
            queries_df, meta["centroids"], n_probe, id_col, vec_col
        )
        # union filter = partition pruning for the SCAN; per-query
        # bound = the (query, cell) probe join below
        codes = codes.filter(F.col("cell").isin(probed))
        probe_pairs = spark.createDataFrame(
            [(r[0], r[2]) for r in rows], f"query_id {id_type}, cell int"
        )
        cands = (
            codes.select(F.col(meta["id_col"]).alias("neighbor_id"), "code", "cell")
            .join(F.broadcast(probe_pairs), "cell")
            .join(F.broadcast(queries), "query_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
    else:
        cands = (
            codes.select(F.col(meta["id_col"]).alias("neighbor_id"), "code")
            .crossJoin(F.broadcast(queries))
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
    vectors = spark.read.parquet(os.path.join(index_dir, "cells")).select(
        F.col(meta["id_col"]).alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    return similarity.adc_shortlist_rerank(
        cands, vectors, codebook.shape[0], k, shortlist
    )


def sq_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filters: dict | None = None,
) -> DataFrame:
    """SQ8 ANN served from the materialized int8 codes (``sq/``): the
    third probe style over the one train-once artifact — no codebook at
    all (the quantizer is per-vector), the scan reads ``dim`` small
    ints per row, the shortlist key is the exact BIGINT
    ``similarity.int_dot``, and the exact cosine rerank joins back to
    ``cells/`` full vectors for ``shortlist`` ids per query.

    Equals ``similarity.sq_topk`` bit-for-bit for the same corpus
    (same quantizer, same integer ordering, same rerank — asserted by
    test), so the served query inherits the fit-inline form's
    value-level oracle ON THE PRUNED PATH — no degenerate full-probe
    config needed, unlike the served IVF/PQ forms.

    ``filters`` (as in :func:`ivf_topk_from_index`) prunes the
    (cell, *meta)-partitioned ``sq/`` directories before any integer
    arithmetic runs, and the rerank reads ``cells/`` under the same
    predicate. Exact row selection plus an exact BIGINT shortlist key
    keeps the PRUNED filtered path value-level-checkable too."""
    meta = load_ann_meta(index_dir)
    if not meta.get("sq"):
        raise ValueError(
            f"index at {index_dir} was built without SQ codes "
            "(materialize_ann_index(include_sq=False)); rebuild with "
            "include_sq=True to serve SQ queries"
        )
    codes = _where_in(spark.read.parquet(os.path.join(index_dir, "sq")), filters).select(
        F.col(meta["id_col"]).alias("neighbor_id"), F.col("q_vec").alias("ccode")
    )
    vectors = _where_in(
        spark.read.parquet(os.path.join(index_dir, "cells")), filters
    ).select(F.col(meta["id_col"]).alias("neighbor_id"), F.col("embedding").alias("cvec"))
    return similarity.sq_shortlist_rerank(
        codes, vectors, queries_df, k, shortlist, id_col, vec_col
    )


def materialize_mrl_index(
    emb_df: DataFrame,
    index_dir: str,
    prefix_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Matryoshka serving layout: one parquet table ``(id, prefix,
    embedding)`` where ``prefix`` is the leading ``prefix_dims`` slice
    MATERIALIZED AS ITS OWN COLUMN. The shortlist stage then projects
    ``(id, prefix)`` only — the MRL IO saving becomes real columnar
    pruning at the scan (visible as ``ReadSchema`` without the full
    vector), not just less arithmetic; at 100 TB the shortlist sweep
    reads dims/prefix_dims times fewer bytes. ``mrl_meta.json`` is
    written LAST (the ready marker for the served-artifact lifecycle).
    Rebuild discipline = materialize_ann_index's (fresh dir + pointer
    swap, or quiesce)."""
    (
        _spread(emb_df, id_col)
        .select(
            F.col(id_col),
            F.slice(_as_double(vec_col), 1, int(prefix_dims)).alias("prefix"),
            _as_double(vec_col).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "vectors"))
    )
    meta = {"prefix_dims": int(prefix_dims), "id_col": id_col}
    tmp = os.path.join(index_dir, ".mrl_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(index_dir, "mrl_meta.json"))
    return meta


def matryoshka_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k_shortlist: int = 20,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve MRL two-stage retrieval from the materialized layout:
    shortlist per query over the PROJECTED ``(id, prefix)`` scan, then
    join the ≤``k_shortlist``-per-query survivors back to their full
    vectors for the exact rerank. Deterministic slicing makes the
    served results definitionally identical to the fit-inline
    ``similarity.matryoshka_topk`` — the served path carries the same
    full value-level oracle (the ivf-served idiom)."""
    with open(os.path.join(index_dir, "mrl_meta.json")) as f:
        meta = json.load(f)
    id_col, prefix_dims = meta["id_col"], int(meta["prefix_dims"])
    tbl = spark.read.parquet(os.path.join(index_dir, "vectors"))
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("qvec"),
        F.slice(_as_double(vec_col), 1, prefix_dims).alias("qpre"),
    )
    # shortlist: the scan projects (id, prefix) — embedding is pruned
    pre = (
        tbl.select(F.col(id_col).alias("neighbor_id"), "prefix")
        .join(F.broadcast(q.select("query_id", "qpre")), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("prefix_sim", similarity.cosine_sim(F.col("qpre"), F.col("prefix")))
    )
    shortlist = similarity._per_query_topk(pre, "prefix_sim", k_shortlist).select(
        "query_id", "neighbor_id", "prefix_sim"
    )
    # rerank: join the k-bounded shortlist back to the FULL vectors
    full = tbl.select(F.col(id_col).alias("neighbor_id"), F.col("embedding").alias("cvec"))
    cands = (
        shortlist.join(full, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qvec")), "query_id")
        .withColumn("sim", similarity.cosine_sim(F.col("qvec"), F.col("cvec")))
    )
    return similarity._per_query_topk(cands, "sim", k).select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("sim", 6).alias("sim"),
        F.round("prefix_sim", 6).alias("prefix_sim"),
    )


def unit_sample(df: DataFrame, k: int, id_col: str, vec_col: str):
    """The bounded DETERMINISTIC corpus sample every centroid fit uses
    (``_sample_kmeans`` here, ``streaming/ann.retrain_ann_index``): the
    first ``max(64*k, 1024)`` vectors in id-hash order (spread across
    the corpus, stable across partitionings), nonzero ones made unit, as
    one ``(n, dim)`` numpy array — empty when no nonzero vector exists."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(max(64 * k, 1024))
        .collect()
    )
    vecs = (np.asarray(r[1], dtype=np.float64) for r in rows)
    return np.asarray([v / nv for v in vecs if (nv := float(np.linalg.norm(v))) > 0])


def _sample_kmeans(
    emb_df: DataFrame,
    cents,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical Lloyd refinement over the :func:`unit_sample`, entirely
    in numpy on the driver (the sample is bounded; no extra Spark
    passes). Empty cells keep their previous centroid, so the result is
    deterministic for a given corpus + seed centroids; a corpus with no
    nonzero vector returns ``cents`` unchanged."""
    import numpy as np

    k = len(cents)
    unit = unit_sample(emb_df, k, id_col, vec_col)
    if len(unit) == 0:
        return cents
    c = np.asarray(cents, dtype=np.float64)
    for _ in range(int(iters)):
        assign = np.argmax(unit @ c.T, axis=1)
        nxt = c.copy()
        for j in range(k):
            members = unit[assign == j]
            if len(members):
                m = members.mean(axis=0)
                norm = float(np.linalg.norm(m))
                if norm > 0:
                    nxt[j] = m / norm
        c = nxt
    return c


def ensure_cell_bounds(spark: SparkSession, index_dir: str) -> dict:
    """Per-cell angular radius sidecar for EXACT pruned search: for each
    cell, the minimum cosine between a member and its centroid (i.e.
    the cosine of the cell's max member angle). Computed ONCE per index
    with one partition-parallel aggregate over cells/ and persisted as
    ``bounds.json`` next to the codebook (the static index's cells are
    immutable — rebuild is overwrite — so the sidecar can never go
    stale without the codebook changing too, and the fingerprinted
    artifact lifecycle replaces both together)."""
    path = os.path.join(index_dir, "bounds.json")
    if os.path.exists(path):
        with open(path) as f:
            return {int(c): v for c, v in json.load(f).items()}
    meta = load_ann_meta(index_dir)
    cents = meta["centroids"]
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cell int, centvec array<double>",
    )
    rows = (
        spark.read.parquet(os.path.join(index_dir, "cells"))
        .join(F.broadcast(cdf), "cell")
        .groupBy("cell")
        .agg(
            F.min(
                similarity.cosine_sim(F.col("embedding"), F.col("centvec"))
            ).alias("min_cos")
        )
        .collect()
    )
    bounds = {int(r["cell"]): float(r["min_cos"]) for r in rows}
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({str(c): v for c, v in bounds.items()}, f)
    os.replace(tmp, path)
    return bounds


def ivf_exact_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT top-k served from the IVF layout via triangle-inequality
    cell pruning — the answer provably equals brute force at ANY cell
    count / probe budget, while the scan touches only cells that could
    still contain a top-k member.

    The bound: for member x of cell c, the spherical triangle
    inequality gives angle(q, x) >= angle(q, centroid_c) - radius_c,
    so cos(q, x) <= cos(max(0, theta_qc - radius_c)) =: UB(q, c), with
    radius_c the cell's max member angle (``ensure_cell_bounds``).

    Two phases, both partition-pruned literal-IN scans:

    1. probe the ``n_probe`` best cells per query (the ordinary IVF
       read) and take the running kth-best score s_k per query;
    2. additionally scan exactly the cells with UB(q, c) >= s_k - 1e-6,
       where s_k is the UNROUNDED phase-1 kth-best and the bound is
       computed as a broadcast(codebook+radii) join + codegen filter in
       the JVM. Every skipped cell's members satisfy
       sim <= UB < s_k <= global kth best, so they cannot enter or tie
       into the top-k: the union rank equals the brute-force answer,
       tie-breaks included. The epsilon only ever ADDS cells
       (conservative).

    100 TB shape: driver state is the O(survivor pairs) literal scan
    list — the pairs phase 2 must read anyway — not the full
    |Q| x cells bound matrix (that lives executor-side); the phase-2
    scan volume is what the geometry allows: tight
    trained cells on clustered corpora prune almost everything; in the
    worst case (uninformative cells) it degrades to the full scan WITH
    the exact answer, never past it. This resolves the
    exactness-vs-probe-budget tension the full-probe oracle anchor has:
    exact results from a pruned scan, so the value-level oracle holds
    unconditionally while the read stays sub-corpus.
    """
    import math

    meta = load_ann_meta(index_dir)
    bounds = ensure_cell_bounds(spark, index_dir)
    cents = meta["centroids"]
    rows, _, id_type = _probe_cells(queries_df, cents, n_probe, id_col, vec_col)
    cells = spark.read.parquet(os.path.join(index_dir, "cells"))
    phase1 = _probe_scan(cells, rows, id_type, meta["id_col"])
    # per-query probed set + query vectors from the probe rows
    probed_by_q: dict = {}
    qvec_by_q: dict = {}
    for qid, qv, c in rows:
        probed_by_q.setdefault(qid, set()).add(c)
        qvec_by_q[qid] = qv

    def _unit(v):
        nv = math.sqrt(sum(x * x for x in v))
        return [x / nv for x in v] if nv > 0 else None

    # s_k per query, UNROUNDED and executor-side: the kth-best phase-1
    # sim under the final ranking's own (sim desc, neighbor asc) order.
    # Using the rounded output `sim` here (pre-r10) could overstate the
    # true kth-best by up to ~5e-7 and wrongly skip a cell whose UB
    # falls in between (ADVICE r9 #2). A query with < k phase-1
    # candidates has no rank-k row -> s_k coalesces to -1 (every cell
    # may still contribute).
    from pyspark.sql import Window as _W

    sims1 = phase1.withColumn(
        "sim", similarity.cosine_sim(F.col("qvec"), F.col("cvec"))
    )
    _w = _W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    kth_df = (
        sims1.withColumn("rank", F.row_number().over(_w))
        .filter(F.col("rank") == k)
        .select("query_id", F.col("sim").alias("s_k"))
    )

    # UB(q, c) >= s_k - eps as a broadcast join + filter in the JVM
    # (VERDICT r9 Next #3): the tiny (cell, unit centroid, radius)
    # table broadcasts against the query set; the bound arithmetic is
    # whole-stage-codegen column math, not a driver Python loop over
    # |Q| x cells. Only the SURVIVING (query, cell) pairs — what the
    # geometry failed to prune, the pairs phase 2 must scan anyway —
    # come back to the driver to form the literal-IN pruned scan.
    cell_rows = []
    for c, min_cos in bounds.items():
        cu = _unit(cents[c])
        if cu is None:
            continue
        radius = math.acos(max(-1.0, min(1.0, float(min_cos))))
        cell_rows.append((int(c), cu, radius))
    q_rows = [
        (qid, uq, sorted(probed_by_q.get(qid, set())))
        for qid, qv in qvec_by_q.items()
        if (uq := _unit(qv)) is not None
    ]
    if not cell_rows or not q_rows:
        return similarity.cosine_rank_topk(phase1, k)
    cells_df = spark.createDataFrame(cell_rows, "cell int, cu array<double>, radius double")
    q_df = spark.createDataFrame(
        q_rows, f"query_id {id_type}, uq array<double>, probed array<int>"
    )
    dot = F.aggregate(
        F.zip_with("uq", "cu", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # eps=1e-6: the bound arithmetic (acos/cos round trips) carries
    # ~1e-15 relative error; 1e-6 dominates it with margin and only
    # ever ADDS cells — exactness is one-sided here.
    survivors = (
        q_df.join(kth_df, "query_id", "left")
        .withColumn("s_k", F.coalesce(F.col("s_k"), F.lit(-1.0)))
        .join(
            F.broadcast(cells_df),
            ~F.array_contains(F.col("probed"), F.col("cell")),
        )
        .withColumn(
            "cos_qc", F.greatest(F.lit(-1.0), F.least(F.lit(1.0), dot))
        )
        .withColumn(
            "ub",
            F.cos(
                F.greatest(F.lit(0.0), F.acos(F.col("cos_qc")) - F.col("radius"))
            ),
        )
        .filter(F.col("ub") >= F.col("s_k") - F.lit(1e-6))
        .select("query_id", "cell")
    )
    extra_rows = [
        (r["query_id"], qvec_by_q[r["query_id"]], int(r["cell"]))
        for r in survivors.collect()
    ]
    if not extra_rows:
        return similarity.cosine_rank_topk(phase1, k)
    phase2 = _probe_scan(cells, extra_rows, id_type, meta["id_col"])
    return similarity.cosine_rank_topk(phase1.unionByName(phase2), k)
