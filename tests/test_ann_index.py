"""Served ANN: the materialized index answers queries identically to the
fit-inline operators, and probes compile to partition-pruned scans."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mandoline_hbase_spark.operators import ann_index, similarity
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from mandoline_hbase_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path_factory.mktemp("ann") / "index")
    summary = ann_index.materialize_ann_index(
        emb, index_dir, dim=64, n_centroids=8, seed=7, pq_m=8, pq_k=16,
        include_sq=True,
    )
    return emb, index_dir, summary


def _rows(df):
    return sorted((r.query_id, r.rank, r.neighbor_id, r.sim) for r in df.collect())


def test_served_ivf_equals_fit_inline(spark, built):
    emb, index_dir, summary = built
    assert summary["n_vectors"] == emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    want = _rows(
        similarity.ivf_topk(emb, queries, dim=64, k=5, n_centroids=8, n_probe=3, seed=7)
    )
    got = _rows(
        ann_index.ivf_topk_from_index(spark, index_dir, queries, k=5, n_probe=3)
    )
    assert got == want and got


def test_served_ivf_scan_is_partition_pruned(spark, built):
    """The probe set becomes a LITERAL cell IN (...) predicate, so the
    cells/ scan prunes non-probed partitions at planning time — the
    read is proportional to probed cells, not corpus size."""
    emb, index_dir, _ = built
    queries = emb.filter(F.col("vec_id") < 2)
    out = ann_index.ivf_topk_from_index(spark, index_dir, queries, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln and " IN " in ln for ln in scan_lines), plan[:4000]


@pytest.fixture(scope="module")
def built_filtered(spark, tmp_path_factory):
    from mandoline_hbase_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path_factory.mktemp("fann") / "index")
    ann_index.materialize_ann_index(
        emb, index_dir, dim=64, n_centroids=8, seed=7,
        include_pq=True, pq_m=8, pq_k=16, include_sq=True,
        meta_cols=("label",),
    )
    return emb, index_dir


def test_filtered_ivf_full_probe_equals_filtered_brute_force(spark, built_filtered):
    """VERDICT r7 #5 done-criterion: full probe + predicate == filtered
    brute force, value-for-value (the degenerate-config oracle idiom)."""
    emb, index_dir = built_filtered
    queries = emb.filter(F.col("vec_id") < 5)
    want = _rows(
        similarity.cosine_topk(emb.filter(F.col("label") == 2), queries, k=5)
    )
    got = _rows(
        ann_index.ivf_topk_from_index(
            spark, index_dir, queries, k=5, n_probe=8, filters={"label": 2}
        )
    )
    assert got == want and got


def test_filtered_ivf_prunes_on_cell_AND_predicate(spark, built_filtered):
    """The scan must prune partitions on BOTH keys: probe cells and the
    metadata predicate (cells table partitioned by (cell, label))."""
    emb, index_dir = built_filtered
    queries = emb.filter(F.col("vec_id") < 2)
    out = ann_index.ivf_topk_from_index(
        spark, index_dir, queries, k=3, n_probe=2, filters={"label": [1, 2]}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any(
        "cell" in ln and "label" in ln and " IN " in ln for ln in scan_lines
    ), plan[:4000]


def test_filtered_pq_full_shortlist_equals_filtered_brute_force(spark, built_filtered):
    """Compressed-path twin of the IVF test: a corpus-wide shortlist
    degrades ADC to exact rerank of every filtered candidate, so the
    result must equal filtered brute force value-for-value."""
    emb, index_dir = built_filtered
    queries = emb.filter(F.col("vec_id") < 5)
    want = _rows(
        similarity.cosine_topk(emb.filter(F.col("label") == 2), queries, k=5)
    )
    got = _rows(
        ann_index.pq_topk_from_index(
            spark, index_dir, queries, k=5, shortlist=1 << 20, filters={"label": 2}
        )
    )
    assert got == want and got


def test_filtered_pq_codes_scan_prunes_on_predicate(spark, built_filtered):
    """The codes table mirrors the (cell, label) partitioning, so the
    predicate (and probed cells, when composed) prune code directories
    at planning time."""
    emb, index_dir = built_filtered
    queries = emb.filter(F.col("vec_id") < 2)
    out = ann_index.pq_topk_from_index(
        spark, index_dir, queries, k=3, shortlist=8, n_probe=2,
        filters={"label": [1, 2]},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any(
        "cell" in ln and "label" in ln and " IN " in ln for ln in scan_lines
    ), plan[:4000]


def test_filtered_sq_equals_filtered_fit_inline(spark, built_filtered):
    """SQ twin: the filtered served path must equal similarity.sq_topk
    over the pre-filtered corpus on the SAME PRUNED shortlist — no
    degenerate config needed (integer shortlist keys)."""
    emb, index_dir = built_filtered
    queries = emb.filter(F.col("vec_id") < 5)
    want = _rows(
        similarity.sq_topk(emb.filter(F.col("label") == 2), queries, k=5, shortlist=16)
    )
    got = _rows(
        ann_index.sq_topk_from_index(
            spark, index_dir, queries, k=5, shortlist=16, filters={"label": 2}
        )
    )
    assert got == want and got


def test_filtered_sq_codes_scan_prunes_on_predicate(spark, built_filtered):
    """The sq/ table mirrors the (cell, label) partitioning, so the
    predicate prunes int8-code directories at planning time."""
    emb, index_dir = built_filtered
    queries = emb.filter(F.col("vec_id") < 2)
    out = ann_index.sq_topk_from_index(
        spark, index_dir, queries, k=3, shortlist=8, filters={"label": [1, 2]}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("label" in ln and " IN " in ln for ln in scan_lines), plan[:4000]


def test_served_plans_prune_on_cell_and_filters(spark, tmp_path):
    """Default-tier plan-shape smoke test over a tiny in-test index: each
    served codec prunes partitions on the probed cells (IVF, IVF-PQ)
    and, only when ``filters`` is given, on the metadata predicate —
    on every table that codec scans. Planning only: nothing executes
    past the driver-side probe and lookup-table collects."""
    import re

    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)], i % 4) for i in range(48)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    index_dir = str(tmp_path / "index")
    ann_index.materialize_ann_index(
        emb, index_dir, dim=8, n_centroids=4, seed=7, pq_m=2, pq_k=4,
        pq_sample_n=48, include_sq=True, meta_cols=("label",),
    )
    queries = emb.filter(F.col("vec_id") < 2)

    def partition_filters(df):
        # the formatted explain prints each scan's PartitionFilters in
        # full (the one-line tree form elides them behind "...")
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return [ln for ln in plan.splitlines() if ln.startswith("PartitionFilters")]

    serve = {
        "ivf": lambda **kw: ann_index.ivf_topk_from_index(
            spark, index_dir, queries, k=3, n_probe=2, **kw
        ),
        "ivfpq": lambda **kw: ann_index.pq_topk_from_index(
            spark, index_dir, queries, k=3, shortlist=8, n_probe=2, **kw
        ),
        "sq": lambda **kw: ann_index.sq_topk_from_index(
            spark, index_dir, queries, k=3, shortlist=8, **kw
        ),
    }
    def has_in(col, ln):
        return re.search(rf"\b{col}#\d+ IN \(", ln) is not None

    for name, fn in serve.items():
        lines = partition_filters(fn(filters={"label": [1, 2]}))
        labelled = [ln for ln in lines if has_in("label", ln)]
        # sq applies the predicate to both sq/ and the cells/ rerank read
        assert len(labelled) >= (2 if name == "sq" else 1), (name, lines)
        if name != "sq":
            assert any(has_in("cell", ln) for ln in labelled), (name, lines)
        plain = partition_filters(fn())
        assert not any("label" in ln for ln in plain), (name, plain)
        if name != "sq":
            assert any(has_in("cell", ln) for ln in plain), (name, plain)


def test_served_pq_equals_fit_inline(spark, built):
    emb, index_dir, _ = built
    queries = emb.filter(F.col("vec_id") < 5)
    meta = ann_index.load_ann_meta(index_dir)
    import numpy as np

    codebook = np.asarray(meta["pq_codebook"])
    want = _rows(similarity.pq_topk(emb, queries, codebook, k=5, shortlist=24))
    got = _rows(
        ann_index.pq_topk_from_index(spark, index_dir, queries, k=5, shortlist=24)
    )
    assert got == want and got


def test_ivfpq_composition_recall(spark, built):
    """n_probe composes the two structures (IVF-PQ): the cell-pruned ADC
    scan keeps high recall against exact brute force, and probing every
    cell recovers the plain-PQ result exactly."""
    emb, index_dir, _ = built
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {}
    for r in similarity.cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    served = {}
    for r in ann_index.pq_topk_from_index(
        spark, index_dir, queries, k=5, shortlist=32, n_probe=4
    ).collect():
        served.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[q] & served.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.5, recall  # half the cells probed; shortlist reranked
    # full probe == plain PQ (no pruning)
    plain = _rows(ann_index.pq_topk_from_index(spark, index_dir, queries, k=5, shortlist=32))
    full = _rows(
        ann_index.pq_topk_from_index(spark, index_dir, queries, k=5, shortlist=32, n_probe=8)
    )
    assert plain == full


def test_rebuild_is_deterministic(spark, built, tmp_path):
    """Same corpus + params -> byte-identical codebook artifact (the
    deterministic-fit contract the inline operators already carry)."""
    emb, index_dir, _ = built
    other = str(tmp_path / "index2")
    ann_index.materialize_ann_index(
        emb, other, dim=64, n_centroids=8, seed=7, pq_m=8, pq_k=16,
        include_sq=True,
    )
    a = json.load(open(os.path.join(index_dir, "codebook.json")))
    b = json.load(open(os.path.join(other, "codebook.json")))
    assert a == b


def test_served_sq_equals_fit_inline(spark, built):
    """sq_topk_from_index over the persisted int8 codes must equal
    similarity.sq_topk bit-for-bit — same quantizer, same integer
    shortlist ordering, same exact rerank — on the PRUNED config."""
    emb, index_dir, _ = built
    queries = emb.filter(F.col("vec_id") < 5)
    want = _rows(similarity.sq_topk(emb, queries, k=5, shortlist=16))
    got = _rows(
        ann_index.sq_topk_from_index(spark, index_dir, queries, k=5, shortlist=16)
    )
    assert got == want and got


def test_sq_serve_refused_without_codes(spark, tmp_path):
    """An index built without SQ codes must refuse SQ serving with a
    clear error, not a missing-parquet crash."""
    from mandoline_hbase_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    d = str(tmp_path / "no-sq")
    ann_index.materialize_ann_index(
        emb, d, dim=64, n_centroids=8, seed=7, include_pq=False, include_sq=False
    )
    queries = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="without SQ codes"):
        ann_index.sq_topk_from_index(spark, d, queries, k=3)


def test_pq_serve_refused_without_codes(spark, tmp_path):
    """An IVF-only index (include_pq=False) must refuse PQ serving with
    a clear error, not an opaque NoneType crash."""
    from mandoline_hbase_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    d = str(tmp_path / "ivf-only")
    ann_index.materialize_ann_index(
        emb, d, dim=64, n_centroids=8, seed=7, include_pq=False
    )
    queries = emb.filter(F.col("vec_id") < 2)
    assert ann_index.ivf_topk_from_index(spark, d, queries, k=3, n_probe=2).count() > 0
    with pytest.raises(ValueError, match="without PQ codes"):
        ann_index.pq_topk_from_index(spark, d, queries, k=3)


@pytest.fixture(scope="module")
def built_exact(spark, tmp_path_factory):
    from mandoline_hbase_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index_dir = str(tmp_path_factory.mktemp("xann") / "index")
    ann_index.materialize_ann_index(
        emb, index_dir, dim=64, n_centroids=22, seed=7,
        include_pq=False, train_centroids=True, train_iters=3,
    )
    return emb, index_dir


def test_exact_pruned_equals_brute_force(spark, built_exact):
    """Round 9: the bound-pruned serve equals exact cosine top-k at a
    LOW probe budget — the bound, not the budget, carries exactness."""
    emb, index_dir = built_exact
    queries = emb.filter(F.col("vec_id") < 6)
    want = _rows(similarity.cosine_topk(emb, queries, k=5))
    for n_probe in (1, 2, 8):
        got = _rows(
            ann_index.ivf_exact_topk_from_index(
                spark, index_dir, queries, k=5, n_probe=n_probe
            )
        )
        assert got == want and got, n_probe


def test_exact_pruned_actually_prunes_on_clustered_data(spark, tmp_path):
    """Pruning is GEOMETRY-dependent: on the isotropic fixture every
    cell's bound stays above the kth-best (the high-dimensional reality
    that killed exact metric trees) and the scan honestly degrades to
    full — still exact. On clustered data — the regime real embedding
    corpora live in (near-dup documents share a direction) — trained
    cells are tight, bounds bite, and the union plan must read far
    fewer cells than the index holds, with the answer still equal to
    brute force."""
    import numpy as np

    rng = np.random.default_rng(11)
    n_clusters, per = 24, 25
    seeds = rng.standard_normal((n_clusters, 16))
    seeds /= np.linalg.norm(seeds, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per):
            v = seeds[ci] + 0.02 * rng.standard_normal(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    index_dir = str(tmp_path / "cxann")
    ann_index.materialize_ann_index(
        emb, index_dir, dim=16, n_centroids=n_clusters, seed=7,
        include_pq=False, train_centroids=True, train_iters=4,
    )
    queries = emb.filter(F.col("vec_id") < 4)
    out = ann_index.ivf_exact_topk_from_index(
        spark, index_dir, queries, k=5, n_probe=2
    )
    want = _rows(similarity.cosine_topk(emb, queries, k=5))
    assert _rows(out) == want and want
    total_cells = sum(
        1 for e in os.scandir(os.path.join(index_dir, "cells"))
        if e.is_dir() and e.name.startswith("cell=")
    )
    # inputFiles() reports the relation BEFORE partition pruning, so the
    # evidence is the executed plan's PartitionFilters IN-lists: every
    # scan must carry one, and the union of probed cell ids — 4 queries
    # x (2 probes + bound-surviving extras) — must leave most of the
    # index unread
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    in_lists = re.findall(r"PartitionFilters: \[[^\]]*IN \(([^)]*)\)", plan)
    assert in_lists, plan[:4000]
    scanned = {c.strip() for lst in in_lists for c in lst.split(",")}
    assert len(scanned) <= total_cells // 2, (sorted(scanned), total_cells)


def test_cell_bounds_sidecar_is_cached_and_valid(spark, built_exact):
    emb, index_dir = built_exact
    b1 = ann_index.ensure_cell_bounds(spark, index_dir)
    assert os.path.exists(os.path.join(index_dir, "bounds.json"))
    b2 = ann_index.ensure_cell_bounds(spark, index_dir)  # cached path
    assert b1 == b2
    assert b1 and all(-1.0 - 1e-12 <= v <= 1.0 + 1e-12 for v in b1.values())
