"""Catalog-layer tests (Schema/Connection protocol surface, SURVEY §2 #22-33)."""

from __future__ import annotations

import numpy as np
import pytest

from mandoline_hbase_spark.engine import mk_schema, root_table_prefix
from mandoline_hbase_spark.errors import (
    DatasetNotFoundError,
    InvalidArgumentError,
    VersionNotFoundError,
)


def test_root_table_prefix():
    # hbase.clj:346-361 semantics
    assert root_table_prefix("foo.bar.com") == "com.bar.foo"
    assert root_table_prefix("foo.bar.com", "v2") == "v2.com.bar.foo"
    assert root_table_prefix("single") == "single"


def test_dataset_lifecycle(tmp_path):
    schema = mk_schema({"root": "a.b.c", "base_path": str(tmp_path)})
    assert schema.list_datasets() == []
    schema.create_dataset("ds1")
    schema.create_dataset("ds2")
    assert schema.list_datasets() == ["ds1", "ds2"]
    schema.destroy_dataset("ds1")
    assert schema.list_datasets() == ["ds2"]
    schema.destroy_dataset("ds1")  # idempotent (hbase.clj:82-89)
    with pytest.raises(DatasetNotFoundError):
        schema.connect("ds1")
    with pytest.raises(InvalidArgumentError):
        schema.create_dataset("   ")


def test_versions_listing_and_projection(store):
    vids = [store.write_variable("x", np.full((2,), i, dtype=np.float64)) for i in range(5)]
    # newest-first + limit (hbase.clj:283-297)
    out = store.versions(limit=3)
    assert [v["version"] for v in out] == [str(v) for v in reversed(vids)][:3]
    assert all("metadata" not in v for v in out)  # projection flag
    out_meta = store.versions(limit=1, metadata=True)
    assert out_meta[0]["metadata"]["version-id"] == vids[-1]
    # timestamps decode as datetimes from the version-id millis
    assert out[0]["timestamp"].timestamp() * 1000 == pytest.approx(vids[-1], abs=1)


def test_metadata_point_get(store):
    v = store.write_variable("m", np.ones((3,), dtype=np.float64))
    meta = store.metadata(v)
    assert meta["version-id"] == v
    with pytest.raises(VersionNotFoundError):
        store.metadata(123)


def test_get_stats_probe(store):
    stats = store.get_stats()
    assert set(stats) == {"metadata-size", "index-size", "data-size"}
    store.write_variable("x", np.ones((10, 10), dtype=np.float64))
    stats2 = store.get_stats()
    assert stats2["data-size"] > 0 and stats2["index-size"] > 0 and stats2["metadata-size"] > 0


def test_index_exact_point_get_no_fallback(store):
    """chunk_at(coord, version) is an exact get (hbase.clj:217-229)."""
    v1 = store.write_variable("p", np.ones((4,), dtype=np.float64), chunk_shape=(4,))
    meta = store.metadata(v1)
    idx = store.index("p", meta)
    assert idx.chunk_at((0,), v1) is not None
    # exact arity does NOT fall back to earlier versions
    assert idx.chunk_at((0,), v1 + 999) is None
    # bound arity does
    idx2 = store.index("p", {**meta, "version-id": v1 + 999})
    assert idx2.chunk_at((0,)) == idx.chunk_at((0,), v1)


def test_bench_headline_is_a_catalog_subset():
    """Every bench headline name must resolve in the catalog (a typo
    would crash the driver's per-round bench run)."""
    import bench

    from mandoline_hbase_spark.queries.catalog import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headline names"


def test_bench_noise_diagnosis_flags_uniform_slowdown_only():
    """VERDICT r7 #6: suspected_noise fires on the co-tenancy signature
    (whole suite >1.25x the record with zero per-query minima improved)
    and stays quiet when any minimum improved or no record exists."""
    import bench

    prior = {"a": 1.0, "b": 2.0, "c": 0.5}
    vs, mins, noise, ratios, box = bench.diagnose_vs_record(
        {"a": 1.4, "b": 2.8, "c": 0.7}, prior
    )
    assert (vs, mins, noise) == (1.4, 0, True) and ratios["b"] == 1.4
    assert box is None  # no stable tpch names in this toy set
    vs, mins, noise, _, _ = bench.diagnose_vs_record(
        {"a": 0.9, "b": 3.0, "c": 0.9}, prior  # a real change: one new min
    )
    assert mins == 1 and noise is False
    assert bench.diagnose_vs_record({"a": 1.0}, {}) == (None, 0, False, {}, None)
    # at/below the threshold: never flagged
    vs, _, noise, _, _ = bench.diagnose_vs_record({"a": 1.2}, {"a": 1.0})
    assert vs == 1.2 and noise is False
    # round 10: fingerprint re-derivation hands every pass fresh minima,
    # so zero-new-minima alone misses co-tenancy — the stable-tpch box
    # factor must flag a uniformly slow box even WITH new minima
    prior2 = {"q1_a": 1.0, "q9_b": 1.0, "q14_c": 1.0, "q5_d": 1.0, "fresh": 5.0}
    vs, mins, noise, _, box = bench.diagnose_vs_record(
        {"q1_a": 1.7, "q9_b": 1.8, "q14_c": 1.6, "q5_d": 1.65, "fresh": 4.9},
        prior2,
    )
    assert vs > 1.25 and mins == 1 and box == 1.7 and noise is True
    # healthy box, genuine mixed movement: not flagged
    vs, mins, noise, _, box = bench.diagnose_vs_record(
        {"q1_a": 1.05, "q9_b": 0.95, "q14_c": 1.0, "q5_d": 1.0, "fresh": 9.0},
        prior2,
    )
    assert box == 1.0 and noise is False


def test_driver_prefix_leads_with_stalest_verification():
    """The driver-facing order is least-recently-verified first: rank 0
    (never green, or oracle changed since last green — _REVERIFY_FIRST)
    leads, then greens by ascending last-green round. The driver only
    adjudicates a bounded prefix, so this ordering is what keeps every
    query's independent evidence fresh across rounds."""
    from mandoline_hbase_spark.queries.catalog import (
        _REVERIFY_FIRST,
        _last_green_round,
        driver_queries,
    )

    last = _last_green_round()
    names = list(driver_queries())

    def rank(n):
        if last.get(n, 0) < _REVERIFY_FIRST.get(n, 0):
            return 0
        return last.get(n, 0)

    ranks = [rank(n) for n in names]
    assert ranks == sorted(ranks), "driver order not non-decreasing in staleness rank"
    n_rank0 = sum(1 for r in ranks if r == 0)
    for n, changed_round in _REVERIFY_FIRST.items():
        if last.get(n, 0) < changed_round:
            assert n in names[:n_rank0], f"{n} (changed oracle) not in the rank-0 prefix"


def test_reverify_pins_have_no_duplicate_keys():
    """A repeated key in the _REVERIFY_FIRST literal silently keeps only
    its last value, so an older pin (and its comment) would read as
    live while doing nothing. Parse the literal and refuse repeats."""
    import ast

    from mandoline_hbase_spark.queries import catalog

    tree = ast.parse(open(catalog.__file__, encoding="utf-8").read())
    (node,) = [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "_REVERIFY_FIRST" for t in n.targets)
    ]
    keys = [k.value for k in node.keys]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    assert not dups, f"duplicate _REVERIFY_FIRST keys: {dups}"


def test_sweep_driver_prefix_flag_prints_the_queries_head():
    """VERDICT r7 #8: `tools/sweep.py --driver-prefix N` is the rotation
    dry-run — its output must be EXACTLY the first N names of
    __spark_entry__.queries(), one per line, computed in a fresh
    process from the committed CORRECTNESS files."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "sweep.py"), "--driver-prefix", "50"],
        capture_output=True,
        text=True,
        cwd="/tmp",  # neutral cwd, like the driver
        check=True,
    )
    printed = out.stdout.split()
    from mandoline_hbase_spark.queries.catalog import driver_queries

    assert printed == list(driver_queries())[:50]

    bad = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "sweep.py"), "--driver-prefix", "zero"],
        capture_output=True,
        text=True,
        cwd="/tmp",
    )
    assert bad.returncode == 2  # loud on a malformed count


def test_version_cache_serves_warm_and_invalidates_on_commit(tmp_path):
    """The opt-in memoized version listing (hbase_test.clj:107 caching
    layer analog): a warm cache serves without rescanning, this
    connection's own commit invalidates it, and cached results stay
    value-identical to an uncached handle's."""
    import numpy as np

    from mandoline_hbase_spark.engine import mk_schema

    schema = mk_schema({"root": "cache.example.com", "base_path": str(tmp_path)})
    schema.create_dataset("d")
    cached = schema.connect("d", cache_versions=True)
    plain = schema.connect("d")
    v1 = cached.write_variable("x", np.ones((2, 2)), chunk_shape=(2, 2))
    assert cached.versions() == plain.versions()
    assert cached._version_cache is not None  # warm after the listing
    assert cached.metadata(v1) == plain.metadata(v1)
    # the handle's own commit invalidates: the new version is visible
    v2 = cached.write_variable("x", np.zeros((2, 2)))
    assert [e["version"] for e in cached.versions()] == [str(v2), str(v1)]
    assert cached.versions(metadata=True) == plain.versions(metadata=True)


def test_version_cache_invalidated_by_prune(spark, tmp_path):
    """Retention is this connection's own mutation: a warm cache must
    not keep serving pruned versions (maintenance.prune_versions clears
    it after the rewrite)."""
    import numpy as np

    from mandoline_hbase_spark.engine import mk_schema

    schema = mk_schema({"root": "cache.example.com", "base_path": str(tmp_path)})
    schema.create_dataset("d")
    conn = schema.connect("d", cache_versions=True)
    vids = [conn.write_variable("x", np.full((2, 2), i)) for i in range(3)]
    assert len(conn.versions()) == 3  # warm
    out = conn.prune_versions(keep_last=1, spark=spark)
    assert out["versions_dropped"] == 2
    assert [e["version"] for e in conn.versions()] == [str(vids[-1])]
    import pytest as _pytest

    from mandoline_hbase_spark.errors import VersionNotFoundError

    with _pytest.raises(VersionNotFoundError):
        conn.metadata(vids[0])


def test_query_fingerprint_tracks_referenced_modules():
    """VERDICT r9 #7: the record-invalidation fingerprint must be
    deterministic, must cover the query fn's own source, and must
    differ between queries whose referenced operator modules differ
    (so editing dedup.py re-derives dedup records, not tpch ones)."""
    import bench
    from mandoline_hbase_spark.queries.catalog import QUERIES

    f1 = bench.query_fingerprint(QUERIES["dedup_minhash_lsh"].fn)
    assert f1 == bench.query_fingerprint(QUERIES["dedup_minhash_lsh"].fn)
    assert len(f1) == 16
    # q1 references no dedup module; identical fingerprints would mean
    # the fingerprint isn't seeing per-query source at all
    assert f1 != bench.query_fingerprint(QUERIES["q1_pricing_summary"].fn)
    # and the stored-vs-current comparison in main() relies on every
    # headline query fingerprinting without raising
    for name in bench.HEADLINE[:5]:
        assert bench.query_fingerprint(QUERIES[name].fn)


def test_query_fingerprint_sees_function_local_imports():
    """r10: a `from mandoline_hbase_spark... import x` INSIDE the query
    body compiles to LOAD_FAST (not co_names), which let the r10
    contrastive_triplets record survive a contrastive.py rewrite. The
    fingerprint must include modules imported function-locally."""
    import inspect

    import bench
    from mandoline_hbase_spark.operators import contrastive
    from mandoline_hbase_spark.queries.catalog import QUERIES

    fn = QUERIES["contrastive_triplets"].fn
    src = inspect.getsource(fn)
    assert "from mandoline_hbase_spark.operators import contrastive" in src
    assert contrastive.__name__ == "mandoline_hbase_spark.operators.contrastive"
    bench.query_fingerprint(fn)
    assert "mandoline_hbase_spark.operators.contrastive" in (
        bench.query_fingerprint.last_modules
    )
    bench.query_fingerprint(QUERIES["text_bpe_token_counts"].fn)
    assert "mandoline_hbase_spark.operators.bpe" in (
        bench.query_fingerprint.last_modules
    )


def test_query_fingerprint_parses_parenthesized_and_aliased_imports(tmp_path):
    """ADVICE r10 (medium): the regex form missed parenthesized
    multi-line imports (`import (` broke its name group) and `x as y`
    aliases resolved only to the package __init__. The AST parse must
    see both, plus plain `import pkg.mod` statements."""
    import importlib.util
    import sys

    import bench

    mod_file = tmp_path / "fp_probe_mod.py"
    mod_file.write_text(
        "def probe():\n"
        "    from mandoline_hbase_spark.operators.served import (\n"
        "        content_fingerprint,\n"
        "        served_artifact,\n"
        "    )\n"
        "    from mandoline_hbase_spark.operators import dedup as d\n"
        "    import mandoline_hbase_spark.operators.bpe\n"
        "    return 1\n"
    )
    spec = importlib.util.spec_from_file_location("fp_probe_mod", mod_file)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["fp_probe_mod"] = spec.loader.exec_module(mod) or mod
    try:
        bench.query_fingerprint(mod.probe)
        seen = bench.query_fingerprint.last_modules
        assert "mandoline_hbase_spark.operators.served" in seen
        assert "mandoline_hbase_spark.operators.dedup" in seen
        assert "mandoline_hbase_spark.operators.bpe" in seen
    finally:
        sys.modules.pop("fp_probe_mod", None)


def test_bench_canary_gate_retries_only_on_degraded_reads(monkeypatch):
    """VERDICT r10 #1: the pre-suite canary gate must (a) pass through
    immediately on a healthy read or a missing reference, (b) sleep and
    retry on degraded reads, (c) stay bounded at the retry cap."""
    import bench

    reads = iter([1.0, 0.9, 0.6, 2.0, 2.0, 2.0, 2.0])
    slept: list[float] = []
    monkeypatch.setattr(bench, "timed_min", lambda s, f, d: next(reads))
    monkeypatch.setattr(bench.time, "sleep", lambda s: slept.append(s))
    # no reference (first run at this core count): single read, no sleep
    assert bench.canary_gate(None, None) == [1.0]
    assert slept == []
    # degraded first read, healthy second: one sleep, two reads
    assert bench.canary_gate(None, 0.578) == [0.9, 0.6]
    assert len(slept) == 1
    # persistently degraded: bounded at 3 attempts, 2 sleeps
    assert bench.canary_gate(None, 0.578) == [2.0, 2.0, 2.0]
    assert len(slept) == 3
