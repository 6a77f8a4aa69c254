"""Physical-layout maintenance for record variables: re-clustering and
small-chunk compaction (the OPTIMIZE / OPTIMIZE ... CLUSTER BY analog).

Zone maps (``zonemaps.py``) only skip chunks when the data is laid out
so that filter columns have tight per-chunk ranges. Ingest order rarely
is — so these helpers rewrite a record variable's layout as a NEW
version:

- :func:`cluster_records` — range-repartition on the cluster columns
  and rewrite, giving each chunk a tight, near-disjoint range on those
  columns (Delta ``OPTIMIZE ... ZORDER/CLUSTER BY`` for one key set).
- :func:`compact_records` — bin small chunks into ``target_rows``-sized
  ones (the small-files problem of streaming/CDC ingest: every
  micro-batch merge appends a chunk; compaction folds them back).

Both are expressed through the existing data-source read and
overwrite-write paths, so they inherit the full commit protocol:
executor-side chunk writes with fresh zone-map sidecars, tombstoned old
coordinates, a single atomic version append — and MVCC time travel
still reads every pre-rewrite version (content-addressed chunks are
never deleted by the rewrite; ``gc_chunks`` reclaims them once
retention drops the old versions).

Cost is one full read + write of the variable — a deliberate,
user-invoked rewrite, distributed across executors, with O(chunks)
driver state like every other commit.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def _load_records(
    spark: SparkSession,
    dataset_path: str,
    variable: str,
    version: int | None = None,
):
    r = (
        spark.read.format("mandoline")
        .option("path", dataset_path)
        .option("variable", variable)
        .option("form", "records")
    )
    if version is not None:
        r = r.option("version", str(version))
    return r.load()


def _overwrite_records(
    df, dataset_path: str, variable: str, bloom_columns: list[str] | None = None
) -> None:
    """Overwrite-rewrite with CLOBBER DETECTION: a layout rewrite reads
    the table, rewrites it, and replaces every coordinate — a writer
    committing in between would be silently reverted. The rewrite can't
    hold the dataset lock across a Spark job (the commit itself takes
    it), so conflicts are detected post-commit and raised: the rewrite
    version is rolled back by re-running it, and the interleaved commits
    remain intact in history (MVCC — nothing was destroyed, the rewrite
    version just must not win)."""
    import os

    from mandoline_hbase_spark.engine import Connection
    from mandoline_hbase_spark.errors import CommitConflictError

    conn = Connection(dataset_path, os.path.basename(dataset_path))
    planned_head = conn.latest_version_id()
    w = (
        df.write.format("mandoline")
        .option("path", dataset_path)
        .option("variable", variable)
        .mode("overwrite")
    )
    if bloom_columns:
        w = w.option("bloom_columns", ",".join(bloom_columns))
    w.save()
    committed = conn.latest_version_id()
    interleaved = [
        int(v["version"])
        for v in conn.versions()
        if planned_head is not None
        and planned_head < int(v["version"]) < committed
    ]
    if interleaved:
        raise CommitConflictError(
            f"layout rewrite planned at version {planned_head} but versions "
            f"{interleaved} committed concurrently and were superseded by the "
            f"rewrite at {committed}; roll back to {max(interleaved)} "
            "(versioning.rollback_variable) and re-run the rewrite"
        )


def cluster_records(
    spark: SparkSession,
    dataset_path: str,
    cluster_by: list[str],
    variable: str = "records",
    n_chunks: int | None = None,
    target_rows: int = 100_000,
    bloom_columns: list[str] | None = None,
) -> dict:
    """Rewrite the variable range-clustered on ``cluster_by``; returns
    {"rows": n, "n_chunks": k}. After this, zone-map pruning on the
    cluster columns is maximally effective (near-disjoint ranges);
    ``bloom_columns`` additionally builds per-chunk bloom filters for
    equality skipping on OTHER, unclustered columns."""
    if not cluster_by:
        raise ValueError("cluster_by must be non-empty")
    df = _load_records(spark, dataset_path, variable)
    missing = [c for c in cluster_by if c not in df.columns]
    if missing:
        raise ValueError(f"cluster columns not in record schema: {missing}")
    n = df.count()
    k = n_chunks or max(1, math.ceil(n / max(1, target_rows)))
    # range partitioning samples the keys and assigns contiguous ranges:
    # each output chunk covers a tight [lo, hi] of the cluster columns
    _overwrite_records(
        df.repartitionByRange(k, *cluster_by).sortWithinPartitions(*cluster_by),
        dataset_path,
        variable,
        bloom_columns,
    )
    return {"rows": int(n), "n_chunks": int(k)}


def compact_records(
    spark: SparkSession,
    dataset_path: str,
    variable: str = "records",
    target_rows: int = 100_000,
    bloom_columns: list[str] | None = None,
) -> dict:
    """Fold many small chunks (streaming/CDC append debris) into
    ``target_rows``-sized ones; returns {"rows": n, "n_chunks": k}.
    Round-robin repartition — no clustering opinion; compose with
    :func:`cluster_records` when a sort order is wanted too."""
    df = _load_records(spark, dataset_path, variable)
    n = df.count()
    k = max(1, math.ceil(n / max(1, target_rows)))
    _overwrite_records(df.repartition(k), dataset_path, variable, bloom_columns)
    return {"rows": int(n), "n_chunks": int(k)}


def zorder_cluster_records(
    spark: SparkSession,
    dataset_path: str,
    col_a: str,
    col_b: str,
    variable: str = "records",
    n_chunks: int | None = None,
    target_rows: int = 100_000,
    bits: int = 16,
    bloom_columns: list[str] | None = None,
) -> dict:
    """Two-dimensional clustering: rewrite range-partitioned on the
    Morton (Z-order) key of two non-negative integer columns, so every
    chunk covers a tight box in BOTH dimensions and zone maps prune
    point/range predicates on EITHER column — lexicographic
    ``cluster_records([a, b])`` only ever prunes on the leading column.
    The key is pure shift/mask column arithmetic (whole-stage codegen);
    the one shuffle is the range partitioning every clustering rewrite
    pays.

    Both columns are QUANTIZED onto a common ``bits``-wide grid before
    interleaving (``sources.lake.quantized_zorder_key`` — see its
    docstring for the mismatched-domain degeneration this prevents);
    quantization affects ordering only, never output rows. The key
    bounds and the row count come from ONE pre-scan aggregate. An empty
    variable (or an all-NULL key column) rewrites unkeyed — nothing to
    cluster, never a crash."""
    from mandoline_hbase_spark.sources.lake import quantized_zorder_key

    df = _load_records(spark, dataset_path, variable)
    for c in (col_a, col_b):
        if c not in df.columns:
            raise ValueError(f"z-order column {c!r} not in record schema")
    key, n = quantized_zorder_key(df, col_a, col_b, bits)
    k = n_chunks or max(1, math.ceil(n / max(1, target_rows)))
    if key is None:
        clustered = df.repartition(k)
    else:
        clustered = (
            df.withColumn("_zkey", key)
            .repartitionByRange(k, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    _overwrite_records(clustered, dataset_path, variable, bloom_columns)
    return {"rows": int(n), "n_chunks": int(k)}


def read_records_native(
    spark: SparkSession,
    dataset_path: str,
    variable: str = "records",
    version: int | None = None,
):
    """Batch-scan FAST PATH for record variables: Spark's native parquet
    reader over the snapshot's live chunk set (VERDICT r8 #4).

    The Python DSv2 read path decodes chunk payloads in Python workers —
    measured 2.7-5x slower than a native scan of the same rows
    (PERFORMANCE.md round-9) and outside whole-stage codegen, column
    pruning, and parquet predicate pushdown. But a record chunk's
    payload IS a parquet table's bytes, so batch reads don't need the
    Python path at all:

    1. resolve the snapshot's live (coord -> chunk) map DRIVER-side —
       the exact find-index the DSv2 reader plans with (per coordinate
       last-write-wins among committed versions <= bound, tombstones
       dropped; hbase.clj:184-198 semantics);
    2. ensure each live chunk exists as a standalone content-addressed
       file under ``chunks_files/`` — the record writer lands these at
       write time (best-effort sidecar); anything missing (pre-sidecar
       datasets, merge/compact writers) is backfilled here from the
       chunks log ONCE (blind tmp+rename put, crash-safe, idempotent);
    3. hand the file list to ``spark.read.schema(current).parquet`` —
       vectorized JVM scan; files written under an older add/drop
       schema null-fill missing columns natively.

    The DSv2 path remains the reader for streaming CDF, change replay,
    and any dataset where two coordinates share one content-addressed
    chunk (duplicate file paths in one native scan would be fragile) or
    a physical TYPE changed (native scans cannot cast per-file the way
    the DSv2 reconciler does) — both conditions are detected here and
    fall back to the DSv2 load, so callers can use this
    unconditionally.

    100 TB shape: driver state is the O(chunks) entry map — the same
    planning state every commit already holds — and the backfill is a
    one-time migration cost that write-side sidecars amortize to zero;
    the scan itself is the same distributed parquet read Spark gives
    any external table.
    """
    import json as _json
    import os
    import uuid as _uuid

    from pyspark.sql.types import StructType

    from mandoline_hbase_spark import storage
    from mandoline_hbase_spark.sources.datasource import _snapshot

    bound, var_meta, entries = _snapshot(dataset_path, variable, version)
    sj = var_meta.get("schema_json")
    if sj is None:
        return _load_records(spark, dataset_path, variable, version)
    schema = StructType.fromJson(_json.loads(sj))

    chunk_ids = [cid for _, cid in entries]
    if len(set(chunk_ids)) != len(chunk_ids):
        # two coordinates share one content-addressed payload; keep the
        # multiplicity-correct DSv2 path rather than trusting duplicate
        # input paths through the native scan
        return _load_records(spark, dataset_path, variable, version)

    # Widening schema evolution (int upcast, float->double — the engine
    # permits it, datasource._check_schema_evolution) means a live chunk
    # file may physically hold the NARROW type; Spark's vectorized
    # parquet reader throws rather than casting per file. Detect by
    # walking the variable's schema_json history over committed versions
    # <= bound: any shared column whose stored type differs from the
    # snapshot schema routes the dataset to the DSv2 reconciler
    # (per-chunk arrow-level cast). Driver cost is O(versions) over the
    # small versions table the snapshot already read.
    current_types = {f.name: f.dataType.simpleString() for f in schema.fields}
    snap = storage.read_versions(os.path.join(dataset_path, "versions"))
    for vid in snap.committed_le(bound):
        vm = _json.loads(snap.metadata_json(vid)).get("variables", {}).get(variable)
        old_sj = (vm or {}).get("schema_json")
        if old_sj is None:
            continue
        for f in StructType.fromJson(_json.loads(old_sj)).fields:
            cur = current_types.get(f.name)
            if cur is not None and cur != f.dataType.simpleString():
                return _load_records(spark, dataset_path, variable, version)

    files_dir = os.path.join(dataset_path, "chunks_files")
    os.makedirs(files_dir, exist_ok=True)
    paths = {cid: os.path.join(files_dir, f"{cid}.parquet") for cid in chunk_ids}
    missing = [cid for cid, p in paths.items() if not os.path.exists(p)]
    if missing:
        payloads = storage.read_payloads(os.path.join(dataset_path, "chunks"), missing)
        for cid in missing:
            data = payloads.get(cid)
            if data is None:
                raise LookupError(
                    f"chunk {cid} referenced by the index is missing from "
                    f"the chunks log at {dataset_path}"
                )
            tmp = os.path.join(files_dir, f".{cid}.{_uuid.uuid4().hex[:8]}.tmp")
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, paths[cid])

    if not paths:
        return spark.createDataFrame([], schema)

    # add/drop evolution is safe here: files written under an older
    # add/drop schema null-fill missing columns natively. Physical type
    # changes were routed to the DSv2 reconciler above.
    return spark.read.schema(schema).parquet(*paths.values())
