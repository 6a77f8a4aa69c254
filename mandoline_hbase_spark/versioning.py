"""Version-diff analytics over the MVCC store.

``changed_coords`` answers "which chunks did commit range (v_old, v_new]
touch" from the index log alone — no chunk IO; ``diff_versions`` joins
the two snapshots' tidy views to emit CELL-level differences (changed,
added, removed), fully distributed.

Both compose from the same primitives the read path uses
(``chunk_map_df`` / ``tidy_view``, the vectorized find-index of
hbase.clj:184-198), so the diff inherits commit-point visibility: rows
of crashed, never-committed versions are invisible to it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from mandoline_hbase_spark import storage
from mandoline_hbase_spark.engine import append_index_rows_df
from mandoline_hbase_spark.errors import CommitConflictError


def changed_coords(conn, var_name: str, v_old: int, v_new: int, spark=None) -> DataFrame:
    """Coordinate-level diff from the chunk maps at the two bounds:
    ``(coord_id, chunk_id_old, chunk_id_new, change)`` where change is
    'added' | 'removed' | 'rewritten'. Unchanged coords (same
    content-addressed chunk id — including physically rewritten but
    byte-identical chunks) do not appear. Index-log work only, no chunk
    payload is read.
    """
    spark = spark or conn.spark
    old = conn.chunk_map_df(var_name, v_old, spark).select(
        "coord_id", F.col("chunk_id").alias("chunk_id_old")
    )
    new = conn.chunk_map_df(var_name, v_new, spark).select(
        "coord_id", F.col("chunk_id").alias("chunk_id_new")
    )
    joined = old.join(new, "coord_id", "full_outer")
    return joined.filter(
        ~F.col("chunk_id_old").eqNullSafe(F.col("chunk_id_new"))
    ).select(
        "coord_id",
        "chunk_id_old",
        "chunk_id_new",
        F.when(F.col("chunk_id_old").isNull(), F.lit("added"))
        .when(F.col("chunk_id_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("rewritten"))
        .alias("change"),
    )


def diff_versions(conn, var_name: str, v_old: int, v_new: int, spark=None) -> DataFrame:
    """Cell-level diff between two snapshots: one row per cell whose
    value differs (NaN == NaN for this purpose — fill cells do not churn
    the diff), with ``value_old`` / ``value_new`` null for cells present
    in only one snapshot (grow/shrink) and a change tag.

    Distributed end to end: two tidy views (index window + chunk decode)
    full-outer joined on the dimension key. At scale, feed
    :func:`changed_coords` into the tidy views' region pruning to decode
    only touched chunks; the full join here is the exhaustive form the
    tests pin semantics on.
    """
    spark = spark or conn.spark
    a = conn.tidy_view(var_name, version=v_old, spark=spark).withColumnRenamed(
        "value", "value_old"
    )
    b = conn.tidy_view(var_name, version=v_new, spark=spark).withColumnRenamed(
        "value", "value_new"
    )
    dims = [c for c in a.columns if c.startswith("dim")]
    joined = a.join(b, dims, "full_outer")
    vo, vn = F.col("value_old"), F.col("value_new")
    both_nan = F.isnan(vo) & F.isnan(vn)
    same = vo.eqNullSafe(vn) | (vo.isNotNull() & vn.isNotNull() & both_nan)
    return joined.filter(~same).select(
        *dims,
        "value_old",
        "value_new",
        F.when(vo.isNull(), F.lit("added"))
        .when(vn.isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


def clone_dataset(
    schema, src_name: str, dst_name: str, version: int | None = None, spark=None
) -> dict:
    """Deep-clone a dataset AT A SNAPSHOT into a new dataset: every
    variable's live chunks at ``version`` (default latest) are copied
    with executor-side writes, index rows are rebuilt against fresh
    version ids, and the driver appends only the per-variable version
    rows — the same §3.2 commits -> index -> version ordering and O(1)
    driver state as distributed ingest.

    The clone is independent storage: GC/retention on the source cannot
    perforate it, and its ref counts equal exactly the clone's own index
    references (history is NOT copied — the clone starts at depth 1,
    which is the point of snapshot clones). Copy volume is the LIVE data
    at the bound, not the version history.
    """
    src = schema.connect(src_name)
    spark = spark or src.spark
    bound = int(version) if version is not None else src.latest_version_id()
    if bound is None:
        raise ValueError(f"dataset {src_name} has no versions to clone")
    meta = src.metadata(bound)
    schema.create_dataset(dst_name)
    dst = schema.connect(dst_name)

    copied = {}
    # persist the deduped payload table so the chunks-table scan (the
    # dominant clone cost) runs ONCE, not once per variable — the plan is
    # lazy, so without the persist each variable's join re-executes it
    blobs = (
        src.spark_table("chunks", spark)
        .filter(F.col("data").isNotNull())
        .dropDuplicates(["chunk_id"])
        .select("chunk_id", "data")
    ).persist()
    for var_name, var_meta in meta.get("variables", {}).items():
        latest = src.chunk_map_df(var_name, bound, spark)
        version_id = dst._reserve_version()
        seq = storage.next_seq()
        latest = latest.persist()
        try:
            storage.write_chunks_df(
                latest.groupBy("chunk_id")
                .agg(F.count(F.lit(1)).cast("long").alias("ref_delta"))
                .join(blobs, "chunk_id"),
                dst._dirs["chunks"],
            )
            append_index_rows_df(
                dst._dirs["indices"], latest, var_name, version_id, seq
            )
            copied[var_name] = latest.count()
        finally:
            latest.unpersist()
        if not storage.reservation_held(dst._dirs["versions"], version_id):
            raise CommitConflictError(
                f"reservation for version {version_id} was swept mid-clone; aborting"
            )
        try:
            dst._commit(var_name, dict(var_meta), [], {}, {}, version_id)
        finally:
            storage.release_version_reservation(dst._dirs["versions"], version_id)
    blobs.unpersist()
    return {"source_version": bound, "variables": copied}


def rollback_variable(conn, var_name: str, to_version: int, spark=None) -> int:
    """Time-travel undo with ZERO data copy: commit a new version whose
    chunk map equals the map at ``to_version``. Executors append only
    index rows (re-pointing at the existing content-addressed blobs) and
    ref-delta records (+1 per new reference, data NULL) — the store's
    append-only SUM(ref_delta) contract makes the re-reference atomic
    and GC-safe. History is preserved: the bad commits stay readable at
    their own versions; only "latest" moves back.

    Returns the new version id.
    """
    spark = spark or conn.spark
    meta = conn.metadata(int(to_version))
    var_meta = meta.get("variables", {}).get(var_name)
    if var_meta is None:
        raise KeyError(f"variable {var_name} does not exist at version {to_version}")
    latest = conn.chunk_map_df(var_name, int(to_version), spark)
    version_id = conn._reserve_version()
    seq = storage.next_seq()
    latest = latest.persist()
    try:
        storage.write_chunks_df(
            latest.groupBy("chunk_id")
            .agg(F.count(F.lit(1)).cast("long").alias("ref_delta"))
            .select("chunk_id", "ref_delta", F.lit(None).cast("binary").alias("data")),
            conn._dirs["chunks"],
        )
        append_index_rows_df(
            conn._dirs["indices"], latest, var_name, version_id, seq
        )
    finally:
        latest.unpersist()
    if not storage.reservation_held(conn._dirs["versions"], version_id):
        raise CommitConflictError(
            f"reservation for version {version_id} was swept mid-rollback; aborting"
        )
    try:
        return conn._commit(var_name, dict(var_meta), [], {}, {}, version_id)
    finally:
        storage.release_version_reservation(conn._dirs["versions"], version_id)


def record_changes(
    spark,
    dataset_path: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
    variable: str = "records",
) -> DataFrame:
    """Change data feed between two versions of a RECORD variable, in
    Delta-CDF row format: every output row is a full record (at the NEW
    version's schema) plus ``_change_type`` in ``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage``.

    Content addressing makes this cost ∝ CHANGED data, not table size:
    a coordinate whose chunk id is identical at both bounds cannot
    contain a changed row and is never read — only differing chunks are
    decoded, joined full-outer on ``key_cols``, and value-compared
    (null-safe), so layout-only rewrites (clustering, compaction) where
    rows merely moved between chunks emit nothing. Keys are assumed
    unique per snapshot (the MERGE/CDC contract that produces record
    versions)."""
    import json as _json

    from pyspark.sql.types import StructType as _StructType

    from mandoline_hbase_spark.sources.datasource import _package, _snapshot

    _, _, e_old = _snapshot(dataset_path, variable, v_old)
    _, meta_new, e_new = _snapshot(dataset_path, variable, v_new)
    if "schema_json" not in meta_new:
        raise ValueError(f"variable {variable!r} is not a record-log variable")
    schema_json = meta_new["schema_json"]
    target = _StructType.fromJson(_json.loads(schema_json))
    cols = [f.name for f in target.fields]
    missing = [k for k in key_cols if k not in cols]
    if missing:
        raise ValueError(f"key columns missing from record schema: {missing}")

    old_map = {tuple(c): cid for c, cid in e_old}
    new_map = {tuple(c): cid for c, cid in e_new}
    changed_old = sorted({cid for c, cid in e_old if new_map.get(tuple(c)) != cid})
    changed_new = sorted({cid for c, cid in e_new if old_map.get(tuple(c)) != cid})

    chunks_dir = os.path.join(dataset_path, "chunks")

    def _read_chunks(chunk_ids: list) -> DataFrame:
        cdf = spark.createDataFrame([(c,) for c in chunk_ids] or [], "chunk_id STRING")

        def _decode(pdfs):
            import io as _io

            import pyarrow.parquet as pq

            for pdf in pdfs:
                payloads = _package("storage").read_payloads(chunks_dir, pdf["chunk_id"])
                for cid in pdf["chunk_id"]:
                    if cid not in payloads:
                        raise LookupError(f"chunk {cid} missing from {chunks_dir}")
                    body = pq.read_table(_io.BytesIO(payloads[cid])).to_pandas()
                    # reconcile to the NEW version's schema by name
                    for c in cols:
                        if c not in body.columns:
                            body[c] = None
                    yield body[cols]

        return cdf.repartition(max(1, len(chunk_ids))).mapInPandas(_decode, schema=target)

    data_cols = [c for c in cols if c not in key_cols]
    o = _read_chunks(changed_old).select(
        *key_cols,
        F.struct(*[F.col(c) for c in data_cols]).alias("_o"),
        F.lit(True).alias("_o_present"),
    )
    n = _read_chunks(changed_new).select(
        *key_cols,
        F.struct(*[F.col(c) for c in data_cols]).alias("_n"),
        F.lit(True).alias("_n_present"),
    )
    j = o.join(n, on=key_cols, how="full_outer")

    def _row(side: str, tag: str):
        return [
            *key_cols,
            *[F.col(f"{side}.{c}").alias(c) for c in data_cols],
            F.lit(tag).alias("_change_type"),
        ]

    inserts = j.filter(F.col("_o_present").isNull()).select(*_row("_n", "insert"))
    deletes = j.filter(F.col("_n_present").isNull()).select(*_row("_o", "delete"))
    updated = j.filter(
        F.col("_o_present").isNotNull()
        & F.col("_n_present").isNotNull()
        & ~F.col("_o").eqNullSafe(F.col("_n"))
    )
    pre = updated.select(*_row("_o", "update_preimage"))
    post = updated.select(*_row("_n", "update_postimage"))
    return inserts.unionAll(deletes).unionAll(pre).unionAll(post)


def history_df(spark, conn) -> DataFrame:
    """DESCRIBE HISTORY for a dataset: one row per committed version,
    newest first — version id, commit timestamp, the variables the
    version carries, and any transactional sink markers (the CDC
    sink's ``cdc_app_id``/``cdc_batch_id`` stamps). Built from the
    version log the driver already holds (O(versions) state, same as
    ``Connection.versions``)."""
    import datetime as _dt

    rows = []
    for v in conn.versions(metadata=True):
        m = v["metadata"]
        bid = m.get("cdc_batch_id")
        sbid = m.get("stream_batch_id")
        ts = v["timestamp"]
        if isinstance(ts, _dt.datetime):
            epoch = ts.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)
            ts = int(epoch.total_seconds() * 1000)
        rows.append(
            (
                int(v["version"]),
                int(ts),
                sorted((m.get("variables") or {}).keys()),
                m.get("cdc_app_id"),
                int(bid) if bid is not None else None,
                m.get("stream_app_id"),
                int(sbid) if sbid is not None else None,
            )
        )
    df = spark.createDataFrame(
        rows or [],
        "version_id LONG, _ms LONG, variables ARRAY<STRING>, "
        "cdc_app_id STRING, cdc_batch_id LONG, "
        "stream_app_id STRING, stream_batch_id LONG",
    )
    return df.select(
        "version_id",
        F.timestamp_millis(F.col("_ms")).alias("committed_at"),
        "variables",
        "cdc_app_id",
        "cdc_batch_id",
        "stream_app_id",
        "stream_batch_id",
    ).orderBy(F.desc("version_id"))
