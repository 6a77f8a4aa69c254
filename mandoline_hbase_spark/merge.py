"""MERGE INTO for record-log variables: keyed upsert/delete as a new
MVCC version with CHUNK-LEVEL COPY-ON-WRITE.

Semantics (ANSI/Delta-style MERGE, source = ``updates_df``):

- WHEN MATCHED on ``key_cols``: ``when_matched="update"`` replaces the
  whole target row with the source row; ``"delete"`` removes it.
- WHEN NOT MATCHED: the source row is inserted (``insert_not_matched``).
- A source with duplicate keys is rejected up front — SQL MERGE's
  "cannot update the same row twice" rule — instead of applying an
  arbitrary winner.

Scale design — the cost is ∝ TOUCHED chunks, never table size:

1. The committed chunk map (one row per chunk, driver-held — the same
   O(chunks) state every commit already holds) is parallelized and each
   chunk's KEY COLUMNS ONLY are decoded executor-side to find matches;
   untouched chunks are never read again, let alone rewritten.
2. Matched source rows shuffle ONCE, keyed by target chunk coordinate;
   one ``applyInPandas`` task per touched chunk reads the old payload,
   applies updates/deletes in place (row order preserved), and writes a
   new content-addressed chunk. A chunk emptied by deletes becomes a
   tombstone.
3. Unmatched source rows append as fresh chunks (executor-written, one
   per partition, same as the datasource writer).
4. The driver commits index re-points + the version row under the
   conditional-put reservation — identical protocol to
   ``sources/datasource.MandolineWriter.commit`` (§3.2 ordering:
   chunks → indices → version). Nothing a failed merge wrote is
   reachable; zero-ref chunks are GC fodder.

Old versions still see the old chunks (content addressing + MVCC), so
MERGE is time-travel-safe, and rollback (`versioning.rollback_variable`)
undoes it with zero data copy.
"""

from __future__ import annotations

import io
import json
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mandoline_hbase_spark import storage
from mandoline_hbase_spark.engine import Connection
from mandoline_hbase_spark.errors import CommitConflictError
from mandoline_hbase_spark.sources.datasource import _package, _snapshot


def _schema_fingerprint(schema: StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def merge_records(
    spark: SparkSession,
    dataset_path: str,
    updates_df: DataFrame,
    key_cols: list[str],
    variable: str = "records",
    when_matched: str = "update",
    insert_not_matched: bool = True,
    extra_meta: dict | None = None,
    bloom_columns: list[str] | None = None,
) -> dict:
    """Merge ``updates_df`` into the record variable by key; returns a
    summary dict (new version id + row/chunk counters).

    ``extra_meta`` entries are recorded in the new version's metadata
    (reserved keys ``version-id`` / ``variables`` excluded) — the hook
    transactional sinks use to stamp progress markers (e.g. the CDC
    batch id) atomically WITH the data commit."""
    if when_matched not in ("update", "delete"):
        raise ValueError("when_matched must be 'update' or 'delete'")
    if not key_cols:
        raise ValueError("key_cols must be non-empty")

    bound, var_meta, entries = _snapshot(dataset_path, variable, None)
    if "schema_json" not in var_meta:
        raise ValueError(f"variable {variable!r} is not a record-log variable")
    stored_schema = StructType.fromJson(json.loads(var_meta["schema_json"]))
    if when_matched == "update" or insert_not_matched:
        if _schema_fingerprint(updates_df.schema) != _schema_fingerprint(stored_schema):
            raise ValueError(
                "updates_df schema must match the stored record schema "
                f"{_schema_fingerprint(stored_schema)} for update/insert merges; "
                f"got {_schema_fingerprint(updates_df.schema)}"
            )
    missing = [k for k in key_cols if k not in updates_df.columns]
    if missing:
        raise ValueError(f"key columns missing from updates_df: {missing}")

    # SQL MERGE precondition: one source row per key
    dup = (
        updates_df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError("updates_df has duplicate keys; MERGE requires one source row per key")

    chunks_dir = os.path.join(dataset_path, "chunks")
    schema_json = var_meta["schema_json"]
    all_cols = [f.name for f in stored_schema.fields]

    # Executor-side helpers are NESTED so cloudpickle serializes them by
    # VALUE: task closures must not reference this package by name —
    # python workers launched from a driver whose cwd is not the repo
    # cannot import it. Package modules come through datasource._package,
    # which is shipped by value too.

    def _fetch_payload(cid: str) -> bytes:
        payload = _package("storage").read_payloads(chunks_dir, [cid]).get(cid)
        if payload is None:
            raise LookupError(f"chunk {cid} missing from {chunks_dir}")
        return payload

    def _put_chunk(blob: bytes) -> str:
        import hashlib

        storage = _package("storage")
        cid = hashlib.sha1(blob).hexdigest()
        storage.append_rows(
            chunks_dir, storage.CHUNKS_SCHEMA, [{"chunk_id": cid, "ref_delta": 0, "data": blob}]
        )
        return cid

    bloom_cols = list(bloom_columns or [])

    def _put_stats(cid: str, pdf) -> None:
        # zone-map sidecar: advisory, best-effort — merged chunks stay
        # prunable by the records reader's pushed filters
        try:
            zonemaps = _package("zonemaps")
            zonemaps.write_stats(
                os.path.join(dataset_path, zonemaps.STATS_SUBDIR),
                zonemaps.stats_rows(cid, pdf)
                + zonemaps.bloom_rows(cid, pdf, bloom_cols),
            )
        except Exception:
            pass

    def _encode_records(pdf) -> bytes:
        import json as _json

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _StructType

        arrow_schema = to_arrow_schema(_StructType.fromJson(_json.loads(schema_json)))
        table = pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
        buf = io.BytesIO()
        pq.write_table(table, buf)
        return buf.getvalue()

    # -- 1. executor-side key scan of the current snapshot -------------------
    # one row per chunk; each task decodes ONLY the key columns of its chunk
    chunk_rows = [(int(coord[0]), cid) for coord, cid in entries]
    chunk_map = spark.createDataFrame(chunk_rows or [], "coord BIGINT, chunk_id STRING")
    n_chunks = len(chunk_rows)
    key_schema = StructType([stored_schema[k] for k in key_cols]).add("coord", "long").add(
        "chunk_id", "string"
    )

    def _scan_keys(pdfs: Iterator) -> Iterator:
        import pyarrow.parquet as pq

        for pdf in pdfs:
            for coord, cid in zip(pdf["coord"], pdf["chunk_id"]):
                payload = _fetch_payload(cid)
                pf = pq.ParquetFile(io.BytesIO(payload))
                have = [c for c in key_cols if c in pf.schema_arrow.names]
                kp = pf.read(columns=have).to_pandas()
                for c in key_cols:
                    # key column added after this chunk was written: its
                    # rows carry null keys and can never match an update
                    if c not in kp.columns:
                        kp[c] = None
                kp["coord"] = int(coord)
                kp["chunk_id"] = cid
                yield kp

    target_keys = chunk_map.repartition(max(1, n_chunks)).mapInPandas(
        _scan_keys, schema=key_schema
    )

    # -- 2. match ------------------------------------------------------------
    upd = updates_df
    matched = upd.join(target_keys, on=key_cols, how="inner")  # + coord, chunk_id

    # -- 3. chunk-level rewrite (one task per touched chunk) -----------------
    out_schema = "coord BIGINT, new_chunk_id STRING, n_matched BIGINT, n_rows BIGINT"
    mode = when_matched

    def _rewrite(key, pdf):
        import pandas as pd
        import pyarrow.parquet as pq

        coord = int(key[0])
        cid = pdf["chunk_id"].iloc[0]
        payload = _fetch_payload(cid)
        old = pq.read_table(io.BytesIO(payload)).to_pandas()
        # schema-on-read reconcile (matches the records reader): chunks
        # written before a schema evolution pad the added columns with
        # nulls and drop removed ones, so the rewrite re-encodes them at
        # the CURRENT schema
        for c in all_cols:
            if c not in old.columns:
                old[c] = None
        old = old[all_cols]
        n_matched = len(pdf)
        mask = (
            old[key_cols]
            .apply(tuple, axis=1)
            .isin(set(map(tuple, pdf[key_cols].itertuples(index=False, name=None))))
        )
        if mode == "delete":
            new = old[~mask]
        else:
            # replace matched rows wholesale: drop them, append the update
            # rows. NOT pandas DataFrame.update(), which silently skips
            # NaN cells in the source — an update setting a column to
            # NULL would keep the old value. The appended rows are sorted
            # by key so the chunk BYTES (and the content-addressed id)
            # are deterministic regardless of shuffle arrival order — a
            # task retry must produce the same cid its ref/index rows
            # were credited to.
            new = pd.concat(
                [old[~mask], pdf.sort_values(key_cols)[list(old.columns)]],
                ignore_index=True,
            )
        if len(new) == 0:
            return pd.DataFrame(
                [(coord, None, n_matched, 0)],
                columns=["coord", "new_chunk_id", "n_matched", "n_rows"],
            )
        new_cid = _put_chunk(_encode_records(new))
        _put_stats(new_cid, new)
        return pd.DataFrame(
            [(coord, new_cid, n_matched, len(new))],
            columns=["coord", "new_chunk_id", "n_matched", "n_rows"],
        )

    # The rewrite manifest never funnels through the driver: the version
    # id is reserved BEFORE the rewrite job (same protocol as
    # write_variable_from_df), so executors bake it into ref-delta and
    # index rows directly; the driver sees only O(1) aggregate counts.
    # Rows of a version that never commits are invisible to every read
    # and reclaimed by maintenance.sweep_failed_commits + gc_chunks.
    from mandoline_hbase_spark.engine import append_index_rows_df

    conn = Connection(dataset_path, os.path.basename(dataset_path))
    indices_dir = conn._dirs["indices"]
    versions_dir = conn._dirs["versions"]
    version_id = conn._reserve_version()
    seq = storage.next_seq()
    try:
        # eager localCheckpoint, NOT persist: the manifest feeds three
        # separate actions (counts, ref deltas, index rows) and a
        # persisted plan is RECOMPUTABLE — a lost partition would re-run
        # _rewrite, and any nondeterminism in chunk bytes would credit
        # refs to one cid while the index points at another (GC would
        # then reclaim committed data). The checkpoint pins one
        # materialization; losing its blocks fails the merge loudly
        # before the version row, which is the safe outcome.
        rewritten = matched.groupBy("coord").applyInPandas(
            _rewrite, schema=out_schema
        ).localCheckpoint(eager=True)
        # O(1) driver state: one aggregate row (counts only, never the
        # manifest).
        agg = rewritten.agg(
            F.count(F.lit(1)).alias("n_rw"),
            F.coalesce(F.sum("n_matched"), F.lit(0)).alias("n_m"),
            F.coalesce(
                F.sum(F.when(F.col("new_chunk_id").isNull(), 1).otherwise(0)), F.lit(0)
            ).alias("n_tomb"),
        ).first()
        n_rewritten, n_matched_total, n_tombstoned = int(agg[0]), int(agg[1]), int(agg[2])
        # ref deltas, executor-written (content addressing can map two
        # coords to one chunk — the delta is the reference count)
        storage.write_chunks_df(
            rewritten.filter(F.col("new_chunk_id").isNotNull())
            .groupBy("new_chunk_id")
            .agg(F.count(F.lit(1)).cast("long").alias("ref_delta"))
            .select(
                F.col("new_chunk_id").alias("chunk_id"),
                "ref_delta",
                F.lit(None).cast("binary").alias("data"),
            ),
            chunks_dir,
        )
        # index re-points, executor-written with the reserved id
        # (invisible until the version row commits)
        append_index_rows_df(
            indices_dir,
            rewritten.select(
                F.col("coord").cast("string").alias("coord_id"),
                F.array(F.col("coord")).alias("coord"),
                F.col("new_chunk_id").alias("chunk_id"),
            ),
            variable,
            version_id,
            seq,
        )

        # -- 4. inserts (unmatched source rows) ------------------------------
        n_inserted = n_insert_chunks = 0
        inserts = None
        if insert_not_matched:
            not_matched = upd.join(
                target_keys.select(*key_cols), on=key_cols, how="left_anti"
            )

            def _write_inserts(pdfs: Iterator) -> Iterator:
                import pandas as pd

                parts = [p for p in pdfs if len(p)]
                if not parts:
                    return
                # key-sorted for deterministic chunk bytes (see _rewrite)
                new = (
                    pd.concat(parts, ignore_index=True)[all_cols]
                    .sort_values(key_cols)
                    .reset_index(drop=True)
                )
                cid = _put_chunk(_encode_records(new))
                _put_stats(cid, new)
                yield pd.DataFrame([(cid, len(new))], columns=["chunk_id", "n_rows"])

            # ranked OUTSIDE the lock: the coordinate offsets (_rn) don't
            # depend on the base, so the window job never extends the
            # critical section; eager checkpoint for the same
            # no-recompute reason as the rewrite manifest
            from pyspark.sql import Window

            w_ins = Window.orderBy("chunk_id", "n_rows")
            inserts = (
                not_matched.mapInPandas(
                    _write_inserts, schema="chunk_id STRING, n_rows BIGINT"
                )
                .withColumn("_rn", F.row_number().over(w_ins))
                .localCheckpoint(eager=True)
            )
            ins_agg = inserts.agg(
                F.count(F.lit(1)).alias("n_c"),
                F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_r"),
            ).first()
            n_insert_chunks, n_inserted = int(ins_agg[0]), int(ins_agg[1])
            storage.write_chunks_df(
                inserts.groupBy("chunk_id")
                .agg(F.count(F.lit(1)).cast("long").alias("ref_delta"))
                .select("chunk_id", "ref_delta", F.lit(None).cast("binary").alias("data")),
                chunks_dir,
            )

        # -- 5. commit: conflict checks + version row (driver, locked) -------
        planned = {int(c[0]): cid for c, cid in entries}
        with storage.dataset_lock(dataset_path):
            latest = conn.latest_version_id()
            meta = conn.metadata(latest) if latest is not None else {}
            # optimistic concurrency (Delta-style conflict detection): the
            # rewrite was computed from the planning snapshot; if another
            # writer changed any coordinate this merge re-points,
            # committing would silently drop their update — refuse and let
            # the caller retry against the new head. Coordinates nobody
            # re-pointed are free to have changed (disjoint merges
            # compose), and the insert base is re-derived from the CURRENT
            # head so concurrent appends are never overwritten. The check
            # stays distributed: the (usually empty) set of
            # concurrently-changed coords joins against the checkpointed
            # rewrite manifest; the driver collects at most 5 rows.
            _, _, current_entries = _snapshot(dataset_path, variable, None)
            current = {int(c[0]): cid for c, cid in current_entries}
            changed = [
                c
                for c in set(planned) | set(current)
                if current.get(c) != planned.get(c)
            ]
            if changed:
                changed_df = spark.createDataFrame(
                    [(int(c),) for c in changed], "coord BIGINT"
                )
                stale = [
                    int(r["coord"])
                    for r in rewritten.join(F.broadcast(changed_df), "coord", "semi")
                    .select("coord")
                    .limit(5)
                    .collect()
                ]
                if stale:
                    raise CommitConflictError(
                        f"merge planned against version {bound} but coordinates "
                        f"{sorted(stale)} changed concurrently; retry the merge"
                    )
            # A concurrent SCHEMA EVOLUTION (pure append with a widened/
            # added column) touches no rewritten coordinate, so the stale
            # check above cannot see it — but committing the PLANNING
            # snapshot's var_meta would silently revert schema_json to the
            # pre-evolution schema. Compare against the current head's
            # metadata here, inside the lock, and refuse on any drift.
            head_var_meta = (meta.get("variables") or {}).get(variable)
            if head_var_meta is not None and head_var_meta.get(
                "schema_json"
            ) != var_meta.get("schema_json"):
                raise CommitConflictError(
                    f"merge planned against version {bound} but the schema of "
                    f"'{variable}' evolved concurrently; re-plan the merge "
                    "against the current head"
                )
            if n_insert_chunks:
                # insert coords claim fresh coordinates past the CURRENT
                # head (computed under the lock, so concurrent appends
                # compose); only the base-literal addition and the append
                # of O(insert chunks) checkpointed rows run in-lock — the
                # ranking window already ran outside it
                base = max(current, default=-1) + 1
                append_index_rows_df(
                    indices_dir,
                    inserts.withColumn(
                        "_coord", F.lit(base - 1).cast("long") + F.col("_rn")
                    ).select(
                        F.col("_coord").cast("string").alias("coord_id"),
                        F.array(F.col("_coord")).alias("coord"),
                        "chunk_id",
                    ),
                    variable,
                    version_id,
                    seq,
                )
            if not storage.reservation_held(versions_dir, version_id):
                # the failed-commit sweeper reclaimed this job's rows;
                # committing would publish a version whose data is gone
                raise CommitConflictError(
                    f"reservation for merge version {version_id} was swept "
                    "mid-job; aborting commit (raise sweep older_than_s)"
                )
            safe_extra = {
                k: v
                for k, v in (extra_meta or {}).items()
                if k not in ("version-id", "variables")
            }
            new_meta = {**meta, **safe_extra, "version-id": int(version_id)}
            new_meta.setdefault("variables", {})[variable] = dict(var_meta)
            conn.write_version(new_meta)  # commit point
    finally:
        # checkpoint blocks are freed by the context cleaner once the
        # plans become unreachable; only the reservation needs release
        storage.release_version_reservation(versions_dir, version_id)

    return {
        "version": int(version_id),
        "base_version": int(bound),
        "updated": int(n_matched_total) if mode == "update" else 0,
        "deleted": int(n_matched_total) if mode == "delete" else 0,
        "inserted": int(n_inserted),
        "chunks_total": n_chunks,
        "chunks_rewritten": n_rewritten,
        "tombstoned": n_tombstoned,
    }
