"""Maintenance: ref-log compaction, chunk GC, version retention.

The storage layer is append-only (storage.py): ref-count updates are
``(chunk_id, ref_delta, NULL)`` log records summed at read time, and CAS
index writes append per-key records resolved by max ``seq``. That makes
every write atomic but lets the log grow without bound. This module is
the engine-side counterpart of SURVEY.md §7's "ref-count GC" item — the
piece the reference delegates to operators deleting HBase rows by hand
(it has no GC; chunks whose ref-count reaches zero simply stay,
hbase.clj:156-172 only ever rewrites the count).

All heavy rewrites are Spark jobs (one shuffle each, keyed on the
table's natural key), so at cluster scale they parallelize like any
other plan; only the tiny ``versions`` table is rewritten driver-side.
Each rewrite lands in a temp directory and is swapped in under the
dataset lock — locally a file swap, at cluster scale the same move is a
transactional table format's REPLACE commit.

Operations:

- :func:`compact_chunks` — collapse the chunks log to one record per
  ``chunk_id`` (ref-count pre-summed, payload carried over). Pure
  space/read-amplification win; read results are unchanged.
- :func:`gc_chunks` — compact, then drop chunks whose total ref-count
  is <= 0 *and* which no index record references (the anti-join guard
  keeps GC safe even if a caller under-counted refs).
- :func:`prune_versions` — retention: keep the newest ``keep_last``
  versions; per (var, coord) the newest index entry at-or-below the
  retention floor is kept as the snapshot anchor (so latest-<=-bound
  reads at any retained version are byte-identical), everything older
  is dropped and its chunk refs released.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from mandoline_hbase_spark import storage


def _swap_in(table_dir: str, tmp_dir: str) -> None:
    """Replace ``table_dir``'s parquet files with ``tmp_dir``'s.

    Caller holds the dataset lock. The move-then-delete order means a
    crash mid-swap leaves extra (duplicate-free, already-compacted)
    files rather than data loss.
    """
    old = [f for f in os.listdir(table_dir) if f.endswith(".parquet")]
    for i, f in enumerate(sorted(os.listdir(tmp_dir))):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(tmp_dir, f),
                os.path.join(table_dir, f"part-{time.time_ns():020d}-{i:05d}.parquet"),
            )
    for f in old:
        os.unlink(os.path.join(table_dir, f))
    shutil.rmtree(tmp_dir, ignore_errors=True)


def _rewrite(conn, role: str, df) -> None:
    """Materialize ``df`` as the new content of the ``role`` log table;
    chunks in the chunks-log layout (``storage.write_chunks_df``)."""
    tmp = conn._dirs[role] + f".rewrite-{uuid.uuid4().hex[:8]}"
    if role == "chunks":
        storage.write_chunks_df(df, tmp, mode="overwrite")
    else:
        df.write.mode("overwrite").parquet(tmp)
    _swap_in(conn._dirs[role], tmp)


def _stage_ref_deltas(conn, dropped_df):
    """Executor-side negative ref-delta rows for dropped index records.

    A retention sweep over a large store can drop millions of distinct
    chunks; collecting one row per chunk to the driver does not scale.
    Instead the per-chunk deltas are written to a staging dir FROM THE
    EXECUTORS (the same distributed-append shape the ingest commit uses,
    ``engine.append_index_rows_df``) while the pre-rewrite index files
    still exist, and only two scalars (refs, chunks) come back to the
    driver. Returns ``(tmp_dir, refs_released, chunks_touched)``; the
    caller publishes the files into the chunks log AFTER the index
    rewrite via :func:`_publish_ref_deltas` — the same visibility order
    as the old driver-side append, so a crash in between leaks refs
    (chunk kept) rather than dangling index rows.
    """
    from pyspark.sql import functions as F

    released = (
        dropped_df.filter(F.col("chunk_id").isNotNull())
        .groupBy("chunk_id")
        .agg((-F.count(F.lit(1))).cast("long").alias("ref_delta"))
        .select("chunk_id", "ref_delta", F.lit(None).cast("binary").alias("data"))
    )
    tmp = conn._dirs["chunks"] + f".refdelta-{uuid.uuid4().hex[:8]}"
    storage.write_chunks_df(released, tmp, mode="overwrite")
    import pyarrow.compute as pc
    import pyarrow.dataset as pa_ds

    t = pa_ds.dataset(tmp, format="parquet").to_table(columns=["ref_delta"])
    refs = int(pc.sum(t["ref_delta"]).as_py() or 0)
    return tmp, -refs, t.num_rows


def _publish_ref_deltas(conn, tmp_dir: str, chunks_touched: int) -> None:
    """Move staged ref-delta parquet files into the chunks log (append)."""
    if chunks_touched:
        for i, f in enumerate(sorted(os.listdir(tmp_dir))):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp_dir, f),
                    os.path.join(
                        conn._dirs["chunks"], f"part-{time.time_ns():020d}-{i:05d}.parquet"
                    ),
                )
    shutil.rmtree(tmp_dir, ignore_errors=True)


def _compacted_chunks_df(conn, spark):
    from pyspark.sql import functions as F

    # Content addressing guarantees all non-null payloads for one id are
    # identical, so max() (null-ignoring) is a safe "any non-null" pick.
    return (
        conn.spark_table("chunks", spark)
        .groupBy("chunk_id")
        .agg(F.sum("ref_delta").alias("ref_delta"), F.max("data").alias("data"))
    )


def _cluster_by_chunk_id(df, spark):
    """Range-cluster a chunks rewrite by ``chunk_id``.

    Every point fetch (``storage.read_payloads``) looks chunks up by
    chunk_id, and Spark scans of the log filter on it; writing the
    rewrite as disjoint sorted id ranges turns such a Spark scan into
    one-file reads via parquet min/max stats — the same scan-key
    clustering the retention rewrite applies to the index log. Hash ids
    are uniform, so ranges balance without sampling skew.
    """
    n = max(2, spark.sparkContext.defaultParallelism)
    return df.repartitionByRange(n, "chunk_id").sortWithinPartitions("chunk_id")


def compact_chunks(conn, spark=None) -> dict:
    """Collapse the chunks log to one record per chunk_id.

    One shuffle on ``chunk_id`` (uniform by construction — the ids are
    content hashes, so no skew), then a directory swap. Ref-counts and
    payload reads are unchanged; the per-read SUM now sums one record,
    and the rewrite lands range-clustered by chunk_id so point fetches
    prune to one file.
    """
    spark = spark or conn.spark
    stats = {"records_before": conn.spark_table("chunks", spark).count()}
    with storage.dataset_lock(conn.dataset_dir):
        compacted = _compacted_chunks_df(conn, spark)
        stats["records_after"] = compacted.count()
        _rewrite(conn, "chunks", _cluster_by_chunk_id(compacted, spark))
    return stats


def gc_chunks(conn, spark=None) -> dict:
    """Drop dead chunks: total ref <= 0 and unreferenced by any index.

    The liveness check is an anti-join against the distinct ``chunk_id``
    set of the indices log — both sides keyed on ``chunk_id``, so at
    scale this is one co-partitioned join, and the reference set is tiny
    relative to payload bytes (ids only, no data movement).
    """
    from pyspark.sql import functions as F

    spark = spark or conn.spark
    with storage.dataset_lock(conn.dataset_dir):
        compacted = _compacted_chunks_df(conn, spark)
        live = (
            conn.spark_table("indices", spark)
            .filter(F.col("chunk_id").isNotNull())
            .select("chunk_id")
            .distinct()
            .withColumn("_live", F.lit(True))
        )
        keep = (
            compacted.join(live, "chunk_id", "left")
            .filter((F.col("ref_delta") > 0) | F.col("_live").isNotNull())
            .drop("_live")
        )
        before = compacted.count()
        after = keep.count()
        _rewrite(conn, "chunks", _cluster_by_chunk_id(keep, spark))
    return {"chunks_before": before, "chunks_after": after, "chunks_removed": before - after}


def compact_stats(conn, spark=None) -> dict:
    """Drop zone-map/bloom sidecar rows whose chunk no longer exists.

    Stats are advisory (a chunk without rows is simply never pruned), so
    orphans — chunks reclaimed by :func:`gc_chunks`, uncommitted writes
    — are a space/planning-read cost, not a correctness issue. This
    rewrite keeps one row set per LIVE chunk id, clustered by chunk_id
    so the reader's per-scan isin probe touches few row groups. No-op
    when the dataset has no sidecar."""
    import os as _os

    from pyspark.sql import functions as F

    from mandoline_hbase_spark.zonemaps import STATS_SUBDIR

    spark = spark or conn.spark
    stats_dir = _os.path.join(conn.dataset_dir, STATS_SUBDIR)
    if not _os.path.isdir(stats_dir):
        return {"stats_before": 0, "stats_after": 0, "stats_removed": 0}
    with storage.dataset_lock(conn.dataset_dir):
        stats = spark.read.parquet(stats_dir)
        live = (
            conn.spark_table("chunks", spark)
            .select("chunk_id")
            .distinct()
        )
        # last writer wins per (chunk, column, kind): content addressing
        # makes duplicates identical, so a plain semi-join + distinct works
        keep = stats.join(live, "chunk_id", "left_semi").dropDuplicates(
            ["chunk_id", "column", "kind"]
        )
        before = stats.count()
        after = keep.count()
        tmp = stats_dir + "-tmp"
        keep.repartitionByRange(max(1, spark.sparkContext.defaultParallelism // 4), "chunk_id").write.mode(
            "overwrite"
        ).parquet(tmp)
        _swap_in(stats_dir, tmp)
    return {"stats_before": before, "stats_after": after, "stats_removed": before - after}


def sweep_failed_commits(conn, spark=None, older_than_s: float = 3600.0) -> dict:
    """Reclaim executor-written rows of distributed commits that never landed.

    A distributed write (``write_variable_from_df``, streaming ingest)
    reserves a version id, writes index rows and ref-carrying payloads from
    executors, then appends the version row. A job that dies in between
    leaves rows tagged with a version that never reached the versions table
    — invisible to every read (commit-point visibility, §3.2) but occupying
    space, with their baked refs keeping payloads alive through GC.

    The sweep drops index rows whose version id (a) has no version row,
    (b) is not a *young* reservation (an in-flight job, protected by
    ``older_than_s``), and (c) whose ``seq`` is older than ``older_than_s``
    (protects driver-side CAS flows that allocate ids without markers).
    One ref per dropped row is released — exactly the grant the distributed
    write baked in — and stale reservation markers are cleared. Run
    :func:`gc_chunks` afterwards to reclaim the payload bytes.

    ``older_than_s`` MUST exceed the longest possible in-flight commit:
    sweeping a live job's reservation reclaims rows the job will still
    reference. The commit paths check ``storage.reservation_held``
    immediately before the version-row claim, so a premature sweep
    surfaces as a loud CommitConflictError in the job rather than a
    silently perforated version — but the sweep, not the check, is the
    contract.
    """
    from pyspark.sql import functions as F

    spark = spark or conn.spark
    now = time.time()
    cutoff_ns = int((now - older_than_s) * 1e9)
    with storage.dataset_lock(conn.dataset_dir):
        committed = [int(v["version"]) for v in conn.versions()]
        vdir = conn._dirs["versions"]
        stale_markers, young = [], []
        for rid in storage.reserved_version_ids(vdir):
            # age comes from the marker payload via the CAS backend (not
            # os.stat on a local path — a pure object-store backend has
            # no file to stat); unknown-age legacy markers read as +inf
            # created-at, i.e. young/protected, never silently reclaimed
            created = storage.reservation_created_at(vdir, rid)
            if created is None:
                continue  # released between list and read
            (stale_markers if now - created >= older_than_s else young).append(rid)

        idx = conn.spark_table("indices", spark)
        protected = committed + young
        dead = (
            ~F.col("version_id").isin(protected) & (F.col("seq") <= F.lit(cutoff_ns))
        )
        dropped = idx.filter(dead)
        keep = idx.filter(~dead)

        delta_tmp, refs_released, chunks_touched = _stage_ref_deltas(conn, dropped)
        n_dropped = dropped.count()
        if n_dropped:
            _rewrite(conn, "indices", keep)
        _publish_ref_deltas(conn, delta_tmp, chunks_touched)
        for rid in stale_markers:
            storage.release_version_reservation(vdir, rid)
    return {
        "index_rows_dropped": int(n_dropped),
        "refs_released": int(refs_released),
        "reservations_cleared": len(stale_markers),
    }


def prune_versions(conn, keep_last: int, spark=None) -> dict:
    """Retention: keep the newest ``keep_last`` versions.

    Let F be the oldest retained version id. Reads at any bound >= F are
    unchanged: exact-version entries at retained versions survive, and
    for latest-<=-bound resolution each (var, coord) keeps its newest
    entry with version <= F as the snapshot anchor. Entries strictly
    older than that anchor are unreachable from every retained version
    and are dropped; each dropped key releases one ref on its current
    chunk (append-only ref deltas, so the release itself is atomic).
    Run :func:`gc_chunks` afterwards to reclaim the payload bytes.

    Superseded CAS records (same key, lower ``seq``) are compacted away
    in the same rewrite — their refs were already released by the CAS
    caller when it swapped hashes, so no delta is appended for them.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    spark = spark or conn.spark
    with storage.dataset_lock(conn.dataset_dir):
        version_ids = sorted(int(v["version"]) for v in conn.versions())
        if len(version_ids) <= keep_last:
            return {"floor": None, "versions_dropped": 0, "index_keys_dropped": 0, "refs_released": 0}
        floor = version_ids[-keep_last]

        idx = conn.spark_table("indices", spark)
        key_w = Window.partitionBy("var_name", "coord_id", "version_id").orderBy(F.desc("seq"))
        current = (
            idx.withColumn("_rn", F.row_number().over(key_w)).filter(F.col("_rn") == 1).drop("_rn")
        )
        anchor_w = Window.partitionBy("var_name", "coord_id").orderBy(F.desc("version_id"))
        le = current.filter(F.col("version_id") <= floor)
        anchored = le.withColumn("_rn", F.row_number().over(anchor_w))
        # Each coord's anchor is REMAPPED to the floor version: reads
        # resolve only through versions that exist in the versions table
        # (commit-point visibility, engine.py _committed_versions_le),
        # and the anchor's original version row is being dropped. The
        # remap preserves latest-<=-bound results at every retained
        # bound — the anchor was already the coord's state as of floor.
        anchors = (
            anchored.filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("version_id", F.lit(floor).cast("long"))
        )
        # Rewrite sorted by the scan key: point reads and chunk_map_df both
        # filter on (var_name, coord_id), so clustering the surviving
        # records makes every post-retention scan a contiguous range —
        # the maintenance pass doubles as layout optimization (SURVEY §4).
        keep = (
            current.filter(F.col("version_id") > floor)
            .unionByName(anchors)
            .orderBy("var_name", "coord_id", "version_id")
        )
        dropped = anchored.filter(F.col("_rn") > 1).drop("_rn")

        delta_tmp, keys_dropped, chunks_touched = _stage_ref_deltas(conn, dropped)
        # Cheap count of dropped keys before the rewrite invalidates `idx`.
        total_dropped = dropped.count()

        _rewrite(conn, "indices", keep)
        _publish_ref_deltas(conn, delta_tmp, chunks_touched)

        # versions is tiny at any scale (one row per commit): driver rewrite.
        # Each kept row is rewritten under its ORIGINAL commit-{id} claim
        # name — the exactly-once guarantee of commit_version_row depends
        # on those names persisting — and in-flight reservation markers
        # survive the swap; a floor marker makes replays of pruned ids
        # permanently rejectable.
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq_

        vdir = conn._dirs["versions"]
        versions = storage.read_versions(vdir).table
        kept_versions = versions.filter(pc.field("version_id") >= floor)
        tmp = vdir + f".rewrite-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp, exist_ok=True)
        keep_names = set()
        for row in kept_versions.to_pylist():
            name = f"commit-{int(row['version_id']):020d}.parquet"
            keep_names.add(name)
            pq_.write_table(
                pa.Table.from_pylist([row], schema=storage.VERSIONS_SCHEMA),
                os.path.join(tmp, name),
            )
        # name-preserving swap (NOT _swap_in, which renames to part-*):
        # (1) land any kept commit file the live dir lacks (legacy rows
        # from pre-claim appends), (2) record the floor, (3) drop pruned
        # rows. A crash between steps leaves only extra rows — safe.
        for name in keep_names:
            dst = os.path.join(vdir, name)
            if not os.path.exists(dst):
                os.rename(os.path.join(tmp, name), dst)
        storage.set_retention_floor(vdir, floor)
        # Deletion is constrained to what retention actually owns:
        # commit files BELOW the floor and legacy pre-claim part files.
        # A commit file with id >= floor that is not in keep_names was
        # linked CONCURRENTLY by a lock-free committer (streaming ingest
        # commits without the dataset lock) and must survive; dot-files
        # (.tmp-* of an in-flight conditional put, markers, the floor
        # record) are never touched.
        for f in os.listdir(vdir):
            if f.startswith(".") or not f.endswith(".parquet"):
                continue
            if f in keep_names:
                continue
            if f.startswith("commit-"):
                try:
                    vid = int(f[len("commit-") : -len(".parquet")])
                except ValueError:
                    continue
                if vid >= floor:
                    continue  # concurrent commit, not ours to drop
            os.unlink(os.path.join(vdir, f))
        shutil.rmtree(tmp, ignore_errors=True)
        conn._version_cache = None

    return {
        "floor": floor,
        "versions_dropped": len(version_ids) - keep_last,
        "index_keys_dropped": total_dropped,
        "refs_released": keys_dropped,
    }


def compact_indices(conn, spark=None) -> dict:
    """Collapse the indices log to each key's current record.

    Per ``(var_name, coord_id, version_id)`` only the max-``seq`` record
    is the key's value (storage.py resolution rule); superseded CAS
    attempts below it are unreachable by every reader and are dropped.
    Tombstones (NULL chunk_id) are current values and survive — removing
    one would resurface the older version it shadows. No refs move: the
    CAS caller already released the superseded hash when it swapped.

    The rewrite lands range-clustered by the scan key
    ``(var_name, coord_id, version_id)``, so find-index scans and the
    data source's planning read contiguous ranges — the same layout the
    retention rewrite produces, available without dropping history.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = spark or conn.spark
    with storage.dataset_lock(conn.dataset_dir):
        idx = conn.spark_table("indices", spark)
        key_w = Window.partitionBy("var_name", "coord_id", "version_id").orderBy(F.desc("seq"))
        current = (
            idx.withColumn("_rn", F.row_number().over(key_w)).filter(F.col("_rn") == 1).drop("_rn")
        )
        before = idx.count()
        after = current.count()
        n = max(2, spark.sparkContext.defaultParallelism)
        clustered = current.repartitionByRange(
            n, "var_name", "coord_id", "version_id"
        ).sortWithinPartitions("var_name", "coord_id", "version_id")
        _rewrite(conn, "indices", clustered)
    return {"records_before": before, "records_after": after, "records_dropped": before - after}


def optimize(conn, spark=None) -> dict:
    """One-call maintenance: compact both logs, reclaim dead chunks.

    Equivalent to OPTIMIZE on a transactional table format; run it
    periodically (or after heavy CAS contention / many small commits) to
    bound read amplification. Retention stays a separate, explicit call
    because it CHANGES visible history.
    """
    return {
        "indices": compact_indices(conn, spark),
        "chunks": compact_chunks(conn, spark),
        "gc": gc_chunks(conn, spark),
        "stats": compact_stats(conn, spark),
    }
