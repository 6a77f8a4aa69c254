"""Engine facade: store root -> datasets -> connections (catalog layer).

Re-expresses ``proto/Schema`` + ``proto/Connection`` of the reference
(hbase.clj:254-344, 346-373):

- ``mk_schema(store_spec)``     (hbase.clj:364-373) — entry point.
- ``root_table_prefix``         (hbase.clj:346-361) — DNS-style root
  reversed into a table prefix, optional db-version prepended; kept
  verbatim for layout compatibility.
- ``Schema.create_dataset/destroy_dataset/list_datasets/connect``
  (hbase.clj:299-344) — a dataset is three log tables (chunks, indices,
  versions) under one directory.
- ``Connection.index/chunk_store/write_version/versions/metadata/get_stats``
  (hbase.clj:254-297).

On top of the protocol surface, the array layer (``write_variable`` /
``read_variable`` / ``tidy_view``) provides what mandoline-core provides in
the reference stack: chunked N-D variables written as slabs and read at any
version. Bulk reads are single Spark DataFrame plans (filter -> window
latest-<=-version -> join chunks) instead of the reference's sequential
per-chunk RPCs — the key architectural win at scale (SURVEY.md §3.3).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
from typing import Any, Optional

import numpy as np

from mandoline_hbase_spark import codec, storage
from mandoline_hbase_spark.chunkstore import ChunkStore
from mandoline_hbase_spark.errors import (
    CommitConflictError,
    DatasetNotFoundError,
    InvalidArgumentError,
    VersionNotFoundError,
)
from mandoline_hbase_spark.index import Index


def append_index_rows_df(indices_dir: str, map_df, var_name: str, version_id: int, seq: int) -> None:
    """Executor-side append of index rows for a distributed commit: stamp
    a (coord_id, coord, chunk_id) map with the variable, reserved version
    id and seq, in the indices-log schema. ONE definition shared by
    distributed ingest, dataset clone and rollback — the stamping must
    stay in lockstep with the index schema or ref accounting silently
    corrupts."""
    from pyspark.sql import functions as F

    (
        map_df.select(
            F.lit(var_name).alias("var_name"),
            F.col("coord_id"),
            F.col("coord"),
            F.lit(int(version_id)).cast("long").alias("version_id"),
            F.col("chunk_id"),
            F.lit(int(seq)).cast("long").alias("seq"),
        )
        .write.mode("append")
        .parquet(indices_dir)
    )


def _array_chunk_stats(chunk_id: str, block: np.ndarray) -> list[dict]:
    """Value min/max/nan-count sidecar rows for one array chunk (column
    name 'value' — the tidy-view column the reader's pushed filters
    reference).

    Spark treats NaN as a real value (equal to itself, greater than any
    number, NOT NULL), so NaN must never justify a prune: ±Inf is kept
    in min/max (a `value > 1e6` filter matches an Inf row), the NaN
    count lands in `nulls` (the reader stays 'maybe' on comparisons when
    nulls > 0), and an all-NaN chunk emits NO stats row at all — an
    'allnull' row would wrongly prune `value IS NOT NULL` and
    `value = double('NaN')`."""
    non_nan = block[~np.isnan(block)]
    n = int(block.size)
    if non_nan.size == 0:
        return []
    return [
        {
            "chunk_id": chunk_id,
            "column": "value",
            "kind": "num",
            "vmin": repr(float(non_nan.min())),
            "vmax": repr(float(non_nan.max())),
            "nulls": n - int(non_nan.size),
            "nrows": n,
        }
    ]


def _write_array_stats(dataset_dir: str, rows: list[dict]) -> None:
    """Best-effort sidecar append (advisory: a chunk without stats is
    never pruned)."""
    if not rows:
        return
    try:
        from mandoline_hbase_spark import zonemaps

        zonemaps.write_stats(os.path.join(dataset_dir, zonemaps.STATS_SUBDIR), rows)
    except Exception:
        pass


def root_table_prefix(root: str, db_version: str | None = None) -> str:
    """Reverse dot-components of the store root (hbase.clj:346-361).

    ``"foo.bar.com" -> "com.bar.foo"``; an optional db-version is
    prepended: ``"v2" -> "v2.com.bar.foo"``.
    """
    reversed_root = ".".join(reversed(root.split(".")))
    return f"{db_version}.{reversed_root}" if db_version else reversed_root


class Connection:
    """One dataset's handle (``HBaseConnection``, hbase.clj:254-297).

    Every read and every commit takes ONE snapshot of the versions log
    (one scan, ``storage.VersionSnapshot``) and resolves the latest id,
    the metadata at or before its bound and the committed ids it may see
    from it. ``versions``, ``metadata``, ``metadata_at_or_before`` and
    ``latest_version_id`` are views over a fresh snapshot.

    ``cache_versions=True`` memoizes the snapshot on this connection —
    the analog of the caching store layer the reference's suite runs
    every scenario with and without (``hbase_test.clj:107``
    ``with-and-without-caches``). The memo is dropped by THIS
    connection's commits; a commit from another connection or process
    is invisible to a warm cache (same trade as the reference's), which
    is why it is opt-in: enable it on read-mostly handles, not on
    handles racing other writers.
    """

    def __init__(
        self,
        dataset_dir: str,
        dataset_name: str,
        spark=None,
        cache_versions: bool = False,
    ):
        self.dataset_dir = dataset_dir
        self.dataset_name = dataset_name
        self.spark = spark
        self._dirs = {t: os.path.join(dataset_dir, t) for t in storage.TABLE_NAMES}
        self._cache_versions = bool(cache_versions)
        self._version_cache: storage.VersionSnapshot | None = None

    def _snapshot(self) -> storage.VersionSnapshot:
        """One scan of the versions log, memoized when caching is on."""
        snap = self._version_cache
        if snap is None:
            snap = storage.read_versions(self._dirs["versions"])
            if self._cache_versions:
                self._version_cache = snap
        return snap

    # -- protocol surface --------------------------------------------------

    def chunk_store(self, options: dict | None = None) -> ChunkStore:
        return ChunkStore(self._dirs["chunks"])

    def index(self, var_name: str, metadata: dict | None = None, options: dict | None = None) -> Index:
        """Index handle bound to a version (hbase.clj:257-261).

        The bound version defaults to the metadata's ``version-id``, else
        the latest committed version.
        """
        metadata = metadata or {}
        version_id = metadata.get("version-id")
        if version_id is None:
            version_id = self.latest_version_id()
        return Index(self.dataset_dir, self._dirs["indices"], var_name, metadata, version_id)

    def write_version(self, metadata: dict) -> int:
        """Append the version row — the commit point (hbase.clj:263-268).

        The append is a CONDITIONAL commit: exactly one writer can ever
        own a version id (storage.commit_version_row — a hard-link claim
        locally, an if-none-match put on object storage). With an id the
        caller reserved (or carried in ``metadata``), a conflict means
        either an idempotent replay (identical row: absorbed, success) or
        a protocol violation (different row: CommitConflictError). With
        no id, allocation retries optimistically until a claim wins — the
        serialization that lets many drivers commit to one dataset with
        no shared lock.
        """
        explicit = metadata.get("version-id")
        while True:
            # Non-explicit allocation claims the id through the SAME
            # reservation-marker namespace distributed commits use —
            # every claim path serializes on the marker first, the
            # commit file second, so a reserver and an allocator can
            # never both win one id (the two names alone are separate
            # atomic primitives and would race).
            owned = None
            if explicit is not None:
                version_id = int(explicit)
            else:
                version_id = owned = self._reserve_version()
            meta = {**metadata, "version-id": version_id}
            row = {
                "version_id": version_id,
                # :t is the version id itself, interpreted as epoch
                # millis (hbase.clj:266, 292-294).
                "committed_at": version_id,
                "metadata": json.dumps(meta),
            }
            try:
                if storage.commit_version_row(self._dirs["versions"], version_id, [row]):
                    self._version_cache = None
                    return version_id
            finally:
                if owned is not None:
                    storage.release_version_reservation(self._dirs["versions"], owned)
            if explicit is None:
                continue  # allocation lost the race; re-allocate and retry
            existing = storage.committed_version_row(self._dirs["versions"], version_id)
            if existing is not None and existing.get("metadata") == row["metadata"]:
                self._version_cache = None
                return version_id  # idempotent replay of the same commit
            floor = storage.retention_floor(self._dirs["versions"])
            if existing is None and floor is not None and version_id < floor:
                raise CommitConflictError(
                    f"version {version_id} is below the retention floor {floor} "
                    f"in {self.dataset_name} — replay of a pruned commit rejected"
                )
            raise CommitConflictError(
                f"version {version_id} was already committed with different "
                f"metadata — reserved-id protocol violation in {self.dataset_name}"
            )

    def versions(self, limit: int | None = None, metadata: bool = False) -> list[dict]:
        """Newest-first version listing (hbase.clj:283-297).

        The reference relies on HBase key order + ``reverse``; here the
        snapshot's ascending ids, reversed. The ``metadata?`` flag adds
        each version's parsed metadata.
        """
        t = self._snapshot().table
        rows = zip(
            t.column("version_id").to_pylist()[::-1],
            t.column("committed_at").to_pylist()[::-1],
            t.column("metadata").to_pylist()[::-1] if metadata else itertools.repeat(None),
        )
        out = []
        for version_id, committed_at, meta in itertools.islice(rows, limit):
            entry = {"timestamp": committed_at, "version": str(version_id)}
            if metadata:
                entry["metadata"] = json.loads(meta)
            out.append(entry)
        return out

    def metadata(self, version: int | str) -> dict:
        """Point get + parse of one version's metadata (hbase.clj:278-281)."""
        return self._metadata_of(self._snapshot(), int(version))

    def _metadata_of(self, snap: storage.VersionSnapshot, version_id: int) -> dict:
        meta = snap.metadata_json(version_id)
        if meta is None:
            raise VersionNotFoundError(f"no version {version_id} in {self.dataset_name}")
        return json.loads(meta)

    def get_stats(self) -> dict:
        """Table sizes, used as a liveness probe (hbase.clj:273-276)."""
        sizes = {}
        for role, d in self._dirs.items():
            sizes[role] = sum(
                os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")
            )
        return {
            "metadata-size": sizes["versions"],
            "index-size": sizes["indices"],
            "data-size": sizes["chunks"],
        }

    # -- maintenance (SURVEY.md §7 "ref-count GC") --------------------------

    def compact_chunks(self, spark=None) -> dict:
        """Collapse the chunks ref-delta log (see maintenance.py)."""
        from mandoline_hbase_spark import maintenance

        return maintenance.compact_chunks(self, spark)

    def gc_chunks(self, spark=None) -> dict:
        """Reclaim chunks with ref-count <= 0 and no index reference."""
        from mandoline_hbase_spark import maintenance

        return maintenance.gc_chunks(self, spark)

    def prune_versions(self, keep_last: int, spark=None) -> dict:
        """Retention: keep the newest ``keep_last`` versions."""
        from mandoline_hbase_spark import maintenance

        return maintenance.prune_versions(self, keep_last, spark)

    def compact_indices(self, spark=None) -> dict:
        """Drop superseded CAS records; cluster the index log by scan key."""
        from mandoline_hbase_spark import maintenance

        return maintenance.compact_indices(self, spark)

    def sweep_failed_commits(self, spark=None, older_than_s: float = 3600.0) -> dict:
        """Reclaim rows of distributed commits that never landed."""
        from mandoline_hbase_spark import maintenance

        return maintenance.sweep_failed_commits(self, spark, older_than_s)

    def optimize(self, spark=None) -> dict:
        """Compact both logs and reclaim dead chunks (no history change)."""
        from mandoline_hbase_spark import maintenance

        return maintenance.optimize(self, spark)

    # -- version helpers ---------------------------------------------------

    def next_version_id(self, snap: storage.VersionSnapshot | None = None) -> int:
        """Strictly monotonic id; ids are epoch millis like the reference.

        Accounts for reserved-but-uncommitted ids (in-flight distributed
        commits, see ``_reserve_version``) so a driver-side writer inside
        the commit lock can never allocate an id a distributed job has
        already baked into executor-written rows. ``snap`` is the caller's
        snapshot of the versions log (a fresh one when None); the
        reservation claim, not this candidate, decides who owns an id.
        """
        latest = (snap if snap is not None else self._snapshot()).latest
        last = max([latest or 0, *storage.reserved_version_ids(self._dirs["versions"])])
        return max(last + 1, int(time.time() * 1000))

    def _reserve_version(self, snap: storage.VersionSnapshot | None = None) -> int:
        """Claim a version id for a distributed (executor-side) commit."""
        return storage.reserve_version_id(self._dirs["versions"], self.next_version_id(snap))

    def latest_version_id(self) -> int | None:
        return self._snapshot().latest

    # -- array layer (mandoline-core equivalent) ---------------------------

    @staticmethod
    def _var_meta(dtype: str, shape, chunk_shape, fill) -> dict:
        return {
            "dtype": dtype,
            "shape": list(shape),
            "chunk_shape": list(chunk_shape),
            "fill": None if (isinstance(fill, float) and np.isnan(fill)) else fill,
            "fill_is_nan": bool(isinstance(fill, float) and np.isnan(fill)),
        }

    @staticmethod
    def _fill_of(var_meta: dict):
        if var_meta.get("fill_is_nan"):
            return float("nan")
        fill = var_meta.get("fill")
        return codec.default_fill(var_meta["dtype"]) if fill is None else fill

    def _commit(
        self,
        var_name: str,
        new_var_meta: dict,
        entries: list[tuple[tuple[int, ...], str]],
        blobs: dict[str, bytes],
        refs: dict[str, int],
        version_id: int | None,
    ) -> int:
        with storage.dataset_lock(self.dataset_dir):
            return self._commit_locked([(var_name, new_var_meta, entries)], blobs, refs, version_id)

    def _commit_locked(
        self,
        staged: list[tuple[str, dict, list[tuple[tuple[int, ...], str]]]],
        blobs: dict[str, bytes],
        refs: dict[str, int],
        version_id: int | None,
        snap: storage.VersionSnapshot | None = None,
    ) -> int:
        """Commit protocol per SURVEY.md §3.2: chunks -> index -> version row.

        ``staged`` holds one ``(var_name, var_meta, entries)`` per variable;
        their index rows are all tagged with one version id and a single
        version-row append makes all of them visible at once. The
        version-row append is the visibility point; a failure mid-commit
        leaves only invisible garbage (the reference's failed-write
        contract). Callers hold the dataset lock, which makes local
        concurrent commits serializable — the stand-in for a transactional
        table format's optimistic commit on a cluster. ``snap`` is the
        versions snapshot the caller read its base state from under this
        lock hold (a fresh one when None): the new metadata merges onto
        its latest version.
        """
        snap = snap if snap is not None else self._snapshot()
        latest = snap.latest
        base_meta = {} if latest is None else self._metadata_of(snap, latest)
        reserved_here = version_id is None
        if reserved_here:
            # claim the id before index rows are tagged with it, so the
            # conditional version-row commit below can never conflict
            version_id = self._reserve_version(snap)
        version_id = int(version_id)
        variables = dict(base_meta.get("variables", {}))
        for var_name, var_meta, _ in staged:
            variables[var_name] = var_meta
        new_meta = {**base_meta, "version-id": version_id, "variables": variables}

        # union: payload rows (blobs) plus ref-only grants for chunks whose
        # payload was already appended by executors (write_variable_from_df)
        all_hashes = set(blobs) | set(refs)
        self.chunk_store().write_chunks_bulk([(h, refs.get(h, 0), blobs.get(h)) for h in all_hashes])
        for var_name, _, entries in staged:
            idx = Index(self.dataset_dir, self._dirs["indices"], var_name, new_meta, version_id)
            idx.write_index_bulk(entries, version_id)
        try:
            committed = self.write_version(new_meta)
        finally:
            if reserved_here:
                storage.release_version_reservation(self._dirs["versions"], version_id)
        if latest is not None and latest > version_id:
            # A distributed write reserves its id at job start; a faster
            # writer may commit a LATER id first. Like the reference (the
            # version id is the write's start timestamp, hbase.clj:266),
            # the late commit lands at its reserved id — correct for every
            # bounded read — but latest-version readers resolve metadata
            # from the max committed id, which predates this variable. A
            # tiny metadata-repair row at a fresh id re-publishes the
            # merged view (base_meta here already includes the overtaker's
            # variables). Data rows are untouched.
            repair = {k: v for k, v in new_meta.items() if k != "version-id"}
            self.write_version(repair)
        return committed

    def write_variables(
        self,
        arrays: dict[str, np.ndarray],
        chunk_shapes: dict[str, tuple[int, ...]] | None = None,
        fills: dict[str, Any] | None = None,
    ) -> int:
        """Write SEVERAL variables as ONE committed version — the atomic
        multi-variable snapshot mandoline's data model implies (a version's
        metadata carries every variable, hbase.clj:266-268): either all the
        staged variables become visible at the new version or none do.

        Per-variable staging matches ``write_variable`` exactly (same
        chunking defaults, content-addressed dedup ACROSS variables in the
        commit); the index rows of every variable are tagged with the same
        reserved version id and a single version-row append is the
        visibility point for all of them.
        """
        if not arrays:
            raise InvalidArgumentError("write_variables needs at least one variable")
        chunk_shapes = chunk_shapes or {}
        fills = fills or {}
        staged: list[tuple[str, dict, list]] = []
        # chunks are one union across variables: cross-variable dedup
        all_blobs: dict[str, bytes] = {}
        all_refs: dict[str, int] = {}
        stats_rows: list[dict] = []
        for var_name, array in arrays.items():
            array = np.asarray(array)
            dtype = array.dtype.name
            if dtype not in codec.SUPPORTED_DTYPES:
                raise InvalidArgumentError(f"unsupported dtype {dtype} for {var_name!r}")
            fill = fills.get(var_name)
            if fill is None:
                fill = codec.default_fill(dtype)
            chunk_shape = chunk_shapes.get(var_name)
            if chunk_shape is None:
                chunk_shape = tuple(min(s, 64) for s in array.shape)
            chunk_shape = tuple(chunk_shape)
            entries: list[tuple[tuple[int, ...], str]] = []
            seen: set[str] = set()
            for coord in codec.iter_chunk_coords(array.shape, chunk_shape):
                block = codec.extract_block(array, coord, chunk_shape, fill)
                data = codec.encode_chunk(block)
                h = codec.chunk_id_of(data)
                if h not in seen:
                    seen.add(h)
                    stats_rows.extend(_array_chunk_stats(h, block))
                all_blobs.setdefault(h, data)
                all_refs[h] = all_refs.get(h, 0) + 1
                entries.append((coord, h))
            staged.append((var_name, self._var_meta(dtype, array.shape, chunk_shape, fill), entries))
        _write_array_stats(self.dataset_dir, stats_rows)

        with storage.dataset_lock(self.dataset_dir):
            return self._commit_locked(staged, all_blobs, all_refs, None)

    def create_variable(
        self,
        var_name: str,
        shape: tuple[int, ...],
        dtype: str = "float64",
        chunk_shape: tuple[int, ...] | None = None,
        fill: Any = None,
    ) -> int:
        """Declare a variable without writing data; reads yield all-fill.

        Mirrors mandoline's create-then-write-slabs model: the variable's
        dtype/shape/chunking/fill live in version metadata
        (hbase.clj:266-268 — metadata JSON is the schema of record).
        """
        if dtype not in codec.SUPPORTED_DTYPES:
            raise InvalidArgumentError(f"unsupported dtype {dtype}")
        shape = tuple(int(s) for s in shape)
        if chunk_shape is None:
            chunk_shape = tuple(min(s, 64) for s in shape)
        if fill is None:
            fill = codec.default_fill(dtype)
        return self._commit(var_name, self._var_meta(dtype, shape, chunk_shape, fill), [], {}, {}, None)

    def write_variable(
        self,
        var_name: str,
        array: np.ndarray,
        chunk_shape: tuple[int, ...] | None = None,
        fill: Any = None,
        version_id: int | None = None,
    ) -> int:
        """Write a whole variable as one committed version."""
        array = np.asarray(array)
        dtype = array.dtype.name
        if dtype not in codec.SUPPORTED_DTYPES:
            raise InvalidArgumentError(f"unsupported dtype {dtype}")
        if fill is None:
            fill = codec.default_fill(dtype)
        if chunk_shape is None:
            prior = None
            snap = self._snapshot()
            if snap.latest is not None:
                prior = self._metadata_of(snap, snap.latest).get("variables", {}).get(var_name)
            if prior is not None and len(prior["chunk_shape"]) == array.ndim:
                chunk_shape = tuple(prior["chunk_shape"])
            else:
                chunk_shape = tuple(min(s, 64) for s in array.shape)
        chunk_shape = tuple(chunk_shape)

        # content-addressed dedup within the commit; ref-count = number of
        # index entries referencing each blob in this commit
        entries: list[tuple[tuple[int, ...], str]] = []
        blobs: dict[str, bytes] = {}
        refs: dict[str, int] = {}
        stats_rows: list[dict] = []
        for coord in codec.iter_chunk_coords(array.shape, chunk_shape):
            block = codec.extract_block(array, coord, chunk_shape, fill)
            data = codec.encode_chunk(block)
            h = codec.chunk_id_of(data)
            if h not in blobs:
                stats_rows.extend(_array_chunk_stats(h, block))
            blobs.setdefault(h, data)
            refs[h] = refs.get(h, 0) + 1
            entries.append((coord, h))
        _write_array_stats(self.dataset_dir, stats_rows)

        return self._commit(
            var_name,
            self._var_meta(dtype, array.shape, chunk_shape, fill),
            entries,
            blobs,
            refs,
            version_id,
        )

    def write_variable_from_df(
        self,
        df,
        var_name: str,
        shape: tuple[int, ...],
        chunk_shape: tuple[int, ...],
        dtype: str = "float64",
        fill: Any = None,
        version_id: int | None = None,
        dim_cols: list[str] | None = None,
        value_col: str = "value",
    ) -> int:
        """Distributed ingest: commit a version of ``var_name`` from a tidy
        DataFrame (``dim0..dimN-1, value``) — the 100 TB write path.

        The full array never exists on one machine: rows shuffle once on
        their chunk coordinate, each executor builds its chunks' blocks
        with ``applyInPandas`` (fill-padded, C-order — byte-identical to
        the driver path, so content addressing dedups ACROSS the two
        paths), and chunk payloads are appended to the chunks log directly
        by the Spark writer. Only the (coordinate -> chunk-id) map — one
        tiny row per chunk — and the version row go through the driver
        commit, preserving the §3.2 ordering: chunks -> index -> version.
        """
        from pyspark.sql import functions as F

        if dtype not in codec.SUPPORTED_DTYPES:
            raise InvalidArgumentError(f"unsupported dtype {dtype}")
        shape = tuple(int(s) for s in shape)
        chunk_shape = tuple(int(c) for c in chunk_shape)
        if fill is None:
            fill = codec.default_fill(dtype)
        ndim = len(shape)
        dim_cols = dim_cols or [f"d{i}" for i in range(ndim)]

        coord_keys = [
            F.floor(F.col(c) / chunk_shape[i]).cast("long").alias(f"_cc{i}")
            for i, c in enumerate(dim_cols)
        ]
        keyed = df.select(
            *coord_keys, *[F.col(c).cast("long") for c in dim_cols], F.col(value_col)
        )

        cs, fl, dt, dcols, vcol = chunk_shape, fill, dtype, list(dim_cols), value_col

        def build_chunk(pdf):
            # self-contained: executor Python workers may not have the
            # package on sys.path, so no module-level references here
            import hashlib

            import numpy as np
            import pandas as pd

            coord = tuple(int(pdf[f"_cc{i}"].iloc[0]) for i in range(len(cs)))
            block = np.full(cs, fl, dtype=dt)
            local = tuple(
                (pdf[c].to_numpy() - coord[i] * cs[i]).astype("int64")
                for i, c in enumerate(dcols)
            )
            block[local] = pdf[vcol].to_numpy().astype(dt)
            data = np.ascontiguousarray(block).tobytes()
            coord_id = "/".join(str(c) for c in coord) if coord else "_"
            return pd.DataFrame(
                {
                    "coord_id": [coord_id],
                    "coord": [list(coord)],
                    "chunk_id": [hashlib.sha1(data).hexdigest()],
                    "data": [data],
                }
            )

        # Distributed commit: payloads, refs AND index rows are all written
        # by executors; the only driver-side step is the version-row append
        # (the visibility point). Driver memory is O(1) in chunk count — a
        # variable with millions of chunks never funnels entries through the
        # driver. The version id is reserved up-front (exclusive marker =
        # conditional put, storage.reserve_version_id) so executors can bake
        # it into every row without holding a lock across the job; rows of a
        # version that never commits are invisible to every read and are
        # reclaimed by maintenance.sweep_failed_commits + gc_chunks.
        reserved = version_id is None
        if reserved:
            version_id = self._reserve_version()
        seq = storage.next_seq()
        per_chunk = keyed.groupBy(*[f"_cc{i}" for i in range(ndim)]).applyInPandas(
            build_chunk, "coord_id string, coord array<bigint>, chunk_id string, data binary"
        )
        # one pass, reused by the payload write and the index-row write
        per_chunk = per_chunk.persist()
        try:
            # chunks first (§3.2 order: chunks -> index -> version row).
            # Content addressing collapses identical blobs to one row; the
            # baked ref_delta equals this commit's index references to it.
            storage.write_chunks_df(
                per_chunk.groupBy("chunk_id").agg(
                    F.count(F.lit(1)).cast("long").alias("ref_delta"),
                    F.first("data").alias("data"),
                ),
                self._dirs["chunks"],
            )
            append_index_rows_df(
                self._dirs["indices"], per_chunk, var_name, version_id, seq
            )
        finally:
            per_chunk.unpersist()
        if reserved and not storage.reservation_held(self._dirs["versions"], version_id):
            # the failed-commit sweeper decided this job was dead and
            # reclaimed its executor-written rows; committing now would
            # publish a version whose data is gone — abort loudly
            # (sweep_failed_commits' older_than_s must exceed the longest
            # in-flight commit)
            raise CommitConflictError(
                f"reservation for version {version_id} was swept mid-job in "
                f"{self.dataset_name}; aborting commit (raise sweep older_than_s)"
            )
        try:
            return self._commit(
                var_name,
                self._var_meta(dtype, shape, chunk_shape, fill),
                [],
                {},
                {},
                version_id,
            )
        finally:
            if reserved:
                storage.release_version_reservation(self._dirs["versions"], version_id)

    def update_region(
        self,
        var_name: str,
        subarray: np.ndarray,
        offset: tuple[int, ...],
        version_id: int | None = None,
    ) -> int:
        """Overwrite (and possibly extend) a region — a mandoline 'slab' write.

        Only chunks intersecting the region are rewritten; untouched
        coordinates keep resolving through older versions via the
        latest-<=-version read (find-index semantics) — this is what makes
        the reference's overwrite/overwrite-extend scenarios cheap. If
        ``offset + subarray.shape`` exceeds the current shape the variable
        grows (overwrite-extend, hbase_test.clj:118-124).
        """
        subarray = np.asarray(subarray)
        offset = tuple(int(o) for o in offset)
        with storage.dataset_lock(self.dataset_dir):
            return self._update_region_locked(var_name, subarray, offset, version_id)

    def _update_region_locked(
        self, var_name: str, subarray: np.ndarray, offset: tuple[int, ...], version_id: int | None
    ) -> int:
        # Base-state read happens under the dataset lock so concurrent
        # overlapping slab writers serialize (read-your-predecessor), the
        # guarantee the reference gets from per-key CAS + caller retry.
        # The commit below merges onto the same snapshot.
        snap = self._snapshot()
        latest = snap.latest
        if latest is None:
            raise VersionNotFoundError(f"dataset {self.dataset_name} has no versions")
        var_meta = self._metadata_of(snap, latest).get("variables", {}).get(var_name)
        if var_meta is None:
            raise KeyError(f"variable {var_name} is not defined; create_variable first")
        dtype = var_meta["dtype"]
        chunk_shape = tuple(var_meta["chunk_shape"])
        fill = self._fill_of(var_meta)
        if subarray.ndim != len(chunk_shape):
            raise InvalidArgumentError(
                f"subarray ndim {subarray.ndim} != variable ndim {len(chunk_shape)}"
            )
        subarray = subarray.astype(np.dtype(dtype), copy=False)

        old_shape = tuple(var_meta["shape"])
        new_shape = tuple(
            max(s, o + d) for s, o, d in zip(old_shape, offset, subarray.shape)
        )
        region_lo = offset
        region_hi = tuple(o + d for o, d in zip(offset, subarray.shape))

        # chunk coords intersecting the region, each with its overlap in
        # the chunk's frame and in the subarray's
        lo_chunk = tuple(lo // cs for lo, cs in zip(region_lo, chunk_shape))
        hi_chunk = tuple((hi - 1) // cs for hi, cs in zip(region_hi, chunk_shape))
        overlaps = []
        for coord in _iter_box(lo_chunk, hi_chunk):
            c_lo = tuple(c * cs for c, cs in zip(coord, chunk_shape))
            sl_block, sl_sub = [], []
            for d in range(len(chunk_shape)):
                lo = max(region_lo[d], c_lo[d])
                hi = min(region_hi[d], c_lo[d] + chunk_shape[d])
                sl_block.append(slice(lo - c_lo[d], hi - c_lo[d]))
                sl_sub.append(slice(lo - region_lo[d], hi - region_lo[d]))
            overlaps.append((coord, tuple(sl_block), tuple(sl_sub)))
        # a chunk the region covers whole needs no base content
        partial = [
            codec.coordinate_to_id(coord)
            for coord, sl_block, _ in overlaps
            if any(sl.stop - sl.start < cs for sl, cs in zip(sl_block, chunk_shape))
        ]
        base_map = (
            self.resolve_chunk_map(var_name, latest, partial, snap.committed_le(latest))
            if partial
            else {}
        )
        base = self.chunk_store().read_chunks(base_map.values())

        entries: list[tuple[tuple[int, ...], str]] = []
        blobs: dict[str, bytes] = {}
        refs: dict[str, int] = {}
        for coord, sl_block, sl_sub in overlaps:
            base_hash = base_map.get(codec.coordinate_to_id(coord))
            if base_hash is not None:
                block = codec.decode_chunk(base[base_hash], dtype, chunk_shape).copy()
            else:
                block = np.full(chunk_shape, fill, dtype=np.dtype(dtype))
            block[sl_block] = subarray[sl_sub]
            data = codec.encode_chunk(block)
            h = codec.chunk_id_of(data)
            blobs.setdefault(h, data)
            refs[h] = refs.get(h, 0) + 1
            entries.append((coord, h))

        return self._commit_locked(
            [(var_name, self._var_meta(dtype, new_shape, chunk_shape, fill), entries)],
            blobs,
            refs,
            version_id,
            snap,
        )

    def _resolve_read(self, var_name: str, version: int | None, snap: storage.VersionSnapshot | None = None):
        """``(bound, metadata, var_meta)`` of a read at ``version`` (latest
        if None), from ``snap`` (a fresh snapshot when None)."""
        snap = snap if snap is not None else self._snapshot()
        bound = int(version) if version is not None else snap.latest
        if bound is None:
            raise VersionNotFoundError(f"dataset {self.dataset_name} has no versions")
        meta = self._metadata_at_or_before(snap, bound)
        var_meta = meta.get("variables", {}).get(var_name)
        if var_meta is None:
            raise KeyError(f"variable {var_name} not defined at version {bound}")
        return bound, meta, var_meta

    def metadata_at_or_before(self, bound: int) -> dict:
        """Latest committed metadata with version_id <= bound (snapshot read)."""
        return self._metadata_at_or_before(self._snapshot(), bound)

    def _metadata_at_or_before(self, snap: storage.VersionSnapshot, bound: int) -> dict:
        version_id = snap.at_or_before(bound)
        if version_id is None:
            raise VersionNotFoundError(f"no version <= {bound} in {self.dataset_name}")
        return self._metadata_of(snap, version_id)

    def _committed_versions_le(self, bound: int) -> list[int]:
        """Committed version ids <= bound — the visibility set for reads
        (``storage.VersionSnapshot.committed_le``; the contract of the
        reference's disabled failed-write test, hbase_test.clj:144-146)."""
        return self._snapshot().committed_le(bound)

    def resolve_chunk_map(
        self,
        var_name: str,
        bound: int,
        coord_ids: Optional[list[str]] = None,
        committed: Optional[list[int]] = None,
    ) -> dict[str, str]:
        """Bulk find-index: {coord_id -> chunk_id} at snapshot ``bound``
        (``storage.resolve_chunk_map``), over every coordinate of the
        variable or the ``coord_ids`` subset. ``committed`` is the
        caller's visibility set, the committed ids <= ``bound`` of its
        snapshot (``VersionSnapshot.committed_le``); when None it comes
        from a fresh snapshot.
        """
        if committed is None:
            committed = self._committed_versions_le(bound)
        return storage.resolve_chunk_map(self._dirs["indices"], var_name, committed, coord_ids)

    def read_variable(self, var_name: str, version: int | None = None) -> np.ndarray:
        """Assemble the variable at a snapshot version (latest if None)."""
        snap = self._snapshot()
        bound, meta, var_meta = self._resolve_read(var_name, version, snap)
        dtype = var_meta["dtype"]
        shape = tuple(var_meta["shape"])
        chunk_shape = tuple(var_meta["chunk_shape"])
        fill = float("nan") if var_meta.get("fill_is_nan") else var_meta.get("fill")
        if fill is None:
            fill = codec.default_fill(dtype)

        chunk_map = self.resolve_chunk_map(var_name, bound, committed=snap.committed_le(bound))
        blobs = self.chunk_store().read_chunks(chunk_map.values())
        if len(shape) == 0:
            h = chunk_map.get("_")
            if h is None:
                return np.array(fill, dtype=dtype).reshape(())
            return codec.decode_chunk(blobs[h], dtype, ()).reshape(())

        grid = codec.grid_shape(shape, chunk_shape)
        padded_shape = tuple(g * c for g, c in zip(grid, chunk_shape))
        out = np.full(padded_shape, fill, dtype=dtype)
        for coord in codec.iter_chunk_coords(shape, chunk_shape):
            h = chunk_map.get(codec.coordinate_to_id(coord))
            if h is None:
                continue
            block = codec.decode_chunk(blobs[h], dtype, chunk_shape)
            out[tuple(slice(c * cs, (c + 1) * cs) for c, cs in zip(coord, chunk_shape))] = block
        return out[tuple(slice(0, s) for s in shape)]

    def read_region(
        self,
        var_name: str,
        region: tuple[tuple[int, int], ...],
        version: int | None = None,
    ) -> np.ndarray:
        """Read a slab ``region`` = ((start, stop), ...) per dimension at a
        snapshot version — without touching chunks outside the slab.

        The read-side mirror of writing slabs: only the chunk coordinates
        overlapping the region are resolved (coord-pruned index scan, see
        ``resolve_chunk_map``) and fetched, all with one chunk scan. A
        1-chunk read of a million-chunk variable does O(1) chunk IO,
        matching the reference's bounded scan + point get
        (hbase.clj:184-198, 97-103); the read lists each of the
        ``versions``, ``indices`` and ``chunks`` logs once.
        """
        snap = self._snapshot()
        bound, meta, var_meta = self._resolve_read(var_name, version, snap)
        dtype = var_meta["dtype"]
        shape = tuple(var_meta["shape"])
        chunk_shape = tuple(var_meta["chunk_shape"])
        fill = float("nan") if var_meta.get("fill_is_nan") else var_meta.get("fill")
        if fill is None:
            fill = codec.default_fill(dtype)

        if len(region) != len(shape):
            raise InvalidArgumentError(
                f"region has {len(region)} dims, variable has {len(shape)}"
            )
        for d, ((start, stop), size) in enumerate(zip(region, shape)):
            if not (0 <= start < stop <= size):
                raise InvalidArgumentError(
                    f"region dim {d} [{start}, {stop}) out of bounds for size {size}"
                )
        if len(shape) == 0:
            return self.read_variable(var_name, version)

        chunk_ranges = [
            range(start // cs, (stop - 1) // cs + 1)
            for (start, stop), cs in zip(region, chunk_shape)
        ]
        coords = [tuple(c) for c in itertools.product(*chunk_ranges)]
        chunk_map = self.resolve_chunk_map(
            var_name, bound, [codec.coordinate_to_id(c) for c in coords], snap.committed_le(bound)
        )
        blobs = self.chunk_store().read_chunks(chunk_map.values())

        out_shape = tuple(stop - start for start, stop in region)
        out = np.full(out_shape, fill, dtype=dtype)
        for coord in coords:
            h = chunk_map.get(codec.coordinate_to_id(coord))
            if h is None:
                continue
            block = codec.decode_chunk(blobs[h], dtype, chunk_shape)
            # overlap of this chunk with the region, in both frames
            src, dst = [], []
            for (start, stop), c, cs in zip(region, coord, chunk_shape):
                lo = max(start, c * cs)
                hi = min(stop, (c + 1) * cs)
                src.append(slice(lo - c * cs, hi - c * cs))
                dst.append(slice(lo - start, hi - start))
            out[tuple(dst)] = block[tuple(src)]
        return out

    # -- Spark bulk read path ---------------------------------------------

    def spark_table(self, role: str, spark=None):
        """The raw log table as a Spark DataFrame (explicit schema)."""
        spark = spark or self.spark
        return spark.read.schema(storage.SPARK_DDL[role]).parquet(self._dirs[role])

    def chunk_map_df(self, var_name: str, bound: int, spark=None, coord_ids: list[str] | None = None):
        """Distributed find-index: one DataFrame plan resolving every
        coordinate of ``var_name`` at snapshot ``bound``.

        filter (pushed to parquet) -> committed-version semi-join -> per-key
        last-write-wins + max version via a single window — the vectorized
        form of hbase.clj:184-198. The semi-join against the (tiny,
        broadcast) versions table enforces commit-point visibility: index
        rows of a crashed, never-committed version are excluded.
        Partitioned by coord_id, so at scale the shuffle is one exchange on
        the natural key; z-ordering the indices table by (var_name,
        coord_id) keeps the scan pruned.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = spark or self.spark
        committed = (
            self.spark_table("versions", spark)
            .filter(F.col("version_id") <= int(bound))
            .select("version_id")
        )
        idx = self.spark_table("indices", spark)
        w = Window.partitionBy("coord_id").orderBy(
            F.desc("version_id"), F.desc("seq")
        )
        scan = idx.filter((F.col("var_name") == var_name) & (F.col("version_id") <= int(bound)))
        if coord_ids is not None:
            # bounded-scan analog (hbase.clj:191-192): the isin filter is
            # pushed to the parquet reader, so a region read of a
            # million-chunk variable scans only its chunks' index rows
            scan = scan.filter(F.col("coord_id").isin(list(coord_ids)))
        return (
            scan
            .join(F.broadcast(committed), "version_id", "left_semi")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .filter(F.col("chunk_id").isNotNull())
            .select("coord_id", "coord", "chunk_id")
        )

    def tidy_view(
        self,
        var_name: str,
        version: int | None = None,
        spark=None,
        region: tuple[tuple[int, int], ...] | None = None,
    ):
        """Exploded analytic view: one row per in-bounds cell of every
        materialized chunk — ``dim0..dimK bigint, value double``.

        Fully distributed: index resolution (window) -> join chunks on
        chunk_id -> Arrow-batched decode in ``mapInPandas`` (no driver
        collect). Cells of never-written chunks (pure fill) are absent; a
        reader wanting dense output coalesces against the fill value.

        ``region`` = ((start, stop), ...) restricts the view to a slab:
        only intersecting chunks are resolved (their coord_ids become a
        pushed-down isin filter on the index scan — the distributed
        mirror of ``read_region``'s bounded scan) and the decode emits
        only cells inside the slab.
        """
        from pyspark.sql import functions as F

        spark = spark or self.spark
        bound, meta, var_meta = self._resolve_read(var_name, version)
        dtype = var_meta["dtype"]
        shape = tuple(var_meta["shape"])
        chunk_shape = tuple(var_meta["chunk_shape"])
        ndim = len(shape)

        coord_ids = None
        if region is not None:
            if len(region) != ndim:
                raise InvalidArgumentError(
                    f"region has {len(region)} dims, variable has {ndim}"
                )
            for d, ((start, stop), size) in enumerate(zip(region, shape)):
                if not (0 <= start < stop <= size):
                    raise InvalidArgumentError(
                        f"region dim {d} [{start}, {stop}) out of bounds for size {size}"
                    )
            chunk_ranges = [
                range(start // cs, (stop - 1) // cs + 1)
                for (start, stop), cs in zip(region, chunk_shape)
            ]
            coord_ids = [
                codec.coordinate_to_id(c) for c in itertools.product(*chunk_ranges)
            ]

        latest = self.chunk_map_df(var_name, bound, spark, coord_ids=coord_ids)
        chunks = (
            self.spark_table("chunks", spark)
            .filter(F.col("data").isNotNull())
            .dropDuplicates(["chunk_id"])
            .select("chunk_id", "data")
        )
        joined = latest.join(chunks, "chunk_id", "inner").select("coord", "data")

        dim_cols = [f"dim{d}" for d in range(ndim)]
        out_schema = ", ".join([f"{c} bigint" for c in dim_cols] + ["value double"])
        los = [r[0] for r in region] if region is not None else [0] * ndim
        his = (
            [min(s, r[1]) for s, r in zip(shape, region)]
            if region is not None
            else list(shape)
        )

        def decode(batches):
            import pandas as pd

            for pdf in batches:
                frames = []
                for coord, data in zip(pdf["coord"], pdf["data"]):
                    block = np.frombuffer(data, dtype=np.dtype(dtype)).reshape(chunk_shape)
                    base = [int(c) * cs for c, cs in zip(coord, chunk_shape)]
                    grids = np.indices(chunk_shape).reshape(len(chunk_shape), -1)
                    cols = {}
                    mask = np.ones(grids.shape[1], dtype=bool)
                    for d in range(len(chunk_shape)):
                        g = grids[d] + base[d]
                        cols[f"dim{d}"] = g
                        mask &= (g >= los[d]) & (g < his[d])
                    frame = pd.DataFrame(cols)
                    frame["value"] = block.reshape(-1).astype(np.float64)
                    frames.append(frame[mask])
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        if ndim == 0:
            # scalar: a single row with just the value
            return joined.mapInPandas(
                lambda batches: (
                    __import__("pandas").DataFrame(
                        {"value": [float(np.frombuffer(d, dtype=np.dtype(dtype))[0]) for d in pdf["data"]]}
                    )
                    for pdf in batches
                ),
                schema="value double",
            )
        return joined.mapInPandas(decode, schema=out_schema)


def _iter_box(lo: tuple[int, ...], hi: tuple[int, ...]):
    """Yield every integer coordinate in the inclusive box [lo, hi]."""
    if len(lo) == 0:
        yield ()
        return
    idx = list(lo)
    while True:
        yield tuple(idx)
        for d in reversed(range(len(lo))):
            idx[d] += 1
            if idx[d] <= hi[d]:
                break
            idx[d] = lo[d]
        else:
            return


class Schema:
    """Store-level catalog (``HBaseSchema``, hbase.clj:299-344)."""

    def __init__(self, base_path: str, table_prefix: str, spark=None):
        self.base_path = base_path
        self.table_prefix = table_prefix
        self.spark = spark
        self.root_dir = os.path.join(base_path, table_prefix)

    def _dataset_dir(self, name: str) -> str:
        return os.path.join(self.root_dir, name)

    def create_dataset(self, name: str) -> None:
        """Create the three tables (hbase.clj:302-311); validates the name."""
        if not isinstance(name, str) or not name.strip():
            raise InvalidArgumentError(f"dataset name must be a non-blank string, got {name!r}")
        ds_dir = self._dataset_dir(name)
        for t in storage.TABLE_NAMES:
            os.makedirs(os.path.join(ds_dir, t), exist_ok=True)

    def destroy_dataset(self, name: str) -> None:
        """Drop the three tables; idempotent (hbase.clj:313-316, 82-89)."""
        shutil.rmtree(self._dataset_dir(name), ignore_errors=True)

    def list_datasets(self) -> list[str]:
        """Distinct dataset names under the root prefix (hbase.clj:318-330)."""
        if not os.path.isdir(self.root_dir):
            return []
        return sorted(
            d for d in os.listdir(self.root_dir) if os.path.isdir(os.path.join(self.root_dir, d))
        )

    def connect(self, name: str, cache_versions: bool = False) -> Connection:
        """Open a dataset, probing existence (hbase.clj:332-344).

        ``cache_versions`` opts the handle into the memoized version
        listing — the reference's caching-store-layer analog
        (hbase_test.clj:107 runs every scenario with and without it)."""
        ds_dir = self._dataset_dir(name)
        conn = Connection(ds_dir, name, spark=self.spark, cache_versions=cache_versions)
        try:
            conn.get_stats()
        except OSError as e:
            raise DatasetNotFoundError(
                f"dataset {name} does not appear to exist at {ds_dir}"
            ) from e
        return conn


def mk_schema(store_spec: dict, spark=None) -> Schema:
    """Public entry point (hbase.clj:364-373).

    ``store_spec``: ``{"root": "foo.bar.com", "base_path": "/data",
    "db-version": optional}`` — mirrors the reference's store-spec map.
    """
    prefix = root_table_prefix(store_spec["root"], store_spec.get("db-version"))
    return Schema(store_spec.get("base_path", "."), prefix, spark=spark)


class Engine:
    """Convenience facade: one store root, Spark-aware."""

    def __init__(self, spark, base_path: str, root: str = "mandoline.io", db_version: str | None = None):
        self.spark = spark
        self.schema = mk_schema({"root": root, "base_path": base_path, "db-version": db_version}, spark=spark)

    def create_dataset(self, name: str) -> Connection:
        self.schema.create_dataset(name)
        return self.schema.connect(name)

    def connect(self, name: str) -> Connection:
        return self.schema.connect(name)

    def destroy_dataset(self, name: str) -> None:
        self.schema.destroy_dataset(name)

    def list_datasets(self) -> list[str]:
        return self.schema.list_datasets()
