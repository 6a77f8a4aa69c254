"""Low-level physical storage: append-only parquet log tables + a lock.

Each dataset is three directories of parquet files (``chunks``, ``indices``,
``versions``) — the Spark-native re-expression of the reference's three
HBase tables (hbase.clj:30-35). Writes are append-only file adds (the
log-structured-merge idea HBase itself uses); mutation semantics
(ref-count updates, index CAS) are expressed as log records resolved at
read time:

- ``chunks``:   ``chunk_id, ref_delta, data`` — ref-count = SUM(ref_delta)
  per id (merge-on-read; fixes the reference's non-atomic read-modify-write,
  hbase.clj:156-172); ``data`` is NULL on pure ref-delta records.
- ``indices``:  ``var_name, coord_id, coord, version_id, chunk_id, seq`` —
  current value of an index key = the max-``seq`` record for
  ``(var_name, coord_id, version_id)``.
- ``versions``: ``version_id, committed_at, metadata`` — the linear commit
  log (hbase.clj:26-28); a write is visible only after its version row
  lands (§3.2 of SURVEY.md).

This module is the one reader of the three logs; every other module
reads them through three functions, the protocol reads of the reference
(hbase.clj:97-103, 184-198, 257-261):

- :func:`read_versions` — one scan of ``versions`` as a
  :class:`VersionSnapshot`: the latest id, the metadata at or before a
  bound, and the committed ids a read at that bound may see;
- :func:`resolve_chunk_map` — find-index over ``indices``: per
  ``coord_id``, the max committed ``(version_id, seq)`` record wins, and
  a NULL ``chunk_id`` (tombstone) drops the coordinate;
- :func:`read_payloads` — ``{chunk_id: bytes}`` from ``chunks``, one
  row group decoded per distinct id.

Point reads (the real-time path, explicitly non-Spark per the project's
north star) go through :func:`scan`, served by a process-wide catalog of
the log files — the analog of the block index under the reference's
``get`` and bounded scans. For each file the catalog keeps the parquet
footer and the file's key columns with their row locations:
``chunk_id``, ``ref_delta`` and payload presence for ``chunks``, every
column for ``indices`` and ``versions``. It never holds payload bytes; a
read of ``data`` decodes only the row groups that hold the wanted keys.
:func:`append_rows` writes ``chunks`` files with one row per row group
(the 64 kB block analog), and every Spark writer of the chunks log goes
through :func:`write_chunks_df`, which writes the same layout. A region
read lists each log once: one snapshot of ``versions``, one key-filter
scan of ``indices`` for the region's coordinates, and one fetch from
``chunks`` for all of their payloads. A slab commit reuses its snapshot
for the version id it claims and the metadata it merges onto. The
catalog's invariants:

- log files are immutable and uniquely named: nothing rewrites one in
  place, and :func:`append_rows` publishes each file by rename, so a
  listing never shows it half written;
- a file's identity is its name plus ``(st_ino, st_size, st_mtime_ns)``;
  every scan lists the directory (pyarrow's discovery rules: names with
  a ``.``/``_`` prefix are skipped), so a file another process adds is
  seen on the next call, and a file that compaction removes or an
  ``os.replace`` swaps under the same name is dropped, never served;
- listings are applied in the order they were taken: a scan whose
  listing is older than the catalog's is served the newer state, which
  was listed after that scan began, so a removed file never comes back;
  a file the catalog holds and a newer listing lacks is dropped only
  once a ``stat`` shows it gone or changed (the listing may have read
  the directory before the file was published);
- memory is keys only, per directory, for the last
  ``_CATALOG_DIRS`` directories scanned.

Its failure mode: a file rewritten in place with the same inode, size
and mtime would be served stale. Nothing in this package writes a log
file that way. A listed entry that is not a regular file (a
subdirectory) makes a read raise ValueError naming it; nothing in this
package writes one.

Analytic reads load the same directories with ``spark.read.parquet``.
At cluster scale these directories live on object storage and the
appends become distributed Spark writes; the schemas and read
resolution are unchanged.
"""

from __future__ import annotations

import bisect
import itertools
import os
import stat
import threading
import time
import uuid
from collections import OrderedDict
from collections.abc import Mapping
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CHUNKS_SCHEMA = pa.schema(
    [
        pa.field("chunk_id", pa.string(), nullable=False),
        pa.field("ref_delta", pa.int64(), nullable=False),
        pa.field("data", pa.binary(), nullable=True),
    ]
)

INDICES_SCHEMA = pa.schema(
    [
        pa.field("var_name", pa.string(), nullable=False),
        pa.field("coord_id", pa.string(), nullable=False),
        pa.field("coord", pa.list_(pa.int64()), nullable=False),
        pa.field("version_id", pa.int64(), nullable=False),
        pa.field("chunk_id", pa.string(), nullable=True),
        pa.field("seq", pa.int64(), nullable=False),
    ]
)

VERSIONS_SCHEMA = pa.schema(
    [
        pa.field("version_id", pa.int64(), nullable=False),
        pa.field("committed_at", pa.timestamp("ms", tz="UTC"), nullable=False),
        pa.field("metadata", pa.string(), nullable=False),
    ]
)

TABLE_SCHEMAS = {"chunks": CHUNKS_SCHEMA, "indices": INDICES_SCHEMA, "versions": VERSIONS_SCHEMA}
TABLE_NAMES = ("chunks", "indices", "versions")

# Spark-side schemas for the same directories (explicit so empty tables read
# cleanly and so the scan never pays schema inference).
SPARK_DDL = {
    "chunks": "chunk_id string, ref_delta bigint, data binary",
    "indices": "var_name string, coord_id string, coord array<bigint>, version_id bigint, chunk_id string, seq bigint",
    "versions": "version_id bigint, committed_at timestamp, metadata string",
}


def _payload_columns(schema: pa.Schema) -> list[str]:
    """Columns that hold chunk payloads (binary); every other column is a key."""
    return [f.name for f in schema if pa.types.is_binary(f.type) or pa.types.is_large_binary(f.type)]


def append_rows(table_dir: str, schema: pa.Schema, rows: list[dict]) -> str:
    """Append one parquet file of ``rows`` to the log directory."""
    return _publish(table_dir, pa.Table.from_pylist(rows, schema=schema))


def append_table(table_dir: str, table: pa.Table) -> str:
    return _publish(table_dir, table)


def _publish(table_dir: str, table: pa.Table) -> str:
    """Write ``table`` as a new log file under a hidden name, then rename
    it into place, so no reader ever lists a partial file. A table with
    a payload column gets one row per row group, so a point read decodes
    one payload, not the whole file."""
    name = f"part-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.parquet"
    path = os.path.join(table_dir, name)
    tmp = os.path.join(table_dir, f".{name}.tmp")
    pq.write_table(table, tmp, row_group_size=1 if _payload_columns(table.schema) else None)
    os.replace(tmp, path)
    return path


def write_chunks_df(df, path: str, mode: str = "append") -> None:
    """Write a Spark DataFrame of ``chunk_id, ref_delta, data`` rows to
    ``path`` in the chunks-log layout :func:`append_rows` uses: one row
    per row group, so a point read decodes one payload. Spark's committer
    publishes each file by rename from ``_temporary``."""
    (
        df.select("chunk_id", "ref_delta", "data")
        .write.mode(mode)
        .option("parquet.block.row.count.limit", "1")
        .parquet(path)
    )


# --- The log-file catalog ----------------------------------------------------

_CATALOG_DIRS = 256  # directories kept cached; the least recently scanned goes first


class _LogFile:
    """Catalog entry of one immutable log file: its footer, its key
    columns (conformed to the table schema, payload columns left out) and
    a per-row presence flag for each payload column."""

    def __init__(self, path: str, schema: pa.Schema):
        pf = pq.ParquetFile(path)
        self.path = path
        self.meta = pf.metadata
        in_file = set(pf.schema_arrow.names)
        key_schema = _key_schema(schema)
        t = pf.read(columns=[n for n in key_schema.names if n in in_file], use_threads=False)
        n = self.meta.num_rows
        self.keys = pa.Table.from_arrays(
            [
                _conform(t.column(f.name), f.type) if f.name in in_file else pa.nulls(n, f.type)
                for f in key_schema
            ],
            schema=key_schema,
        ).combine_chunks()
        self.rg_starts = [0]
        for rg in range(self.meta.num_row_groups):
            self.rg_starts.append(self.rg_starts[-1] + self.meta.row_group(rg).num_rows)
        self.present = {p: _presence(pf, p) for p in _payload_columns(schema) if p in in_file}
        self._values: dict[str, list] = {}

    def values(self, col: str) -> list:
        v = self._values.get(col)
        if v is None:
            v = self._values[col] = self.keys.column(col).to_pylist()
        return v

    def take(self, rows, fields: list[pa.Field]) -> pa.Table:
        """The projected ``rows`` of this file. Payload columns are read
        from the row groups that hold present rows, and nothing else."""
        payload = [f.name for f in fields if f.name in self.present]
        wanted = sorted({self._row_group(i) for p in payload for i in rows if self.present[p][i]})
        columns = {}
        if wanted:
            t = pq.ParquetFile(self.path, metadata=self.meta).read_row_groups(
                wanted, columns=payload, use_threads=False
            )
            base, at = {}, 0
            for rg in wanted:
                base[rg] = at - self.rg_starts[rg]
                at += self.rg_starts[rg + 1] - self.rg_starts[rg]
            for p in payload:
                loc = [base[self._row_group(i)] + i if self.present[p][i] else None for i in rows]
                columns[p] = t.column(p).take(pa.array(loc, pa.int64()))
        key_fields = [f.name for f in fields if f.name in self.keys.column_names]
        if key_fields:
            keys = self.keys.select(key_fields)
            if len(rows) < keys.num_rows:
                keys = keys.take(list(rows))
            columns.update(zip(key_fields, keys.columns))
        return pa.Table.from_arrays(
            [
                _conform(columns[f.name], f.type) if f.name in columns else pa.nulls(len(rows), f.type)
                for f in fields
            ],
            schema=pa.schema(fields),
        )

    def _row_group(self, row: int) -> int:
        return bisect.bisect_right(self.rg_starts, row) - 1


def _key_schema(schema: pa.Schema) -> pa.Schema:
    payload = _payload_columns(schema)
    return pa.schema([f for f in schema if f.name not in payload])


def _conform(col, typ: pa.DataType):
    return col if col.type == typ else col.cast(typ)


def _presence(pf: pq.ParquetFile, name: str) -> list[bool]:
    """Per-row non-null flags of column ``name``, from each row group's
    null count where it decides, else from the column itself."""
    leaf = next(j for j in range(pf.metadata.num_columns) if pf.metadata.schema.column(j).path == name)
    out: list[bool] = []
    for rg in range(pf.metadata.num_row_groups):
        meta = pf.metadata.row_group(rg)
        stats = meta.column(leaf).statistics
        nulls = stats.null_count if stats is not None and stats.has_null_count else None
        if nulls == 0 or nulls == meta.num_rows:
            out.extend([nulls == 0] * meta.num_rows)
        else:
            out.extend(pf.read_row_group(rg, columns=[name]).column(0).is_valid().to_pylist())
    return out


def _list_log(table_dir: str):
    """``(stamp, entries)``: ``entries`` is ``[(name, (st_ino, st_size,
    st_mtime_ns))]`` of the directory's log files, sorted by name,
    skipping what pyarrow discovery skips. ``stamp`` is drawn before the
    directory is read, so a larger stamp is a later listing. An entry
    that is not a regular file raises ValueError."""
    stamp = next(_LISTINGS)
    try:
        it = os.scandir(table_dir)
    except FileNotFoundError:
        return stamp, []
    out = []
    with it:
        for e in it:
            if e.name.startswith((".", "_")):
                continue
            try:
                st = e.stat()
            except FileNotFoundError:  # unlinked since the readdir: no longer in the log
                continue
            if not stat.S_ISREG(st.st_mode):
                raise ValueError(f"log directory entry is not a regular file: {e.path}")
            out.append((e.name, (st.st_ino, st.st_size, st.st_mtime_ns)))
    out.sort()
    return stamp, out


_LISTINGS = itertools.count()


def _ident(table_dir: str, name: str):
    try:
        st = os.stat(os.path.join(table_dir, name))
    except FileNotFoundError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


class _LogDir:
    """The catalog of one log directory: its files as of the latest
    listing applied, and hash indexes ``value -> [(file, row)]`` on the
    key columns that key filters name, each built on first use and
    extended as files arrive."""

    def __init__(self, table_dir: str, schema: pa.Schema):
        self.table_dir = table_dir
        self.schema = schema
        self.stamp = -1
        self.listing: list = []
        self.files: dict[str, _LogFile] = {}
        self._index: dict[str, dict] = {}
        self._keys: pa.Table | None = None

    def stale(self, stamp: int, listing) -> list[str]:
        """Names in ``listing`` this catalog holds no current file for
        (none when the catalog already applied a later listing)."""
        if stamp <= self.stamp or listing == self.listing:
            return []
        known = dict(self.listing)
        return [n for n, ident in listing if known.get(n) != ident]

    def update(self, stamp: int, listing, built: dict[str, _LogFile]) -> None:
        """Bring the catalog to ``listing`` unless it already applied a
        later one: files that left (or were replaced under their name)
        are dropped, with the indexes that point into them. A listing
        older than the catalog's is not applied; its caller is served the
        newer state, which was listed after that caller's scan began."""
        if stamp <= self.stamp:
            return
        self.stamp = stamp
        if listing == self.listing:
            return
        listed = dict(listing)
        # A held file the listing lacks either left, or was published after
        # this listing's readdir (a later-stamped listing can read the
        # directory first): it stays while it is still there, unchanged.
        held = [(n, ident) for n, ident in self.listing if n not in listed and _ident(self.table_dir, n) == ident]
        if held:
            listing = sorted(listing + held)
        known = dict(self.listing)
        files = {}
        for n, ident in listing:
            if known.get(n) == ident:
                files[n] = self.files[n]
            elif n in built:
                files[n] = built[n]
            else:  # the catalog was evicted and made anew between our two lock holds
                files[n] = _LogFile(os.path.join(self.table_dir, n), self.schema)
        if all(files.get(n) is f for n, f in self.files.items()):
            added = [f for n, f in files.items() if n not in self.files]
            for col, idx in self._index.items():
                for f in added:
                    _index_file(idx, f, col)
        else:
            self._index = {}
        self.listing, self.files, self._keys = listing, files, None

    def match(self, keys: dict[str, frozenset]) -> list[tuple[_LogFile, list[int]]]:
        """Rows matching every ``column in values`` condition, per file in
        name order. Candidates come from the index of the most selective
        column; the other conditions are checked on those rows only."""
        for col in keys:
            if col not in self._index:
                idx = self._index[col] = {}
                for f in self.files.values():
                    _index_file(idx, f, col)
        drive = min(keys, key=lambda c: len(keys[c]) / max(1, len(self._index[c])))
        idx = self._index[drive]
        rest = [(c, vals) for c, vals in keys.items() if c != drive]
        hits: dict[_LogFile, list[int]] = {}
        for v in keys[drive]:
            for f, i in idx.get(v, ()):
                if all(f.values(c)[i] in vals for c, vals in rest):
                    hits.setdefault(f, []).append(i)
        return [(f, sorted(hits[f])) for f in sorted(hits, key=lambda f: f.path)]

    def key_table(self) -> pa.Table:
        """Every file's keys as one table, in name order. Rebuilt after
        the file set changes; only unfiltered scans of key columns use
        it, and their output grows with the rows anyway."""
        if self._keys is None:
            parts = [f.keys for f in self.files.values()]
            self._keys = pa.concat_tables(parts or [_key_schema(self.schema).empty_table()]).combine_chunks()
        return self._keys


def _index_file(idx: dict, f: _LogFile, col: str) -> None:
    for i, v in enumerate(f.values(col)):
        idx.setdefault(v, []).append((f, i))


class _Catalog:
    """Process-wide ``directory -> _LogDir``, behind one lock."""

    def __init__(self):
        self.clear()

    def clear(self) -> None:
        """Drop every directory's entry. A forked child calls this: it must
        not inherit a lock a parent thread held, nor an entry that thread
        was part way through updating."""
        self._lock = threading.Lock()
        self._dirs: OrderedDict[str, _LogDir] = OrderedDict()

    def _get(self, table_dir: str, schema: pa.Schema) -> _LogDir:
        d = self._dirs.get(table_dir)
        if d is None or not d.schema.equals(schema):
            d = self._dirs[table_dir] = _LogDir(table_dir, schema)
        self._dirs.move_to_end(table_dir)
        while len(self._dirs) > _CATALOG_DIRS:
            self._dirs.popitem(last=False)
        return d

    @contextmanager
    def open(self, table_dir: str, schema: pa.Schema, stamp: int, listing):
        """The directory's catalog brought up to ``listing`` (or a later
        one), locked for the caller's lookups. New files' keys are read
        outside the lock."""
        with self._lock:
            stale = self._get(table_dir, schema).stale(stamp, listing)
        built = {n: _LogFile(os.path.join(table_dir, n), schema) for n in stale}
        with self._lock:
            d = self._get(table_dir, schema)
            d.update(stamp, listing, built)
            yield d


_CATALOG = _Catalog()
os.register_at_fork(after_in_child=_CATALOG.clear)


def _as_set(v) -> frozenset:
    return frozenset(v) if isinstance(v, (list, tuple, set, frozenset)) else frozenset([v])


def scan(table_dir: str, schema: pa.Schema, filter=None, columns=None) -> pa.Table:
    """Read a log directory: the rows matching ``filter``, projected on
    ``columns`` (all of ``schema`` when None), in ``schema``'s types. An
    empty or missing directory gives an empty table.

    ``filter`` is None or a key filter: a mapping ``{column: value or
    list of values}`` over scalar key columns, the conjunction of
    equalities and memberships that point reads use, served from the
    catalog's hash indexes at a cost that grows with the directory's
    files and the matching rows, not with its rows. A filter on a payload
    column raises ValueError; any other kind of filter raises TypeError.
    There is no fallback reader: a directory entry that is not a regular
    file raises ValueError."""
    if filter is None:
        keys = None
    elif isinstance(filter, Mapping):
        keys = {c: _as_set(v) for c, v in filter.items()}
        bad = keys.keys() - set(_key_schema(schema).names)
        if bad:
            raise ValueError(f"scan filters on key columns only, not {sorted(bad)}")
    else:
        raise TypeError(f"scan takes None or a {{column: values}} key filter, not {type(filter).__name__}")
    fields = [schema.field(c) for c in (columns if columns is not None else schema.names)]
    return _read(table_dir, schema, keys, fields)


def read_payloads(chunks_dir: str, chunk_ids) -> dict[str, bytes]:
    """``{chunk_id: bytes}`` for each of ``chunk_ids`` that has a payload
    in the chunks log; an id without one is left out. Content addressing
    makes every payload row of an id hold the same bytes, so one row
    group is decoded per distinct id, however often the id was written;
    ref-delta rows are never decoded."""
    wanted = frozenset(chunk_ids)
    if not wanted:
        return {}
    fields = [CHUNKS_SCHEMA.field("chunk_id"), CHUNKS_SCHEMA.field("data")]
    t = _read(chunks_dir, CHUNKS_SCHEMA, {"chunk_id": wanted}, fields, _first_payloads)
    return dict(zip(t.column("chunk_id").to_pylist(), t.column("data").to_pylist()))


def _first_payloads(picks):
    """Of the matched chunks rows, the first (in file-name order) that
    holds a payload, per chunk id."""
    seen, out = set(), []
    for f, rows in picks:
        ids, present = f.values("chunk_id"), f.present.get("data")
        keep = []
        for i in rows:
            if present and present[i] and ids[i] not in seen:
                seen.add(ids[i])
                keep.append(i)
        if keep:
            out.append((f, keep))
    return out


def _read(table_dir, schema, keys, fields, pick=None) -> pa.Table:
    """The rows matching ``keys`` (every row when None), narrowed by
    ``pick`` over ``[(file, rows)]``, served from the catalog."""
    keys_only = all(f.name in _key_schema(schema).names for f in fields)
    for attempt in range(3):
        stamp, listing = _list_log(table_dir)
        if not listing:
            return pa.schema(fields).empty_table()
        try:
            with _CATALOG.open(table_dir, schema, stamp, listing) as d:
                if keys is not None:
                    picks = d.match(keys)
                elif keys_only:
                    return d.key_table().select([f.name for f in fields])
                else:
                    picks = [(f, range(f.keys.num_rows)) for f in d.files.values()]
            if pick is not None:
                picks = pick(picks)
            pieces = [f.take(rows, fields) for f, rows in picks if len(rows)]
        except FileNotFoundError:  # listed, then removed by compaction: list again
            if attempt == 2:
                raise
            continue
        if not pieces:
            return pa.schema(fields).empty_table()
        return pa.concat_tables(pieces) if len(pieces) > 1 else pieces[0]


@contextmanager
def dataset_lock(dataset_dir: str, timeout_s: float = 30.0):
    """Cross-process/thread mutual exclusion for read-modify-write sections.

    The COMMIT itself no longer depends on this lock: version ids are
    claimed by conditional put (``reserve_version_id`` before distributed
    writes, ``commit_version_row`` at the commit point), which serializes
    committers on any storage with an if-none-match primitive. The lock
    remains for sections that must read-then-rewrite shared state
    atomically — slab updates (read base chunks, merge, write), index CAS
    (compare current value, then append — the reference's check-and-put,
    hbase.clj:241-245), and maintenance rewrites — where it is the
    local-mode stand-in for a coordinator lease or single-writer
    maintenance scheduling.
    """
    lock_path = os.path.join(dataset_dir, "_lock")
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() > deadline:
                raise TimeoutError(f"could not acquire dataset lock at {lock_path}")
            time.sleep(0.005)
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        try:
            os.unlink(lock_path)
        except FileNotFoundError:
            pass


# --- Conditional-put backends ------------------------------------------------
#
# Every claim in the commit protocol (version-id reservation markers, the
# commit-point version row, the retention floor) reduces to FOUR object
# operations: put-if-absent, get, exists, delete (+ an unconditional put
# and a prefix list; the lease additionally uses the conditional-DELETE
# leg ``compare_and_delete`` — If-Match — and store-side ``mtime`` for
# holder-clock-independent staleness). ``LocalFSCasBackend`` implements them with
# ``O_CREAT|O_EXCL``/``link(2)`` — the single-box form. An object-store
# deployment registers a backend implementing the same four calls with
# ``If-None-Match: *`` conditional PUTs (S3/GCS/ABS all support this) or
# a DynamoDB-style conditional write; NOTHING above this seam changes —
# reserve_version_id / commit_version_row / retention_floor are the only
# functions that touch it. ``InMemoryCasBackend`` is the reference fake
# for that contract: the atomicity decision lives in the store (a locked
# key set), not the filesystem, exactly as it would on a bucket.


def _fenced_compare_unlink(path: str, matches) -> str:
    """Conditional DELETE on the local filesystem: unlink ``path`` iff
    ``matches(content)``. Returns ``"deleted"`` / ``"mismatch"`` /
    ``"missing"``.

    Atomicity: rival conditional deleters serialize on an exclusive
    ``flock`` of the inode currently at the name; after acquiring, the
    name is re-checked to still reference the locked inode (a rival may
    have deleted it — and a writer re-claimed the name — while we
    waited). While the lock is held and the name still points at our
    inode, the name cannot change underneath us: conditional creates
    (``O_EXCL``/``link``) fail while the name is present, and rival
    conditional deleters block on the lock. The fence therefore holds
    against every CONDITIONAL mutator; an unconditional ``put``/
    ``delete`` on the same path is outside it (the lease protocol never
    issues one). Single-box semantics — advisory locks; do not trust
    over NFS."""
    import fcntl

    while True:
        try:
            fd = os.open(path, os.O_RDONLY)
        except FileNotFoundError:
            return "missing"
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                if os.stat(path).st_ino != os.fstat(fd).st_ino:
                    continue  # displaced while waiting: examine the new claim
            except FileNotFoundError:
                return "missing"
            with open(fd, "rb", closefd=False) as f:
                data = f.read()
            if not matches(data):
                return "mismatch"
            os.unlink(path)
            return "deleted"
        finally:
            os.close(fd)


class LocalFSCasBackend:
    """Conditional puts via the local filesystem's atomic name claims."""

    def put_if_absent(self, path: str, data: bytes) -> bool:
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, path)  # EEXIST iff the name is already claimed
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def put(self, path: str, data: bytes) -> None:
        d = os.path.dirname(path)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def get(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def compare_and_delete(self, path: str, expected: bytes) -> bool:
        """Delete ``path`` iff its current content is exactly
        ``expected`` — the conditional-DELETE (``If-Match``) leg of the
        CAS contract, the seam the lease's steal/release paths fence
        on. True iff this call removed the object."""
        return _fenced_compare_unlink(path, lambda data: data == expected) == "deleted"

    def mtime(self, path: str) -> float | None:
        """Store-side last-modified time (epoch seconds), or None if
        absent. The filesystem's clock, not the writer's — lease
        staleness derives age from this so a holder with a skewed clock
        cannot look artificially old (or forever-fresh)."""
        try:
            return os.stat(path).st_mtime
        except FileNotFoundError:
            return None

    def list_names(self, dir_path: str, name_prefix: str) -> list[str]:
        try:
            return [f for f in os.listdir(dir_path) if f.startswith(name_prefix)]
        except FileNotFoundError:
            return []


class InMemoryCasBackend:
    """If-None-Match fake: conditional-put decisions happen in the store
    (a locked in-process key map), never via filesystem name races —
    the semantics of ``PUT If-None-Match: *`` against a bucket.

    ``write_through=True`` (default) mirrors winning objects onto the
    real filesystem so directory-scanning readers (pyarrow/Spark) see
    committed rows; the mirror happens only AFTER the store awarded the
    claim, so it is a plain write, never a race. In this mode the
    filesystem is also consulted on a store MISS: objects that predate
    ``register_cas_backend`` (committed version rows, the retention
    floor, reservation markers) are committed state, and a fake that
    cannot see them would let ``put_if_absent`` re-win an
    already-committed id and overwrite the real commit file. With
    ``write_through=False`` the store is the only truth (a blank
    bucket) — callers must register the backend before the dataset
    directory holds any objects.
    """

    def __init__(self, write_through: bool = True):
        import threading

        self._lock = threading.Lock()
        self._objects: dict[str, bytes] = {}
        self._mtimes: dict[str, float] = {}
        self._write_through = write_through
        self._fs = LocalFSCasBackend()

    def put_if_absent(self, path: str, data: bytes) -> bool:
        import time

        with self._lock:
            if path in self._objects:
                return False
            if self._write_through and self._fs.exists(path):
                # pre-registration object: an existing claim, not ours to re-win
                return False
            self._objects[path] = data
            self._mtimes[path] = time.time()
        if self._write_through:
            self._fs.put(path, data)
        return True

    def put(self, path: str, data: bytes) -> None:
        import time

        with self._lock:
            self._objects[path] = data
            self._mtimes[path] = time.time()
        if self._write_through:
            self._fs.put(path, data)

    def get(self, path: str) -> bytes | None:
        with self._lock:
            if path in self._objects:
                return self._objects[path]
        return self._fs.get(path) if self._write_through else None

    def exists(self, path: str) -> bool:
        with self._lock:
            if path in self._objects:
                return True
        return self._write_through and self._fs.exists(path)

    def delete(self, path: str) -> None:
        with self._lock:
            self._objects.pop(path, None)
            self._mtimes.pop(path, None)
        if self._write_through:
            self._fs.delete(path)

    def compare_and_delete(self, path: str, expected: bytes) -> bool:
        """Conditional DELETE: the compare and the removal happen under
        the store's lock in one step — the If-Match semantics a bucket
        serves. True iff this call removed the object."""
        with self._lock:
            if path in self._objects:
                if self._objects[path] != expected:
                    return False
                del self._objects[path]
                self._mtimes.pop(path, None)
                hit = True
            else:
                hit = False
        if hit:
            if self._write_through:
                self._fs.delete(path)  # mirror of a claim the store just settled
            return True
        # store miss: a pre-registration object may live on the mirror
        return self._write_through and self._fs.compare_and_delete(path, expected)

    def mtime(self, path: str) -> float | None:
        """Store-side last-modified time (the store's clock, not the
        writer's); falls back to the mirror for pre-registration
        objects."""
        with self._lock:
            if path in self._mtimes:
                return self._mtimes[path]
        return self._fs.mtime(path) if self._write_through else None

    def list_names(self, dir_path: str, name_prefix: str) -> list[str]:
        want = os.path.join(dir_path, name_prefix)
        with self._lock:
            names = {os.path.basename(p) for p in self._objects if p.startswith(want)}
        if self._write_through:
            names.update(self._fs.list_names(dir_path, name_prefix))
        return sorted(names)


_DEFAULT_CAS_BACKEND = LocalFSCasBackend()
_CAS_BACKENDS: list[tuple[str, object]] = []


def register_cas_backend(path_prefix: str, backend) -> None:
    """Route conditional-put operations for paths under ``path_prefix``
    through ``backend`` (longest prefix wins; default local FS)."""
    _CAS_BACKENDS.append((path_prefix, backend))
    _CAS_BACKENDS.sort(key=lambda kv: -len(kv[0]))


def unregister_cas_backend(path_prefix: str) -> None:
    _CAS_BACKENDS[:] = [kv for kv in _CAS_BACKENDS if kv[0] != path_prefix]


def cas_backend_for(path: str):
    for prefix, backend in _CAS_BACKENDS:
        if path.startswith(prefix):
            return backend
    return _DEFAULT_CAS_BACKEND


def commit_version_row(versions_dir: str, version_id: int, rows: list[dict]) -> bool:
    """Conditional append of THE version row — the commit point, made an
    atomic claim of ``version_id``.

    The serialized row is conditionally put onto ``commit-{id}.parquet``
    through the dataset's CAS backend (local FS: hard-link with EEXIST;
    object store: ``If-None-Match: *``), so exactly one committer can
    ever own a version id. Returns False on conflict; the caller
    re-reads the latest committed state, re-merges its metadata, and
    retries with a fresh id (optimistic commit), or raises if the id was
    reserved (a reserved id can only conflict through a protocol
    violation).
    """
    floor = retention_floor(versions_dir)
    if floor is not None and int(version_id) < floor:
        # a replay of a pruned id must NOT resurrect it (retention wrote
        # the floor marker when it dropped the id's row)
        return False
    table = pa.Table.from_pylist(rows, schema=VERSIONS_SCHEMA)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    final = os.path.join(versions_dir, f"commit-{int(version_id):020d}.parquet")
    return cas_backend_for(versions_dir).put_if_absent(final, sink.getvalue().to_pybytes())


def retention_floor(versions_dir: str) -> int | None:
    """Oldest version id retention has NOT pruned (None = never pruned).
    Written by maintenance.prune_versions; consulted by the commit and
    reservation claims so pruned ids can never be re-claimed."""
    data = cas_backend_for(versions_dir).get(os.path.join(versions_dir, ".pruned-floor"))
    if data is None:
        return None
    try:
        return int(data.decode().strip())
    except ValueError:
        return None


def set_retention_floor(versions_dir: str, floor: int) -> None:
    cas_backend_for(versions_dir).put(
        os.path.join(versions_dir, ".pruned-floor"), str(int(floor)).encode()
    )


def reservation_held(versions_dir: str, version_id: int) -> bool:
    """True while the ``.reserved-<id>`` marker exists. Committers of
    reserved ids check this immediately before the version-row claim: a
    missing marker means the failed-commit sweeper decided the job was
    dead and reclaimed its executor-written rows — committing would
    publish a version whose data is gone, so the caller must abort
    loudly instead."""
    return cas_backend_for(versions_dir).exists(
        os.path.join(versions_dir, f".reserved-{int(version_id)}")
    )


def committed_version_row(versions_dir: str, version_id: int):
    """The committed row for ``version_id`` if present (for idempotent
    replay detection), else None."""
    path = os.path.join(versions_dir, f"commit-{int(version_id):020d}.parquet")
    data = cas_backend_for(versions_dir).get(path)
    if data is None:
        return None
    return pq.read_table(pa.BufferReader(data)).to_pylist()[0]


def reserve_version_id(versions_dir: str, candidate: int) -> int:
    """Atomically claim a version id >= ``candidate`` for an in-flight commit.

    Creates an exclusive ``.reserved-<id>`` marker in the versions
    directory (dot-prefixed: ignored by both pyarrow dataset discovery and
    Spark's parquet reader). ``O_CREAT|O_EXCL`` is the local-mode form of
    an object store's if-none-match conditional put — the primitive a
    cluster deployment swaps in — so two concurrent reservers can never
    obtain the same id; the loser bumps to the next id and retries.

    Reserving up-front (rather than allocating inside the commit lock, as
    driver-side writes do) is what lets executors bake the version id into
    distributed index/chunk appends without holding any lock across the
    job. A crashed job leaves only the marker plus rows tagged with a
    version that never reaches the versions table — invisible to every
    read, reclaimed by ``maintenance.sweep_failed_commits``.
    """
    v = int(candidate)
    floor = retention_floor(versions_dir)
    if floor is not None:
        v = max(v, floor)
    backend = cas_backend_for(versions_dir)
    while True:
        marker = os.path.join(versions_dir, f".reserved-{v}")
        # payload = creation time, so sweep age checks go through the
        # backend's get() instead of os.stat on a local path (a pure
        # object-store backend has no local file to stat)
        if not backend.put_if_absent(marker, repr(time.time()).encode("ascii")):
            v += 1
            continue
        # The marker is the PRIMARY claim, but a commit racing on this id
        # may have put its commit object between our candidate read and
        # the marker claim (the two names are separate atomic
        # primitives). Since every committer now takes a marker BEFORE
        # the commit put (engine.write_version), seeing a commit object
        # here means the id is gone for good: release and bump.
        if backend.exists(os.path.join(versions_dir, f"commit-{v:020d}.parquet")):
            release_version_reservation(versions_dir, v)
            v += 1
            continue
        return v


def reservation_created_at(versions_dir: str, version_id: int) -> float | None:
    """Creation time (epoch seconds) of a ``.reserved-<id>`` marker, read
    through the CAS backend so it works on pure object-store backends.

    Returns None when the marker no longer exists. A legacy marker with
    an empty/unparseable payload falls back to ``os.stat`` mtime; if no
    local file exists either, returns ``+inf`` ("just created") so the
    sweeper PROTECTS unknown-age reservations instead of reclaiming rows
    a live job may still reference.
    """
    marker = os.path.join(versions_dir, f".reserved-{int(version_id)}")
    data = cas_backend_for(versions_dir).get(marker)
    if data is None:
        return None
    try:
        return float(data)
    except ValueError:
        pass
    try:
        return os.stat(marker).st_mtime
    except OSError:
        return float("inf")


def release_version_reservation(versions_dir: str, version_id: int) -> None:
    cas_backend_for(versions_dir).delete(
        os.path.join(versions_dir, f".reserved-{int(version_id)}")
    )


class VersionSnapshot:
    """The versions log as one scan saw it, ids ascending. A read or a
    commit resolves everything it needs about versions against one
    snapshot: the latest id, the metadata at or before a bound, and the
    visibility set."""

    def __init__(self, table: pa.Table):
        self.table = table.take(pc.sort_indices(table, [("version_id", "ascending")]))
        self.ids: list[int] = self.table.column("version_id").to_pylist()

    @property
    def latest(self) -> int | None:
        return self.ids[-1] if self.ids else None

    def committed_le(self, bound: int) -> list[int]:
        """Committed version ids <= bound — the visibility set for reads.

        A crashed commit leaves chunk/index rows with a version id that
        never reached the versions table (§3.2 of SURVEY.md: the version
        append is the commit point); restricting index resolution to this
        set is what makes that garbage invisible."""
        return self.ids[: bisect.bisect_right(self.ids, int(bound))]

    def at_or_before(self, bound: int) -> int | None:
        """The newest committed id <= bound, or None."""
        i = bisect.bisect_right(self.ids, int(bound))
        return self.ids[i - 1] if i else None

    def metadata_json(self, version_id: int) -> str | None:
        """The metadata JSON committed at exactly ``version_id``, or None."""
        i = bisect.bisect_left(self.ids, int(version_id))
        if i == len(self.ids) or self.ids[i] != int(version_id):
            return None
        return self.table.column("metadata")[i].as_py()


def read_versions(versions_dir: str) -> VersionSnapshot:
    """One scan of the versions log."""
    return VersionSnapshot(scan(versions_dir, VERSIONS_SCHEMA))


def resolve_chunk_map(
    indices_dir: str, var_name: str, committed, coord_ids=None, tombstones: bool = False
) -> dict[str, str | None]:
    """Find-index (hbase.clj:184-198) in bulk: ``{coord_id: chunk_id}``
    of ``var_name`` over the versions in ``committed``, with one
    key-filter scan of the indices log. Per coordinate the record with
    the max ``(version_id, seq)`` wins: the newest version, and within it
    the last write. A winning tombstone (NULL ``chunk_id``) drops the
    coordinate, or maps it to None when ``tombstones`` is set.

    ``committed`` is the visibility set, ordinarily
    ``VersionSnapshot.committed_le(bound)``: records of a version that
    never committed (§3.2) take no part. ``coord_ids`` narrows the scan
    to those coordinates, the analog of the reference's bounded
    start/stop-row scan."""
    if not committed:
        return {}
    flt = {"var_name": var_name, "version_id": list(committed)}
    if coord_ids is not None:
        flt["coord_id"] = list(coord_ids)
    t = scan(indices_dir, INDICES_SCHEMA, filter=flt, columns=["coord_id", "version_id", "seq", "chunk_id"])
    best: dict[str, tuple] = {}
    for key, v, s, c in zip(*(col.to_pylist() for col in t.columns)):
        if key not in best or (v, s) > best[key][0]:
            best[key] = ((v, s), c)
    return {key: c for key, (_, c) in best.items() if tombstones or c is not None}


def reserved_version_ids(versions_dir: str) -> list[int]:
    """Ids of in-flight (reserved, uncommitted) versions."""
    out = []
    for f in cas_backend_for(versions_dir).list_names(versions_dir, ".reserved-"):
        try:
            out.append(int(f[len(".reserved-") :]))
        except ValueError:
            continue
    return out


_SEQ_STATE = {"last": 0}


def next_seq() -> int:
    """Strictly monotonic sequence number (process-local)."""
    now = time.time_ns()
    if now <= _SEQ_STATE["last"]:
        now = _SEQ_STATE["last"] + 1
    _SEQ_STATE["last"] = now
    return now
