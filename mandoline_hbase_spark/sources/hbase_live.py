"""Live HBase protocol layer over an injectable client — the last §2 gap.

The reference IS an HBase client: every operation in
``hbase.clj:1-373`` is an RPC against three tables per dataset. This
module re-expresses that surface 1:1 — schema/connection/chunk-store/
index, the same table names, row keys, qualifiers and CAS semantics —
against a CLIENT injected as a constructor argument (the
``objectstore.FakeS3Client`` recipe applied to HBase): any object
speaking the small protocol below works, so a real deployment backs it
with an HBase Thrift2/REST client, and the layer is testable
hermetically with :class:`FakeHBaseClient` (file-backed, so
cross-process callers exercise real atomicity).

Client protocol (happybase-flavored; ``qualifier`` strings are the
``:D`` family's qualifiers — the single column family of
hbase.clj:93)::

    client.tables() -> list[str]
    client.create_table(name) / client.delete_table(name)  # delete idempotent
    t = client.table(name)
    t.put(row: str, {qualifier: bytes})           # row-atomic
    t.row(row: str, columns=None) -> dict[qualifier, bytes]  ({} when absent;
                                                  # columns projects — ref-count
                                                  # reads must not fetch payloads)
    t.scan(row_start: str|None, row_stop: str|None) -> [(row, {qual: bytes})]
    t.delete(row: str)
    t.check_and_put(row, qualifier, expected: bytes|None, value: bytes,
                    extra: dict|None = None) -> bool

``check_and_put`` is HBase's checkAndPut(row, family, qualifier,
expected, put): the store answers True to exactly one concurrent
writer whose expectation held (``expected=None`` = column must be
absent) — the CAS the reference's ``write-index`` rides
(hbase.clj:241-248). ``extra`` carries additional cells of the same
Put, applied atomically with the checked one (a checkAndPut's Put can
span columns — the reference's write-index puts ``:k`` and ``:v``
together, hbase.clj:237).

Layout (hbase.clj:21-35, byte-compatible with
``sources/hbase_bridge.to_kv``):

- ``<reversed-root>.<dataset>.chunks``:   rowkey = chunk-id, ``v`` =
  payload bytes, ``r`` = ref count (ASCII decimal here; the Java
  client stores an 8-byte long — a fake-store representation detail,
  not a protocol one).
- ``<reversed-root>.<dataset>.indices``:  rowkey =
  ``"<var>|<c0/c1/...>|<version>"`` (coordinate->key,
  hbase.clj:181-182), ``v`` = chunk-id, ``k`` = the rowkey (the
  reference mirrors it into a qualifier, hbase.clj:237).
- ``<reversed-root>.<dataset>.versions``: rowkey = version string,
  ``t`` = version id string, ``v`` = metadata JSON.

Documented fidelity deltas (each one FIXES a reference race/quirk,
same policy as the parquet engine):

- ``update_chunk_refs`` is a check-and-put retry loop (atomic), not
  the reference's unfenced get-then-put (hbase.clj:156-172) whose
  concurrent updates lose increments.
- ``find-index``'s scan filter compares version ids LEXICOGRAPHICALLY
  in the reference (``BinaryComparator`` over the string rowkey,
  hbase.clj:191) — correct only for fixed-width ids. Here the bound
  is applied numerically after parsing, which agrees with the
  reference on its epoch-millis ids and is correct on all ids.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from mandoline_hbase_spark import codec
from mandoline_hbase_spark.engine import root_table_prefix
from mandoline_hbase_spark.errors import (
    ChunkNotFoundError,
    ChunkRefNotFoundError,
    DatasetExistsError,
    DatasetNotFoundError,
    InvalidArgumentError,
    VersionNotFoundError,
)

__all__ = [
    "FakeHBaseClient",
    "HBaseChunkStore",
    "HBaseIndex",
    "HBaseConnection",
    "HBaseSchema",
    "mk_hbase_schema",
    "load_kv_into_hbase",
    "scan_hbase_kv",
]


def _table_name(*parts: str) -> str:
    """``get-table-name``: dot-joined components (hbase.clj:57-68)."""
    return ".".join(parts)


def _require_hash(hash_: str) -> None:
    if not isinstance(hash_, str) or not hash_:
        raise InvalidArgumentError("hash must be a non-empty string")


class HBaseChunkStore:
    """``HBaseChunkStore`` (hbase.clj:124-172) over the client."""

    def __init__(self, dataset_table: str, client):
        self._chunks = client.table(_table_name(dataset_table, "chunks"))

    def read_chunk(self, hash_: str) -> bytes:
        """hbase.clj:124-133 — GET, raise when absent."""
        _require_hash(hash_)
        row = self._chunks.row(hash_)
        if "v" not in row:
            raise ChunkNotFoundError(f"No chunk was found for hash {hash_}")
        return row["v"]

    def chunk_refs(self, hash_: str) -> int:
        """hbase.clj:105-120,135-136 — current ref count, raise when absent."""
        _require_hash(hash_)
        # project to 'r': a full-row fetch would move the chunk PAYLOAD
        # over the wire just to read an integer (the hot GC/commit path)
        row = self._chunks.row(hash_, columns=["r"])
        if "r" not in row:
            raise ChunkRefNotFoundError(
                f"No reference count was found for hash {hash_}"
            )
        return int(row["r"])

    def write_chunk(self, hash_: str, ref_count: int, data: bytes) -> None:
        """hbase.clj:138-154 — idempotent content-addressed PUT with the
        reference's exact argument validation."""
        _require_hash(hash_)
        if isinstance(ref_count, bool) or not isinstance(ref_count, int):
            raise InvalidArgumentError("ref-count must be an integer")
        if not isinstance(data, (bytes, bytearray, memoryview)):
            raise InvalidArgumentError("bytes must be a bytes-like value")
        data = bytes(data)
        if len(data) == 0:
            raise InvalidArgumentError("Chunk has no remaining bytes")
        self._chunks.put(hash_, {"v": data, "r": str(int(ref_count)).encode()})

    def update_chunk_refs(self, hash_: str, delta: int) -> None:
        """hbase.clj:156-172 semantics, made ATOMIC: the reference's
        get-then-put loses concurrent increments; here the put is a
        check-and-put against the observed count, retried on conflict."""
        _require_hash(hash_)
        if isinstance(delta, bool) or not isinstance(delta, int):
            raise InvalidArgumentError("delta must be an integer")
        while True:
            row = self._chunks.row(hash_, columns=["r"])  # never the payload
            if "r" not in row:
                raise ChunkRefNotFoundError(f"No chunk was found for hash {hash_}")
            new = str(int(row["r"]) + delta).encode()
            if self._chunks.check_and_put(hash_, "r", row["r"], new):
                return


class HBaseIndex:
    """``HBaseIndex`` (hbase.clj:204-251) over the client."""

    def __init__(self, dataset_table: str, client, var_name: str, metadata: dict):
        self._indices = client.table(_table_name(dataset_table, "indices"))
        self.var_name = var_name
        self.metadata = metadata or {}

    def target(self) -> dict:
        """hbase.clj:204-206."""
        return {"metadata": self.metadata, "var-name": self.var_name}

    def _key(self, coordinate, version_id) -> str:
        """coordinate->key (hbase.clj:181-182)."""
        return f"{self.var_name}|{codec.coordinate_to_id(tuple(coordinate))}|{version_id}"

    def chunk_at(self, coordinate, version_id: int | None = None) -> str | None:
        if version_id is not None:
            # 2-arity (hbase.clj:217-229): EXACT version, no fallback —
            # including the reference's TODO behavior (None on a miss)
            row = self._indices.row(self._key(coordinate, version_id))
            v = row.get("v")
            return v.decode() if v is not None else None
        # 1-arity (hbase.clj:209-214 via find-index:184-198): newest
        # entry <= the index's own bound version
        bound = self.metadata.get("version-id")
        prefix = f"{self.var_name}|{codec.coordinate_to_id(tuple(coordinate))}|"
        by_version: dict[int, str] = {}
        for rowkey, cols in self._indices.scan(prefix, prefix + "a"):
            v = cols.get("v")
            if v is None:
                continue
            ver = int(rowkey.rsplit("|", 1)[1])
            if bound is None or ver <= int(bound):
                by_version[ver] = v.decode()
        if not by_version:
            return None
        if bound is not None and int(bound) in by_version:
            return by_version[int(bound)]
        return by_version[max(by_version)]

    def write_index(self, coordinate, old_hash: str | None, new_hash: str) -> bool:
        """The CAS commit (hbase.clj:231-248): True iff the stored hash
        still equals ``old_hash`` (None = first write) and the put won."""
        if self.metadata.get("version-id", "") == "":
            return False  # the reference only writes under a bound version
        key = self._key(coordinate, self.metadata["version-id"])
        expected = old_hash.encode() if old_hash is not None else None
        # ONE checkAndPut whose Put carries both cells, exactly the
        # reference's shape (hbase.clj:237-246): the :k mirror can never
        # be separated from the committed :v by a crash in between
        return bool(
            self._indices.check_and_put(
                key, "v", expected, new_hash.encode(), extra={"k": key.encode()}
            )
        )

    def flush_index(self) -> None:
        """hbase.clj:250-251 — no-op."""


class HBaseConnection:
    """``HBaseConnection`` (hbase.clj:254-297) over the client."""

    def __init__(self, dataset_table: str, client):
        self._table = dataset_table
        self._client = client
        self._versions = client.table(_table_name(dataset_table, "versions"))

    def index(self, var_name: str, metadata: dict | None = None, options=None) -> HBaseIndex:
        return HBaseIndex(self._table, self._client, var_name, metadata or {})

    def write_version(self, metadata: dict) -> None:
        """hbase.clj:263-268 — the commit point: one PUT of (t, v)."""
        vid = metadata["version-id"]
        self._versions.put(
            str(vid),
            {"t": str(vid).encode(), "v": json.dumps(metadata, sort_keys=True).encode()},
        )

    def chunk_store(self, options=None) -> HBaseChunkStore:
        return HBaseChunkStore(self._table, self._client)

    def get_stats(self) -> dict:
        """hbase.clj:273-276 — per-table liveness probe (raises when a
        table is missing, which is what ``connect`` relies on). Returns
        table descriptors (names), NOT row counts: the reference reads
        descriptors too, and a count would scan the chunks table —
        unbounded work for a liveness check."""
        existing = set(self._client.tables())
        out = {}
        for role, key in (("versions", "metadata-size"), ("indices", "index-size"), ("chunks", "data-size")):
            name = _table_name(self._table, role)
            if name not in existing:
                raise DatasetNotFoundError(f"table {name} does not exist")
            out[key] = name
        return out

    def metadata(self, version) -> dict:
        """hbase.clj:70-80,278-281 — point get + parse."""
        row = self._versions.row(str(version))
        if "v" not in row:
            raise VersionNotFoundError(f"no version {version} in {self._table}")
        return json.loads(row["v"].decode())

    def versions(self, limit: int | None = None, metadata: bool = False) -> list[dict]:
        """hbase.clj:283-297 — newest-first listing with projection."""
        rows = self._versions.scan(None, None)
        entries = []
        for rowkey, cols in rows:
            t = cols.get("t")
            if t is None:
                continue
            e = {"timestamp": int(t), "version": t.decode()}
            if metadata and "v" in cols:
                e["metadata"] = json.loads(cols["v"].decode())
            entries.append(e)
        entries.sort(key=lambda e: int(e["version"]), reverse=True)
        return entries[:limit] if limit is not None else entries


class HBaseSchema:
    """``HBaseSchema`` (hbase.clj:300-344) over the client."""

    def __init__(self, root_table: str, client):
        self.root_table = root_table
        self._client = client

    def create_dataset(self, name: str) -> None:
        """hbase.clj:302-311 — three tables, name validation."""
        if not isinstance(name, str) or not name.strip():
            raise InvalidArgumentError("dataset name must be a non-empty string")
        root = _table_name(self.root_table, name)
        existing = set(self._client.tables())
        tables = [_table_name(root, role) for role in ("chunks", "indices", "versions")]
        if any(t in existing for t in tables):
            raise DatasetExistsError(f"dataset {name} already exists under {self.root_table}")
        for t in tables:
            self._client.create_table(t)

    def destroy_dataset(self, name: str) -> None:
        """hbase.clj:313-316 — idempotent (TableNotFound swallowed)."""
        for role in ("versions", "indices", "chunks"):
            self._client.delete_table(_table_name(self.root_table, name, role))

    def list_datasets(self) -> list[str]:
        """hbase.clj:318-330 — prefix filter + first component + distinct."""
        prefix = self.root_table + "."
        seen: list[str] = []
        for t in self._client.tables():
            if not t.startswith(prefix):
                continue
            ds = re.split(r"[.]+", t[len(prefix):])[0]
            if ds not in seen:
                seen.append(ds)
        return seen

    def connect(self, dataset_name: str) -> HBaseConnection:
        """hbase.clj:332-344 — existence probe via get-stats."""
        conn = HBaseConnection(_table_name(self.root_table, dataset_name), self._client)
        try:
            conn.get_stats()
        except DatasetNotFoundError as e:
            raise DatasetNotFoundError(
                f'Failed to connect to dataset "{dataset_name}" with '
                f'root-table "{self.root_table}"'
            ) from e
        return conn


def mk_hbase_schema(store_spec: dict, client) -> HBaseSchema:
    """``mk-schema`` (hbase.clj:364-373): store-spec carries ``root``
    and optional ``db-version``; the client is injected rather than
    built from ``client-opts`` (hermetic fake or a real Thrift2/REST
    client both satisfy the protocol)."""
    return HBaseSchema(
        root_table_prefix(store_spec["root"], store_spec.get("db-version")),
        client,
    )


# --------------------------------------------------------------------------
# Hermetic client fake (cross-process; the FakeS3Client recipe)
# --------------------------------------------------------------------------


class _FakeHBaseTable:
    def __init__(self, dir_path: str):
        self._dir = dir_path

    def _cell(self, row: str, qualifier: str) -> str:
        # rowkeys carry "|" and "/" (coordinate ids) — hex-encode for
        # the filesystem; qualifiers are single identifiers
        return os.path.join(self._dir, f"{row.encode().hex()}__{qualifier}")

    def _locked(self):
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def hold():
            fd = os.open(os.path.join(self._dir, ".lock"), os.O_CREAT | os.O_RDWR, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                os.close(fd)

        return hold()

    def _write_cells(self, row: str, data: dict) -> None:
        for qualifier, value in data.items():
            tmp = os.path.join(self._dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "wb") as f:
                f.write(value)
            os.replace(tmp, self._cell(row, qualifier))

    def put(self, row: str, data: dict) -> None:
        # ROW-ATOMIC, like a real HBase Put: the row lock (flock) covers
        # every cell of the put, and readers take the same lock — a
        # multi-cell put can never be observed half-applied (write_chunk's
        # v without its r)
        with self._locked():
            self._write_cells(row, data)

    def row(self, row: str, columns=None) -> dict:
        out = {}
        prefix = f"{row.encode().hex()}__"
        try:
            lock = self._locked()
            lock.__enter__()
        except FileNotFoundError:
            return out  # missing table dir reads as empty
        try:
            names = os.listdir(self._dir)
            for n in names:
                if not n.startswith(prefix):
                    continue
                qualifier = n[len(prefix):]
                if columns is not None and qualifier not in columns:
                    continue  # projection: never move unrequested cells
                with open(os.path.join(self._dir, n), "rb") as f:
                    out[qualifier] = f.read()
        finally:
            lock.__exit__(None, None, None)
        return out

    def scan(self, row_start: str | None, row_stop: str | None) -> list:
        rows: dict[str, dict] = {}
        try:
            lock = self._locked()
            lock.__enter__()
        except FileNotFoundError:
            return []  # missing table dir scans as empty
        try:
            return self._scan_locked(row_start, row_stop, rows)
        finally:
            lock.__exit__(None, None, None)

    def _scan_locked(self, row_start, row_stop, rows) -> list:
        try:
            names = os.listdir(self._dir)
        except FileNotFoundError:
            return []
        for n in names:
            if n.startswith(".") or "__" not in n:
                continue
            hexkey, qualifier = n.split("__", 1)
            key = bytes.fromhex(hexkey).decode()
            if row_start is not None and key < row_start:
                continue
            if row_stop is not None and key >= row_stop:
                continue
            with open(os.path.join(self._dir, n), "rb") as f:
                rows.setdefault(key, {})[qualifier] = f.read()
        return sorted(rows.items())

    def delete(self, row: str) -> None:
        prefix = f"{row.encode().hex()}__"
        with self._locked():  # row-atomic, like put
            for n in os.listdir(self._dir):
                if n.startswith(prefix):
                    try:
                        os.unlink(os.path.join(self._dir, n))
                    except FileNotFoundError:
                        pass

    def check_and_put(self, row, qualifier, expected, value, extra=None) -> bool:
        """checkAndPut semantics: the compare and the put — including
        any ``extra`` cells of the same Put — are one atomic store
        operation (flock-serialized in the fake, exactly the role
        HBase's row lock plays)."""
        with self._locked():
            path = self._cell(row, qualifier)
            try:
                with open(path, "rb") as f:
                    current = f.read()
            except FileNotFoundError:
                current = None
            if current != expected:
                return False
            self._write_cells(row, {qualifier: value, **(extra or {})})
            return True


class FakeHBaseClient:
    """File-backed hermetic HBase client: state lives under
    ``store_dir`` (one directory per table, one file per cell), so
    concurrent callers in DIFFERENT OS processes exercise the full
    protocol with real atomicity — ``check_and_put`` serializes on an
    exclusive flock (playing the role of HBase's row lock), puts are
    write-tmp + rename (readers never see torn cells). Construct one
    per process; a picklable ``lambda: FakeHBaseClient(dir)`` is the
    ``client_factory`` the Spark bulk paths take."""

    def __init__(self, store_dir: str):
        self._dir = os.path.abspath(store_dir)
        os.makedirs(self._dir, exist_ok=True)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self._dir, name)

    def tables(self) -> list[str]:
        return sorted(
            e.name for e in os.scandir(self._dir) if e.is_dir()
        )

    def create_table(self, name: str) -> None:
        d = self._table_dir(name)
        if os.path.isdir(d):
            raise DatasetExistsError(f"table {name} already exists")
        os.makedirs(d)

    def delete_table(self, name: str) -> None:
        import shutil

        shutil.rmtree(self._table_dir(name), ignore_errors=True)

    def table(self, name: str) -> _FakeHBaseTable:
        return _FakeHBaseTable(self._table_dir(name))


# --------------------------------------------------------------------------
# Spark bulk paths: executors talk to the store directly
# --------------------------------------------------------------------------

_LONG_QUALIFIERS = {"r", "t"}  # ref count / version millis


def _ship_factory(client_factory) -> bytes:
    """Serialize a client factory BY VALUE — including this module's
    classes (the hermetic fake) — so executor tasks can unpickle it
    without an importable ``mandoline_hbase_spark`` on the worker
    (neutral-cwd harnesses; the same concern datasource.py's
    ``_package`` handles for its runner processes, solved at
    the serialization layer here because task unpickling happens before
    any function body runs). On a real cluster the package ships via
    --py-files/pip and by-reference would also work; a factory closing
    over OTHER third-party client modules still needs those installed
    on the workers."""
    import sys

    from pyspark import cloudpickle

    from mandoline_hbase_spark import errors as _errors

    # errors too: the fake's methods raise this package's exception
    # types, so a by-value class needs by-value exceptions
    mods = (sys.modules[__name__], _errors)
    try:
        for m in mods:
            cloudpickle.register_pickle_by_value(m)
        return cloudpickle.dumps(client_factory)
    finally:
        for m in mods:
            cloudpickle.unregister_pickle_by_value(m)


def load_kv_into_hbase(kv_df, client_factory) -> None:
    """Bulk-load ``hbase_bridge.to_kv`` rows into a live store: one
    client per partition, puts from the EXECUTORS — no chunk byte ever
    crosses the driver, so a 100 TB export is a distributed write job
    (the HFile-generation shape of the reference's bulk path). Long
    values (ref counts, version millis) are encoded as ASCII decimals,
    the layer's storage form."""

    # tables must exist before puts (HBase semantics); the distinct
    # table list is 3 names per dataset — driver-side by design
    admin = client_factory()
    existing = set(admin.tables())
    for r in kv_df.select("table").distinct().collect():
        if r["table"] not in existing:
            admin.create_table(r["table"])

    payload = _ship_factory(client_factory)

    def _sink(rows):
        from pyspark import cloudpickle

        client = cloudpickle.loads(payload)()
        tables = {}
        for r in rows:
            t = tables.get(r["table"])
            if t is None:
                t = tables[r["table"]] = client.table(r["table"])
            value = (
                r["value_bytes"]
                if r["value_bytes"] is not None
                else str(int(r["value_long"])).encode()
            )
            t.put(r["rowkey"], {r["qualifier"]: bytes(value)})

    kv_df.foreachPartition(_sink)


_SCAN_SPLITS = list("0123456789abcdefghijklmnopqrstuvwxyz") + ["|"]


def scan_hbase_kv(spark, client_factory, table_names: list[str]):
    """Distributed scan back into the bridge's KV frame: the key space
    of each table splits into leading-character ranges, one scan task
    per (table, range) — a region-server-shaped parallel read. Output
    unions with ``hbase_bridge.from_kv`` for a full import."""
    bounds = [None] + _SCAN_SPLITS
    tasks = []
    for table in table_names:
        for i, start in enumerate(bounds):
            stop = bounds[i + 1] if i + 1 < len(bounds) else None
            tasks.append((table, start, stop))

    payload = _ship_factory(client_factory)

    def _scan(part):
        from pyspark import cloudpickle

        client = cloudpickle.loads(payload)()
        for table, start, stop in part:
            for rowkey, cols in client.table(table).scan(start, stop):
                for qualifier, value in cols.items():
                    if qualifier in _LONG_QUALIFIERS:
                        yield (table, rowkey, qualifier, None, int(value))
                    else:
                        yield (table, rowkey, qualifier, bytes(value), None)

    rdd = spark.sparkContext.parallelize(tasks, min(len(tasks), 64)).mapPartitions(_scan)
    return spark.createDataFrame(
        rdd,
        "table string, rowkey string, qualifier string, "
        "value_bytes binary, value_long long",
    )
