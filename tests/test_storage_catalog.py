"""The storage catalog behind ``storage.scan`` and
``storage.read_payloads``: point reads decode only the row group that
holds the key (one per chunk id), chunks written by Spark or by executor
puts keep that layout and appear only whole, other processes' appends
show up on the next call, swapped or replaced files are never served,
and an empty or missing directory reads as an empty table."""

from __future__ import annotations

import collections
import multiprocessing
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq
import pytest

from mandoline_hbase_spark import storage
from mandoline_hbase_spark.engine import mk_schema


@pytest.fixture()
def conn(tmp_path):
    schema = mk_schema({"root": "catalog.mandoline.io", "base_path": str(tmp_path)})
    schema.create_dataset("ds")
    return schema.connect("ds")


@pytest.fixture()
def parquet_calls(monkeypatch):
    """Every ParquetFile opened (its path) and every read made through
    one: ``("opened", path)`` / ``(method, row_groups, columns)``."""
    calls = []
    orig_init = pq.ParquetFile.__init__

    def init(self, source, *args, **kwargs):
        calls.append(("opened", str(source)))
        orig_init(self, source, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "__init__", init)
    for method in ("read", "read_row_group", "read_row_groups"):
        orig = getattr(pq.ParquetFile, method)

        def wrapped(self, *args, _orig=orig, _method=method, **kwargs):
            rgs = args[0] if args and _method != "read" else None
            calls.append((_method, rgs, kwargs.get("columns")))
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(pq.ParquetFile, method, wrapped)
    return calls


def _payload_reads(calls):
    """Row groups decoded for the ``data`` column, over all reads."""
    out = []
    for method, rgs, cols in (c for c in calls if c[0] != "opened"):
        if cols is None or "data" in cols:
            out.append((method, rgs))
    return out


def test_one_chunk_read_decodes_one_row_group(conn, parquet_calls):
    arr = np.arange(12 * 12 * 12, dtype=np.float64).reshape(12, 12, 12)
    conn.write_variable("v", arr, chunk_shape=(2, 2, 2))  # 216 chunks, one bulk file
    (chunk_file,) = os.listdir(conn._dirs["chunks"])
    assert pq.ParquetFile(os.path.join(conn._dirs["chunks"], chunk_file)).metadata.num_row_groups == 216

    for region, cold in [(((4, 6), (2, 4), (8, 10)), True), (((10, 12), (10, 12), (0, 2)), False)]:
        parquet_calls.clear()
        got = conn.read_region("v", region)
        assert (got == arr[tuple(slice(lo, hi) for lo, hi in region)]).all()
        ((method, row_groups),) = _payload_reads(parquet_calls)
        assert method == "read_row_groups" and len(row_groups) == 1
        if not cold:  # keys and footers come from the catalog
            assert [c[0] for c in parquet_calls] == ["opened", "read_row_groups"]

    # a chunk id committed again (the same content rewritten) has two
    # payload rows in two files; a read decodes one of them
    block = arr[0:2, 0:2, 0:2].copy()
    conn.update_region("v", np.full((2, 2, 2), -1.0), (0, 0, 0))
    conn.update_region("v", block, (0, 0, 0))
    parquet_calls.clear()
    assert (conn.read_region("v", ((0, 2), (0, 2), (0, 2))) == block).all()
    ((method, row_groups),) = _payload_reads(parquet_calls)
    assert method == "read_row_groups" and len(row_groups) == 1


def test_distributed_write_keeps_one_chunk_per_row_group(conn, spark, parquet_calls):
    """Chunks written by a Spark job use the same layout: one row per row
    group, so a 1-chunk read after ``write_variable_from_df`` decodes one
    payload."""
    arr = np.arange(8 * 8, dtype=np.float64).reshape(8, 8)
    tidy = spark.createDataFrame(
        [(i, j, float(arr[i, j])) for i in range(8) for j in range(8)], "d0 long, d1 long, value double"
    ).repartition(2)
    conn.write_variable_from_df(tidy, "v", shape=(8, 8), chunk_shape=(2, 2))
    d = conn._dirs["chunks"]
    metas = [pq.ParquetFile(os.path.join(d, f)).metadata for f in os.listdir(d) if f.startswith("part-")]
    assert sum(m.num_rows for m in metas) == 16
    assert all(m.num_row_groups == m.num_rows for m in metas)
    parquet_calls.clear()
    assert (conn.read_region("v", ((2, 4), (4, 6))) == arr[2:4, 4:6]).all()
    ((method, row_groups),) = _payload_reads(parquet_calls)
    assert method == "read_row_groups" and len(row_groups) == 1


def test_executor_chunk_writes_publish_by_rename(conn, monkeypatch):
    """The records writer's task-side chunk put (and ``append_rows``,
    which the MERGE rewrite uses) writes under a hidden name and renames:
    no visible ``part-*`` file in ``chunks/`` is ever written to."""
    from pyspark.sql.types import LongType, StructField, StructType

    from mandoline_hbase_spark.sources.datasource import MandolineWriter

    chunks_dir = conn._dirs["chunks"]
    targets = []
    orig = pq.write_table

    def checked(table, where, *args, **kwargs):
        if isinstance(where, str) and os.path.dirname(where) == chunks_dir:
            targets.append(os.path.basename(where))
            assert not os.path.basename(where).startswith("part-"), where
        return orig(table, where, *args, **kwargs)

    monkeypatch.setattr(pq, "write_table", checked)
    schema = StructType([StructField("k", LongType())])
    writer = MandolineWriter({"path": conn.dataset_dir, "variable": "records"}, schema, overwrite=False)
    msg = writer.write(iter([(1,), (2,)]))
    storage.append_rows(chunks_dir, storage.CHUNKS_SCHEMA, [{"chunk_id": "c", "ref_delta": 0, "data": b"x"}])
    assert len(targets) == 2 and all(t.startswith(".") for t in targets)
    published = [f for f in os.listdir(chunks_dir) if f.startswith("part-")]
    assert len(published) == 2
    assert conn.chunk_store().read_chunks([msg.chunk_id, "c"])["c"] == b"x"


def _append_in_child(chunks_dir: str, versions_dir: str) -> None:
    storage.append_rows(
        chunks_dir, storage.CHUNKS_SCHEMA, [{"chunk_id": "from-child", "ref_delta": 1, "data": b"payload"}]
    )
    storage.commit_version_row(
        versions_dir, 7, [{"version_id": 7, "committed_at": 7, "metadata": '{"from": "child"}'}]
    )


def test_other_process_appends_visible_on_next_call(conn):
    store = conn.chunk_store()
    store.write_chunk("local", 1, b"x")
    assert store.read_chunk("local") == b"x"  # warm the catalog
    assert not store.known_chunk("from-child")
    assert conn.versions() == []

    child = multiprocessing.get_context("spawn").Process(
        target=_append_in_child, args=(conn._dirs["chunks"], conn._dirs["versions"])
    )
    child.start()
    child.join(60)
    assert child.exitcode == 0

    assert store.read_chunk("from-child") == b"payload"
    assert store.chunk_refs("from-child") == 1
    assert [v["version"] for v in conn.versions()] == ["7"]
    assert conn.metadata(7) == {"from": "child"}


def test_replaced_and_swapped_files_never_served(conn, spark, parquet_calls):
    arr = np.arange(4 * 4, dtype=np.float64).reshape(4, 4)
    conn.write_variable("v", arr, chunk_shape=(2, 2))
    for i in range(3):
        conn.update_region("v", np.full((2, 2), float(i)), (0, 0))
    want = arr.copy()
    want[:2, :2] = 2.0
    assert (conn.read_variable("v") == want).all()  # warm every log

    before = {role: set(os.listdir(d)) for role, d in conn._dirs.items()}
    conn.optimize(spark)
    dropped = {
        os.path.join(d, f) for role, d in conn._dirs.items() for f in before[role] - set(os.listdir(d))
    }
    assert dropped
    parquet_calls.clear()
    assert (conn.read_variable("v") == want).all()
    opened = {c[1] for c in parquet_calls if c[0] == "opened"}
    assert opened and not opened & dropped

    # a same-name replacement with new content is re-read, not served stale
    vdir = conn._dirs["versions"]
    name = sorted(f for f in os.listdir(vdir) if f.startswith("commit-"))[-1]
    path = os.path.join(vdir, name)
    row = pq.read_table(path).to_pylist()[0]
    assert storage.scan(vdir, storage.VERSIONS_SCHEMA, filter={"version_id": row["version_id"]}).num_rows == 1
    tmp = os.path.join(vdir, ".replacement")
    pq.write_table(
        pa.Table.from_pylist([{**row, "metadata": '{"replaced": true}'}], schema=storage.VERSIONS_SCHEMA), tmp
    )
    os.replace(tmp, path)
    got = storage.scan(vdir, storage.VERSIONS_SCHEMA, filter={"version_id": row["version_id"]})
    assert got.column("metadata").to_pylist() == ['{"replaced": true}']


def test_file_removed_after_listing_is_listed_again(tmp_path, monkeypatch):
    d = str(tmp_path)
    old = storage.append_rows(d, storage.CHUNKS_SCHEMA, [{"chunk_id": "k", "ref_delta": 1, "data": b"old"}])
    stale = storage._list_log(d)
    assert storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": "k"}).num_rows == 1  # warm
    storage.append_rows(d, storage.CHUNKS_SCHEMA, [{"chunk_id": "k", "ref_delta": 1, "data": b"new"}])
    os.unlink(old)  # as a compaction would, after this scan listed the directory
    listings = iter([stale])
    real = storage._list_log
    monkeypatch.setattr(storage, "_list_log", lambda path: next(listings, None) or real(path))
    got = storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": "k"}, columns=["data"])
    assert got.column("data").to_pylist() == [b"new"]


class _Listed(list):
    """A materialized ``os.scandir`` result: the readdir already ran."""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def test_file_unlinked_between_readdir_and_stat_is_skipped(tmp_path, monkeypatch):
    d = str(tmp_path)
    rows = lambda data: [{"chunk_id": "k", "ref_delta": 1, "data": data}]  # noqa: E731
    kept = storage.append_rows(d, storage.CHUNKS_SCHEMA, rows(b"kept"))
    gone = storage.append_rows(d, storage.CHUNKS_SCHEMA, rows(b"gone"))
    real = os.scandir

    def scandir(path):
        with real(path) as it:
            entries = _Listed(it)
        if os.path.exists(gone):
            os.unlink(gone)  # as a compaction would, after the readdir and before the stat
        return entries

    monkeypatch.setattr(os, "scandir", scandir)
    got = storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": "k"}, columns=["data"])
    assert got.column("data").to_pylist() == [b"kept"]
    assert [n for n, _ in storage._list_log(d)[1]] == [os.path.basename(kept)]


@pytest.fixture()
def index_builds(monkeypatch):
    """How often each ``(file, column)`` pair was put into a hash index."""
    builds = collections.Counter()
    real = storage._index_file

    def counted(idx, f, col):
        builds[(f.path, col)] += 1
        real(idx, f, col)

    monkeypatch.setattr(storage, "_index_file", counted)
    return builds


def test_older_listing_never_rolls_the_catalog_back(tmp_path, monkeypatch, index_builds):
    d = str(tmp_path)
    storage.append_rows(d, storage.CHUNKS_SCHEMA, [{"chunk_id": "a", "ref_delta": 1, "data": b"a"}])
    older = storage._list_log(d)
    storage.append_rows(d, storage.CHUNKS_SCHEMA, [{"chunk_id": "b", "ref_delta": 1, "data": b"b"}])
    assert storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": "b"}).num_rows == 1
    assert sorted(index_builds.values()) == [1, 1]

    # a scan that listed before the append takes the lock after the catalog moved on
    monkeypatch.setattr(storage, "_list_log", lambda path: older)
    for cid in ("a", "b"):
        got = storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": cid}, columns=["data"])
        assert got.column("data").to_pylist() == [cid.encode()]
    assert sorted(index_builds.values()) == [1, 1]


def test_listing_that_missed_an_append_keeps_the_file(tmp_path, monkeypatch, index_builds):
    d = str(tmp_path)
    rows = lambda cid: [{"chunk_id": cid, "ref_delta": 1, "data": cid.encode()}]  # noqa: E731
    storage.append_rows(d, storage.CHUNKS_SCHEMA, rows("a"))
    without_b = storage._list_log(d)[1]
    b = storage.append_rows(d, storage.CHUNKS_SCHEMA, rows("b"))
    with_b = storage._list_log(d)[1]
    # the later-stamped listing read the directory before b was published
    stamp = next(storage._LISTINGS)
    listings = iter([(stamp, with_b), (stamp + 1, without_b)])
    real = storage._list_log
    monkeypatch.setattr(storage, "_list_log", lambda path: next(listings, None) or real(path))

    def read(cid):
        got = storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": cid}, columns=["data"])
        return got.column("data").to_pylist()

    assert read("b") == [b"b"]
    assert read("b") == [b"b"] and read("a") == [b"a"]
    assert sorted(index_builds.values()) == [1, 1]
    os.unlink(b)  # gone for real: the next listing drops it
    assert read("b") == [] and read("a") == [b"a"]


def test_forked_child_starts_with_an_empty_catalog(tmp_path):
    d = str(tmp_path)
    storage.append_rows(d, storage.CHUNKS_SCHEMA, [{"chunk_id": "a", "ref_delta": 1, "data": b"a"}])
    storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": "a"})
    assert d in storage._CATALOG._dirs
    with storage._CATALOG._lock:  # as a parent thread mid-update would hold it
        pid = os.fork()
        if pid == 0:
            fresh = not storage._CATALOG._dirs and storage._CATALOG._lock.acquire(blocking=False)
            os._exit(0 if fresh else 1)
    _, status = os.waitpid(pid, 0)
    assert os.waitstatus_to_exitcode(status) == 0


def test_empty_or_missing_directory_reads_empty(tmp_path):
    missing = str(tmp_path / "nope")
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")  # skipped like pyarrow discovery skips it
    for d in (missing, str(empty)):
        for flt in (None, {"chunk_id": "a"}):
            t = storage.scan(d, storage.CHUNKS_SCHEMA, filter=flt, columns=["data", "chunk_id"])
            assert t.num_rows == 0
            want = [storage.CHUNKS_SCHEMA.field("data"), storage.CHUNKS_SCHEMA.field("chunk_id")]
            assert t.schema == pa.schema(want)
        assert storage.read_payloads(d, ["a"]) == {}


def test_filter_forms_agree_with_dataset_scan(tmp_path):
    d = str(tmp_path / "chunks")
    os.makedirs(d)
    rows = [
        {"chunk_id": f"c{i % 5}", "ref_delta": i - 3, "data": None if i % 3 == 0 else bytes([i])}
        for i in range(12)
    ]
    for k in range(0, 12, 4):
        storage.append_rows(d, storage.CHUNKS_SCHEMA, rows[k : k + 4])

    def dataset(flt, cols):
        ds = pa_ds.dataset(d, format="parquet", schema=storage.CHUNKS_SCHEMA)
        return ds.to_table(filter=flt, columns=cols)

    cases = [
        ({"chunk_id": ["c1", "c4"]}, pc.field("chunk_id").isin(["c1", "c4"])),
        (
            {"chunk_id": "c2", "ref_delta": [2, 7]},
            (pc.field("chunk_id") == "c2") & pc.field("ref_delta").isin([2, 7]),
        ),
        (None, None),
    ]
    for flt, expr in cases:
        for cols in (None, ["ref_delta", "chunk_id"], ["data"]):
            got = storage.scan(d, storage.CHUNKS_SCHEMA, filter=flt, columns=cols)
            assert got.to_pylist() == dataset(expr, cols).to_pylist()
    # payload bytes are not keys, and a key filter is the only filter form
    with pytest.raises(ValueError):
        storage.scan(d, storage.CHUNKS_SCHEMA, filter={"data": b"x"}, columns=["chunk_id"])
    with pytest.raises(TypeError):
        storage.scan(d, storage.CHUNKS_SCHEMA, filter=pc.field("ref_delta") >= 2, columns=["chunk_id"])

    # one payload per id: the first payload row in file order
    want = {}
    for r in rows:
        if r["data"] is not None:
            want.setdefault(r["chunk_id"], r["data"])
    assert storage.read_payloads(d, ["c0", "c1", "c2", "c3", "c4", "zz"]) == want

    # the log holds files only: a subdirectory fails the read, naming it
    os.makedirs(os.path.join(d, "nested"))
    with pytest.raises(ValueError, match="nested"):
        storage.scan(d, storage.CHUNKS_SCHEMA, filter={"chunk_id": "c1"}, columns=["ref_delta"])


def test_concurrent_writers_and_readers_lose_no_update(conn, index_builds):
    """More threads than cores append and read back through one catalog
    with a short switch interval: every thread reads its own writes, the
    final listing holds every row exactly once, and no file is indexed
    twice (an older listing never resets the indexes)."""
    import sys
    import threading

    store = conn.chunk_store()
    n_threads, n_writes = 2 * (os.cpu_count() or 4), 15
    errors = []

    def work(t):
        try:
            for i in range(n_writes):
                h = f"t{t}-{i}"
                store.write_chunk(h, 1, h.encode())
                assert store.read_chunk(h) == h.encode()
                assert store.chunk_refs(h) == 1
        except Exception as e:  # surfaced below with the thread's id
            errors.append((t, repr(e)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    ids = storage.scan(conn._dirs["chunks"], storage.CHUNKS_SCHEMA, columns=["chunk_id"]).column("chunk_id")
    assert sorted(ids.to_pylist()) == sorted(f"t{t}-{i}" for t in range(n_threads) for i in range(n_writes))
    assert index_builds and max(index_builds.values()) == 1
