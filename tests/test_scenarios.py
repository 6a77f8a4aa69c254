"""PySpark re-expression of the reference's end-to-end scenario suite.

Mirrors the mandoline-core shared tests invoked by
``test/io/mandoline/backend/hbase_test.clj:106-156``: entire-flow,
grow/shrink, overwrite, overwrite-extend, linear-versions, write-scalar,
lots-of-tiny-slices, lots-of-overlaps, nan-fill-values (double/float/short).
"""

from __future__ import annotations

import collections
import concurrent.futures as cf

import numpy as np
import pytest


@pytest.fixture(params=[False, True], ids=["nocache", "version-cache"])
def store(tmp_path, request):
    """Every scenario runs WITH AND WITHOUT the memoized version cache
    (hbase_test.clj:107 ``with-and-without-caches`` parity) — the
    cached handle must behave identically because its own commits
    invalidate the cache. Overrides the plain conftest fixture for this
    module only."""
    from mandoline_hbase_spark.engine import mk_schema

    schema = mk_schema(
        {"root": "integration-testing.mandoline.io", "base_path": str(tmp_path)}
    )
    schema.create_dataset("test-dataset")
    yield schema.connect("test-dataset", cache_versions=request.param)


def test_entire_flow(store):
    """Full write -> read round trip (hbase_test.clj:106-108)."""
    arr = np.arange(200, dtype=np.float64).reshape(10, 20)
    v = store.write_variable("temperature", arr, chunk_shape=(4, 8))
    assert np.array_equal(store.read_variable("temperature"), arr)
    meta = store.metadata(v)
    assert meta["variables"]["temperature"]["shape"] == [10, 20]
    versions = store.versions(limit=10, metadata=True)
    assert versions[0]["version"] == str(v)
    assert versions[0]["metadata"]["version-id"] == v


def test_linear_versions(store):
    """Version-chain correctness / time travel (hbase_test.clj:126-128)."""
    arrs = [np.full((6, 6), i, dtype=np.float64) for i in range(3)]
    vids = [store.write_variable("x", a, chunk_shape=(3, 3)) for a in arrs]
    assert vids == sorted(vids)
    for v, a in zip(vids, arrs):
        assert np.array_equal(store.read_variable("x", version=v), a)
    # a bound between versions resolves to the latest <= bound
    assert np.array_equal(store.read_variable("x", version=vids[1]), arrs[1])
    assert np.array_equal(store.read_variable("x"), arrs[-1])


def test_grow_dataset(store):
    """Grow a variable across versions (hbase_test.clj:110-112)."""
    small = np.arange(16, dtype=np.float64).reshape(4, 4)
    v1 = store.write_variable("g", small, chunk_shape=(4, 4))
    grown = np.arange(64, dtype=np.float64).reshape(8, 8)
    v2 = store.write_variable("g", grown)
    assert np.array_equal(store.read_variable("g", version=v1), small)
    assert np.array_equal(store.read_variable("g", version=v2), grown)


def test_shrink_dataset(store):
    """Shrink a variable across versions (hbase_test.clj:114-116)."""
    big = np.arange(64, dtype=np.float64).reshape(8, 8)
    v1 = store.write_variable("s", big, chunk_shape=(4, 4))
    small = np.arange(9, dtype=np.float64).reshape(3, 3)
    v2 = store.write_variable("s", small)
    assert np.array_equal(store.read_variable("s", version=v2), small)
    assert np.array_equal(store.read_variable("s", version=v1), big)


def test_overwrite_dataset(store):
    """Overwrite a slab in place (hbase_test.clj:118-120)."""
    base = np.zeros((8, 8), dtype=np.float64)
    store.write_variable("o", base, chunk_shape=(4, 4))
    patch = np.ones((4, 4), dtype=np.float64)
    store.update_region("o", patch, offset=(2, 2))
    expect = base.copy()
    expect[2:6, 2:6] = 1.0
    assert np.array_equal(store.read_variable("o"), expect)


def test_overwrite_extend_dataset(store):
    """Extend while overwriting (hbase_test.clj:122-124)."""
    base = np.zeros((4, 4), dtype=np.float64)
    store.write_variable("oe", base, chunk_shape=(4, 4))
    patch = np.full((4, 4), 7.0)
    store.update_region("oe", patch, offset=(2, 2))
    out = store.read_variable("oe")
    assert out.shape == (6, 6)
    assert np.array_equal(out[2:6, 2:6], patch)
    assert np.array_equal(out[:2, :2], base[:2, :2])
    # grown-but-unwritten corners are fill (NaN for float64)
    assert np.isnan(out[0, 5]) and np.isnan(out[5, 0])


def test_write_scalar(store):
    """0-dimensional variable (hbase_test.clj:130-132)."""
    v = store.write_variable("answer", np.array(42.0))
    out = store.read_variable("answer", version=v)
    assert out.shape == ()
    assert out == 42.0


def test_lots_of_tiny_slices(store):
    """Many small writes (hbase_test.clj:140-142)."""
    store.create_variable("t", shape=(100,), dtype="float64", chunk_shape=(10,))
    expect = np.full(100, np.nan)
    rng = np.random.default_rng(42)
    for _ in range(40):
        start = int(rng.integers(0, 95))
        width = int(rng.integers(1, 6))
        vals = rng.random(width)
        store.update_region("t", vals, offset=(start,))
        expect[start : start + width] = vals
    out = store.read_variable("t")
    np.testing.assert_array_equal(out, expect)


def test_lots_of_overlaps(store):
    """Concurrent overlapping writers (hbase_test.clj:148-150).

    Eight threads each write a slab; slabs overlap pairwise. Serializable
    commits mean the final state must equal *some* serial order's result —
    verified cell-wise: every cell equals one of the writers that covered
    it, and cells covered by exactly one writer equal that writer.
    """
    store.create_variable("c", shape=(64,), dtype="float64", chunk_shape=(8,))
    writers = [(i, 8 * i // 2, 16) for i in range(8)]  # overlapping windows

    def write(args):
        i, start, width = args
        store.update_region("c", np.full(width, float(i)), offset=(start,))
        return i

    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(write, writers))

    out = store.read_variable("c")
    for cell in range(64):
        covering = [float(i) for i, start, width in writers if start <= cell < start + width]
        if covering:
            assert out[cell] in covering, f"cell {cell}={out[cell]} not from any writer {covering}"
        else:
            assert np.isnan(out[cell])


def test_cas_contract(store):
    """Per-key CAS: exactly one of N racing writers wins (hbase.clj:231-248)."""
    v = store.write_variable("r", np.ones((4,), dtype=np.float64), chunk_shape=(4,))
    meta = store.metadata(v)
    idx = store.index("r", meta)
    current = idx.chunk_at((0,), v)

    def racer(i):
        return idx.write_index((0,), current, f"winner-{i}")

    with cf.ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(racer, range(6)))
    assert sum(results) == 1
    winner = idx.chunk_at((0,), v)
    assert winner.startswith("winner-")


@pytest.mark.parametrize(
    "dtype,fill",
    [("float64", float("nan")), ("float32", float("nan")), ("int16", 0)],
    ids=["fill-double", "fill-float", "fill-short"],
)
def test_nan_fill_values(store, dtype, fill):
    """Fill-value semantics per dtype (hbase_test.clj:152-156)."""
    name = f"v_{dtype}"
    store.create_variable(name, shape=(10, 10), dtype=dtype, chunk_shape=(4, 4), fill=fill)
    # untouched variable reads as all-fill
    out = store.read_variable(name)
    assert out.dtype == np.dtype(dtype)
    if dtype.startswith("float"):
        assert np.isnan(out).all()
    else:
        assert (out == fill).all()
    # write one slab; everything else stays fill
    patch = np.ones((3, 3), dtype=dtype)
    store.update_region(name, patch, offset=(5, 5))
    out = store.read_variable(name)
    assert np.array_equal(out[5:8, 5:8], patch)
    if dtype.startswith("float"):
        assert np.isnan(out[0, 0])
        # NaN payload cells survive the codec round trip
        nan_patch = np.full((2, 2), np.nan, dtype=dtype)
        store.update_region(name, nan_patch, offset=(0, 0))
        assert np.isnan(store.read_variable(name)[0:2, 0:2]).all()
    else:
        assert out[0, 0] == fill


def test_content_addressed_dedup(store):
    """Identical blocks dedup to one stored blob with summed refs."""
    arr = np.zeros((8, 8), dtype=np.float64)  # 4 identical (4,4) chunks
    store.write_variable("d", arr, chunk_shape=(4, 4))
    from mandoline_hbase_spark import codec

    block = np.zeros((4, 4), dtype=np.float64)
    h = codec.chunk_id_of(codec.encode_chunk(block))
    cs = store.chunk_store()
    assert cs.chunk_refs(h) == 4  # one blob, four references
    assert cs.read_chunk(h) == codec.encode_chunk(block)


def test_update_chunk_refs_atomic(store):
    """Ref deltas are merge-on-read sums — concurrent updates never lost."""
    cs = store.chunk_store()
    cs.write_chunk("h1", 0, b"\x01\x02")

    def bump(_):
        cs.update_chunk_refs("h1", 1)

    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(bump, range(50)))
    assert cs.chunk_refs("h1") == 50


def test_read_region_matches_numpy_slicing(store):
    arr = np.arange(10 * 20, dtype=np.float64).reshape(10, 20)
    store.write_variable("r", arr, chunk_shape=(4, 8))
    for region in [((0, 10), (0, 20)), ((3, 7), (5, 17)), ((9, 10), (19, 20)), ((4, 8), (8, 16))]:
        got = store.read_region("r", region)
        (r0, r1), (c0, c1) = region
        assert np.array_equal(got, arr[r0:r1, c0:c1]), region


def test_read_region_is_version_bound(store):
    a1 = np.zeros((6, 6), dtype=np.float64)
    a2 = np.ones((6, 6), dtype=np.float64)
    v1 = store.write_variable("rv", a1, chunk_shape=(3, 3))
    store.write_variable("rv", a2)
    assert np.array_equal(store.read_region("rv", ((1, 4), (2, 5)), version=v1), a1[1:4, 2:5])
    assert np.array_equal(store.read_region("rv", ((1, 4), (2, 5))), a2[1:4, 2:5])


def test_read_region_prunes_chunk_io(store, monkeypatch):
    # a 1-chunk region of a 25-chunk variable must fetch exactly 1 chunk
    arr = np.arange(20 * 20, dtype=np.float64).reshape(20, 20)
    store.write_variable("p", arr, chunk_shape=(4, 4))
    cs = store.chunk_store()
    calls = []
    orig = type(cs).read_chunks

    def counting(self, hashes):
        hashes = list(hashes)
        calls.extend(hashes)
        return orig(self, hashes)

    monkeypatch.setattr(type(cs), "read_chunks", counting)
    got = store.read_region("p", ((4, 8), (8, 12)))
    assert np.array_equal(got, arr[4:8, 8:12])
    assert len(calls) == 1


def _count_scans(monkeypatch):
    """Count reads of each log directory (``versions``, ``indices``,
    ``chunks``) while the returned Counter is live: ``storage.scan``
    calls plus ``storage.read_payloads`` fetches."""
    import os

    from mandoline_hbase_spark import storage

    counts = collections.Counter()

    def counting(orig):
        def wrapped(table_dir, *args, **kwargs):
            counts[os.path.basename(table_dir)] += 1
            return orig(table_dir, *args, **kwargs)

        return wrapped

    monkeypatch.setattr(storage, "scan", counting(storage.scan))
    monkeypatch.setattr(storage, "read_payloads", counting(storage.read_payloads))
    return counts


@pytest.mark.parametrize("box", [((4, 8), (8, 12)), ((2, 7), (6, 13))], ids=["1chunk", "4chunks"])
def test_read_region_lists_each_log_once(store, monkeypatch, box):
    """A point read takes one snapshot of the versions log (none when a
    cached handle holds one), one index scan and one chunk scan, whether
    it reads 1 or 4 chunks and whether it reads the latest version or an
    older bound."""
    arr0 = np.arange(20 * 20, dtype=np.float64).reshape(20, 20)
    v0 = store.write_variable("p", arr0, chunk_shape=(4, 4))
    arr1 = arr0.copy()
    arr1[0:12, 0:12] = -1.0
    store.update_region("p", arr1[0:12, 0:12], (0, 0))
    sl = tuple(slice(lo, hi) for lo, hi in box)
    for version, want in [(None, arr1), (v0, arr0)]:
        warm = store._version_cache is not None  # a cached handle's memo
        counts = _count_scans(monkeypatch)
        got = store.read_region("p", box, version=version)
        assert np.array_equal(got, want[sl])
        assert counts == collections.Counter(versions=0 if warm else 1, indices=1, chunks=1)
        monkeypatch.undo()


def test_update_region_scans_chunks_once_before_append(store, monkeypatch):
    """A slab commit reads its base chunks with one payload fetch and no
    chunk scan before it appends; a chunk the slab covers whole needs no
    base, so a chunk-aligned slab reads none."""
    import os

    from mandoline_hbase_spark import storage

    arr = np.arange(16 * 16, dtype=np.float64).reshape(16, 16)
    store.write_variable("u", arr, chunk_shape=(4, 4))

    def record(name, fn, events):
        def wrapped(table_dir, *args, **kwargs):
            events.append((name, os.path.basename(table_dir)))
            return fn(table_dir, *args, **kwargs)

        return wrapped

    def run(subarray, offset):
        events = []
        monkeypatch.setattr(storage, "scan", record("scan", storage.scan, events))
        monkeypatch.setattr(storage, "read_payloads", record("fetch", storage.read_payloads, events))
        monkeypatch.setattr(storage, "append_rows", record("append", storage.append_rows, events))
        store.update_region("u", subarray, offset)
        monkeypatch.undo()
        return events

    # unaligned 6x6 slab: 4 chunks, each covered in part
    events = run(np.full((6, 6), 7.0), (1, 1))
    first_append = next(i for i, e in enumerate(events) if e[0] == "append")
    assert events.count(("fetch", "chunks")) == 1 and ("scan", "chunks") not in events
    assert events.index(("fetch", "chunks")) < first_append
    # chunk-aligned 8x4 slab: every touched chunk is covered whole
    events = run(np.full((8, 4), 9.0), (8, 4))
    assert not {("fetch", "chunks"), ("scan", "chunks"), ("scan", "indices")} & set(events)
    want = arr.copy()
    want[1:7, 1:7] = 7.0
    want[8:16, 4:8] = 9.0
    assert np.array_equal(store.read_variable("u"), want)


def test_read_chunks_missing_and_repeated_ids(store):
    from mandoline_hbase_spark.errors import ChunkNotFoundError

    cs = store.chunk_store()
    cs.write_chunk("aa", 1, b"one")
    cs.write_chunk("bb", 1, b"two")
    cs.write_chunk("aa", 1, b"one")  # a second payload row for the same id
    cs.update_chunk_refs("bb", 1)  # a ref-delta row (no payload)
    assert cs.read_chunks(["aa", "bb", "aa"]) == {"aa": b"one", "bb": b"two"}
    assert cs.read_chunks([]) == {}
    with pytest.raises(ChunkNotFoundError, match="zz"):
        cs.read_chunks(["aa", "zz"])
    with pytest.raises(ChunkNotFoundError, match="zz"):
        cs.read_chunk("zz")


def test_cached_handle_sees_its_own_commit(store):
    """A warm memoized snapshot is dropped by the handle's own commits:
    the next read resolves the new version, by every view."""
    arr0 = np.zeros((4, 4), dtype=np.float64)
    v0 = store.write_variable("c", arr0, chunk_shape=(2, 2))
    assert np.array_equal(store.read_region("c", ((0, 4), (0, 4))), arr0)  # warm
    v1 = store.update_region("c", np.ones((2, 2)), (1, 1))
    assert store.latest_version_id() == v1 > v0
    want = arr0.copy()
    want[1:3, 1:3] = 1.0
    assert np.array_equal(store.read_region("c", ((0, 4), (0, 4))), want)
    assert np.array_equal(store.read_region("c", ((0, 4), (0, 4)), version=v0), arr0)
    assert [int(v["version"]) for v in store.versions()] == [v1, v0]
    assert store.metadata_at_or_before(v1)["version-id"] == v1


def test_read_region_rejects_bad_bounds(store):
    from mandoline_hbase_spark.errors import InvalidArgumentError

    store.write_variable("b", np.zeros((4, 4), dtype=np.float64), chunk_shape=(2, 2))
    for bad in [((0, 5), (0, 4)), ((2, 2), (0, 4)), ((-1, 2), (0, 4)), ((0, 4),)]:
        with pytest.raises(InvalidArgumentError):
            store.read_region("b", bad)


def test_failed_write_leaves_no_visible_state(store):
    """The reference's disabled ``failed-write`` test (hbase_test.clj:144-146),
    passing here: a commit that dies after writing chunks and index rows
    but BEFORE the version-row append (the §3.2 commit point) is invisible
    to every reader — versions list, metadata, and array reads are all
    unchanged; completing the commit later makes the data visible."""
    import numpy as np

    from mandoline_hbase_spark.engine import Index

    arr0 = np.zeros((4, 4), dtype=np.float64)
    v0 = store.write_variable("x", arr0, chunk_shape=(2, 2))

    # Simulate the crash: steps 1-3 of the commit protocol, no step 4.
    from mandoline_hbase_spark import codec

    arr1 = np.ones((4, 4), dtype=np.float64)
    doomed_version = store.next_version_id()
    blobs, entries = {}, []
    for coord in codec.iter_chunk_coords(arr1.shape, (2, 2)):
        data = codec.encode_chunk(codec.extract_block(arr1, coord, (2, 2), 0.0))
        h = codec.chunk_id_of(data)
        blobs[h] = data
        entries.append((coord, h))
    store.chunk_store().write_chunks_bulk([(h, 1, d) for h, d in blobs.items()])
    idx = Index(store.dataset_dir, store._dirs["indices"], "x", {}, doomed_version)
    idx.write_index_bulk(entries, doomed_version)
    # -- crash here: no write_version --

    assert [v["version"] for v in store.versions()] == [str(v0)]
    assert np.array_equal(store.read_variable("x"), arr0)
    assert np.array_equal(store.read_variable("x", version=doomed_version), arr0)
    # the Index protocol path agrees: find-index resolution never sees
    # the uncommitted version either
    v0_map = store.resolve_chunk_map("x", v0)
    reader_idx = store.index("x")
    assert reader_idx.chunk_at((0, 0)) == v0_map["0/0"]
    assert reader_idx.find_index((0, 0), doomed_version) == v0_map["0/0"]

    # Recovery: replaying the commit is safe (content-addressed chunks,
    # idempotent appends) and the version append flips visibility.
    v1 = store.write_variable("x", arr1, chunk_shape=(2, 2), version_id=doomed_version)
    assert v1 == doomed_version
    assert np.array_equal(store.read_variable("x"), arr1)
    assert np.array_equal(store.read_variable("x", version=v0), arr0)
