"""``format("mandoline")`` — the Python Data Source surface.

Covers the three forms: array snapshot reads (with time travel and
partition-per-chunk planning), record-log writes through the DSv2-style
commit protocol (append, overwrite-with-tombstones, commit-point
visibility), and the change-feed stream reader.
"""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def ds_spark(tmp_path_factory):
    from mandoline_hbase_spark.session import get_spark
    from mandoline_hbase_spark.sources.datasource import register

    spark = get_spark(
        app_name="mandoline-datasource-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse"},
    )
    register(spark)
    yield spark


@pytest.fixture()
def store(tmp_path):
    from mandoline_hbase_spark.engine import mk_schema

    schema = mk_schema({"root": "integration-testing.mandoline.io", "base_path": str(tmp_path)})
    schema.create_dataset("test-dataset")
    yield schema.connect("test-dataset")


def test_array_read_matches_numpy(ds_spark, store):
    arr = np.arange(30, dtype=np.float64).reshape(5, 6)
    store.write_variable("v", arr, chunk_shape=(2, 4))
    df = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .load()
    )
    assert df.columns == ["dim0", "dim1", "value"]
    got = {(r.dim0, r.dim1): r.value for r in df.collect()}
    assert len(got) == 30
    for (i, j), v in got.items():
        assert v == arr[i, j]


def test_array_read_time_travel(ds_spark, store):
    a0 = np.zeros((4, 4), dtype=np.float64)
    a1 = np.ones((4, 4), dtype=np.float64)
    v0 = store.write_variable("v", a0, chunk_shape=(2, 2))
    store.write_variable("v", a1, chunk_shape=(2, 2))
    df0 = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .option("version", v0)
        .load()
    )
    assert {r.value for r in df0.collect()} == {0.0}
    df1 = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .load()
    )
    assert {r.value for r in df1.collect()} == {1.0}


def test_array_read_partition_per_chunk(store):
    """Planning yields one input partition per chunk by default — the scan
    parallelizes across the chunk grid, no driver-side data movement."""
    from mandoline_hbase_spark.sources.datasource import MandolinePruningBatchReader

    arr = np.arange(64, dtype=np.float64).reshape(8, 8)
    store.write_variable("v", arr, chunk_shape=(2, 2))  # 16 chunks
    reader = MandolinePruningBatchReader({"path": store.dataset_dir, "variable": "v"}, "array")
    parts = reader.partitions()
    assert len(parts) == 16
    grouped = MandolinePruningBatchReader(
        {"path": store.dataset_dir, "variable": "v", "chunks_per_partition": 4}, "array"
    )
    assert len(grouped.partitions()) == 4


def test_writer_append_and_read_back(ds_spark, store, tmp_path):
    rows = [(i, f"doc-{i}", float(i) * 1.5) for i in range(50)]
    df = ds_spark.createDataFrame(rows, "id bigint, name string, score double")
    (
        df.repartition(4)
        .write.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "docs")
        .mode("append")
        .save()
    )
    back = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "docs")
        .option("form", "records")
        .load()
    )
    assert back.schema.simpleString() == "struct<id:bigint,name:string,score:double>"
    assert sorted((r.id, r.name, r.score) for r in back.collect()) == sorted(rows)

    # second append: both visible, one new version each
    n_versions = len(store.versions())
    df2 = ds_spark.createDataFrame([(99, "late", 9.9)], "id bigint, name string, score double")
    (
        df2.write.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "docs")
        .mode("append")
        .save()
    )
    assert len(store.versions()) == n_versions + 1
    again = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "docs")
        .option("form", "records")
        .load()
    )
    assert again.count() == 51


def test_writer_overwrite_tombstones_prior_records(ds_spark, store):
    ddl = "id bigint, name string"
    d1 = ds_spark.createDataFrame([(1, "old-a"), (2, "old-b")], ddl)
    d1.write.format("mandoline").option("path", store.dataset_dir).option(
        "variable", "docs"
    ).mode("append").save()
    v_before = store.latest_version_id()
    d2 = ds_spark.createDataFrame([(3, "new")], ddl)
    d2.write.format("mandoline").option("path", store.dataset_dir).option(
        "variable", "docs"
    ).mode("overwrite").save()

    def read(version=None):
        r = (
            ds_spark.read.format("mandoline")
            .option("path", store.dataset_dir)
            .option("variable", "docs")
            .option("form", "records")
        )
        if version is not None:
            r = r.option("version", version)
        return sorted((x.id, x.name) for x in r.load().collect())

    assert read() == [(3, "new")]
    # time travel still sees the pre-overwrite records (tombstones are
    # versioned index entries, not physical deletes)
    assert read(version=v_before) == [(1, "old-a"), (2, "old-b")]


def test_writer_commit_point_visibility(ds_spark, store):
    """Chunks written by executor tasks are invisible until the driver's
    commit() appends the version row: simulate by running only write()."""
    from pyspark.sql.types import StructType

    from mandoline_hbase_spark.sources.datasource import MandolineWriter

    ddl_schema = (
        ds_spark.createDataFrame([(1, "x")], "id bigint, name string").schema
    )
    assert isinstance(ddl_schema, StructType)
    w = MandolineWriter({"path": store.dataset_dir, "variable": "docs"}, ddl_schema, False)
    from pyspark.sql import Row

    msg = w.write(iter([Row(id=1, name="orphan")]))
    assert msg.chunk_id is not None
    # no commit() -> no versions, nothing readable
    assert store.versions() == []
    # completing the protocol flips visibility
    w.commit([msg])
    assert len(store.versions()) == 1
    back = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "docs")
        .option("form", "records")
        .load()
    )
    assert [(r.id, r.name) for r in back.collect()] == [(1, "orphan")]


def test_change_feed_stream(ds_spark, store, tmp_path):
    """The version log as a stream: each committed version's cells arrive
    tagged with their version id; a later commit extends the feed."""
    a0 = np.zeros((2, 2), dtype=np.float64)
    v0 = store.write_variable("v", a0, chunk_shape=(2, 2))
    a1 = np.full((2, 2), 7.0, dtype=np.float64)
    v1 = store.write_variable("v", a1, chunk_shape=(2, 2))

    q = (
        ds_spark.readStream.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .option("form", "changes")
        .load()
        .writeStream.format("memory")
        .queryName("mandoline_changes")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = ds_spark.sql("select * from mandoline_changes").collect()
    by_version = {}
    for r in rows:
        by_version.setdefault(r.version, set()).add((r.dim0, r.dim1, r.value))
    assert set(by_version) == {v0, v1}
    assert by_version[v0] == {(i, j, 0.0) for i in range(2) for j in range(2)}
    assert by_version[v1] == {(i, j, 7.0) for i in range(2) for j in range(2)}


def test_array_read_region_prunes_partitions(ds_spark, store):
    import numpy as np

    from mandoline_hbase_spark.sources.datasource import MandolinePruningBatchReader

    arr = np.arange(256, dtype=np.float64).reshape(16, 16)
    store.write_variable("v", arr, chunk_shape=(4, 4))  # 16 chunks
    reader = MandolinePruningBatchReader(
        {"path": store.dataset_dir, "variable": "v", "region": "0:4,0:8"}, "array"
    )
    assert len(reader.partitions()) == 2  # only the two intersecting chunks

    df = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .option("region", "2:6,3:9")
        .load()
    )
    got = {(r.dim0, r.dim1): r.value for r in df.collect()}
    assert got == {(i, j): arr[i, j] for i in range(2, 6) for j in range(3, 9)}


def test_reader_errors_are_clear(ds_spark, store, tmp_path):
    import pytest

    from mandoline_hbase_spark.sources.datasource import MandolinePruningBatchReader

    # not a dataset directory
    with pytest.raises(Exception, match="versions"):
        MandolinePruningBatchReader({"path": str(tmp_path / "nope"), "variable": "v"}, "array")
    # dataset exists but variable does not
    arr = np.zeros((2, 2), dtype=np.float64)
    store.write_variable("v", arr, chunk_shape=(2, 2))
    with pytest.raises(KeyError, match="ghost"):
        MandolinePruningBatchReader({"path": store.dataset_dir, "variable": "ghost"}, "array")
    # region rank mismatch
    with pytest.raises(ValueError, match="dims"):
        MandolinePruningBatchReader(
            {"path": store.dataset_dir, "variable": "v", "region": "0:1"}, "array"
        )
    # records form on an array variable
    import pyspark.errors

    with pytest.raises(Exception, match="record-log"):
        (
            ds_spark.read.format("mandoline")
            .option("path", store.dataset_dir)
            .option("variable", "v")
            .option("form", "records")
            .load()
        )


def test_aborted_write_chunks_are_gc_reclaimable(ds_spark, store):
    """Task chunks carry ref 0 until commit grants the ref, so a write
    that never commits leaves only chunks gc_chunks() can reclaim."""
    from pyspark.sql import Row

    from mandoline_hbase_spark.sources.datasource import MandolineWriter

    schema = ds_spark.createDataFrame([(1, "x")], "id bigint, name string").schema
    w = MandolineWriter({"path": store.dataset_dir, "variable": "docs"}, schema, False)
    msg = w.write(iter([Row(id=1, name="doomed")]))
    assert msg.chunk_id is not None
    store.spark = ds_spark
    out = store.gc_chunks()
    assert out["chunks_removed"] == 1  # the orphan is reclaimed
    # a committed write's chunk survives GC (ref granted at commit)
    msg2 = w.write(iter([Row(id=2, name="kept")]))
    w.commit([msg2])
    out2 = store.gc_chunks()
    assert out2["chunks_removed"] == 0
    assert store.chunk_store().chunk_refs(msg2.chunk_id) == 1


def test_records_write_to_array_variable_fails_fast(ds_spark, store):
    import numpy as np
    import pytest

    store.write_variable("v", np.ones((2, 2), dtype=np.float64), chunk_shape=(2, 2))
    df = ds_spark.createDataFrame([(1, "x")], "id bigint, name string")
    with pytest.raises(Exception, match="not a record-log variable"):
        (
            df.write.format("mandoline")
            .option("path", store.dataset_dir)
            .option("variable", "v")
            .mode("append")
            .save()
        )


def test_array_dim_filter_pushdown_prunes_chunks(ds_spark, store):
    """WHERE dim0 = k plans like read_region: only intersecting chunks
    produce tasks, and results stay exact (Spark re-applies filters)."""
    from pyspark.sql.datasource import EqualTo, LessThan
    from mandoline_hbase_spark.sources.datasource import MandolinePruningBatchReader

    arr = np.arange(64, dtype=np.float64).reshape(8, 8)
    store.write_variable("v", arr, chunk_shape=(2, 2))  # 16 chunks
    opts = {"path": store.dataset_dir, "variable": "v"}

    pruned = MandolinePruningBatchReader(opts, "array")
    leftover = list(pruned.pushFilters([EqualTo(("dim0",), 5), LessThan(("dim1",), 4)]))
    assert len(leftover) == 2, "all filters still evaluated by Spark"
    # dim0=5 -> one chunk row (of 4); dim1<4 -> two chunk cols (of 4)
    assert len(pruned.partitions()) == 2

    df = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .load()
        .filter("dim0 = 5 AND dim1 < 4")
    )
    got = {(r.dim0, r.dim1): r.value for r in df.collect()}
    assert got == {(5, j): arr[5, j] for j in range(4)}


def test_array_dim_filter_empty_intersection(ds_spark, store):
    from pyspark.sql.datasource import GreaterThan, LessThan
    from mandoline_hbase_spark.sources.datasource import MandolinePruningBatchReader

    arr = np.ones((4, 4), dtype=np.float64)
    store.write_variable("v", arr, chunk_shape=(2, 2))
    r = MandolinePruningBatchReader({"path": store.dataset_dir, "variable": "v"}, "array")
    r.pushFilters([GreaterThan(("dim0",), 2), LessThan(("dim0",), 1)])
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].entries == [], "contradiction -> zero chunks"


def test_array_dim_filter_composes_with_region_option(ds_spark, store):
    from pyspark.sql.datasource import GreaterThanOrEqual

    arr = np.arange(36, dtype=np.float64).reshape(6, 6)
    store.write_variable("v", arr, chunk_shape=(2, 2))
    df = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .option("region", "0:4,0:6")
        .load()
        .filter("dim0 >= 2")
    )
    got = {(r.dim0, r.dim1) for r in df.collect()}
    assert got == {(i, j) for i in (2, 3) for j in range(6)}


def test_array_value_filter_skips_chunks(ds_spark, store):
    """WHERE value > x prunes array chunks via the write-side value
    min/max sidecar — scientific 'find the hot cells' scans read only
    the chunks that can contain them."""
    from pyspark.sql.datasource import GreaterThan
    from mandoline_hbase_spark.sources.datasource import MandolinePruningBatchReader

    arr = np.arange(64, dtype=np.float64).reshape(8, 8)  # chunk maxima rise with dim0
    store.write_variable("v", arr, chunk_shape=(2, 8))   # 4 chunks, disjoint value ranges
    opts = {"path": store.dataset_dir, "variable": "v"}

    r = MandolinePruningBatchReader(opts, "array")
    r.pushFilters([GreaterThan(("value",), 47.0)])
    assert len(r.partitions()) == 1  # values 48..63 live in one chunk

    df = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "v")
        .load()
        .filter("value > 47.0")
    )
    got = {(r_.dim0, r_.dim1) for r_ in df.collect()}
    assert got == {(i, j) for i in (6, 7) for j in range(8)}


def test_record_change_feed_stream(ds_spark, store, tmp_path):
    """The version log as a RECORD change feed: appends arrive as CDF
    'append' rows; a merge emits the rewritten chunk's prior rows as
    'remove' and its new rows as 'append' — ±weight folds of the feed
    reconstruct any aggregate incrementally."""
    from mandoline_hbase_spark.merge import merge_records

    seed = [(i, f"n{i}", float(i)) for i in range(6)]
    (
        ds_spark.createDataFrame(seed, "id BIGINT, name STRING, score DOUBLE")
        .repartitionByRange(2, "id")
        .write.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .mode("append")
        .save()
    )
    merge_records(
        ds_spark, store.dataset_dir,
        ds_spark.createDataFrame([(1, "v2", 100.0)], "id BIGINT, name STRING, score DOUBLE"),
        ["id"],
    )

    q = (
        ds_spark.readStream.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .option("form", "changes")
        .load()
        .writeStream.format("memory")
        .queryName("record_changes_feed")
        .option("checkpointLocation", str(tmp_path / "ckpt-rcf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = ds_spark.sql("select * from record_changes_feed").collect()
    versions = sorted({r._version for r in rows})
    assert len(versions) == 2  # seed commit + merge commit

    # fold the feed with +/- weights: final state equals the table
    net = {}
    for r in rows:
        w = 1 if r._change_type == "append" else -1
        key = (r.id, r.name, r.score)
        net[key] = net.get(key, 0) + w
    final = {k for k, w in net.items() if w > 0}
    expected = {(i, f"n{i}", float(i)) for i in range(6) if i != 1} | {(1, "v2", 100.0)}
    assert final == expected

    # the merge version carries both sides of the rewritten chunk
    merge_rows = [r for r in rows if r._version == versions[1]]
    assert {r._change_type for r in merge_rows} == {"append", "remove"}


def test_native_stream_sink_exactly_once(ds_spark, store, tmp_path):
    """writeStream.format('mandoline'): one version per micro-batch,
    replayed batch ids are skipped (fresh checkpoint, same app id)."""
    src = tmp_path / "sink-src"
    for batch in ([(1, "a"), (2, "b")], [(3, "c")]):
        ds_spark.createDataFrame(batch, "id BIGINT, name STRING").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run(ckpt):
        q = (
            ds_spark.readStream.schema("id BIGINT, name STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.format("mandoline")
            .option("path", store.dataset_dir)
            .option("variable", "records")
            .option("stream_app_id", "sink-app")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    back = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .option("form", "records")
        .load()
    )
    assert sorted((r.id, r.name) for r in back.collect()) == [(1, "a"), (2, "b"), (3, "c")]
    n_versions = len(store.versions())
    assert n_versions == 2  # one version per micro-batch

    # fresh checkpoint, same app id: every batch replays and is skipped
    run("ck2")
    assert len(store.versions()) == n_versions
    assert back.count() == 3

    # new data beyond the stamped prefix still lands (re-load: the old
    # DataFrame's snapshot is pinned at its own load time — MVCC reads)
    ds_spark.createDataFrame([(4, "d")], "id BIGINT, name STRING").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run("ck1")
    assert back.count() == 3, "previously loaded frame keeps its snapshot"
    fresh = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .option("form", "records")
        .load()
    )
    assert fresh.count() == 4


def test_same_dataframe_filter_then_full_scan_loses_no_rows(ds_spark, store):
    """Regression: Spark's Python DSv2 caches ONE read plan per loaded
    DataFrame and filter pushdown overwrites it, so with a pruning
    reader, df.filter(c).count() followed by df.count() on the SAME df
    replays the filter-pruned partitions and silently drops rows. The
    DEFAULT reader therefore declares no pushFilters — this pattern must
    return every row."""
    seed = [(i, f"n{i}", float(i)) for i in range(40)]
    (
        ds_spark.createDataFrame(seed, "id BIGINT, name STRING, score DOUBLE")
        .repartitionByRange(4, "id")
        .write.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .mode("append")
        .save()
    )
    df = (
        ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .option("form", "records")
        .load()
    )
    assert df.filter("score >= 30").count() == 10
    assert df.count() == 40  # the poisoned-plan replay would return 10
    assert df.filter("id = 7").count() == 1
    assert df.count() == 40


def test_filter_pruning_option_routes_through_spark_read(ds_spark, store):
    """The opt-in option must actually engage pruning in a real
    spark.read plan: a point lookup on a clustered layout returns exact
    rows, and a FRESH pruning load used for one query shape stays
    correct across its own re-executions."""
    seed = [(i, f"n{i}", float(i)) for i in range(400)]
    (
        ds_spark.createDataFrame(seed, "id BIGINT, name STRING, score DOUBLE")
        .repartitionByRange(4, "id")
        .write.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .mode("append")
        .save()
    )

    def load(pruning):
        r = (
            ds_spark.read.format("mandoline")
            .option("path", store.dataset_dir)
            .option("variable", "records")
            .option("form", "records")
        )
        if pruning:
            r = r.option("filter_pruning", "true")
        return r.load()

    got = load(True).filter("id = 7").collect()
    assert [(r.id, r.name) for r in got] == [(7, "n7")]
    # pruning really engaged: the point lookup plans ONE chunk task
    assert load(True).filter("id = 7").rdd.getNumPartitions() == 1
    assert load(False).filter("id = 7").rdd.getNumPartitions() == 4
    # the same filtered query repeats deterministically on its own load
    df = load(True).filter("score >= 390")
    assert df.count() == 10 and df.count() == 10
    # and a fresh default load sees everything regardless
    assert load(False).count() == 400


def _write_records(ds_spark, store, df):
    (
        df.write.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .mode("append")
        .save()
    )


def test_native_scan_equals_dsv2_and_backfills(ds_spark, store):
    """read_records_native (VERDICT r8 #4): the native parquet scan of
    the live chunk files equals the DSv2 row set; deleting the sidecar
    directory backfills it from the chunks log (the pre-sidecar /
    merge-writer migration path)."""
    import os
    import shutil

    from mandoline_hbase_spark import layout

    df = ds_spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(id * 2 AS DOUBLE) AS v"
    )
    _write_records(ds_spark, store, df.repartition(4, "k"))
    dsv2 = sorted(
        (r.k, r.v)
        for r in ds_spark.read.format("mandoline")
        .option("path", store.dataset_dir)
        .option("variable", "records")
        .option("form", "records")
        .load()
        .collect()
    )
    native_df = layout.read_records_native(ds_spark, store.dataset_dir, "records")
    assert sorted((r.k, r.v) for r in native_df.collect()) == dsv2
    # the plan really is Spark's native parquet scan, not a Python source
    plan = native_df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan[:2000]
    # sidecar files landed at write time
    fdir = os.path.join(store.dataset_dir, "chunks_files")
    assert os.path.isdir(fdir) and os.listdir(fdir)
    # nuke the sidecar: the reader must backfill from the chunks log
    shutil.rmtree(fdir)
    refetched = layout.read_records_native(ds_spark, store.dataset_dir, "records")
    assert sorted((r.k, r.v) for r in refetched.collect()) == dsv2
    assert os.listdir(fdir)


def test_native_scan_duplicate_content_falls_back_to_dsv2(ds_spark, store):
    """Two coordinates sharing one content-addressed chunk must NOT be
    scanned as duplicate native paths — the helper detects the
    collision and serves through the multiplicity-correct DSv2 read."""
    from mandoline_hbase_spark import layout

    one = ds_spark.createDataFrame([(1, 1.0)], "k bigint, v double").coalesce(1)
    _write_records(ds_spark, store, one)
    _write_records(ds_spark, store, one)  # identical bytes -> same chunk id
    out = layout.read_records_native(ds_spark, store.dataset_dir, "records")
    rows = [(r.k, r.v) for r in out.collect()]
    assert rows == [(1, 1.0), (1, 1.0)]  # both coordinates' rows survive
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" not in plan  # served by the DSv2 fallback


def test_native_scan_null_fills_added_columns(ds_spark, store):
    """Add-column evolution: chunks written before the column was added
    null-fill under the current schema in the native scan, matching the
    DSv2 reconciler."""
    from mandoline_hbase_spark import layout

    _write_records(
        ds_spark,
        store,
        ds_spark.createDataFrame([(1, 1.0)], "k bigint, v double").coalesce(1),
    )
    _write_records(
        ds_spark,
        store,
        ds_spark.createDataFrame(
            [(2, 2.0, "x")], "k bigint, v double, tag string"
        ).coalesce(1),
    )
    out = layout.read_records_native(ds_spark, store.dataset_dir, "records")
    got = {r.k: (r.v, r.tag) for r in out.collect()}
    assert got == {1: (1.0, None), 2: (2.0, "x")}


def test_native_scan_fallback_honors_requested_version(ds_spark, store):
    """ADVICE r9 #1: when the duplicate-content fallback routes a
    native read through the DSv2 path, the requested VERSION must
    thread through — a time-travel read must never silently serve the
    latest snapshot."""
    from mandoline_hbase_spark import layout

    one = ds_spark.createDataFrame([(1, 1.0)], "k bigint, v double").coalesce(1)
    _write_records(ds_spark, store, one)
    _write_records(ds_spark, store, one)  # same bytes -> shared chunk id
    v2 = store.latest_version_id()
    _write_records(
        ds_spark,
        store,
        ds_spark.createDataFrame([(9, 9.0)], "k bigint, v double").coalesce(1),
    )
    out = layout.read_records_native(ds_spark, store.dataset_dir, "records", version=v2)
    rows = sorted((r.k, r.v) for r in out.collect())
    assert rows == [(1, 1.0), (1, 1.0)]  # v2 snapshot: no (9, 9.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" not in plan  # duplicate-content DSv2 fallback


def test_native_scan_widened_type_falls_back_to_dsv2(ds_spark, store):
    """ADVICE r9 #3: widening evolution (float -> double) leaves old
    chunk files with the NARROW physical type; the native vectorized
    reader can't cast per file, so read_records_native must detect the
    type change in the schema history and serve through the DSv2
    reconciler — correctly, not crash."""
    from mandoline_hbase_spark import layout

    _write_records(
        ds_spark,
        store,
        ds_spark.createDataFrame([(1, 1.5)], "k bigint, v float").coalesce(1),
    )
    _write_records(
        ds_spark,
        store,
        ds_spark.createDataFrame([(2, 2.5)], "k bigint, v double").coalesce(1),
    )
    out = layout.read_records_native(ds_spark, store.dataset_dir, "records")
    got = sorted((r.k, float(r.v)) for r in out.collect())
    assert got == [(1, 1.5), (2, 2.5)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" not in plan  # widened-type DSv2 fallback
