"""Corpus reads infer a parquet schema once per path and stamp
(``sources/tables.py``), the session skips DataFrame call-site capture
(``session.py``), and a served artifact follows a rewritten source
(``operators/served.memoized_artifact``)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE


def _jobs(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _inferring_load(spark, sf_dir: str, name: str):
    """``load_table`` as it read before the schema memo: an inferring
    read and one ``withColumn`` per timestamp fix."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def test_second_load_launches_no_job(spark, tmp_path):
    from mandoline_hbase_spark.sources.tables import load_table

    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path)
    first, cold = _jobs(spark, "memo-cold", lambda: load_table(spark, str(tmp_path), "orders"))
    second, warm = _jobs(spark, "memo-warm", lambda: load_table(spark, str(tmp_path), "orders"))
    assert cold, "the first read infers the schema with a Spark job"
    assert warm == []
    assert second.schema == first.schema


@pytest.mark.parametrize("name", ["lineitem", "events", "orders"])
def test_memoized_read_equals_inferring_read(spark, name):
    from mandoline_hbase_spark.sources.tables import load_table

    load_table(spark, SF_SMOKE, name)  # the memo holds this path now
    (got, jobs) = _jobs(spark, f"memo-eq-{name}", lambda: load_table(spark, SF_SMOKE, name))
    assert jobs == []
    want = _inferring_load(spark, SF_SMOKE, name)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    from mandoline_hbase_spark.sources.tables import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _jobs(spark, "memo-rewrite", lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs and df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]

    # same size and mtime, new inode (a rename into place): still re-inferred
    st = os.stat(path)
    other = str(tmp_path / "other.parquet")
    pq.write_table(pa.table({"c": [5, 6], "b": ["x", "y"]}), other)
    assert os.stat(other).st_size == st.st_size
    os.utime(other, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(other, path)
    assert load_table(spark, str(tmp_path), "t").columns == ["c", "b"]


def test_directory_stamp_follows_its_files(spark, tmp_path):
    from mandoline_hbase_spark.sources.tables import read_parquet

    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "part-0.parquet"))
    read_parquet(spark, str(d))
    df, jobs = _jobs(spark, "memo-dir-warm", lambda: read_parquet(spark, str(d)))
    assert jobs == [] and df.columns == ["a"]

    pq.write_table(pa.table({"a": [3]}), str(d / "part-1.parquet"))
    df, jobs = _jobs(spark, "memo-dir-grown", lambda: read_parquet(spark, str(d)))
    assert jobs, "a new file in the directory changes its stamp"
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_nanos_timestamps_read_as_micros_warm_and_cold(spark, tmp_path):
    from pyspark.sql.types import TimestampType

    from mandoline_hbase_spark.sources.tables import load_table

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    table = pa.table(
        {"event_id": [1, 2], "ts": pa.array(ns, type=pa.timestamp("ns"))}
    )
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6")
    cold = load_table(spark, str(tmp_path), "events")
    warm, jobs = _jobs(spark, "memo-nanos", lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == []
    for df in (cold, warm):
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got = df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id").collect()
        assert [r.us for r in got] == [v // 1000 for v in ns]


def test_two_loads_of_one_table_self_join(spark):
    from mandoline_hbase_spark.sources.tables import load_table

    a = load_table(spark, SF_SMOKE, "events")
    b = load_table(spark, SF_SMOKE, "events")
    joined = a.join(b, a["event_id"] == b["event_id"] + 1).select(
        a["event_id"], b["event_id"].alias("prev_id")
    )
    ids = set(pq.read_table(os.path.join(SF_SMOKE, "events.parquet"), columns=["event_id"])["event_id"].to_pylist())
    assert joined.count() == sum(1 for i in ids if i - 1 in ids)


def test_session_skips_dataframe_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_served_postings_follow_a_rewritten_corpus(spark, tmp_path, monkeypatch):
    """A source rewritten in the same process is served a fresh index, not
    the memoized one built from the old corpus."""
    from mandoline_hbase_spark.queries.catalog import QUERIES

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # artifact slots
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    served, text = QUERIES["bm25_served_topk"].fn, QUERIES["bm25_search_topk"].fn

    def rows(fn):
        return sorted(map(tuple, fn(spark, str(sf_dir)).collect()))

    answers = []
    for part in (docs.slice(0, 250), docs.slice(250)):
        pq.write_table(part, str(sf_dir / "documents.parquet"))
        answers.append(rows(served))
        assert answers[-1] == rows(text)
    assert answers[0] != answers[1]
