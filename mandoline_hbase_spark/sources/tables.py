"""Parquet table loaders for the driver's test corpus.

The corpus (``/root/testdata/sf*/``) is a TPC-H-ish star schema plus
``events`` (streaming fixture), ``documents`` (text/dedup fixture) and
``embeddings`` (similarity fixture). One parquet file per table.

Reads go through ``spark.read.parquet`` so Catalyst performs column
pruning and predicate pushdown into the scan — at 100 TB these tables
would be directory-partitioned and the same code would prune partitions.

Only the first read of a path infers its schema (a Spark job over the
parquet footers). ``read_parquet`` keeps one process-wide memo entry per
path, ``path -> (stamp, schema)``, and every later read passes the
memoized schema to ``spark.read.schema(...)``, so it launches no job.
The stamp is ``(st_mtime_ns, st_size, st_ino)`` for a file and the
sorted ``(name, st_mtime_ns, st_size)`` of its entries for a directory
(the staleness rule of ``operators/served.py``); a path whose stamp
changed is inferred again. Only schemas are memoized, never DataFrames:
a reused DataFrame would give both sides of a self-join the same
expression ids, and would freeze the session timezone of its first
analysis into ``load_table``'s casts.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(path: str) -> tuple:
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size, st.st_ino)
    entries = []
    for e in os.scandir(path):
        es = e.stat()
        entries.append((e.name, es.st_mtime_ns, es.st_size))
    return tuple(sorted(entries))


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``read_parquet`` plus the raw schema it read with."""
    try:
        stamp = _stamp(path)  # taken before any inference: a rewrite re-infers
    except OSError:  # not a local path: Spark infers (and reports a missing one)
        df = spark.read.parquet(path)
        return df, df.schema
    key = os.path.abspath(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        schema = hit[1]
    else:
        schema = spark.read.parquet(path).schema
        _SCHEMAS[key] = (stamp, schema)
    return spark.read.schema(schema).parquet(path), schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only on the
    first read of ``path`` or after it changed (see the module docstring)."""
    return _read(spark, path)[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table, normalizing timestamp storage variants.

    Corpus generations have stored timestamps three ways: TIMESTAMP(NANOS)
    (which the Spark parquet reader rejects outright), TIMESTAMP(MICROS)
    with timezone, and TIMESTAMP(MICROS) without (surfacing as
    TIMESTAMP_NTZ — which then fails ``unix_micros`` and comparisons
    against TIMESTAMP literals in downstream queries). Normalize EVERY
    timestamp-ish column of EVERY table to TIMESTAMP (micros, UTC session
    tz): a nanos column is read as int64 (nanosAsLong) and truncated to
    micros — exactly what DuckDB does, so oracle comparisons stay
    bit-equal; an NTZ column is reinterpreted in the UTC session
    timezone, preserving the stored micros value exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read(spark, path)
    fixes = {}
    for field in schema.fields:
        # int64-surfaced nanos only ever occurs for the events ``ts`` column
        # (nanosAsLong gives no marker distinguishing real longs from nanos,
        # so only the known-timestamp column is converted).
        if name == "events" and field.name == "ts" and isinstance(field.dataType, LongType):
            fixes["ts"] = F.timestamp_micros(F.expr("ts div 1000"))
        elif isinstance(field.dataType, TimestampNTZType):
            fixes[field.name] = F.col(field.name).cast("timestamp")
    return df.withColumns(fixes) if fixes else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every corpus table as a temp view (for the SQL API)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
