"""HBase integration bridge: bulk export/import in the reference's layout.

BASELINE.json's approach note: "HBase integration layer could leverage
Spark for bulk operations but real-time access patterns are non-Spark".
This module is that bulk layer: it renders a dataset as the EXACT
key-value rows the reference stores in HBase — reversed-root table
names, packed row keys, the ``:D`` column family's qualifiers — so a
bulk load into a live HBase (via HFile generation or the HBase Spark
connector, neither present in this container) is a plain
``df.write`` of these frames, and a migration back is ``from_kv``.

Layout reproduced verbatim from the reference (hbase.clj:21-35):

- table ``<reversed-root>.<dataset>.chunks``:   rowkey = chunk-id,
  ``v`` = payload bytes, ``r`` = ref-count           (hbase.clj:21-23)
- table ``<reversed-root>.<dataset>.indices``:  rowkey =
  ``"<var>|<c0/c1/...>|<version>"``, ``v`` = chunk-id (hbase.clj:24-25,
  key packing per coordinate->key, hbase.clj:176-182)
- table ``<reversed-root>.<dataset>.versions``: rowkey = version string,
  ``t`` = version millis, ``v`` = metadata JSON       (hbase.clj:26-28)

Everything is a distributed DataFrame transform — no driver loops over
chunks; a 100 TB dataset exports as a parquet->parquet job.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mandoline_hbase_spark.engine import Connection, root_table_prefix

KV_COLUMNS = ["table", "rowkey", "qualifier", "value_bytes", "value_long"]


def _table_name(prefix: str, dataset: str, role: str) -> str:
    """``get-table-name`` semantics: dot-joined components (hbase.clj:57-68)."""
    return f"{prefix}.{dataset}.{role}"


def to_kv(
    conn: Connection,
    spark: SparkSession,
    root: str = "mandoline.io",
    db_version: str | None = None,
) -> DataFrame:
    """Render the whole dataset as reference-layout key-value rows.

    One row per (table, rowkey, qualifier); binary values in
    ``value_bytes``, numeric ones in ``value_long`` (HBase stores both
    as bytes; keeping the long typed makes the frame queryable).
    """
    prefix = root_table_prefix(root, db_version)
    ds = conn.dataset_name

    # the physical chunks table is a log (ref_delta records, merge-on-read);
    # HBase stores RESOLVED state, so collapse to current ref-count + payload
    chunks_log = conn.spark_table("chunks", spark)
    chunks = chunks_log.groupBy("chunk_id").agg(
        F.sum("ref_delta").alias("ref_count"),
        F.first("data", ignorenulls=True).alias("data"),
    )
    chunk_rows = chunks.select(
        F.lit(_table_name(prefix, ds, "chunks")).alias("table"),
        F.col("chunk_id").alias("rowkey"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("v").alias("qualifier"),
                    F.col("data").alias("value_bytes"),
                    F.lit(None).cast("long").alias("value_long"),
                ),
                F.struct(
                    F.lit("r").alias("qualifier"),
                    F.lit(None).cast("binary").alias("value_bytes"),
                    F.col("ref_count").alias("value_long"),
                ),
            )
        ).alias("kv"),
    ).select("table", "rowkey", "kv.qualifier", "kv.value_bytes", "kv.value_long")

    # same resolution for the index log: last write (max seq) wins per key
    from pyspark.sql import Window

    idx_log = conn.spark_table("indices", spark)
    w = Window.partitionBy("var_name", "coord_id", "version_id").orderBy(F.desc("seq"))
    indices = (
        idx_log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & F.col("chunk_id").isNotNull())
        .drop("_rn")
    )
    index_rows = indices.select(
        F.lit(_table_name(prefix, ds, "indices")).alias("table"),
        # coordinate->key packing: "<var>|<coord-id>|<version>" (hbase.clj:181-182)
        F.concat_ws(
            "|", F.col("var_name"), F.col("coord_id"), F.col("version_id").cast("string")
        ).alias("rowkey"),
        F.lit("v").alias("qualifier"),
        F.encode(F.col("chunk_id"), "UTF-8").alias("value_bytes"),
        F.lit(None).cast("long").alias("value_long"),
    )

    versions = conn.spark_table("versions", spark)
    version_rows = versions.select(
        F.lit(_table_name(prefix, ds, "versions")).alias("table"),
        F.col("version_id").cast("string").alias("rowkey"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("t").alias("qualifier"),
                    F.lit(None).cast("binary").alias("value_bytes"),
                    F.col("version_id").alias("value_long"),
                ),
                F.struct(
                    F.lit("v").alias("qualifier"),
                    F.encode(F.col("metadata"), "UTF-8").alias("value_bytes"),
                    F.lit(None).cast("long").alias("value_long"),
                ),
            )
        ).alias("kv"),
    ).select("table", "rowkey", "kv.qualifier", "kv.value_bytes", "kv.value_long")

    return chunk_rows.unionByName(index_rows).unionByName(version_rows)


def from_kv(kv: DataFrame, schema, dataset: str) -> Connection:
    """Rebuild a dataset from bridge rows (bulk import direction).

    ``schema`` is an ``engine.Schema``; the dataset is created (must not
    exist). Row keys are unpacked back into normalized columns — the
    inverse of the packing above.
    """
    from mandoline_hbase_spark import storage

    schema.create_dataset(dataset)
    conn = schema.connect(dataset)

    # Chunks: payload bytes and resolved ref-counts land as chunk-log
    # records written FROM THE EXECUTORS (same distributed-append shape
    # as the ingest commit) — a 100 TB export imports without a single
    # chunk byte crossing the driver.
    rows = kv.filter(F.col("table").endswith(".chunks"))
    chunk_log = (
        rows.groupBy("rowkey")
        .pivot("qualifier", ["v", "r"])
        .agg(F.first("value_bytes").alias("b"), F.first("value_long").alias("l"))
        .select(
            F.col("rowkey").alias("chunk_id"),
            F.col("r_l").cast("long").alias("ref_delta"),
            F.col("v_b").alias("data"),
        )
    )
    storage.write_chunks_df(chunk_log, conn._dirs["chunks"])

    # Indices: unpack row keys into index-log records executor-side; one
    # import-wide seq stamps the batch (exactly how a distributed commit
    # stamps its appends). "_" is the scalar coordinate (codec
    # id_to_coordinate), packed keys are "/"-joined ints.
    seq = storage.next_seq()
    # qualifier filter: a live store's write-index also carries the
    # reference's ``:k`` rowkey-mirror cells (hbase.clj:237); importing
    # those as chunk ids would plant one bogus index record per key
    idx = kv.filter(
        F.col("table").endswith(".indices") & (F.col("qualifier") == "v")
    ).select(
        F.split(F.col("rowkey"), r"\|").alias("parts"),
        F.decode(F.col("value_bytes"), "UTF-8").alias("chunk_id"),
    )
    coord = F.when(
        F.col("parts")[1] == "_", F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(F.split(F.col("parts")[1], "/"), lambda c: c.cast("bigint"))
    )
    (
        idx.select(
            F.col("parts")[0].alias("var_name"),
            F.col("parts")[1].alias("coord_id"),
            coord.alias("coord"),
            F.col("parts")[2].cast("long").alias("version_id"),
            "chunk_id",
            F.lit(int(seq)).cast("long").alias("seq"),
        )
        .write.mode("append")
        .parquet(conn._dirs["indices"])
    )

    v_rows = (
        kv.filter(F.col("table").endswith(".versions") & (F.col("qualifier") == "v"))
        .select(
            F.col("rowkey").cast("long").alias("version_id"),
            F.decode(F.col("value_bytes"), "UTF-8").alias("metadata"),
        )
        .orderBy("version_id")
        .collect()
    )
    for r in v_rows:
        conn.write_version(json.loads(r.metadata))
    return conn
