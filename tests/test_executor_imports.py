"""Spark tasks and data source runners reach package modules through
``datasource._package``: a driver whose cwd is not the repo, with no
PYTHONPATH entry for it, puts the repo on its own ``sys.path`` only, and
still writes, reads back, merges and diffs a records variable."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, {repo!r})

    from pyspark.sql import SparkSession

    from mandoline_hbase_spark.engine import mk_schema
    from mandoline_hbase_spark.merge import merge_records
    from mandoline_hbase_spark.sources.datasource import register
    from mandoline_hbase_spark.versioning import record_changes

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-XX:+UseSerialGC")  # quicker JVM start
        .getOrCreate()
    )
    register(spark)
    schema = mk_schema({{"root": "executor.mandoline.io", "base_path": "store"}})
    schema.create_dataset("ds")
    conn = schema.connect("ds")
    path = conn.dataset_dir
    ddl = "id bigint, v double"

    df = spark.createDataFrame([(i, float(i)) for i in range(6)], ddl)
    df.write.format("mandoline").option("path", path).option("variable", "records").mode("append").save()
    v0 = conn.latest_version_id()
    back = (
        spark.read.format("mandoline").option("path", path).option("variable", "records")
        .option("form", "records").load().collect()
    )
    assert sorted((r.id, r.v) for r in back) == [(i, float(i)) for i in range(6)], back

    updates = spark.createDataFrame([(1, 10.0), (9, 9.0)], ddl)
    v1 = merge_records(spark, path, updates, ["id"])["version"]
    changes = record_changes(spark, path, v0, v1, ["id"]).collect()
    got = sorted((r.id, r._change_type, r.v) for r in changes)
    assert got == [
        (1, "update_postimage", 10.0), (1, "update_preimage", 1.0), (9, "insert", 9.0)
    ], got
    spark.stop()
    print("EXECUTOR-IMPORTS-OK")
    """
)


def test_driver_outside_repo_writes_reads_merges_and_diffs(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    assert "EXECUTOR-IMPORTS-OK" in out.stdout
