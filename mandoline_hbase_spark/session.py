"""SparkSession factory with scale-conscious defaults.

Local testing runs ``local[N]``; the same configuration names are what you
would tune on a 1000-executor cluster (AQE, shuffle partitions, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mandoline_hbase_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults follow the environment contract: ``local[$SPARK_GRAFT_CPUS]``
    (falling back to ``local[*]``), shuffle partitions ~= cores for local
    mode. On a real cluster, callers pass ``master=None`` and rely on
    spark-submit; these conf defaults (AQE on, skew-join on, Arrow on,
    UTC session timezone) are the at-scale settings too.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # recursive CTEs: the DEPTH limit (cteRecursionLevelLimit, 100)
        # is the real runaway guard — every catalog recursion is
        # depth-bounded by construction. The ROW limit scales with data
        # (1.5M customers x depth-8 chains legitimately exceeds the 1M
        # default at sf10) and would false-positive on any large corpus,
        # so raise it; a genuinely unbounded recursion still dies on
        # depth long before 100M rows per level matters.
        .config("spark.sql.cteRecursionRowLimit", "100000000")
        .config("spark.ui.enabled", "false")
        # 24g default: local mode runs all 32 task threads in ONE JVM,
        # so execution memory per task is driver-heap/32 — the old 8g
        # default gave ~150 MB/task and OOM'd legitimate sf10 shuffles
        # (UNABLE_TO_ACQUIRE_MEMORY in graph_pagerank) on a 128 GiB box
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # the catalog is codegen-heavy (multi-hash sketches, wide aggs); the
        # JVM default 240m code cache fills over a long session and silently
        # drops to interpreted execution
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        # ContextCleaner only reclaims dead checkpoint/shuffle/broadcast
        # blocks when the DRIVER GCs, and a 24-48g heap can go many
        # minutes between collections — in a long session the iterative
        # operators' localCheckpoints accumulate as dead-but-unreleased
        # storage until eviction/spill thrash sets in (measured: the
        # same sf10h query swinging 25s..138s across back-to-back
        # passes). The periodic-GC interval is Spark's knob for exactly
        # this long-lived-driver shape; 45s costs one minor pause and
        # keeps storage memory honest.
        .config("spark.cleaner.periodicGC.interval", "45s")
        # PySpark's DataFrame call-site capture costs about five py4j
        # round trips on every F.*/Column call (a query build makes
        # ~1,500 of them), and buys only the Python call site in error
        # messages' query context, which nothing here reads. To get it
        # back, pass extra_conf={"spark.python.sql.dataFrameDebugging.
        # enabled": "true"} on the FIRST get_spark of the process:
        # PySpark reads the flag once, at the first DataFrame call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
