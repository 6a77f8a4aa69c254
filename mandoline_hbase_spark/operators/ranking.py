"""Distributed global ranking: exact row_number / ntile without a
single-partition window.

``Window.orderBy(...)`` with no partitionBy moves the whole table onto
ONE task — correct, but the canonical 100 TB scale-killer (Spark itself
warns "Moving all data to a single partition"). These operators compute
the same exact answers with the classic two-pass distributed ranking:

1. ``repartitionByRange`` on the sort key — one range shuffle, every
   partition holds a contiguous key range in partition-id order;
2. a per-partition ``row_number`` window (local sort, no exchange);
3. per-partition row counts prefix-summed into offsets — driver state is
   ONE LONG PER PARTITION (k-bounded, like the ANN centroid collects),
   never per-row.

``global rank = offset[partition] + local row_number`` is exact because
range partitions are disjoint and ordered; the sort key must be a total
order (add a unique tiebreaker column) so ranks are well defined.

The repartitioned frame is materialized with an eager localCheckpoint
before the counts job: both the offsets and the ranked output must see
the SAME partition boundaries, and range-partitioner sampling across two
separate jobs is not contractually stable. The checkpoint is the same
executor-side materialization the connected-components rounds use.

A global top-k needs none of this: :func:`topk_with_rank` limits first
and stamps the rank over the ``k`` survivors only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.column import Column

from mandoline_hbase_spark.plans.audit import checkpoint_audited


def _ranked_with_total(
    df: DataFrame, order: list[Column], out_col: str, num_partitions: int | None
) -> tuple[DataFrame, int]:
    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    d = checkpoint_audited(
        df.repartitionByRange(n_part, *order).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("bigint")), 0
    off = F.create_map(*[F.lit(x) for pid_acc in offsets.items() for x in pid_acc])[
        F.col("_pid")
    ]
    w = Window.partitionBy("_pid").orderBy(*order)
    ranked = d.withColumn(
        out_col, (off + F.row_number().over(w)).cast("bigint")
    ).drop("_pid")
    return ranked, acc


def with_global_row_number(
    df: DataFrame,
    order: list[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row number over ``order`` (must be a total
    order), computed with a range shuffle + per-partition windows instead
    of a single-partition global window."""
    ranked, _ = _ranked_with_total(df, order, out_col, num_partitions)
    return ranked


def topk_with_rank(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """The ``k`` first rows of ``df`` under ``order`` (a total order),
    returned as ``(rank, <df's columns>)`` with a dense 1-based rank
    (``df`` must not already hold a ``rank`` column).

    ``limit`` comes first, so the plan is TakeOrderedAndProject
    (per-partition heaps, never a global sort); the single-partition
    ``row_number`` window then runs over only the ``k`` surviving rows.
    Stamping the rank before the limit would move the whole input to
    one partition."""
    top = df.orderBy(*order).limit(int(k))
    rank = F.row_number().over(Window.orderBy(*order)).cast("bigint")
    return top.select(rank.alias("rank"), *top.columns)


def ntile_from_rank(rank: Column, n_rows: int, n_buckets: int) -> Column:
    """The exact SQL ``ntile`` bucket for a 1-based global ``rank``:
    the first ``n_rows % n_buckets`` buckets get ``n_rows // n_buckets
    + 1`` rows, the rest one fewer — identical to the window function,
    as a map-only expression."""
    base = n_rows // n_buckets
    rem = n_rows % n_buckets
    big = rem * (base + 1)
    return (
        F.when(rank <= F.lit(big), F.floor((rank - 1) / F.lit(base + 1)))
        .otherwise(F.lit(rem) + F.floor((rank - 1 - F.lit(big)) / F.lit(max(base, 1))))
        + 1
    ).cast("bigint")


def with_global_ntile(
    df: DataFrame,
    n_buckets: int,
    order: list[Column],
    out_col: str = "bin",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``ntile(n_buckets)`` over ``order`` (a total order),
    with no single-partition window in the plan."""
    ranked, n_rows = _ranked_with_total(df, order, "_grank", num_partitions)
    if n_rows == 0:
        return ranked.withColumn(out_col, F.lit(None).cast("bigint")).drop("_grank")
    return ranked.withColumn(
        out_col, ntile_from_rank(F.col("_grank"), n_rows, n_buckets)
    ).drop("_grank")


# --- Retrieval evaluation (graded-relevance IR metrics) ---------------------
#
# Discount/reciprocal tables are INTEGER micro-units precomputed here in
# Python (round(1e9 / log2(rank+1)), floor(1e6 / rank)) and embedded as
# literals on BOTH engines: NDCG's log2 never runs inside either engine,
# so JVM-vs-libm last-ulp divergence cannot touch the metrics — the only
# float is one final division of two exact integers (deterministic IEEE),
# the pagerank/BLAS micro-unit idiom applied to IR evaluation.

NDCG_DISC_UNITS: tuple[int, ...] = (
    1_000_000_000, 630_929_754, 500_000_000, 430_676_558, 386_852_807,
)  # round(1e9 / log2(rank + 1)) for rank 1..5
MRR_UNITS: tuple[int, ...] = (1_000_000, 500_000, 333_333, 250_000, 200_000)


def ndcg_ideal_units(k: int) -> int:
    """IDCG@k in units for the graded scheme rel = k+1-truth_rank (every
    query has exactly k judged docs, so the ideal ordering is the truth
    ranking itself): sum of (2^rel - 1) * disc."""
    if not 1 <= k <= len(NDCG_DISC_UNITS):
        raise ValueError(f"k must be 1..{len(NDCG_DISC_UNITS)}")
    return sum(
        ((1 << (k + 1 - r)) - 1) * NDCG_DISC_UNITS[r - 1] for r in range(1, k + 1)
    )


def retrieval_eval_report(
    run_df: DataFrame, truth_df: DataFrame, k: int = 5
) -> DataFrame:
    """Per-query graded-relevance IR metrics of a retrieval ``run``
    against a ``truth`` ranking (both ``(query_id, rank, neighbor_id)``
    top-k frames): hits@k, MRR, DCG and NDCG@k.

    Relevance grades derive from the truth ranking itself
    (``rel = k+1 - truth_rank`` — truth top-1 is most relevant, a doc
    outside the truth top-k grades 0), gains are ``2^rel - 1``
    (the standard burst-gain NDCG), discounts are the module's integer
    tables. Per-query aggregation sums INTEGERS (order-free), so every
    output column except the final ``ndcg = round(dcg/idcg, 6)`` is
    exact — and that one divides two exact integers.

    Plan shape: one broadcast-sized equi-join (run x truth on
    (query_id, neighbor_id) — both k-bounded per query) and one
    query-grain aggregate. Scales with the number of queries, never the
    corpus.

    Output: ``(query_id, hits, mrr_units, dcg_units, ndcg)``.
    """
    idcg = ndcg_ideal_units(k)
    rel_truth = truth_df.select(
        "query_id",
        F.col("neighbor_id").alias("t_neighbor"),
        (F.lit(k + 1) - F.col("rank")).cast("int").alias("rel"),
    )
    # explicit aliases: run and truth often share lineage (e.g. a
    # perfect-run self-evaluation), which the implicit column refs of a
    # plain join would reject as ambiguous
    run = run_df.select("query_id", "rank", "neighbor_id").alias("r")
    j = run.join(
        rel_truth.alias("t"),
        (F.col("r.query_id") == F.col("t.query_id"))
        & (F.col("r.neighbor_id") == F.col("t.t_neighbor")),
        "left",
    ).select(
        F.col("r.query_id").alias("query_id"),
        F.col("r.rank").alias("rank"),
        F.col("r.neighbor_id").alias("neighbor_id"),
        F.col("t.rel").alias("rel"),
    )
    rel = F.coalesce(F.col("rel"), F.lit(0))

    gain = F.lit(0)
    for r in range(1, k + 1):  # rel -> 2^rel - 1, as literals
        gain = F.when(rel == r, F.lit((1 << r) - 1)).otherwise(gain)
    disc = F.lit(0)
    for r in range(1, k + 1):
        disc = F.when(F.col("rank") == r, F.lit(NDCG_DISC_UNITS[r - 1])).otherwise(disc)

    scored = j.withColumn("gain", gain.cast("long")).withColumn(
        "disc", disc.cast("long")
    )
    agg = scored.groupBy("query_id").agg(
        F.sum((rel > 0).cast("int")).cast("int").alias("hits"),
        F.min(F.when(rel > 0, F.col("rank"))).alias("first_hit"),
        F.sum(F.col("gain") * F.col("disc")).alias("dcg_units"),
    )
    mrr = F.lit(0)
    for r in range(1, k + 1):
        mrr = F.when(F.col("first_hit") == r, F.lit(MRR_UNITS[r - 1])).otherwise(mrr)
    return agg.select(
        "query_id",
        "hits",
        mrr.cast("long").alias("mrr_units"),
        "dcg_units",
        F.round(F.col("dcg_units") / F.lit(float(idcg)), 6).alias("ndcg"),
    )
