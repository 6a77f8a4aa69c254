"""Deterministic sampling operators for training-data curation.

A 100 TB pipeline cannot use ``df.sample`` for corpus curation: RNG
sampling is not reproducible across re-runs/partitionings, and the same
document must keep or drop identically in every incremental rebuild.
These operators derive the keep decision from a salted content hash of
the row's stable id, so the sample is

- deterministic (same id + salt -> same decision, any cluster layout),
- cheap (one md5 per row, no shuffle for the bernoulli form),
- incremental-friendly (new data joins an existing sample seamlessly).

The hex-threshold trick: the first 8 hex chars of md5 are uniform over
[0, 16^8); lexicographic comparison of lowercase hex strings equals
numeric comparison, so ``hex8 < threshold_hex(fraction)`` keeps an
(almost) exact ``fraction`` of ids — and the identical predicate is
expressible in any engine with ``md5`` (the DuckDB oracles use it
verbatim).

Reference parity note: the reference backend has no sampling surface
(SURVEY.md §2.2); these are north-star LLM-pipeline extensions.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mandoline_hbase_spark.operators.ranking import topk_with_rank
from mandoline_hbase_spark.plans.audit import checkpoint_audited

_HEX_SPACE = 16**8


def hash_bucket_hex(id_col: Column, salt: str) -> Column:
    """First 8 hex chars of md5 over ``id:salt`` — the sampling key."""
    return F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt))), 1, 8)


def fraction_to_hex(fraction: float) -> str:
    """Hex threshold such that hex8 < threshold keeps ~``fraction``."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return format(min(int(fraction * _HEX_SPACE), _HEX_SPACE - 1), "08x")


def sample_deterministic(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = "s42"
) -> DataFrame:
    """Bernoulli sample at ``fraction`` keyed on a salted id hash.

    Narrow (no shuffle): a filter evaluated per row wherever it lives.
    """
    return df.filter(hash_bucket_hex(F.col(id_col), salt) < F.lit(fraction_to_hex(fraction)))


def sample_stratified(
    df: DataFrame,
    fractions: Mapping[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = "s42",
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample dominant
    languages, keep all of rare ones). Still narrow — the per-stratum
    threshold is a CASE expression, not a join."""
    thr: Column = F.lit(fraction_to_hex(default_fraction))
    for value, fraction in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(fraction_to_hex(fraction))).otherwise(thr)
    return df.filter(hash_bucket_hex(F.col(id_col), salt) < thr)


def sample_topk_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "s42",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample (hash-ordered, id
    tiebreak) — the reproducible analog of per-group reservoir
    sampling. One shuffle on the group key; rank() over the salted
    hash means re-runs and incremental additions agree on the first k.
    Skew note: a hot group funnels to one task; at 100 TB pre-filter
    with :func:`sample_deterministic` so per-group row counts are
    bounded before the window sort."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket_hex(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= k)
    )


def sample_domain_quota(
    df: DataFrame,
    quota: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "quota",
    oversample: float = 4.0,
    stats: dict | None = None,
) -> DataFrame:
    """Per-domain quota curation: keep at most ``quota`` docs per group,
    chosen deterministically (smallest salted hash, id tiebreak) — the
    RefinedWeb-style cap that stops one hot domain from dominating a
    training mix. Output = input columns + ``quota_rank`` (1..quota),
    EXACTLY equal to :func:`sample_topk_per_group` with the same salt.

    This is the scale path for skewed domains: the naive per-group
    window shuffles the whole corpus and funnels each hot domain into
    one sort task. Here only candidate SURVIVORS shuffle:

    1. group sizes — a group-grain aggregate (tiny), broadcast back;
    2. map-only prefilter ``hash < threshold(oversample*quota/size)``
       bounds every group to ~``oversample*quota`` expected survivors;
    3. the exact window runs on survivors only;
    4. a deficiency audit (group-grain) catches the rare group whose
       prefilter kept fewer than ``min(size, quota)`` rows — those
       groups (usually none; the probability at 4x oversample is
       e^-quota-ish by Chernoff) rerun without the prefilter and
       replace their survivor ranks, keeping the output exact.

    Groups at or below ``oversample*quota`` rows skip the prefilter
    entirely (threshold saturates at keep-everything), so small-domain
    results never depend on the audit.

    NULL group keys form a group of their own, exactly as the window
    form treats them (``Window.partitionBy`` puts all nulls in one
    partition) — every join on the group key below is null-safe
    (``<=>``), so null-group rows flow through the prefilter, the
    audit, and the fallback like any other group.

    ``stats`` (optional out-param): ``stats["n_deficient"]`` records
    how many groups the audit sent through the exact fallback (0 = the
    prefiltered fast path served everything) — the same runtime
    observability hook as ``dedup.banded_candidate_pairs``.
    """
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    h = hash_bucket_hex(F.col(id_col), salt)
    # the group key lands in a separate column (`_qgrp`) on every
    # group-grain table so joins back to row data can use eqNullSafe
    # without ambiguous-column conflicts
    sizes = df.groupBy(F.col(group_col).alias("_qgrp")).agg(
        F.count(F.lit(1)).alias("_gsz")
    )
    gk = F.col(group_col).eqNullSafe(F.col("_qgrp"))

    # map-only prefilter: per-group hash threshold, saturating at 1.0
    frac = F.least(F.lit(1.0), F.lit(float(oversample) * quota) / F.col("_gsz"))
    # fraction_to_hex inlined as a Column: floor(frac * 16^8) as 8-hex
    thr = F.lpad(
        F.lower(F.hex(F.least(F.floor(frac * _HEX_SPACE), F.lit(_HEX_SPACE - 1)).cast("bigint"))),
        8,
        "0",
    )
    tagged = df.join(F.broadcast(sizes), gk)
    survivors = tagged.filter(h < thr).drop("_qgrp", "_gsz")

    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    ranked = survivors.withColumn("quota_rank", F.row_number().over(w).cast("bigint"))
    # eager checkpoint: the audit count and the returned plan both read
    # `kept` (≈ quota x groups rows — output-sized); without it the
    # prefilter+window pipeline would execute twice
    kept = checkpoint_audited(ranked.filter(F.col("quota_rank") <= quota))

    # deficiency audit: group-grain counts only (never row data). The
    # audit join must be null-safe too — a plain `=` would flag the
    # NULL group deficient on every call and route it through the
    # full-window fallback forever (the exact skew path this function
    # exists to avoid)
    surv_counts = kept.groupBy(F.col(group_col).alias("_qgrp2")).agg(
        F.count(F.lit(1)).alias("_kept")
    )
    deficient = (
        sizes.join(surv_counts, F.col("_qgrp").eqNullSafe(F.col("_qgrp2")), "left")
        .filter(
            F.coalesce(F.col("_kept"), F.lit(0))
            < F.least(F.col("_gsz"), F.lit(quota).cast("bigint"))
        )
        .select("_qgrp")
    )
    n_deficient = deficient.count()
    if stats is not None:
        stats["n_deficient"] = int(n_deficient)
    if n_deficient == 0:
        return kept
    # rare exact fallback: full window for the deficient groups only
    redo = df.join(F.broadcast(deficient), gk, "semi")
    redo_kept = (
        redo.withColumn("quota_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("quota_rank") <= quota)
    )
    good = kept.join(F.broadcast(deficient), gk, "anti")
    return good.unionByName(redo_kept)


def sample_weighted_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "w42",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES),
    deterministic: each row's key is ``u^(1/w)`` with ``u`` a salted-hash
    uniform in (0, 1]; the k largest keys are a weighted-without-
    replacement sample (inclusion probability proportional to weight).

    The standard quality-weighted corpus pick ("sample 1M docs, favoring
    high quality score") — reproducible across re-runs and partitionings
    because ``u`` comes from the id hash, not an RNG. Plan shape: map-only
    key computation, then global top-k (TakeOrderedAndProject — no full
    sort materialization); the rank window runs on k rows only. Rows with
    weight <= 0 are excluded (A-ES precondition).
    """
    u = (
        F.conv(hash_bucket_hex(F.col(id_col), salt), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_HEX_SPACE))
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    keyed = df.filter(F.col(weight_col).cast("double") > 0).withColumn("_aes_key", key)
    top = topk_with_rank(keyed, [F.desc("_aes_key"), F.asc(id_col)], k)
    return top.select(*df.columns, F.col("rank").alias("sample_rank"))


def mix_to_token_budget(
    df: DataFrame,
    tokens_per_source: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4,
    salt: str = "mix42",
) -> DataFrame:
    """Deterministic data mixing: fill each source's token budget.

    Training mixtures are specified as token budgets per source ("200 B
    tokens of web, 40 B of books, ..."). This selects documents to meet
    the budget reproducibly: within each source, documents are ordered
    by salted id hash (so the selection is a stable, unbiased sample of
    the source, invariant to partitioning and incremental rebuilds) and
    taken while the running token total fits the budget.

    Scale design: a single per-source running sum would serialize a 100
    TB source through one task, so the budget is split evenly over
    ``n_buckets`` id-sliced sub-buckets and the running sum is windowed
    per (source, bucket) — parallelism = sources x buckets, each window
    partition 1/n_buckets of a source. Raise ``n_buckets`` until a
    bucket fits an executor; the mixture stays deterministic because
    bucket assignment is a pure function of the id.

    Output: selected docs with ``bucket``, ``n_tok``, ``cum_tok``.
    """
    if tokens_per_source % n_buckets != 0:
        raise ValueError("tokens_per_source must divide evenly by n_buckets")
    t = F.trim(F.col(text_col))
    n_tok = (
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1)
        .cast("bigint")
    )
    bucket = (F.col(id_col) % n_buckets).cast("bigint")
    w = (
        Window.partitionBy(source_col, "bucket")
        .orderBy(hash_bucket_hex(F.col(id_col), salt), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("n_tok", n_tok)
        .withColumn("bucket", bucket)
        .withColumn("cum_tok", F.sum("n_tok").over(w))
        .filter(F.col("cum_tok") <= tokens_per_source // n_buckets)
        .select(id_col, source_col, "bucket", "n_tok", "cum_tok")
    )


def sample_weighted_topk_per_group(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "w42",
) -> DataFrame:
    """Per-group weighted sampling without replacement (A-ES keys ranked
    within each group): the quota-per-stratum form of
    :func:`sample_weighted_topk` — e.g. "k docs per source, favoring
    quality". One shuffle on the group key; the rank window sees each
    group's rows only. Same skew note as sample_topk_per_group: bound hot
    groups with a bernoulli pre-filter at extreme scale."""
    u = (
        F.conv(hash_bucket_hex(F.col(id_col), salt), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_HEX_SPACE))
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    w = Window.partitionBy(group_col).orderBy(F.desc("_aes_key"), F.asc(id_col))
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("_aes_key", key)
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= k)
        .drop("_aes_key")
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic epoch-wise global shuffle for training-data delivery.

    Every epoch needs a DIFFERENT but REPRODUCIBLE permutation of the
    corpus, sharded for the data-loader fleet. The permutation key is a
    salted hash of ``(id, epoch)`` — no RNG state, so any shard of any
    epoch can be recomputed independently (resumable training) and two
    runs of the same epoch are byte-identical. Plan shape: map-only key
    computation, one range shuffle on the key; rows land sorted within
    shards. Shard = pseudorandom key space slice, so shard sizes balance
    to within hash uniformity regardless of input order or skew.

    Returns the input columns plus ``(epoch, shard, shuffle_pos)`` with
    ``shuffle_pos`` the row's 0-based position within its shard.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = hash_bucket_hex(F.col(id_col), f"{salt}:e{int(epoch)}")
    keyed = df.withColumn("_shkey", key)
    # shard = top bits of the hash (contiguous key ranges), position =
    # rank within the shard — a per-shard window, never a global one
    # floor, not cast: Spark's double->int cast truncates while SQL
    # engines round — floor is identical everywhere
    shard = F.floor(
        F.conv(F.col("_shkey"), 16, 10).cast("double") / _HEX_SPACE * n_shards
    ).cast("int")
    from pyspark.sql import Window

    w = Window.partitionBy("_shard").orderBy(F.asc("_shkey"), F.asc(id_col))
    return (
        keyed.withColumn("_shard", F.least(shard, F.lit(n_shards - 1)))
        .withColumn("shuffle_pos", (F.row_number().over(w) - 1).cast("bigint"))
        .withColumn("epoch", F.lit(int(epoch)).cast("bigint"))
        .withColumn("shard", F.col("_shard").cast("bigint"))
        .drop("_shkey", "_shard")
    )


def split_train_val_test(
    df: DataFrame,
    fractions: tuple[float, float, float] = (0.8, 0.1, 0.1),
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by salted id hash.

    The assignment is a pure function of the id (stable across runs,
    machines and row order — the property that keeps eval sets
    uncontaminated as the corpus regenerates); fractions partition the
    hash space. Map-only: one projection, no shuffle.
    """
    f_train, f_val, f_test = fractions
    if abs(f_train + f_val + f_test - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1")
    h = hash_bucket_hex(F.col(id_col), salt)
    t1 = fraction_to_hex(f_train)
    t2 = fraction_to_hex(f_train + f_val)
    return df.withColumn(
        "split",
        F.when(h < t1, F.lit("train")).when(h < t2, F.lit("val")).otherwise(F.lit("test")),
    )


def split_by_group(
    df: DataFrame,
    group_col: str,
    fractions: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "split",
) -> DataFrame:
    """Train/val/test assignment keyed on a GROUP column instead of the
    row id: every row of a group lands in the same split.

    The leakage-free form of :func:`split_train_val_test` — split by
    near-dup cluster id (``dedup.near_duplicate_clusters``) and a
    training document can never share a cluster with an eval document,
    closing the contamination channel `split_leakage_report` measures
    AFTER the fact. Delegates to :func:`split_train_val_test` keyed on
    the group column, so the two forms can never diverge (same hash
    space, thresholds, and salt by construction).
    """
    return split_train_val_test(df, fractions, id_col=group_col, salt=salt)
