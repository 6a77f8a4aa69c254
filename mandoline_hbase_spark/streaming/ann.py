"""Continuously-maintained ANN index: streaming vector upkeep.

``operators/ann_index.py`` builds the IVF layout once from a static
corpus; a deployed similarity stack keeps the index current as new
embeddings arrive (fresh documents are embedded and must become
searchable without a full rebuild). IVF absorbs appends NATURALLY: the
coarse quantizer (centroids) is FIXED at train time, so a new vector's
cell assignment is a pure function of the persisted centroids — each
micro-batch appends exactly its own cell-partitioned rows, no corpus
rescan, no read-modify-write. (Production systems retrain centroids
offline on drift and swap the serving pointer — the same
rebuild-into-fresh-dir-and-swap discipline
``materialize_ann_index`` documents.)

Layout under ``index_dir``:

- ``codebook.json``      — written by ``init_ann_index`` (the trained
  centroids; serving and every batch assignment read it) and REPLACED
  atomically by ``retrain_ann_index``. It is the generation POINTER:
  ``cells_dir`` names the cells root the centroids belong to, so
  centroids and assignments always swap together in one
  ``os.replace`` (the single-file commit point — an object-store
  deployment makes it a conditional PUT on the same key).
- ``cells/batch-{id}/``  — generation-0 cells root (retrains write
  ``cells-g001/``, ``cells-g002/`` …): one deterministically-named
  directory per micro-batch, each internally partitioned by ``cell``;
  replays overwrite their own directory (idempotent, the
  streaming/search.py discipline). Readers glob ``batch-*`` with a
  ``basePath`` so the ``cell=N`` partition column survives — and cell
  pruning still prunes, per batch directory.
- Compaction (``compact_ann_index``) folds batch dirs into one
  consolidated batch, same crash-convergence contract as
  ``streaming/search.compact_index``: a crash between the rename and
  the source removals leaves duplicates visible (serve with
  ``dedup=True`` until the rerun), and re-running converges because
  rows are content-unique per (id, cell).
- Retraining (``retrain_ann_index``) closes the maintenance loop
  ``cell_occupancy_report`` is the signal for: refit centroids to the
  CURRENT corpus, rewrite assignments into a fresh generation root,
  swap the codebook pointer. Superseded generation roots are left on
  disk (a racing reader may still be serving from one — never rmtree
  a served dir); ``gc_ann_generations`` removes them after a quiesce.

Serving (``ivf_search``) reuses the probe computation, pruned cell scan
and scoring of the static path, so stream-maintained results equal a fit-inline
``similarity.ivf_topk`` over the union corpus — asserted by tests.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mandoline_hbase_spark.lease import maintenance_lease
from mandoline_hbase_spark.operators.ann_index import _probe_cells, _probe_scan
from mandoline_hbase_spark.operators.similarity import (
    _as_double,
    _cell_scores,
    _centroids,
    cosine_rank_topk,
)


def init_ann_index(
    index_dir: str,
    dim: int,
    n_centroids: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    id_type: str = "bigint",
) -> dict:
    """Train (here: derive deterministically; a k-means fit drops in)
    and persist the coarse quantizer. Must run ONCE before the
    maintenance stream starts — every batch assignment and every query
    probe reads these centroids, which is what makes appends pure.
    ``id_type`` is recorded so empty-index reads carry the same schema
    as populated ones (string ids work end to end)."""
    cents = _centroids(dim, n_centroids, seed)
    meta = {
        "dim": int(dim),
        "n_centroids": int(n_centroids),
        "seed": int(seed),
        "id_col": id_col,
        "id_type": id_type,
        "centroids": [[float(x) for x in row] for row in cents],
        "pq_codebook": None,
    }
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, ".codebook.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(index_dir, "codebook.json"))
    return meta


def _load_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "codebook.json")) as f:
        return json.load(f)


def _cells_root(index_dir: str, meta: dict) -> str:
    """The cells root of the codebook's CURRENT generation. Pre-retrain
    indexes carry no ``cells_dir`` key and resolve to ``cells/``."""
    return os.path.join(index_dir, meta.get("cells_dir", "cells"))


def _batch_dir(index_dir: str, batch_id: int, meta: dict) -> str:
    return os.path.join(_cells_root(index_dir, meta), f"batch-{int(batch_id):010d}")


def _assign_cells(df: DataFrame, cents, id_col: str, vec_col: str) -> DataFrame:
    """(id, embedding, cell) with the serving path's exact assignment
    expression: max dot product against the centroid literals, ties to
    the lower cell index (array_position finds the first maximum)."""
    return (
        df.select(F.col(id_col), _as_double(vec_col).alias("embedding"))
        .withColumn("cells", _cell_scores(F.col("embedding"), cents))
        .withColumn(
            "cell", (F.array_position("cells", F.array_max("cells")) - 1).cast("int")
        )
        .drop("cells")
    )


def append_ann_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    vec_col: str = "embedding",
) -> None:
    """The ``foreachBatch`` body: assign this batch's vectors to cells
    with the PERSISTED centroids and append them, partitioned by cell.
    Safe to replay (overwrite into the batch's own directory); cost ∝
    the batch, never the accumulated index.

    RETRAIN-RACE SELF-HEAL: a retrain's pointer swap can land between
    this append's codebook read and its write, stranding the batch in
    the superseded generation root — rows that would silently vanish
    once ``gc_ann_generations`` removes that root. So after every
    write the codebook is RE-READ; if the generation pointer moved, the
    batch is re-assigned with the new centroids and re-written into
    the current root (idempotent — replays overwrite the batch's own
    directory), looping until the pointer observed before and after
    the write agree. The quiesce convention still holds for retrains
    themselves; this NARROWS the silent-row-loss window when it is
    violated but cannot close it alone: a batch written after the
    retrain's corpus snapshot whose re-read also precedes the swap sees
    a stable pointer and never re-lands. That residue is covered by
    ``gc_ann_generations``, which refuses to delete a superseded root
    holding a post-SNAPSHOT batch directory absent from the current
    root (the retrain records its snapshot time as the root's straggler
    bound) — re-running the append re-lands such rows."""
    import numpy as np

    meta = _load_meta(index_dir)
    for _ in range(5):
        cents = np.asarray(meta["centroids"], dtype=np.float64)
        assigned = _assign_cells(batch_df, cents, meta["id_col"], vec_col)
        (
            assigned.repartition(int(meta["n_centroids"]), F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(_batch_dir(index_dir, batch_id, meta))
        )
        after = _load_meta(index_dir)
        if after.get("cells_dir", "cells") == meta.get("cells_dir", "cells"):
            return
        meta = after  # swapped mid-append: re-land in the current generation
    raise RuntimeError(
        f"append_ann_batch({batch_id}): generation pointer moved on every "
        "of 5 attempts — retrains are not quiesced at all; fix the "
        "maintenance schedule"
    )


def start_ann_maintenance(
    vec_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
):
    """Run the index-upkeep loop over a streaming embeddings frame;
    returns the StreamingQuery. ``init_ann_index`` must have run."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_ann_batch(batch_df, batch_id, index_dir, vec_col)

    return (
        vec_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cells(
    spark: SparkSession, index_dir: str, dedup: bool = False, meta: dict | None = None
) -> DataFrame:
    """The accumulated (id, embedding, cell) table across batch dirs
    (empty frame when nothing is indexed). ``dedup=True`` serves
    correctly through the post-compaction-crash duplicate window (rows
    are value-identical across batches, so dropDuplicates is
    lossless). Pass ``meta`` when the caller already loaded the
    codebook and needs centroids and cell assignments from the SAME
    generation — re-reading the pointer here could observe a retrain's
    swap that landed in between (a torn read pairing old centroids with
    new assignments)."""
    from functools import reduce

    if meta is None:
        meta = _load_meta(index_dir)
    root = _cells_root(index_dir, meta)
    sources = (
        sorted(
            e.path
            for e in os.scandir(root)
            if e.is_dir() and e.name.startswith("batch-")
        )
        if os.path.isdir(root)
        else []
    )
    if not sources:
        return spark.createDataFrame(
            [],
            f"{meta['id_col']} {meta.get('id_type', 'bigint')}, "
            "embedding array<double>, cell int",
        )
    # one read per batch dir, each with ITS OWN basePath, so the cell=N
    # partition level inside every batch survives discovery (a single
    # glob read would try to parse the batch-NNN segment as a partition
    # and raise CONFLICTING_DIRECTORY_STRUCTURES) and cell predicates
    # still prune partitions within each batch
    parts = [
        spark.read.option("basePath", b).parquet(b) for b in sources
    ]
    df = reduce(lambda a, b: a.unionByName(b), parts)
    return df.dropDuplicates() if dedup else df


def compact_ann_index(
    spark: SparkSession,
    index_dir: str,
    target_rows: int = 1_000_000,
    owner: str | None = None,
    steal_stale_after_s: float | None = None,
) -> int:
    """Fold batch directories into one consolidated batch (small-files
    maintenance; same staging/crash-convergence protocol as
    streaming/search.compact_index — quiesce the stream while running,
    serve with ``dedup=True`` after a compaction crash until rerun).
    The single-compactor rule is ENFORCED by the ``.compaction.lease``
    conditional-put claim (``lease.maintenance_lease``): a second
    concurrent compactor raises :class:`LeaseHeldError` instead of
    removing batch dirs the winner never folded in; pass
    ``steal_stale_after_s`` to break a hard-crashed owner's lease.
    Returns the number of batch dirs afterwards."""
    # nothing-to-do before anything-to-guard: an uninitialized index
    # no-ops without taking the lease
    if not os.path.exists(os.path.join(index_dir, "codebook.json")):
        return 0
    with maintenance_lease(
        index_dir, "compaction", owner=owner, steal_stale_after_s=steal_stale_after_s
    ):
        meta = _load_meta(index_dir)
        root = _cells_root(index_dir, meta)
        if not os.path.isdir(root):
            return 0
        sources = sorted(
            e.path
            for e in os.scandir(root)
            if e.is_dir() and e.name.startswith("batch-")
        )
        if len(sources) <= 1:
            return len(sources)
        df = read_cells(spark, index_dir, dedup=True, meta=meta)
        n = df.count()
        gen = 1 + max(
            (
                int(os.path.basename(p).rsplit("-", 1)[1])
                for p in sources
                if "compacted" in os.path.basename(p)
            ),
            default=0,
        )
        new_dir = os.path.join(root, f"batch-compacted-{gen:03d}")
        tmp_dir = os.path.join(root, f".staging-compacted-{gen:03d}")
        for p in (new_dir, tmp_dir):
            if os.path.isdir(p):
                shutil.rmtree(p)
        # per-CELL file sizing: hash-repartitioning on `cell` alone can
        # never split one cell across tasks, so target_rows becomes an
        # intra-cell salt whose modulus is EACH CELL'S OWN row count over
        # the target (a skewed hot cell gets many files, cold cells one) —
        # a corpus-average modulus would violate the target exactly under
        # the drift skew cell_occupancy_report exists to detect
        id_col = meta["id_col"]
        per_cell = df.groupBy("cell").agg(
            F.greatest(
                F.lit(1), F.ceil(F.count(F.lit(1)) / F.lit(int(max(1, target_rows))))
            )
            .cast("int")
            .alias("_files")
        )
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.col("_files"))
        n_parts = max(int(meta["n_centroids"]), math.ceil(n / max(1, target_rows)))
        (
            df.join(F.broadcast(per_cell), "cell")
            .repartition(n_parts, F.col("cell"), salt)
            .drop("_files")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp_dir)
        )
        os.replace(tmp_dir, new_dir)
        for p in sources:
            shutil.rmtree(p, ignore_errors=True)
        return 1


def cell_occupancy_report(spark: SparkSession, index_dir: str) -> DataFrame:
    """The RETRAIN signal for the fixed coarse quantizer: per-cell
    vector counts plus each cell's share of the corpus. Fixed centroids
    make appends pure, but corpus drift skews occupancy — a hot cell
    degrades probe selectivity toward a full scan (its partition holds
    an outsized corpus share), which is when production systems retrain
    offline and swap the serving pointer. ONE scan: the total derives
    from a window over the (n_centroids-row) cell-grain aggregate, so
    counts and shares come from the same snapshot — a batch landing
    between two separate jobs cannot skew the shares."""
    from pyspark.sql import Window

    # dedup=True: through the post-compaction-crash duplicate window a
    # plain read double-counts resurrected batches, which would fake a
    # hot-cell retrain signal
    counts = read_cells(spark, index_dir, dedup=True).groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    total = F.sum("n_vectors").over(Window.partitionBy())  # n_centroids rows
    return (
        counts.withColumn("share", F.round(F.col("n_vectors") / total, 6))
        .orderBy(F.col("n_vectors").desc(), F.col("cell").asc())
    )


def retrain_ann_index(
    spark: SparkSession,
    index_dir: str,
    n_centroids: int | None = None,
    iters: int = 5,
    target_rows: int = 1_000_000,
    owner: str | None = None,
    steal_stale_after_s: float | None = None,
) -> dict:
    """The retrain ACTION ``cell_occupancy_report`` is the signal for:
    refit the coarse quantizer to the CURRENT corpus and swap the
    serving generation. Fixed centroids keep appends pure, but corpus
    drift skews occupancy until the hot cell's partition holds an
    outsized share and probe pruning degrades toward a full scan — the
    production answer is an offline retrain + pointer swap, which this
    implements natively:

    1. FIT: spherical Lloyd iterations over the deduped corpus, using
       the serving path's exact assignment expression (max dot product,
       ties to the lower index) so fit-time cells are serve-time cells.
       Seeded k-means++ style from a bounded DETERMINISTIC corpus
       sample (ordered by id-hash; seed = trained seed + generation, so
       a retried retrain re-derives the same centroids) — data-driven
       seeding is what actually breaks a drift blob apart: warm-starting
       from the old centroids cannot, because a single hot cell's mean
       update moves one centroid into the blob and the empty ones never
       move. Growing/shrinking ``n_centroids`` falls out for free (k is
       just the seed count). Each Lloyd iteration is one map-only
       assignment plus one k-row aggregate; the driver only ever holds
       the sample + k × dim floats.
    2. REWRITE: one full assignment pass into a FRESH generation root
       ``cells-g{N}/`` (per-cell file sizing, same salt discipline as
       compaction). Invisible to readers — the codebook still points at
       the old generation, so a crash here leaves junk that the
       deterministic retry simply overwrites, never a torn index.
    3. SWAP: one atomic ``os.replace`` of ``codebook.json`` commits
       centroids + ``cells_dir`` together (on an object store: a
       conditional PUT of the same pointer object). Readers that
       already loaded the old meta keep serving the old root, which is
       why superseded generations are LEFT ON DISK — remove them with
       ``gc_ann_generations`` after a quiesce, never here.

    Runs under the same ``.compaction.lease`` as ``compact_ann_index``
    (both rewrite cells roots; exactly one maintainer). Quiesce the
    maintenance stream as for compaction: a checkpoint-rollback replay
    of a pre-retrain batch lands in the NEW root re-assigned with the
    NEW centroids — value-identical rows, folded by dedup reads — but a
    batch written DURING the rewrite would miss the new generation.

    Returns ``{"generation", "n_centroids", "n_vectors",
    "max_share_before", "max_share_after"}``.
    """
    import numpy as np
    import time as _time

    with maintenance_lease(
        index_dir, "compaction", owner=owner, steal_stale_after_s=steal_stale_after_s
    ):
        meta = _load_meta(index_dir)
        id_col = meta["id_col"]
        k = int(n_centroids or meta["n_centroids"])
        # snapshot_ts BEFORE the corpus read: this (not the later swap
        # time) is the straggler bound recorded for the superseded root.
        # A batch appended after this instant may be missing from the
        # new generation even though its own post-write pointer re-read
        # preceded the swap (so it never re-landed); judged against the
        # swap time its mtime would look pre-swap and gc would delete
        # its only copy. Judged against the snapshot it is kept.
        snapshot_ts = _time.time()
        df = read_cells(spark, index_dir, dedup=True, meta=meta)
        df = df.localCheckpoint(eager=True)  # one stable corpus snapshot
        n = df.count()
        if n == 0:
            raise ValueError("cannot retrain an empty index")
        counts = {
            int(r["cell"]): int(r["n"])
            for r in df.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        max_share_before = max(counts.values()) / n
        dim = int(meta["dim"])
        gen = 1 + int(meta.get("generation", 0))

        # -- init: k-means++ over a bounded deterministic sample ---------
        # (ordered by id hash: spread across the corpus, stable across
        # partitionings; the rng seed folds in the generation so a
        # retried retrain re-derives identical centroids)
        sample_n = max(64 * k, 1024)
        sample = [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in df.select(id_col, "embedding")
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(sample_n)
            .collect()
        ]
        unit = np.asarray(
            [v / nv for v in sample if (nv := float(np.linalg.norm(v))) > 0]
        )
        if len(unit) == 0:
            raise ValueError("cannot retrain: every indexed vector is zero")
        rng = np.random.default_rng(int(meta["seed"]) + 7919 * gen)
        cents = [unit[int(rng.integers(len(unit)))]]
        d2 = np.maximum(1.0 - unit @ cents[0], 0.0)  # angular distance
        for _ in range(1, k):
            total = float(d2.sum())
            if total <= 0.0:  # fewer distinct directions than k
                j = int(rng.integers(len(unit)))
            else:
                j = int(rng.choice(len(unit), p=d2 / total))
            cents.append(unit[j])
            d2 = np.minimum(d2, np.maximum(1.0 - unit @ cents[-1], 0.0))
        cents = np.asarray(cents)

        # -- spherical Lloyd: map-only assign + k-row aggregate ----------
        # the mean is over UNIT vectors (true spherical k-means mean
        # direction): seeding and assignment are purely angular, so
        # averaging raw embeddings would let high-magnitude vectors
        # dominate centroid directions on mixed-norm corpora
        vnorm = F.sqrt(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        )
        unit_vec = F.when(
            vnorm > 0, F.transform("embedding", lambda x: x / vnorm)
        )  # zero vectors -> null, ignored by avg
        for _ in range(int(iters)):
            assigned = _assign_cells(df, cents, id_col, "embedding")
            rows = (
                assigned.withColumn("_unit", unit_vec)
                .groupBy("cell")
                .agg(*[F.avg(F.element_at("_unit", i + 1)).alias(f"m{i}")
                       for i in range(dim)])
                .collect()
            )
            nxt = cents.copy()
            for r in rows:
                if any(r[f"m{i}"] is None for i in range(dim)):
                    continue  # only zero vectors landed here
                m = np.array([r[f"m{i}"] for i in range(dim)], float)
                norm = float(np.linalg.norm(m))
                if norm > 0:
                    nxt[int(r["cell"])] = m / norm  # empty cells keep theirs
            cents = nxt

        # -- rewrite into a fresh generation root ------------------------
        # gen derives from the CODEBOOK (the committed truth), not a
        # directory scan: a crashed retrain's junk root has this same
        # number and is simply overwritten by the deterministic retry
        new_root = os.path.join(index_dir, f"cells-g{gen:03d}")
        assigned = _assign_cells(df, cents, id_col, "embedding")
        per_cell = assigned.groupBy("cell").agg(
            F.greatest(
                F.lit(1), F.ceil(F.count(F.lit(1)) / F.lit(int(max(1, target_rows))))
            )
            .cast("int")
            .alias("_files")
        )
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.col("_files"))
        n_parts = max(k, math.ceil(n / max(1, target_rows)))
        (
            assigned.join(F.broadcast(per_cell), "cell")
            .repartition(n_parts, F.col("cell"), salt)
            .drop("_files")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(new_root, "batch-0000000000"))
        )
        after = {
            int(r["cell"]): int(r["n"])
            for r in spark.read.option("basePath", os.path.join(new_root, "batch-0000000000"))
            .parquet(os.path.join(new_root, "batch-0000000000"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

        # -- the commit point: centroids + cells_dir swap together -------
        # swapped_at_unix makes the GC quiesce window OBSERVABLE: it is
        # written inside the same atomic pointer swap, so
        # gc_ann_generations can refuse to remove a superseded root
        # before the window has elapsed instead of trusting the caller
        now = _time.time()
        # superseded_at_unix: PER-ROOT bounds, so gc can judge a
        # straggler batch against the retrain that superseded ITS root —
        # with only the latest time, a straggler stranded before an
        # intervening retrain would look old and be silently deleted.
        # The recorded bound is the SNAPSHOT time (read_cells above),
        # not the swap time: any batch written after the snapshot may be
        # absent from the new generation, including ones whose own
        # re-land check also ran before the swap.
        superseded = dict(meta.get("superseded_at_unix", {}))
        superseded[meta.get("cells_dir", "cells")] = snapshot_ts
        new_meta = dict(
            meta,
            n_centroids=k,
            centroids=[[float(x) for x in row] for row in cents],
            cells_dir=f"cells-g{gen:03d}",
            generation=gen,
            swapped_at_unix=now,
            superseded_at_unix=superseded,
        )
        tmp = os.path.join(index_dir, ".codebook.json.tmp")
        with open(tmp, "w") as f:
            json.dump(new_meta, f)
        os.replace(tmp, os.path.join(index_dir, "codebook.json"))
        return {
            "generation": gen,
            "n_centroids": k,
            "n_vectors": int(n),
            "max_share_before": round(max_share_before, 6),
            "max_share_after": round(max(after.values()) / n, 6),
        }


def retrain_if_skewed(
    spark: SparkSession,
    index_dir: str,
    max_share: float = 0.5,
    max_mean_cell_rows: int | None = None,
    **retrain_kw,
) -> dict | None:
    """The closed maintenance loop: read the occupancy signal, act on
    it. Two independent triggers, both read from the SAME one
    cell-grain aggregate (cost when healthy: that aggregate, k rows):

    - SKEW: the hottest cell's corpus share exceeds ``max_share`` —
      corpus drift collapsed the quantizer; retrain at the current (or
      caller-given) ``n_centroids``.
    - GROWTH (``max_mean_cell_rows``): the mean cell exceeds a row
      bound. A FIXED cell count makes every probed-cell scan linear in
      corpus size — probe cost is ``n_probe * N / k`` rows, so at 10x
      the data each probe reads 10x the bytes even though occupancy
      looks perfectly balanced (measured: sim_ivf_served_topk 6.35x at
      the sf1->sf10 step, BENCH_SF10.json). The standard IVF sizing
      rule is ``k ~ sqrt(N)`` (probe work ``n_probe * sqrt(N)`` and
      centroid-ranking work ``sqrt(N)`` balance), so the growth retrain
      refits at ``max(k, round(sqrt(N)))`` unless the caller pinned
      ``n_centroids`` explicitly. The existing generation-swap
      machinery carries correctness unchanged — cells are just the
      partition grain.

    Retrains (and returns the retrain report) iff a trigger fires;
    returns None when both bounds hold.
    """
    import math as _math

    rep = cell_occupancy_report(spark, index_dir).collect()  # <= k rows
    if not rep:
        return None
    total = sum(int(r["n_vectors"]) for r in rep)
    skewed = float(rep[0]["share"]) > max_share
    k = int(_load_meta(index_dir)["n_centroids"])
    oversized = (
        max_mean_cell_rows is not None
        and total > int(max_mean_cell_rows) * k
    )
    if not (skewed or oversized):
        return None
    if oversized and retrain_kw.get("n_centroids") is None:
        retrain_kw["n_centroids"] = max(k, int(round(_math.sqrt(total))))
    return retrain_ann_index(spark, index_dir, **retrain_kw)


def gc_ann_generations(
    index_dir: str,
    min_quiesce_s: float = 900.0,
    force: bool = False,
    owner: str | None = None,
    steal_stale_after_s: float | None = None,
) -> list[str]:
    """Remove cells roots SUPERSEDED by retrains, with the quiesce
    window ENFORCED rather than by-convention:

    - QUIESCE: a reader that loaded a pre-swap codebook serves from the
      superseded root; deleting it under them is the
      rmtree-a-served-dir mistake. The retrain swap records
      ``swapped_at_unix`` inside the codebook (falling back to the
      codebook file's mtime for pre-upgrade indexes — the swap IS the
      codebook replace), and gc is a NO-OP (returns ``[]``, roots
      intact) until ``min_quiesce_s`` has elapsed since the last swap.
      ``force=True`` overrides for an operator who knows no reader is
      live. Choose ``min_quiesce_s`` ≫ the longest query a reader runs.
    - STRAGGLER BATCHES: an append racing the retrain may have written
      a batch into the superseded root after the retrain SNAPSHOTTED
      its corpus (``read_cells`` + checkpoint) — such rows are missing
      from the new generation whether or not the append's own pointer
      re-check ran before the swap (pre-swap re-checks see a stable
      pointer and never re-land), or the append crashed between write
      and re-check. The retrain records its snapshot time as the
      superseded root's bound, and a superseded root holding a
      post-snapshot batch directory whose name is absent from the
      current root is SKIPPED (kept on disk) — deleting it would be
      silent row loss; re-run the append (idempotent) or pass
      ``force=True`` to discard deliberately.
    - LEASE: gc is a MAINTAINER, not just a reader-hazard: it runs
      under the same ``.compaction.lease`` as compaction/retrain —
      without it, gc racing an in-flight retrain would delete the
      fresh generation root the retrain is about to commit a pointer
      to. Each victim is quarantine-renamed first, then removed — a
      crash between the two leaves an inert dot-dir, never a
      half-deleted live root."""
    import time as _time

    with maintenance_lease(
        index_dir, "compaction", owner=owner, steal_stale_after_s=steal_stale_after_s
    ):
        meta = _load_meta(index_dir)
        current = meta.get("cells_dir", "cells")
        swapped_at = meta.get("swapped_at_unix")
        if swapped_at is None:  # pre-upgrade codebook: the swap IS the replace
            swapped_at = os.stat(os.path.join(index_dir, "codebook.json")).st_mtime
        if not force and _time.time() - float(swapped_at) < float(min_quiesce_s):
            return []  # inside the quiesce window: every root stays
        current_batches = (
            {e.name for e in os.scandir(os.path.join(index_dir, current)) if e.is_dir()}
            if os.path.isdir(os.path.join(index_dir, current))
            else set()
        )
        # per-root bounds: a straggler is judged against the SNAPSHOT of
        # the retrain that superseded ITS root, not the latest swap — a
        # straggler stranded before an intervening retrain must still be
        # detected (its mtime predates the latest swap but postdates its
        # own root's bound), and a batch landing between a retrain's
        # snapshot and its swap is missing from the new generation even
        # though its mtime precedes the swap. Roots ABSENT from the map
        # (superseded by a
        # pre-upgrade retrain that recorded no time) get bound 0: every
        # batch looks post-swap, so such a root is never auto-removed —
        # the genuinely conservative direction; clear it once with
        # force=True after confirming its rows live in the current
        # generation.
        superseded = meta.get("superseded_at_unix", {}) or {}
        removed = []
        for e in sorted(os.scandir(index_dir), key=lambda e: e.name):
            if not e.is_dir() or e.name == current:
                continue
            if e.name == "cells" or (
                e.name.startswith("cells-g") and e.name.rsplit("-g", 1)[1].isdigit()
            ):
                root_bound = float(superseded.get(e.name, 0.0))
                if not force and any(
                    b.is_dir()
                    and b.name.startswith("batch-")
                    and b.stat().st_mtime > root_bound
                    and b.name not in current_batches
                    for b in os.scandir(e.path)
                ):
                    continue  # un-healed straggler rows: keep the root
                quarantined = os.path.join(index_dir, f".gc-{e.name}")
                os.rename(e.path, quarantined)
                shutil.rmtree(quarantined, ignore_errors=True)
                removed.append(e.name)
        return removed


def ivf_search(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
    dedup: bool = False,
) -> DataFrame:
    """Serve an IVF query from the stream-maintained index — identical
    probe computation and scoring to the static served path, so results
    equal ``similarity.ivf_topk`` over the union corpus. The cell
    predicate prunes ``cell=N`` partitions inside every batch dir.

    The codebook pointer is consumed EXACTLY ONCE (the loaded ``meta``
    feeds both the probe computation and the cells read), so a retrain
    swap landing mid-query cannot pair one generation's centroids with
    another generation's assignments."""
    meta = _load_meta(index_dir)
    rows, _, id_type = _probe_cells(
        queries_df, meta["centroids"], n_probe, meta["id_col"], vec_col
    )
    cells = read_cells(spark, index_dir, dedup=dedup, meta=meta)
    return cosine_rank_topk(_probe_scan(spark, cells, rows, id_type, meta["id_col"]), k)
