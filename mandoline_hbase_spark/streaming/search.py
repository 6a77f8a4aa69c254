"""Continuously-maintained full-text index: streaming postings upkeep.

``operators.search`` scores queries either straight from document
text or from materialized ``postings`` tables — two sources of one
scoring pipeline. A deployed search stack materializes the index ONCE
and keeps it current as documents arrive. This module is that upkeep loop
under Structured Streaming: each micro-batch of (new, immutable)
documents appends its postings — no corpus rescan, no read-modify-write
(documents are append-only in this store, so the index delta of a batch
is exactly ``postings(batch)``).

Layout under ``index_dir`` (parquet, one deterministically-named
directory per micro-batch, written distributed by executors):

- ``tf/``  ``(doc_id, term, tf)`` — the inverted postings
- ``dl/``  ``(doc_id, dl)``       — one row PER DOCUMENT (empty docs
  carry ``dl = 0``), so corpus scalars (N, Σdl) and per-term document
  and collection frequencies all derive from the index tables alone

Deterministic ``batch-{id}`` directory names + ``mode("overwrite")``
make ``foreachBatch`` replays idempotent — the same replay-safety
discipline as streaming/curation.py. Serving a query is
``operators.search.bm25_topk_from_postings(read_index(...))`` — the
postings source pivots the queried terms' postings per doc and scores
with the same expression as the from-text form: document text is never
touched after ingest.

At 100 TB the two roles are lakehouse tables partitioned/bucketed on
``term`` and ``doc_id`` respectively (see ``operators/bucketed.py`` —
with both bucketed on ``doc_id``, the per-doc pivot and the tf/dl join
then plan with zero Exchange); the per-batch
append cost is proportional to the batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mandoline_hbase_spark.operators import search

def _tf_ddl(id_col: str) -> str:
    return f"{id_col} bigint, term string, tf bigint"


def _dl_ddl(id_col: str) -> str:
    return f"{id_col} bigint, dl bigint"


def _batch_dir(index_dir: str, role: str, batch_id: int) -> str:
    return os.path.join(index_dir, role, f"batch-{int(batch_id):010d}")


def append_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """The ``foreachBatch`` body: append this batch's postings delta.

    Safe to replay (overwrite into the batch's own directories); the
    driver never materializes batch rows.
    """
    tf, dl = search.postings(batch_df, id_col, text_col)
    tf.write.mode("overwrite").parquet(_batch_dir(index_dir, "tf", batch_id))
    dl.write.mode("overwrite").parquet(_batch_dir(index_dir, "dl", batch_id))


def start_index_maintenance(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Run the postings-upkeep loop over a streaming documents frame;
    returns the StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_index_batch(batch_df, batch_id, index_dir, id_col, text_col)

    return (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_index(
    spark: SparkSession, index_dir: str, id_col: str = "doc_id", dedup: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The accumulated ``(tf, dl)`` index tables (empty-schema frames
    when nothing has been indexed yet). ``id_col`` must match the one
    the maintenance loop wrote — the read schema is by NAME, and a
    mismatched name would surface as an all-null key column.

    ``dedup=True`` drops duplicate rows before returning. Duplicates
    are reader-visible in exactly two windows (see ``compact_index``):
    after a compaction crash between the rename and the source removal,
    and after a checkpoint-rollback stream replay re-creates a batch
    directory a compaction already folded in. In either window the
    plain read double-counts tf/dl rows — BM25's df(t), N, and Σdl are
    all inflated — so serve with ``dedup=True`` until the next
    successful ``compact_index`` run folds the duplicates away. The
    dedup is row-level and lossless: postings rows are per-(doc, term)
    value-identical across batches because documents are immutable and
    ingested once, so duplicate rows are byte-equal. Cost is one
    shuffle on the served path; the steady state (no crash, no
    rollback) never needs it."""
    out = []
    for role, ddl in (("tf", _tf_ddl(id_col)), ("dl", _dl_ddl(id_col))):
        root = os.path.join(index_dir, role)
        if os.path.isdir(root) and any(os.scandir(root)):
            df = spark.read.schema(ddl).parquet(os.path.join(root, "batch-*"))
        else:
            df = spark.createDataFrame([], ddl)
        out.append(df.dropDuplicates() if dedup else df)
    return out[0], out[1]


def compact_index(
    spark: SparkSession,
    index_dir: str,
    target_rows: int = 1_000_000,
    owner: str | None = None,
    steal_stale_after_s: float | None = None,
) -> dict:
    """Fold accumulated per-batch postings directories into one
    consolidated batch — the small-files maintenance every streaming
    sink needs (same role as ``layout.compact_records`` for record
    tables).

    Staged for crash safety: the consolidated data is written into a
    fresh ``batch-…-compact`` directory FIRST, then the superseded
    batch directories are removed; a crash in between leaves duplicate
    rows visible, and re-running the compaction converges (it rewrites
    the union and removes everything superseded, the dedup being
    content-level: postings rows are per-(doc, term) unique across
    batches because documents are immutable and ingested once).

    The single-COMPACTOR rule is ENFORCED: the body runs under the
    ``.compaction.lease`` conditional-put claim (``lease.maintenance_lease``
    over the CAS seam — a second concurrent compactor raises
    :class:`LeaseHeldError` instead of deleting batch dirs the winner's
    consolidated output never folded in). A hard-crashed owner's lease
    is broken by passing ``steal_stale_after_s`` (choose ≫ the longest
    plausible compaction). Remaining operational contract the lease
    does NOT cover:

    - QUIESCE the maintenance stream while compacting: a concurrent
      micro-batch writing into ``batch-{id}`` while its rows are being
      folded would be deleted by the source removal, and a
      checkpoint-rollback replay can re-create a batch directory the
      compaction already folded in (duplicates until the next run).
    - After a compaction CRASH (between ``os.replace`` and the source
      removals) duplicate postings are reader-visible: served BM25
      scores are WRONG (df_t, N, Σdl double-counted) until either the
      compaction is re-run or reads pass ``dedup=True``
      (``read_index`` / ``bm25_search``), which drops the byte-equal
      duplicate rows at the cost of a shuffle.
    """
    import math
    import shutil

    from mandoline_hbase_spark.lease import maintenance_lease

    # nothing-to-do before anything-to-guard: a missing index dir
    # no-ops without taking (or fabricating a directory for) the lease
    if not os.path.isdir(index_dir):
        return {"tf": 0, "dl": 0}
    with maintenance_lease(
        index_dir, "compaction", owner=owner, steal_stale_after_s=steal_stale_after_s
    ):
        stats = {}
        for role in ("tf", "dl"):
            root = os.path.join(index_dir, role)
            if not os.path.isdir(root):
                stats[role] = 0
                continue
            sources = sorted(
                e.path
                for e in os.scandir(root)
                if e.is_dir() and e.name.startswith("batch-")
            )
            if len(sources) <= 1:
                stats[role] = len(sources)
                continue
            df = spark.read.parquet(*sources).dropDuplicates()
            n = df.count()
            k = max(1, math.ceil(n / max(1, target_rows)))
            # "batch-compacted-N" matches read_index's batch-* glob but can
            # never collide with a stream batch dir (digits only); N bumps
            # past any earlier compaction. Staged dot-prefixed (invisible
            # to the glob), then atomically renamed BEFORE sources are
            # removed — a crash in between leaves duplicates, which the
            # next compaction's dropDuplicates folds away.
            gen = 1 + max(
                (int(os.path.basename(p).rsplit("-", 1)[1]) for p in sources
                 if "compacted" in os.path.basename(p)),
                default=0,
            )
            new_dir = os.path.join(root, f"batch-compacted-{gen:03d}")
            tmp_dir = os.path.join(root, f".staging-compacted-{gen:03d}")
            for p in (new_dir, tmp_dir):
                if os.path.isdir(p):
                    shutil.rmtree(p)
            df.coalesce(k).write.mode("overwrite").parquet(tmp_dir)
            os.replace(tmp_dir, new_dir)
            for p in sources:
                shutil.rmtree(p, ignore_errors=True)
            stats[role] = 1
        return stats


def bm25_search(
    spark: SparkSession,
    index_dir: str,
    query_terms,
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    dedup: bool = False,
) -> DataFrame:
    """Serve a BM25 query from the maintained index — no document text.

    ``dedup=True``: serve correctly through the post-compaction-crash /
    post-rollback duplicate window (see ``read_index``)."""
    tf, dl = read_index(spark, index_dir, id_col, dedup=dedup)
    return search.bm25_topk_from_postings(tf, dl, query_terms, k=k, k1=k1, b=b, id_col=id_col)
