"""Structured Streaming ingest for the `events` fixture (SURVEY §7 M4).

The reference has NO streaming surface (SURVEY §2.2 — its versioning model
is batch-commit: chunks -> CAS indices -> version append, hbase.clj §3.2).
This module adds the streaming capability a modern pipeline needs, mapping
the reference's commit protocol onto micro-batches: **one committed version
per micro-batch** via ``foreachBatch`` — a batch is visible only after its
version row lands, exactly the reference's visibility rule
(hbase.clj:263-268: the version append is the commit point).

Operators:
- ``read_events_stream``      — parquet file-source stream with explicit schema
  (streams MUST declare schemas; inference is a batch-only luxury).
- ``windowed_event_counts``   — watermarked tumbling-window aggregation
  (late data beyond the watermark is dropped; state is bounded).
- ``sessionized_activity``    — session windows per user (gap-based).
- ``running_user_totals``     — custom stateful operator via
  ``applyInPandasWithState`` (running totals that survive across
  micro-batches; Arrow-batched, not row-at-a-time).
- ``start_versioned_ingest``  — the foreachBatch sink: serialize each
  micro-batch to one content-addressed chunk, index it at coord
  (batch_id,), append a version. Restart-safe: foreachBatch can replay a
  batch_id after failure, and the content-addressed chunk + idempotent
  index/version append make the replay a no-op (same bytes -> same hash).

Scale notes: windowed/sessionized aggs shuffle once on (key, window) —
that's the minimum; watermarks bound state size so a 1000-executor job
does not accumulate unbounded window state at 100 TB/day ingest rates.
"""

from __future__ import annotations

import io
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Parquet file-source stream over a drop directory of event files."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def windowed_event_counts(
    events: DataFrame, window_duration: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts + value sums per event_type.

    Works identically on batch and streaming DataFrames (the test oracle
    runs the same plan in batch mode); on a stream the watermark bounds
    the aggregation state and defines the late-data drop policy.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_activity(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows: a session closes after `gap` of inactivity."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


_RUNNING_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_events", LongType()),
    ]
)
_RUNNING_STATE = StructType(
    [StructField("total", DoubleType()), StructField("n", LongType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals across batches.

    ``applyInPandasWithState`` — Arrow-batched state updates; state is one
    (total, n) pair per user, partitioned by the groupBy shuffle, so state
    volume scales with |users|, not |events|.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += int(len(pdf))
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [total], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, _RUNNING_OUT, _RUNNING_STATE, "update", GroupStateTimeout.NoTimeout
    )


def dedup_stream(
    events: DataFrame, key_cols: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once stream dedup: drop key repeats within the watermark.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    its state once the watermark passes — bounded state, unlike a global
    ``dropDuplicates`` whose state grows forever on an unbounded stream.
    This is the at-least-once-source -> exactly-once-sink adapter for
    sources that can replay events (the same contract the versioned
    ingest sink gets from content addressing).
    """
    key_cols = key_cols or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)


# --------------------------------------------------------------------------
# Versioned ingest sink: one storage-engine version per micro-batch
# --------------------------------------------------------------------------


def commit_events_batch(connection, batch_df: DataFrame, batch_id: int) -> int | None:
    """Commit one micro-batch as one version of the `events` variable.

    Follows the reference's write path ordering exactly (§3.2):
    1. write content-addressed chunks (blind put, idempotent — same bytes
       hash to the same chunk id on replay, hbase.clj:138-154 semantics),
    2. index entries at coords (batch_id, partition_id),
    3. version append = commit point (hbase.clj:263-268).

    The batch never funnels through the driver: each executor partition
    serializes its rows (sorted by event_id, so a replayed batch with the
    same partitioning produces the same bytes) into one content-addressed
    parquet chunk, and executors append both the payload rows (ref baked)
    and the index rows. The driver's only steps are the version-id
    reservation and the version-row append — O(1) driver state at any
    ingest rate. Returns the committed version id, or None for an empty
    batch.
    """
    from mandoline_hbase_spark import storage

    bid = int(batch_id)

    def make_chunks(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io as _io

        import pandas as _pd
        from pyspark import TaskContext

        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        # partition id from the task context: spark_partition_id() as an
        # input column evaluates to 0 under the Arrow runner (Spark 4.1)
        pid = int(TaskContext.get().partitionId())
        pdf = _pd.concat(parts, ignore_index=True).sort_values("event_id", ignore_index=True)
        buf = _io.BytesIO()
        pdf.to_parquet(buf, engine="pyarrow", index=False)
        payload = buf.getvalue()
        yield _pd.DataFrame(
            {
                "coord_id": [f"{bid}/{pid}"],
                "coord": [[bid, pid]],
                "chunk_id": [hashlib.sha1(payload).hexdigest()],
                "data": [payload],
                "n_rows": [len(pdf)],
            }
        )

    per_chunk = batch_df.mapInPandas(
        make_chunks,
        "coord_id string, coord array<bigint>, chunk_id string, data binary, n_rows bigint",
    )
    per_chunk = per_chunk.persist()
    version_id = connection._reserve_version()
    try:
        totals = per_chunk.agg(
            F.sum("n_rows").alias("n"), F.count(F.lit(1)).alias("chunks")
        ).first()
        if not totals["chunks"]:
            return None
        # chunks first: payload rows carry their ref (one index entry each)
        storage.write_chunks_df(
            per_chunk.groupBy("chunk_id").agg(
                F.count(F.lit(1)).cast("long").alias("ref_delta"), F.first("data").alias("data")
            ),
            connection._dirs["chunks"],
        )
        seq = storage.next_seq()
        from mandoline_hbase_spark.engine import append_index_rows_df

        append_index_rows_df(
            connection._dirs["indices"], per_chunk, "events", version_id, seq
        )
        if not storage.reservation_held(connection._dirs["versions"], version_id):
            # the failed-commit sweeper decided this batch was dead and
            # reclaimed its rows — publishing now would perforate the
            # version; abort loudly (same contract as write_variable_from_df)
            from mandoline_hbase_spark.errors import CommitConflictError

            raise CommitConflictError(
                f"reservation for version {version_id} was swept mid-batch; "
                f"aborting streaming commit (raise sweep older_than_s)"
            )
        connection.write_version(
            {
                "version-id": int(version_id),
                "variables": {"events": {"kind": "event-log", "batch_id": bid}},
                "n_rows": int(totals["n"]),
            }
        )
        return int(version_id)
    finally:
        per_chunk.unpersist()
        storage.release_version_reservation(connection._dirs["versions"], version_id)


def start_versioned_ingest(
    stream_df: DataFrame, connection, checkpoint_dir: str, trigger_available_now: bool = True
):
    """Start the foreachBatch ingest: every micro-batch commits a version."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_events_batch(connection, batch_df, batch_id)

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_ingested_events(connection, spark: SparkSession, version: int | None = None) -> DataFrame:
    """Read back every batch committed at or before `version` as one DataFrame.

    Resolves chunk ids through the index (latest-<=-version semantics,
    find-index hbase.clj:184-198), fetches chunks, decodes the parquet
    payloads. Chunk decode is distributed via the chunk table + a
    mapInPandas decode when run at scale; here batches are driver-decoded
    because each is one payload row.
    """
    bound = version if version is not None else connection.latest_version_id()
    if bound is None:
        return spark.createDataFrame([], EVENTS_SCHEMA)
    chunk_map = connection.resolve_chunk_map("events", bound)
    blobs = connection.chunk_store().read_chunks(chunk_map.values())
    frames = [
        pd.read_parquet(io.BytesIO(blobs[chunk_id]))
        for _, chunk_id in sorted(chunk_map.items())
    ]
    if not frames:
        return spark.createDataFrame([], EVENTS_SCHEMA)
    return spark.createDataFrame(pd.concat(frames, ignore_index=True), EVENTS_SCHEMA)


def enrich_stream(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join.

    The static side is re-resolved every micro-batch (a dim-table refresh
    is picked up without restarting the query) and broadcast, so the join
    keeps NO streaming state and adds no shuffle to the stream side —
    the standard shape for joining a 100 TB/day stream against a small
    slowly-changing dimension.
    """
    return events.join(F.broadcast(user_dim), "user_id", "left")


def click_purchase_stream_join(
    events: DataFrame,
    max_gap_minutes: int = 60,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: purchases within ``max_gap_minutes`` of a
    preceding click by the same user.

    Both sides carry watermarks AND the join condition bounds event time
    in both directions — the two ingredients Structured Streaming needs
    to purge join state: a click older than watermark + gap can never
    match a future purchase, so its buffered row is dropped. Without the
    time bound the join state grows forever at ingest scale.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr(f"INTERVAL {int(max_gap_minutes)} MINUTES")
            ),
            "inner",
        )
        .drop("p_user_id")
    )


def finalized_sessions(
    events: DataFrame, gap_minutes: int = 10, watermark: str = "30 seconds"
) -> DataFrame:
    """Timer-finalized sessions via ``transformWithStateInPandas``
    (Spark 4 arbitrary-state API): a per-user event-time TIMER fires when
    the watermark passes ``last_event + gap``, emitting the closed
    session exactly once and clearing its state.

    What ``session_window`` aggregation (sessionized_activity) cannot
    express: an emit-on-close stream of session records (append mode,
    one row per finished session — the shape a downstream sink wants),
    produced by explicit state machines with timers. State per user is
    one (start, last, n, total) row; the timer registry replaces any
    polling. At scale, state volume ∝ active users and the watermark
    bounds both state and timer lifetime.

    Emits ``session_end = last_ts + gap`` to match the batch
    gaps-and-islands/session_window semantics exactly.

    Environment gate: the transformWithState Python worker speaks
    protobuf to the JVM state server, so ``google.protobuf`` must be
    importable on the executors (standard on real clusters; absent in
    minimal containers — this raises immediately rather than crashing
    the stream mid-run). The state backend must be RocksDB
    (``spark.sql.streaming.stateStore.providerClass``).
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "finalized_sessions requires transformWithStateInPandas, whose "
            "state client needs the 'protobuf' package on driver and "
            "executors; it is not installed in this environment"
        ) from exc
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        TimerValues,
    )

    gap_ms = gap_minutes * 60 * 1000
    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, sum_value double"
    )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            # micros for event-time fidelity; timers run in millis
            self._sess = handle.getValueState(
                "sess", "start_us bigint, last_us bigint, n bigint, total double"
            )

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            import pandas as pd

            start_us = last_us = None
            n = 0
            total = 0.0
            if self._sess.exists():
                start_us, last_us, n, total = self._sess.get()
            for pdf in rows:
                us = pdf["ts"].astype("datetime64[us]").astype("int64")
                lo, hi = int(us.min()), int(us.max())
                start_us = lo if start_us is None else min(start_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
                n += int(len(pdf))
                total += float(pdf["value"].sum())
            self._sess.update((start_us, last_us, n, total))
            # one live timer per user: re-arm at last_event + gap
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(last_us // 1000 + gap_ms)
            return iter(())

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            import pandas as pd

            if not self._sess.exists():
                return iter(())
            start_us, last_us, n, total = self._sess.get()
            self._sess.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.to_datetime(start_us, unit="us")],
                    "session_end": [
                        pd.to_datetime(last_us + gap_ms * 1000, unit="us")
                    ],
                    "n_events": [n],
                    "sum_value": [round(total, 4)],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionProcessor(), out_schema, "append", "eventTime"
        )
    )
