"""Structured Streaming mode (SURVEY.md §2.9, M4).

The reference's streaming semantics map onto Structured Streaming:
- T1 poll trigger        → ``trigger(processingTime=...)``
- T2 progress watermark  → source offsets in the checkpoint dir
- T3 late/dirty data     → ``withWatermark`` + lenient time (functions.time)
- T5 at-least-once sink  → ``foreachBatch`` + idempotent/append writes
- T6 state recovery      → checkpoint dir recovery
- G-T windows/sessions   → ``window()`` / ``session_window()`` (same
  expressions as plans/temporal.py — batch and streaming share them)

These wrappers keep the engine Spark-native: a streaming query is the
same DataFrame plan with a streaming source and a sink policy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..sinks.router import SQLOutput


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Make ``ts_col`` usable as a Structured Streaming event-time column.

    Parquet written with naive timestamps is inferred as ``TIMESTAMP_NTZ``
    (``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults to true), but
    Spark's event-time machinery (``withWatermark``) requires ``TIMESTAMP``
    (ltz) and rejects NTZ at analysis time with
    ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``.  The engine pins the session
    timezone to UTC (session.py), so casting NTZ → ltz is value-preserving:
    the same wall-clock instant, now tagged with the session zone.
    """
    field = df.schema[ts_col]
    if isinstance(field.dataType, T.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def stream_from_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream (each new parquet file = a micro-batch).
    ``maxFilesPerTrigger`` is the streaming analogue of the reference's
    ``select_limit`` backpressure cap (T4, in_sql.rb:51-52)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_stream(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregate — late rows beyond the
    watermark are dropped from state (bounded state at any scale)."""
    df = ensure_event_time(df, ts_col)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *(keys or []))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *(keys or []),
            "n",
            "total_value",
        )
    )


def stream_to_sql_output(
    df: DataFrame,
    output: SQLOutput,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    tag_col: str = "tag",
) -> StreamingQuery:
    """T5: route every micro-batch through the tag-routed sink
    (out_sql ≙ foreachBatch).  Delivery is at-least-once — a retried
    batch re-runs ``write_batch``; use idempotent/upsert writers for
    effectively-once."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        output.write_batch(batch_df, tag_col)

    writer = df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state is O(keys per watermark window), not
    O(all keys ever) — the at-least-once poll source upstream can
    re-deliver a batch after a crash and downstream still sees each row
    once.  (Plain ``dropDuplicates`` on a stream never evicts — unbounded
    state; this is the scale-safe form.)"""
    df = ensure_event_time(df, ts_col)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def near_dedup_stream(
    df: DataFrame,
    store,
    text_col: str,
    id_col: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    compact_every: int | None = 64,
) -> StreamingQuery:
    """Streaming NEAR-dedup: every micro-batch is filtered through a
    :class:`~..operators.dedup.MinHashDedupStore` (cross-batch + in-batch
    LSH near-dup removal against the persisted signature store) before
    reaching ``sink``.  Complements :func:`dedup_stream`, which is exact
    (key-equality) — this catches the one-word-edit duplicates exact
    dedup misses, with state that is O(signature) per accepted doc, not
    O(text).

    Delivery is at-least-once and replays converge: the store is probed
    read-only, the pinned survivors are sunk, and only then absorbed
    (:func:`~.stages.run_stages` states the contract).

    ``compact_every``: every N batches the store's state tables are
    rewritten into sorted files of contiguous bucket ranges
    (``MinHashDedupStore.compact``) — each batch appends one small file
    per table, so an uncompacted long-running stream decays into
    file-open overhead.  None disables (run compaction from a separate
    maintenance job)."""
    from .stages import MinHashStage, stage_handler

    handle = stage_handler([MinHashStage(store, text_col, id_col)], [], sink, compact_every)
    writer = df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
