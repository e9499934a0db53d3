"""Structured Streaming jobs — streaming twins of the batch event-time
operators (operators/event_time.py).

The reference is strictly batch (SURVEY.md §2.9: no streaming surface),
so these are engine extensions: the same event schema processed as an
unbounded source with correct late-data semantics.

Scale design:
- Sources are file streams (``readStream.parquet``) here; on a real
  deployment the same plans run on Kafka sources unchanged — only the
  ``format`` differs.
- Watermarks bound state: windowed aggregation state is dropped once
  the watermark passes the window end; dedup state expires with
  ``dropDuplicatesWithinWatermark``.
- ``availableNow`` triggers give incremental batch-like runs; every
  stream in the engine is started by ``run_available_now``.
  Continuous micro-batches are the default in production.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Streaming-side schema: ts arrives as nanos-since-epoch (see
# sources.readers on the nanosecond parquet issue) and is converted.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(spark: SparkSession, source_dir: str) -> DataFrame:
    """Unbounded events source from a parquet directory."""
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(source_dir)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts per event type with late-data tolerance.

    The watermark lets state for closed windows be dropped — without it
    streaming aggregation state grows forever.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100)
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events",
            "sum_value",
        )
    )


def enrich_with_dim(
    events: DataFrame, dim: DataFrame, on: str, *, broadcast_dim: bool = False
) -> DataFrame:
    """Stream-static dimension enrichment join.

    The streaming side joins a bounded dimension table on ``on``
    (left join — events with no dim match survive with NULLs, the
    standard fact-enrichment contract). Spark re-plans the static side
    each micro-batch, so a dim refreshed in place is picked up without
    restarting the query. This is the streaming analog of the batch
    pipeline's J1-J9 catalog joins (SURVEY.md §2.3).

    ``broadcast_dim`` defaults to False — Catalyst auto-broadcasts
    under the threshold, and forcing it on a large dim would OOM every
    executor (same rationale as surrogate.resolve_fk). Set True only
    for dims known to be small.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return events.join(d, on, "left")


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes — the streaming form of the reference's in-memory
    dedup cache (SURVEY.md §2.5 D1), with explicit state expiry.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_available_now(
    stream: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """Run ``stream`` over all currently available input and block until
    it is done — the engine's one way to start a stream.

    ``sink`` is either a memory-table name (results land in
    ``spark.table(sink)``) or a foreachBatch function
    ``(batch_df, batch_id)``. ``checkpoint`` is the checkpoint
    location; without one Spark uses a temporary directory, so a rerun
    starts from the beginning. A failure inside the stream is raised
    here. The session's ``spark.sql.shuffle.partitions`` is left alone:
    a checkpointed stream freezes its state-partition count at its
    first run, so the caller owns that setting.
    """
    writer = stream.writeStream.outputMode(output_mode).trigger(
        availableNow=True
    )
    if isinstance(sink, str):
        writer = writer.format("memory").queryName(sink)
    else:
        writer = writer.foreachBatch(sink)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    writer.start().awaitTermination()


def stream_to_published(
    stream: DataFrame,
    root: str,
    table: str,
    checkpoint: str,
    output_mode: str = "append",
) -> None:
    """Streaming → atomic-publish integration via foreachBatch.

    Each micro-batch appends ONE part under sources.writers' manifest
    protocol (``publish_append_atomic``): readers following the pointer
    always see a complete batch boundary, never a half-written one, and
    total write volume over N batches is O(N) batch sizes — the table
    is never rewritten. Run ``compact_published`` periodically to fold
    small parts.

    foreachBatch itself is at-least-once (a crash after publish but
    before the checkpoint commit re-delivers the micro-batch), so the
    publish is keyed by ``epoch_id``: the manifest remembers the last
    epoch per table and replayed batches are skipped — making the
    visible table effectively-once. Blocks until all available input
    is published (``run_available_now``).
    """
    from ..sources.writers import publish_append_atomic

    def publish_batch(batch_df: DataFrame, epoch_id: int) -> None:
        publish_append_atomic(batch_df, root, table, epoch_id=epoch_id)

    run_available_now(stream, publish_batch, output_mode, checkpoint)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    within: str = "1 hour",
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time window.

    Both sides carry watermarks and the join condition bounds how far
    apart matching events may be — this is what lets Spark expire join
    state (without the time bound, both sides buffer forever). The
    canonical enrich-one-stream-with-another shape (e.g. clicks ⋈
    impressions within an hour).
    """
    l = left.select(
        F.col(on).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("event_type").alias("l_type"),
    ).withWatermark("l_ts", left_watermark)
    r = right.select(
        F.col(on).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("event_type").alias("r_type"),
    ).withWatermark("r_ts", right_watermark)
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful streaming sessionization via session windows.

    ``session_window`` merges events within ``gap_minutes`` of each
    other per user — the streaming counterpart of the batch
    gaps-and-islands sessionizer (operators/event_time.sessionize),
    with watermark-bounded state. Emits one row per closed session.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def attribution_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming first-touch attribution: per closed session window
    (watermark-bounded ``session_window`` state), the event type that
    opened the session plus purchase count and integer-cent revenue —
    the streaming counterpart of the batch ``events_attribution``
    (plans/queries_events.py), emitting one row per CONVERTED closed
    session as the watermark passes it.
    """
    is_purchase = (F.col("event_type") == "purchase").cast("long")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.min_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("first_touch"),
            F.sum(is_purchase).alias("n_purchases"),
            F.sum(cents).alias("purchase_cents"),
        )
        .filter(F.col("n_purchases") > 0)
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            # The window END too: emission is decided by the watermark
            # vs the window end, so any horizon-closed consumer (the
            # streaming_attribution_agree gate) filters on it.
            F.col("sw.end").alias("session_end"),
            "first_touch",
            "n_purchases",
            "purchase_cents",
        )
    )
