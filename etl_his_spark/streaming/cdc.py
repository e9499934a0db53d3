"""Streaming CDC apply: foreachBatch MERGE-upsert into the manifest
lakehouse, the common production composition of a changelog stream and
a table.

The pattern (public Structured Streaming + Delta/Iceberg idiom):

    changelog stream → foreachBatch(batch):
        latest   = last row per key within the batch
        target   = current publish (manifest pointer)
        merged   = merge_upsert(target, latest, keys)
        publish_atomic({table: merged})

**Exactly-once by idempotence, not by transactions.** foreachBatch
gives at-least-once batch delivery: a crash after the publish but
before the checkpoint commit replays the batch on restart. The replay
re-merges the SAME latest-per-key rows onto a target that already
contains them — whole-row MERGE is idempotent for identical updates,
so the replayed publish is byte-identical in content and the stream
converges to the same final table. The restart-recovery pytest
(tests/test_streaming.py) kills the stream exactly there (after
publish, before commit) and asserts the resumed run matches the batch
MERGE of the whole changelog.

**Cross-batch determinism.** The gate replay is range-partitioned on
(ts, event_id) and replayed in file order (queries_streaming's
``_write_replay``), so batch k's (ts, event_id) tuples all precede
batch k+1's: the per-batch latest row of a key, upserted batch after
batch, lands on the GLOBAL (ts, event_id)-latest row — exactly the
batch arg_max the DuckDB oracle computes.

**100 TB shape.** merge_upsert is one keyed LEFT-ANTI join + union —
the update batch (one micro-batch's distinct keys) broadcasts against
the big target, and with a partitioned target table only the touched
partitions need rewriting (write_table partition_by; the demo sink
rewrites whole because the fixture state is KB-sized). State never
lives in the stream: the published table IS the state, so executor
state stores hold nothing and no watermark is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert
from ..sources.writers import publish_atomic, read_published, resolve_manifest

STATE_TABLE = "user_state"


def latest_per_key(batch: DataFrame) -> DataFrame:
    """Reduce a changelog batch to its last row per user_id —
    (ts, event_id) descending, the same total order the oracle uses
    (ties beyond event_id impossible: event_id is unique)."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_type").alias("last_event_type"),
            F.round(F.col("value") * 100)
            .cast("long")
            .alias("last_value_cents"),
        )
    )


def apply_cdc_batch(
    spark: SparkSession, batch: DataFrame, root: str
) -> None:
    """One foreachBatch application: MERGE the batch's latest rows
    into the current publish and atomically re-publish."""
    latest = latest_per_key(batch)
    if resolve_manifest(root):
        target = read_published(spark, root, STATE_TABLE)
    else:
        target = spark.createDataFrame([], latest.schema)
    merged = merge_upsert(target, latest, ["user_id"])
    publish_atomic({STATE_TABLE: merged}, root)


def run_cdc_apply(
    spark: SparkSession,
    source_dir: str,
    root: str,
    checkpoint: str,
    fail_after_publish_on_batch: int | None = None,
) -> None:
    """Run the changelog stream to completion (availableNow) applying
    each micro-batch via MERGE + atomic publish.

    ``fail_after_publish_on_batch`` injects a crash AFTER the publish
    of that batch id but BEFORE Structured Streaming commits the batch
    to the checkpoint — the at-least-once window the idempotence
    argument covers; the restart-recovery test drives it."""
    from .events import run_available_now, stream_events

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(spark, batch, root)
        if (
            fail_after_publish_on_batch is not None
            and batch_id == fail_after_publish_on_batch
        ):
            raise RuntimeError(
                f"injected crash after publish of batch {batch_id}"
            )

    run_available_now(
        stream_events(spark, source_dir), _apply, checkpoint=checkpoint
    )
