"""Streaming HLL distinct-count.

The register aggregate is a pure monotone MAX, so it runs as a
Structured Streaming aggregation with bounded state (groups × 512
rows) and NO watermark — late or reordered data folds in
idempotently. These tests pin the property the
``streaming_hll_users_agree`` lane's exact oracle relies on: a real
availableNow streaming execution over the multi-file replay produces
EXACTLY the batch register table, per event_type.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_his_spark.operators.sketches import hll_estimate, hll_registers
from etl_his_spark.registry import QUERIES
from etl_his_spark.sources.readers import read_table


def test_streaming_hll_registers_agree_with_batch(spark, sf_dir):
    streamed = {
        (r["event_type"], r["bucket"]): r["register"]
        for r in QUERIES["streaming_hll_users_agree"](spark, sf_dir).collect()
    }
    batch = {
        (r["event_type"], r["bucket"]): r["register"]
        for r in hll_registers(
            read_table(spark, sf_dir, "events").withColumn(
                "uid", F.col("user_id").cast("string")
            ),
            "uid",
            group_cols=["event_type"],
        ).collect()
    }
    assert streamed == batch and streamed


def test_streaming_hll_estimate_tracks_true_distinct(spark, sf_dir):
    """Per-type estimates from the batch-identical registers land
    within 3 sigma (14% at p=9) of the true distinct user counts."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "uid", F.col("user_id").cast("string")
    )
    regs = hll_registers(ev, "uid", group_cols=["event_type"])
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("uid").alias("n"))
        .collect()
    }
    for etype, n in truth.items():
        est = hll_estimate(
            regs.filter(F.col("event_type") == etype).select(
                "bucket", "register"
            )
        )
        assert abs(est - n) / n < 0.14, (etype, n, est)
