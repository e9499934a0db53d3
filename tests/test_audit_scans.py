"""Known-positive tests for the scan-amplification audit.

The r8 audit passed VACUOUSLY for two independent reasons (a regex
that matched nothing in this Spark's explain format, and a pin capture
that never fired for the classic DataFrame class Spark 4 uses). Lesson
recorded in SCALE.md: a verification gate that can pass vacuously
needs a known-positive case in its own test — these pin that the
audit's counting machinery actually sees scans, sees THROUGH pins
(recorded by ``operators.pin.observe_pins``, only inside its block),
and does not over-count a pinned frame per consumer.
"""

from __future__ import annotations

import pytest

from etl_his_spark.operators.pin import observe_pins, pin
from tools.audit_scans import production_scan_counts


def test_counts_plain_scan(spark, sf_dir):
    """A single-table query must count exactly one scan — zero means
    the regex no longer matches this Spark's explain format."""

    def q(s, d):
        return s.read.parquet(f"{d}/documents.parquet").select("doc_id")

    assert production_scan_counts(q, spark, sf_dir) == {"documents": 1}


def test_sees_through_pins_and_counts_builds_once(spark, sf_dir):
    """A pinned frame consumed N times counts its build subtree ONCE
    (production reads), and the pin does not hide the scan entirely
    (the facade-only-patch failure mode showed zero)."""

    def q(s, d):
        base = (
            s.read.parquet(f"{d}/documents.parquet")
            .groupBy("source")
            .count()
            .transform(pin)
        )
        # Three consumers of the pinned frame: without the pin hook
        # this counts 0; with the r8 no-op semantics it would count 3.
        a = base.selectExpr("source", "count AS c1")
        b = base.selectExpr("source", "count AS c2")
        c = base.selectExpr("source", "count AS c3")
        return a.join(b, "source").join(c, "source")

    assert production_scan_counts(q, spark, sf_dir) == {"documents": 1}


def test_counts_multiple_tables_independently(spark, sf_dir):
    """Multi-TABLE joins never trip the same-table metric: one scan
    per distinct table."""

    def q(s, d):
        o = s.read.parquet(f"{d}/orders.parquet")
        c = s.read.parquet(f"{d}/customer.parquet")
        return o.join(c, o.o_custkey == c.c_custkey)

    assert production_scan_counts(q, spark, sf_dir) == {
        "orders": 1,
        "customer": 1,
    }


def test_counts_same_table_amplification(spark, sf_dir):
    """An un-pinned frame consumed twice genuinely scans twice — the
    amplification signal the audit exists to catch."""

    def q(s, d):
        docs = s.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", "source"
        )
        a = docs.selectExpr("doc_id AS a_id", "source")
        b = docs.selectExpr("doc_id AS b_id", "source")
        return a.join(b, "source")

    assert production_scan_counts(q, spark, sf_dir) == {"documents": 2}


def test_plan_audit_pin_capture_sees_hidden_posture(spark, sf_dir):
    """The plan audit's pin capture must surface a SinglePartition
    exchange hidden INSIDE a checkpointed subtree — the hole that let
    training_curriculum_deciles' inherited posture go unaudited."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.audit_plans import build_recording_pins

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    numbered = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    _, pin_plans = build_recording_pins(pin, numbered)
    assert "Exchange SinglePartition" in "\n".join(pin_plans)


def test_pins_after_the_block_are_not_observed(spark):
    """A pin is observed inside ``observe_pins`` and not after the block
    exits, whether it exits normally or by an exception."""
    seen, df = [], spark.range(3)
    with observe_pins(seen.append):
        pin(df)
    with pytest.raises(RuntimeError), observe_pins(seen.append):
        pin(df)
        raise RuntimeError("build failed")
    pin(df)
    assert len(seen) == 2
